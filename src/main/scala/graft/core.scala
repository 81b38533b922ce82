package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory, with the settings every graft job wants:
  * it installs graft's native SQL functions (`GraftExtensions`) and
  * sizes local mode from `SPARK_GRAFT_CPUS`.
  *
  * Scale notes: AQE handles runtime skew-join splitting and shuffle
  * coalescing; shuffle partitions default to the local core count here
  * but are expected to be overridden (e.g. 2–4× total cores) on a real
  * cluster.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, parsed once. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Unset or `*` means every available processor; any other value must
    * be a positive integer.
    */
  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None | Some("*") => Runtime.getRuntime.availableProcessors
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer or '*', got '$s'"))
  }

  def build(master: String = s"local[$cpus]", shufflePartitions: Int = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Loaders for the driver-generated testdata tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads a testdata table. `events.ts` is TIMESTAMP(NANOS) parquet,
    * which Spark only reads as long (`nanosAsLong`); normalize it back
    * to a microsecond timestamp (integer `div`, not double division —
    * int64 nanos exceed 2^53).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else df
  }
}
