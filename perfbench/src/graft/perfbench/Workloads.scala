package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CurateCorpus, CurateDelta, Graft, GraftDb, Vcf2Db}
import graft.operators.{Dedup, GtFilter}
import graft.sinks.DbSink
import graft.sources.VcfReader

/** What one benchmark operation did: its latency, how many work items
  * it completed, and named sub-timings (ms) and counts for the layer
  * record.
  */
final case class OpResult(ms: Double, items: Long,
    parts: Map[String, Double] = Map.empty)

/** One checked operation of the loop, with its wall-clock interval and
  * the change in persisted RDDs across it.
  */
final case class Done(i: Int, traced: Boolean, r: OpResult,
    startMs: Long, endMs: Long, resident: Int)

/** A generator truth file: `key<TAB>value` lines. */
final class Truth(dir: String) {
  private val kv: Map[String, String] =
    Files.readAllLines(Paths.get(dir, "truth.tsv")).asScala
      .map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalStateException(s"truth has no '$k'"))
  def long(k: String): Long = apply(k).toLong
}

/** One workload: the warm-up pass that set-up runs, the operation the
  * closed loop repeats, the output check after each operation, and the
  * layer probes of the traced run.
  */
trait Workload {
  def warmup(spark: SparkSession, t: Tracer): Unit
  def op(spark: SparkSession, t: Tracer, i: Int): OpResult
  /** None when the outputs of `op` match the generator's truth. */
  def check(spark: SparkSession, i: Int, r: OpResult): Option[String]
  /** bytes the workload stores per byte of its input */
  def outBytesPerInByte(spark: SparkSession): Double
  /** per-layer probes, each timed once; keys are layer metric names */
  def layers(spark: SparkSession, t: Tracer): Map[String, Double]
  /** layer metrics read off the untraced operations of a traced run */
  def loopLayers(untraced: Seq[Done]): Map[String, Double] = Map.empty
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.endsWith(".crc")) 0L else f.length() }
    else f.listFiles().map(c => dirBytes(c.getPath)).sum
  }

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
    f.delete()
  }

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

import Workload._

/** Checks one loaded database against the cohort generator's truth:
  * row counts, genotype-class sums, and one round-tripped blob.
  */
object DbCheck {
  def apply(spark: SparkSession, db: String, truth: Truth): Option[String] = {
    val agg = GraftDb.variants(spark, db)
      .agg(count(lit(1)), sum("num_het"), sum("num_hom_alt")).head()
    val key = truth("blob.key").split('|')
    val blob = GraftDb.expandGenotypes(spark, db)
      .filter(col("chrom") === key(0) && col("pos") === key(1).toLong &&
        col("ref") === key(2) && col("alt") === key(3))
      .select(array_join(col("gt_types"), ","),
        array_join(col("gt_alt_depths"), ","),
        array_join(col("gt_phred_ll_homalt"), ","))
      .collect()
    expect("variants rows", agg.getLong(0), truth.long("n_variants"))
      .orElse(expect("sum num_het", agg.getLong(1), truth.long("sum_het")))
      .orElse(expect("sum num_hom_alt", agg.getLong(2), truth.long("sum_hom_alt")))
      .orElse(expect("variant_impacts rows", GraftDb.impacts(spark, db).count(),
        truth.long("n_impacts")))
      .orElse(expect("samples rows", GraftDb.samples(spark, db).count(),
        truth.long("n_samples")))
      .orElse(expect("blob rows", blob.length, 1))
      .orElse(expect("blob gt_types", blob(0).getString(0), truth("blob.gt_types")))
      .orElse(expect("blob gt_alt_depths", blob(0).getString(1),
        truth("blob.gt_alt_depths")))
      .orElse(expect("blob gt_phred_ll_homalt", blob(0).getString(2),
        truth("blob.gt_phred_ll_homalt")))
  }
}

/** `Vcf2Db.run` (parquet sink) on the seeded cohort, once per operation. */
final class VcfLoad(cohort: String, warm: String, work: String) extends Workload {
  private val truth = new Truth(cohort)
  private val vcf = s"$cohort/cohort.vcf.gz"
  private val db = s"$work/db"

  private def load(spark: SparkSession, t: Tracer, dir: String, out: String): Double = {
    rmrf(out)
    timedS(t.span("Vcf2Db.run") {
      Vcf2Db.run(spark, s"$dir/cohort.vcf.gz", Some(s"$dir/cohort.ped"), out)
    })._2 * 1000
  }

  def warmup(spark: SparkSession, t: Tracer): Unit = load(spark, t, warm, s"$work/warm_db")

  def op(spark: SparkSession, t: Tracer, i: Int): OpResult =
    OpResult(load(spark, t, cohort, db), truth.long("n_variants"))

  def check(spark: SparkSession, i: Int, r: OpResult): Option[String] =
    DbCheck(spark, db, truth)

  def outBytesPerInByte(spark: SparkSession): Double =
    dirBytes(db).toDouble / new File(vcf).length()

  def layers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    val scan = spark.read.format("vcf").load(vcf)
    m += "sources.vcf_partitions" -> scan.rdd.getNumPartitions.toDouble
    m += "sources.vcf_scan_pruned_s" ->
      timedS(t.span("vcf.scan_pruned")(noop(scan.select("chrom", "pos"))))._2
    m += "sources.vcf_scan_full_s" -> timedS(t.span("vcf.scan_full")(noop(scan)))._2
    m += "sources.line_scan_s" ->
      timedS(t.span("text.scan")(noop(spark.read.text(vcf))))._2
    val (_, variants, impacts) = VcfReader.fromPath(spark, vcf)
    m += "sources.reader_variants_s" ->
      timedS(t.span("VcfReader.variants")(noop(variants)))._2
    m += "sources.reader_impacts_s" ->
      timedS(t.span("VcfReader.impacts")(noop(impacts)))._2
    val v = variants.persist()
    val imp = impacts.persist()
    v.count(); imp.count()
    m += "functions.pack_s" ->
      timedS(t.span("Vcf2Db.packGenotypeBlobs")(noop(Vcf2Db.packGenotypeBlobs(v))))._2
    m += "operators.etl.worst_impact_s" -> timedS(t.span("Vcf2Db.denormalizeWorstImpact")(
      noop(Vcf2Db.denormalizeWorstImpact(v, imp))))._2
    val packed = Vcf2Db.packGenotypeBlobs(v).persist()
    packed.count()
    val out = s"$work/sink_probe"
    m += "sinks.parquet_write_s" ->
      timedS(t.span("DbSink.writeParquet")(DbSink.writeParquet(packed, out)))._2
    // Derby in memory, on a fixed slice: the JDBC path is row-at-a-time
    val slice = packed.orderBy("chrom", "pos", "alt").limit(VcfLoad.JdbcRows)
    m += "sinks.jdbc_write_s" -> timedS(t.span("DbSink.writeJdbc")(
      DbSink.writeJdbc(DbSink.jdbcSafe(slice),
        DbSink.JdbcConf(url = "jdbc:derby:memory:perfbench;create=true",
          table = "variants"), SaveMode.Overwrite)))._2
    m += "sinks.output_mb" -> dirBytes(db) / 1e6
    m += "functions.unpack_s" -> timedS(t.span("GraftDb.expandGenotypes")(
      noop(GraftDb.expandGenotypes(spark, db))))._2
    Seq(packed, v, imp).foreach(_.unpersist(blocking = true))
    rmrf(out)
    val samples = GraftDb.samples(spark, db)
    val order = GraftDb.headerSamples(spark, db)
    m += "operators.gtfilter.compile_ms" -> Metrics.median((1 to 5).map(_ =>
      timedS(t.span("GtFilter.compile")(
        GtFilter.compile(truth("gt_filter"), samples, order)))._2 * 1000))
    m ++= new GeminiCycle(truth, db).probe(spark, t)
    m.result()
  }
}

object VcfLoad { val JdbcRows = 2000 }

/** The GEMINI-style calls over the database `Vcf2Db.run` writes: the
  * read side of vcf2db_load, probed in its traced run. Each call builds
  * the DataFrame, forces its physical plan, then executes it to the last
  * row, and its row count is checked against the generator's truth.
  */
final class GeminiCycle(truth: Truth, db: String) {
  private val calls: Vector[(String, SparkSession => DataFrame)] = Vector(
    "region" -> (s => Graft.query(s, db, region = Some(truth("region")))),
    "gt_filter" -> (s => Graft.query(s, db, gtFilter = Some(truth("gt_filter")))),
    "sample_filter_all" -> (s => Graft.query(s, db,
      sampleFilter = Some(truth("sample_filter")), in = "all")),
    "impacts_gene_set" -> (s => GraftDb.impacts(s, db)
      .filter(col("symbol").isin(truth("gene_set").split(',').toSeq: _*))
      .join(GraftDb.variants(s, db), Seq("chrom", "pos", "ref", "alt"))),
    "inheritance" -> (s => GraftDb.inheritanceClassify(s, db)),
    "comp_hets" -> (s => GraftDb.compHets(s, db)),
    "tstv" -> (s => GraftDb.tstv(s, db)),
    "gene_burden" -> (s => GraftDb.geneBurden(s, db)),
    "sample_qc" -> (s => GraftDb.sampleQc(s, db)),
    "export_vcf" -> (s => Graft.export(s, db, "vcf",
      region = Some(truth("export_region")))))

  /** Runs the cycle twice, the first pass to warm it; reports each
    * call's time and the median construct / plan / execute split of the
    * second pass. Throws on a wrong row count.
    */
  def probe(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val passes = (1 to 2).map { _ =>
      calls.map { case (name, build) =>
        val (rows, c, p, e) = t.span(s"query.$name") {
          val (df, c) = timedS(t.span("construct")(build(spark)))
          val (_, p) = timedS(t.span("plan")(df.queryExecution.executedPlan))
          val (n, e) = timedS(t.span("exec")(df.queryExecution.toRdd.count()))
          (n, c * 1000, p * 1000, e * 1000)
        }
        expect(s"$name rows", rows, truth.long(s"q.$name"))
          .foreach(m => throw new IllegalStateException(s"GEMINI call: $m"))
        (name, c, p, e)
      }
    }
    val warm = passes.last
    warm.map { case (name, c, p, e) => s"query.${name}_ms" -> (c + p + e) }.toMap ++ Map(
      "driver.construct_ms" -> Metrics.median(warm.map(_._2)),
      "driver.plan_ms" -> Metrics.median(warm.map(_._3)),
      "driver.exec_ms" -> Metrics.median(warm.map(_._4)))
  }
}

/** `CurateCorpus.run` with the optional stages on, once per operation.
  * The delta round (`CurateDelta.buildIndex(withGrams)` on the even
  * docs, then `CurateDelta.run` on the odd docs) runs once, checked, in
  * the traced run's layer probes: in the loop it would double a run
  * whose operation is already seconds of overhead-bound jobs.
  */
final class Curate(corpus: String, warm: String, work: String) extends Workload {
  private val truth = new Truth(corpus)
  private val out = s"$work/curated"
  private val idx = s"$work/index"
  private val deltaOut = s"$work/delta"
  private var last: CurateCorpus.Report = _

  private lazy val nearGroups: Seq[(Long, Long)] =
    Files.readAllLines(Paths.get(corpus, "near_groups.tsv")).asScala
      .map(_.split('\t')).map(a => (a(0).toLong, a(1).toLong)).toSeq

  def op(spark: SparkSession, t: Tracer, i: Int): OpResult = {
    Seq(out, s"$out-code", s"$out-leakage").foreach(rmrf)
    val docs = spark.read.parquet(s"$corpus/docs.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val (rep, tc) = timedS(t.span("CurateCorpus.run")(CurateCorpus.run(docs, out,
      routeCode = true, trimBoilerplate = true, containment = Some(0.6),
      auditLeakage = true)))
    val resident = sc.getPersistentRDDs.size - before
    last = rep
    OpResult(tc * 1000, rep.nInput, Map(
      "curate_docs_per_s" -> rep.nInput / tc, "resident_rdds_after" -> resident))
  }

  /** `CurateCorpus.run` with its default stages on the small warm-up
    * corpus: the optional stages stay cold, because on this
    * overhead-bound job every pass costs seconds.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit = {
    rmrf(out)
    val rep = CurateCorpus.run(spark.read.parquet(s"$warm/docs.parquet"), out)
    expect("warm-up exact-dedup survivors", rep.nAfterExactDedup,
      new Truth(warm).long("exact_survivors"))
      .foreach(m => throw new IllegalStateException(m))
  }

  private def ids(spark: SparkSession, dirs: String*): Set[Long] =
    dirs.filter(d => new File(d).exists()).flatMap(d =>
      spark.read.parquet(d).select("doc_id").collect().map(_.getLong(0))).toSet

  def check(spark: SparkSession, i: Int, r: OpResult): Option[String] = {
    val kept = ids(spark, out, s"$out-code")
    val nearLeft = nearGroups.count { case (a, b) => kept(a) && kept(b) }
    expect("curate input", last.nInput, truth.long("n_docs"))
      .orElse(expect("exact-dedup survivors", last.nAfterExactDedup,
        truth.long("exact_survivors")))
      .orElse(expect("planted near-dup pairs both kept", nearLeft, 0))
  }

  /** The delta round, timed and checked; throws on a wrong result. */
  private def deltaRound(spark: SparkSession, t: Tracer): Map[String, Double] = {
    Seq(idx, deltaOut, s"$deltaOut-index").foreach(rmrf)
    val docs = spark.read.parquet(s"$corpus/docs.parquet")
    val (_, ti) = timedS(t.span("CurateDelta.buildIndex")(CurateDelta.buildIndex(
      docs.filter(col("doc_id") % 2 === 0), idx, withGrams = true)))
    val (drep, td) = timedS(t.span("CurateDelta.run")(CurateDelta.run(
      docs.filter(col("doc_id") % 2 === 1), idx, deltaOut, containment = Some(0.6))))
    val deltaKept = ids(spark, deltaOut)
    // an odd copy of an even doc is a near duplicate of the index;
    // two odd members may keep at most one
    val deltaNearLeft = nearGroups.count { case (a, b) =>
      if (a % 2 == 1 && b % 2 == 1) deltaKept(a) && deltaKept(b)
      else (a % 2 == 1 && deltaKept(a)) || (b % 2 == 1 && deltaKept(b))
    }
    expect("delta input", drep.nDelta, truth.long("n_odd"))
      .orElse(expect("delta exact survivors", drep.nAfterExact,
        truth.long("delta_exact_survivors")))
      .orElse(expect("delta planted near-dups kept", deltaNearLeft, 0))
      .orElse(expect("delta output rows", drep.nOut, deltaKept.size.toLong))
      .foreach(m => throw new IllegalStateException(s"delta round: $m"))
    Map("jobs.index_build_s" -> ti, "jobs.delta_docs_per_s" -> drep.nDelta / td)
  }

  def outBytesPerInByte(spark: SparkSession): Double =
    dirBytes(out).toDouble / new File(s"$corpus/docs.parquet").length()

  def layers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val delta = deltaRound(spark, t)
    val docs = spark.read.parquet(s"$corpus/docs.parquet")
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3).persist()
    val n = toks.count().toDouble
    val shingleS = timedS(t.span("shingles")(
      noop(toks.select(expr("shingles(toks, 3)").as("sh")))))._2
    val sh = toks.select(expr("shingles(toks, 3)").as("sh")).persist()
    sh.count()
    val sigS = timedS(t.span("minhash_sig")(
      noop(sh.select(expr("minhash_sig(sh)")))))._2
    Seq(sh, toks).foreach(_.unpersist(blocking = true))
    val pairs = timedS(t.span("Dedup.minhashPairs")(
      noop(Dedup.minhashPairs(docs.select("doc_id", "text"), 0.5))))._2
    val odd = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val d15 = timedS(t.span("Dedup.d15Probe")(noop(Dedup.d15Probe(
      spark.read.parquet(s"$idx/keys.parquet"), odd))))._2
    val d20 = timedS(t.span("Dedup.d20Probe")(noop(Dedup.d20Probe(
      Dedup.MinhashIndex.load(spark, idx), odd))))._2
    delta ++ Map("functions.shingles_rows_per_s" -> n / shingleS,
      "functions.minhash_sig_rows_per_s" -> n / sigS,
      "operators.dedup.minhash_pairs_s" -> pairs,
      "operators.dedup.d15_probe_s" -> d15,
      "operators.dedup.d20_probe_s" -> d20)
  }

  override def loopLayers(untraced: Seq[Done]): Map[String, Double] =
    Map("jobs.curate_docs_per_s" ->
      Metrics.median(untraced.map(_.r.parts("curate_docs_per_s"))))
}
