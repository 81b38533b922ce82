package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.functions.GraftFunctions

/** The benchmark's JVM side: set-up (repeated), a closed loop with one
  * client for `--seconds`, output checks after every operation, and in
  * a traced run the per-layer record. Writes one JSON object to
  * `--result`; perfbench/run.py turns it into the printed result.
  *
  * usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --main DIR [--warm DIR] --work DIR --cores N --setups K --result FILE
  */
object Main {
  private final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  private def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"bad arguments: ${args.mkString(" ")}")
    Args(args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
  }

  private def workload(a: Args): Workload = {
    val work = a("work")
    a("workload") match {
      case "vcf2db_load" => new VcfLoad(a("main"), a("warm"), work)
      case "curate_corpus" => new Curate(a("main"), a("warm"), work)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** The fixed control operation: a one-task hash-xor over a range,
    * best of 5 after 3 untimed passes.
    */
  private def control(spark: SparkSession): Double =
    (1 to 8).map { _ =>
      Workload.timedS(spark.range(0L, 20000000L, 1L, 1)
        .selectExpr("bit_xor(xxhash64(id))").collect())._2 * 1000
    }.drop(3).min

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val cores = a.int("cores")
    val traceOn = a("trace") == "1"
    val w = workload(a)
    val loadBefore = loadavg()

    // set-up, several times: session build, function registration and
    // the workload's warm-up pass; the last session stays for the loop
    var spark: SparkSession = null
    val setups = (1 to a.int("setups")).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (s, session) = Workload.timedS(
        GraftSession.build(s"local[$cores]", cores))
      spark = s
      val (_, register) = Workload.timedS(GraftFunctions.register(s))
      val (_, warm) = Workload.timedS(w.warmup(s, new Tracer(s.sparkContext)))
      log(f"set-up: session $session%.2f s, register $register%.3f s, warm-up $warm%.2f s")
      (session, register, warm)
    }
    val sc = spark.sparkContext
    val controlFirst = control(spark)

    val tracer = new Tracer(sc)
    val counters = new Counters
    val cache = new CachePoller(sc)
    val done = ArrayBuffer.empty[Done]
    var attempted = 0
    var failed = 0
    val deadline = System.nanoTime() + a.int("seconds") * 1000000000L
    var i = 0
    var lastNs = 0L
    // An operation starts only if one more, checked, ends by the deadline,
    // and there is always one. A traced run traces every other operation
    // and runs at least three: the overhead compares the operations after
    // the first, so the code is timed both ways once the JIT has seen it.
    while (i == 0 || System.nanoTime() + lastNs <= deadline || (traceOn && i < 3)) {
      val iterStart = System.nanoTime()
      val traced = traceOn && i % 2 == 1
      if (traced) {
        sc.addSparkListener(counters)
        spark.listenerManager.register(counters)
        tracer.enabled = true
        tracer.op = i
        cache.start()
      }
      attempted += 1
      val rddsBefore = sc.getPersistentRDDs.size
      val t0 = System.currentTimeMillis()
      val res =
        try Right(tracer.span("op")(w.op(spark, tracer, i)))
        catch { case NonFatal(e) => Left(e) }
      val t1 = System.currentTimeMillis()
      val resident = sc.getPersistentRDDs.size - rddsBefore
      if (traced) {
        tracer.enabled = false
        cache.stop()
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
      }
      val verdict = res.flatMap(r =>
        try w.check(spark, i, r).toLeft(r)
        catch { case NonFatal(e) => Left(e) })
      log(f"operation $i${if (traced) " (traced)" else ""}: ${t1 - t0} ms, " +
        s"checked in ${System.currentTimeMillis() - t1} ms " +
        res.map(_.parts.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")).getOrElse(""))
      verdict match {
        case Right(r) => done += Done(i, traced, r, t0, t1, resident)
        case Left(e) =>
          failed += 1
          log(s"operation $i failed: $e")
      }
      i += 1
      lastNs = System.nanoTime() - iterStart
    }

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ok = done.toSeq
    require(ok.nonEmpty, "no operation succeeded")
    if (!traceOn) {
      metrics("setup_s") = Metrics.median(setups.map(s => s._1 + s._2 + s._3))
      metrics("op_p50_ms") = Metrics.median(ok.map(_.r.ms))
      metrics("items_per_s") = Metrics.median(ok.map(d => d.r.items / (d.r.ms / 1000)))
      metrics("out_bytes_per_in_byte") = w.outBytesPerInByte(spark)
    } else {
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
      tracer.enabled = true
      tracer.op = -2
      val probes = tracer.span("layers")(w.layers(spark, tracer))
      tracer.enabled = false
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
      // a workload's probes name the driver split where they time it
      metrics ++= layerMetrics(w, ok, tracer, counters, cores) ++ probes
      metrics("setup.session_s") = Metrics.median(setups.map(_._1))
      metrics("setup.register_s") = Metrics.median(setups.map(_._2))
      metrics("setup.warmup_s") = Metrics.median(setups.map(_._3))
      metrics("lineage.cached_peak_mb") = cache.peakMb
      // too few operations per run, or too unsteady, to carry a bound
      metrics("op_p90_ms") = Metrics.quantile(ok.filterNot(_.traced).map(_.r.ms), 0.9)
      metrics("peak_rss_mb") = peakRssMb()
      writeSpans(s"${a("work")}/spans.json", tracer, counters)
    }
    val controlLast = control(spark)
    val drift = (controlLast / controlFirst - 1) * 100
    if (traceOn) {
      metrics("window.control_ms") = controlFirst
      metrics("window.control_drift_pct") = drift
    }
    val heap = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xm")).mkString(" ")
    spark.stop()

    def num(d: Double) = {
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    }
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val window = Seq(
      "cpus" -> cores.toString, "seed" -> a("seed"),
      "workload" -> str(a("workload")), "trace" -> a("trace"),
      "loadavg_before" -> str(loadBefore), "loadavg_after" -> str(loadavg()),
      "jvm_heap" -> str(heap), "control_first_ms" -> num(controlFirst),
      "control_last_ms" -> num(controlLast), "control_drift_pct" -> num(drift),
      "control_drifted" -> (math.abs(drift) > 10).toString,
      "operations" -> ok.size.toString)
    val json = "{" + Seq(
      "\"correct\":" + (failed == 0),
      "\"attempted\":" + attempted,
      "\"failed\":" + failed,
      "\"metrics\":" + metrics.map { case (k, v) => str(k) + ":" + num(v) }
        .mkString("{", ",", "}"),
      "\"window\":" + window.map { case (k, v) => str(k) + ":" + v }
        .mkString("{", ",", "}")).mkString(",") + "}"
    Files.write(Paths.get(a("result")), json.getBytes("UTF-8"))
  }

  /** Layer metrics of the traced operations: Spark work per operation,
    * driver time outside Spark jobs, planning and execution, and the
    * tracing overhead against the untraced operations of the same run.
    */
  private def layerMetrics(w: Workload, ops: Seq[Done], tracer: Tracer,
      counters: Counters, cores: Int): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val plain = ops.filterNot(_.traced)
    val (warmT, warmP) = ops.filter(_.i >= 1).partition(_.traced)
    require(warmT.nonEmpty && warmP.nonEmpty,
      "no traced and untraced operations after the first")
    val m = Map.newBuilder[String, Double]
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    m += "trace.overhead_pct" ->
      (mean(warmT.map(_.r.ms)) / mean(warmP.map(_.r.ms)) - 1) * 100

    val opOf = tracer.spans.map(s => s.id -> s.op).toMap
    val tracedOps = traced.map(_.i).toSet
    val perOp = tracedOps.toSeq.map { op =>
      val c = new SpanCounts
      counters.bySpan.foreach { case (span, sc) => if (opOf.get(span).contains(op)) c.add(sc) }
      op -> c
    }.toMap
    val total = new SpanCounts
    perOp.values.foreach(total.add)
    val n = traced.size.toDouble
    val wallMs = traced.map(t => (t.endMs - t.startMs).toDouble).sum
    m += "spark.jobs" -> total.jobs / n
    m += "spark.stages" -> total.stages / n
    m += "spark.tasks" -> total.tasks / n
    m += "spark.task_busy_s" -> total.busyMs / 1000.0 / n
    m += "spark.core_utilization" -> total.busyMs / (wallMs * cores)
    m += "spark.shuffle_read_mb" -> total.shuffleRead / 1e6 / n
    m += "spark.shuffle_write_mb" -> total.shuffleWrite / 1e6 / n
    m += "spark.spill_mb" -> total.spill / 1e6 / n
    m += "spark.gc_s" -> total.gcMs / 1000.0 / n
    // skew: each multi-task stage's slowest task over its median task,
    // weighted by the stage's busy time
    val stages = counters.stageTasks.toSeq.filter { case ((span, _), ts) =>
      opOf.get(span).exists(tracedOps) && ts.size >= 2
    }.map(_._2.map(_.toDouble).toSeq)
    val weight = stages.map(_.sum).sum
    m += "spark.task_max_over_median" -> (if (weight == 0) 1.0 else
      stages.map(ts => ts.max / math.max(1.0, Metrics.median(ts)) * ts.sum).sum / weight)

    val gaps = traced.map { d =>
      val jobs = perOp(d.i).jobIntervals.toSeq
        .map { case (js, je) => (math.max(js, d.startMs), math.min(je, d.endMs)) }
        .filter(x => x._2 > x._1)
      (d.endMs - d.startMs - Metrics.unionMs(jobs)) / 1000.0
    }
    m += "driver.gap_s" -> Metrics.median(gaps)
    val split = traced.map { d =>
      val acts = counters.actions.filter(x => x._1 >= d.startMs && x._1 <= d.endMs)
      val exec = acts.map(_._3).sum
      (math.max(0.0, d.r.ms - exec), acts.map(_._2).sum, exec)
    }
    m += "driver.construct_ms" -> Metrics.median(split.map(_._1))
    m += "driver.plan_ms" -> Metrics.median(split.map(_._2))
    m += "driver.exec_ms" -> Metrics.median(split.map(_._3))
    m += "lineage.resident_rdds_after" -> Metrics.median(traced.map { d =>
      d.r.parts.getOrElse("resident_rdds_after", d.resident.toDouble)
    })
    m ++= w.loopLayers(plain)
    m.result()
  }

  /** Every span with its self time and the Spark work charged to it. */
  private def writeSpans(path: String, tracer: Tracer, counters: Counters): Unit = {
    val rows = tracer.spans.map { s =>
      val c = counters.bySpan.getOrElse(s.id, new SpanCounts)
      String.format(Locale.ROOT,
        "{\"id\":%d,\"op\":%d,\"name\":\"%s\",\"parent\":%d,\"ms\":%.3f," +
          "\"self_ms\":%.3f,\"jobs\":%d,\"stages\":%d,\"tasks\":%d,\"busy_ms\":%d}",
        Int.box(s.id), Int.box(s.op), s.name, Int.box(s.parent), Double.box(s.ms),
        Double.box(tracer.selfMs(s)), Int.box(c.jobs), Int.box(c.stages),
        Int.box(c.tasks), Long.box(c.busyMs))
    }
    Files.write(Paths.get(path), rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Samples the size of cached blocks every 50 ms while running. */
final class CachePoller(sc: org.apache.spark.SparkContext) {
  @volatile private var running = false
  @volatile var peakMb = 0.0
  private var thread: Thread = _
  def start(): Unit = {
    running = true
    thread = new Thread(() => {
      while (running) {
        val mb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
        if (mb > peakMb) peakMb = mb
        Thread.sleep(50)
      }
    })
    thread.setDaemon(true)
    thread.start()
  }
  def stop(): Unit = {
    running = false
    if (thread != null) thread.join()
  }
}
