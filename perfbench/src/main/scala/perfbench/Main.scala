package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, tables: Path, launchedMs: Double)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val wl = get("workload")
    require(Workload.Names.contains(wl), s"unknown workload $wl (one of ${Workload.Names.mkString(", ")})")
    Args(wl, get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("tables")).toAbsolutePath,
      get("launched-ms").toDouble)
  }
}

/** Benchmark runner: one workload in one JVM. Sets up the session and warms
  * it, makes the inputs, runs passes over the workload for `--seconds`, and
  * with `--trace 1` also runs one traced pass. Writes `result.json` (and the
  * trace) to `--work`; `run.py` turns it into the benchmark's output line.
  */
object Main {

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Passes until `seconds` have gone by (at least one; no pass is started
    * that would not end in time by the last pass's length). */
  def measure(wl: Workload, seconds: Double): Seq[Pass] = {
    val t0 = Clock.ms()
    val out = Seq.newBuilder[Pass]
    var last = 0.0
    var n = 0
    while (n == 0 || (Clock.ms() - t0) / 1000 + last <= seconds) {
      val p0 = Clock.ms()
      out += wl.pass(n)
      last = (Clock.ms() - p0) / 1000
      n += 1
    }
    out.result()
  }

  /** Percentile of a non-empty sample by numpy's `method="higher"`: always
    * an observed value. The stock workload has four quick batch forms and
    * four slower streaming forms, and an interpolated median of the eight
    * lands in the gap between the groups and swings with either. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.ceil(p / 100 * (s.size - 1)).toInt)
  }

  /** The highest percentile with at least 10 of `n` samples beyond it when
    * that is at least the 90th; with fewer than 100 samples, the maximum. */
  def tailPercentile(n: Int): Double = if (n >= 100) 100.0 * (1 - 10.0 / n) else 100.0

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** A failed operation is charged the operation timeout: slower than any
    * success, and never shortening the pass it belongs to. A failed query
    * of the open loop adds one such operation time. */
  def penalized(p: Pass): (Double, Seq[Double]) = {
    val extra = p.ops.filter(_.error.isDefined).map(o => Harness.OpTimeoutS - o.seconds).sum
    (p.wallS + extra, p.ops.map(o => if (o.error.isDefined) Harness.OpTimeoutS else o.seconds) ++
      p.open.filter(_.error.isDefined).map(_ => Harness.OpTimeoutS))
  }

  def endToEnd(wl: Workload, passes: Seq[Pass], setupS: Double): (Seq[(String, Double, String)], Map[String, String]) = {
    val walls = passes.map(penalized(_)._1)
    val opTimes = passes.flatMap(penalized(_)._2)
    val wall = Trace.median(walls)
    // no latency sample at all means no output reached the user
    val latencies = Some(passes.flatMap(_.latenciesMs)).filter(_.nonEmpty)
      .getOrElse(Seq(Harness.OpTimeoutS * 1000))
    val tailOp = tailPercentile(opTimes.size)
    // the tail rule counts independent events, not the rows that share one
    val tailLat = tailPercentile(math.max(1, passes.map(_.latencyEvents).sum))
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("op_p50_s", percentile(opTimes, 50), "s"),
      ("op_tail_s", percentile(opTimes, tailOp), "s"),
      ("rows_per_s", wl.inputRows / wall, "1/s"),
      ("event_latency_p50_ms", percentile(latencies, 50), "ms"),
      ("event_latency_tail_ms", percentile(latencies, tailLat), "ms"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("peak_heap_mb", LiveHeap.peakMb(), "MB"))
    val info = Map(
      "passes" -> passes.size.toString,
      "op_samples" -> opTimes.size.toString,
      "op_tail_percentile" -> Json.num(tailOp),
      "latency_samples" -> latencies.size.toString,
      "latency_events" -> passes.map(_.latencyEvents).sum.toString,
      "latency_tail_percentile" -> Json.num(tailLat))
    (metrics, info)
  }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.ms() - launched) / 1000}%.3fs $msg")
  private var launched = Clock.ms()

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    launched = a.launchedMs
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors
    var spark = session(cores, a.work)
    var wl = Workload(a.workload, spark, a)
    log("session ready")
    val warmPasses = wl.warmUp()
    val setupS = (Clock.ms() - a.launchedMs) / 1000
    log(f"set up in $setupS%.3fs")
    wl.prepare()
    LiveHeap.reset()
    log("inputs ready")
    val (all, chosen, info) = if (!a.trace) {
      val passes = measure(wl, a.seconds)
      LiveHeap.collect()
      log(s"${passes.size} passes: ${passes.map(p => f"${p.wallS}%.3fs").mkString(" ")}")
      wl.finish()
      val (m, info) = endToEnd(wl, passes, setupS)
      (passes, m, info)
    } else {
      // the pass an untraced run measures first, traced
      val tr = new Trace
      tr.register(spark)
      val traced = wl.pass(0)
      val s0 = Clock.ms()
      wl.scan()
      val scanS = (Clock.ms() - s0) / 1000
      PerfbenchBridge.drainListeners(spark.sparkContext)
      tr.unregister(spark)
      // tracing overhead, from a warm untraced pass and a warm traced one
      val warm = wl.baselinePass(1)
      val tr2 = new Trace
      tr2.register(spark)
      val warmTraced = wl.baselinePass(2)
      PerfbenchBridge.drainListeners(spark.sparkContext)
      tr2.unregister(spark)
      wl.finish()
      spark.stop()
      // the same workload on one core, for the single-threaded baseline (the
      // JVM is warm already, so the new session skips the warm-up)
      spark = session(1, a.work)
      wl = Workload(a.workload, spark, a)
      wl.prepare()
      val oneCore = wl.baselinePass(3)
      log(f"traced ${traced.wallS}%.3fs warm ${warm.wallS}%.3fs warm traced ${warmTraced.wallS}%.3fs " +
        f"one core ${oneCore.wallS}%.3fs")
      val passes = Seq(traced, warm, warmTraced, oneCore)
      val (m, spans) = Layers(tr, traced, cores, Map(
        "io.scan_s" -> scanS,
        "exec.speedup_1_to_n" -> oneCore.wallS / warm.wallS,
        "bench.trace_overhead_frac" -> (warmTraced.wallS / warm.wallS - 1),
        "bench.check_s" -> (warmPasses ++ passes).map(_.checkS).sum))
      Files.writeString(a.work.resolve("trace.json"), Layers.traceJson(a, spans, m))
      (passes, m, Map.empty[String, String])
    }
    spark.stop()
    val ops = (warmPasses ++ all).flatMap(p => p.ops ++ p.open)
    val failed = ops.filter(_.error.isDefined)
    failed.foreach(o => System.err.println(s"[perfbench] FAILED ${o.name}: ${o.error.get}"))
    val metrics = chosen.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val result = Json.obj(Seq(
      "attempted" -> ops.size.toString,
      "failed" -> failed.size.toString,
      "failed_ops" -> failed.map(o => Json.str(o.name)).mkString("[", ",", "]"),
      "op_counts" -> Json.obj(ops.groupBy(_.name).map { case (k, v) => k -> v.size.toString }),
      "info" -> Json.obj(info.toSeq),
      "metrics" -> Json.obj(metrics)))
    Files.writeString(a.work.resolve("result.json"), result)
  }
}
