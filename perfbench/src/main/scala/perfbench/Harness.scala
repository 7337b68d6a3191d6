package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import java.util.concurrent.{TimeUnit, TimeoutException}
import scala.jdk.CollectionConverters._
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The one materializer every operation goes through: the whole result is
  * collected to the driver, so Catalyst must compute every column of every
  * row. A `count()` would let the optimizer prune the measured operator
  * away (see README.md). */
object Materialize {
  def apply(df: DataFrame): Array[Row] = df.collect()
}

/** The most heap the program retains: what is still in use after a full
  * collection, taken after each operation and at the end of the passes
  * (outside every timed region), and kept as a maximum since [[reset]]. A
  * collection between operations also starts each one on an empty young
  * generation. */
object LiveHeap {
  private var peak = 0L

  def reset(): Unit = peak = 0L

  def collect(): Unit = {
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum)
  }

  def peakMb(): Double = peak / 1048576.0
}

/** Wall-clock milliseconds since the epoch with sub-millisecond resolution,
  * on the same axis as the timestamps Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One operation: a public library call that builds (or, for a drain, runs)
  * a query, then the materialization of what it returned. `check` gets the
  * returned frame and its rows, and runs outside the timed region. */
final case class Op(name: String, call: () => DataFrame,
                    check: (DataFrame, Array[Row]) => Option[String])

/** Times of one operation in epoch ms: start, end of the call, end of the
  * materialization. A failed operation keeps the time it failed at. */
final case class OpResult(id: String, name: String, start: Double, callEnd: Double,
                          end: Double, error: Option[String]) {
  def callS: Double = (callEnd - start) / 1000
  def actionS: Double = (end - callEnd) / 1000
  def seconds: Double = (end - start) / 1000
}

/** One pass over a workload: its wall time (first operation submitted to
  * last result materialized, with checks taken out) and its operations.
  * `spans` are the trace's operation spans (the operations themselves, and
  * in the open loop the streaming queries); `latenciesMs` are event
  * latencies, which come from `latencyEvents` independent events (samples
  * that share one event share one value); `open` are the open loop's streaming queries, which count as
  * attempted operations but whose times are set by the publishing
  * schedule, so they are in neither `wallS` nor `ops`. */
final case class Pass(wallS: Double, ops: Seq[OpResult], spans: Seq[OpResult],
                      checkS: Double = 0, latenciesMs: Seq[Double] = Nil,
                      latencyEvents: Int = 0, genLateMs: Double = 0, backlogMaxFiles: Int = 0,
                      open: Seq[OpResult] = Nil)

object Harness {
  /** An operation slower than this is cancelled and counted as failed. */
  val OpTimeoutS = 60.0

  def describe(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(3)
      .map(e => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      .mkString(" / caused by ")

  /** Run `op` on its own thread, tagged with `id` so its Spark jobs (and
    * those of streaming queries it starts) carry the tag. */
  def run(spark: SparkSession, op: Op, id: String): (OpResult, DataFrame, Array[Row]) = {
    val done = Promise[(Double, DataFrame, Array[Row])]()
    val start = Clock.ms()
    val th = new Thread(() => {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.OpProperty, id)
      sc.setJobGroup(id, op.name, interruptOnCancel = true)
      try {
        val df = op.call()
        val callEnd = Clock.ms()
        done.success((callEnd, df, Materialize(df)))
      } catch { case t: Throwable => done.failure(t) }
    }, s"perfbench-$id")
    th.setDaemon(true)
    th.start()
    try {
      val (callEnd, df, rows) = Await.result(done.future, Duration(OpTimeoutS, TimeUnit.SECONDS))
      (OpResult(id, op.name, start, callEnd, Clock.ms(), None), df, rows)
    } catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(id)
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        val now = Clock.ms()
        (OpResult(id, op.name, start, now, now, Some(s"timed out after ${OpTimeoutS}s")), null, Array.empty)
      case t: Throwable =>
        val now = Clock.ms()
        (OpResult(id, op.name, start, now, now, Some(describe(t))), null, Array.empty)
    }
  }

  /** Run `ops` once, in order, checking each result and collecting the
    * heap after it is timed. */
  def pass(spark: SparkSession, ops: Seq[Op], passNo: Int): Pass = {
    val t0 = Clock.ms()
    var checkMs = 0.0
    var untimedMs = 0.0
    val results = ops.zipWithIndex.map { case (op, i) =>
      val (r, df, rows) = run(spark, op, s"p$passNo-$i-${op.name}")
      val c0 = Clock.ms()
      val err = r.error.orElse(
        try op.check(df, rows) catch { case t: Throwable => Some(s"check failed: ${describe(t)}") })
      checkMs += Clock.ms() - c0
      LiveHeap.collect()
      untimedMs += Clock.ms() - c0
      System.err.println(f"[perfbench] ${op.name} call ${r.callS}%.3fs action ${r.actionS}%.3fs" +
        err.fold("")(e => s" FAILED: $e"))
      r.copy(error = err)
    }
    Pass((Clock.ms() - t0 - untimedMs) / 1000, results, results, checkMs / 1000)
  }

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the sink's table; the caller materializes and drops it. */
  def drain(spark: SparkSession, df: DataFrame, name: String, ckpt: Path): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt.toString).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    spark.table(name)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
