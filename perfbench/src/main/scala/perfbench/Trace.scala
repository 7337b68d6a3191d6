package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the traced run records, from three listeners registered on the
  * session plus the spans the harness opens around its own calls. Events
  * arrive on listener threads and are kept in memory until the run ends.
  *
  * Spark jobs are tied to the operation that submitted them through the
  * [[Trace.OpProperty]] local property, which threads started by the
  * operation (streaming query executions) inherit. Planning phases and
  * streaming progress are tied to operations by time.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val started = new ConcurrentLinkedQueue[(String, String, Long)]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  val terminated = new ConcurrentLinkedQueue[(String, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
    jobStart.put(e.jobId, (op, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0, st) =>
      jobs.add(JobRec(e.jobId, op, t0, e.time, st))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) tasks.add(TaskRec(e.stageId, info.launchTime, info.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled + m.memoryBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
  }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(p: String) = ph.get(p).map(s => s.durationMs).getOrElse(0L)
    val t = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis)
    plans.add(PlanRec(t, d("analysis"), d("optimization"), d("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.add((e.id.toString, Option(e.name).getOrElse(""), System.currentTimeMillis))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators.toSeq
      progress.add(ProgressRec(p.id.toString, p.batchId, Instant.parse(p.timestamp).toEpochMilli,
        d, p.numInputRows,
        st.map(_.numRowsTotal).sum, st.map(_.numRowsUpdated).sum, st.map(_.numRowsRemoved).sum,
        st.map(_.memoryUsedBytes).sum, st.map(_.commitTimeMs).sum,
        st.map(_.allUpdatesTimeMs).sum, st.map(_.allRemovalsTimeMs).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add((e.id.toString, System.currentTimeMillis))
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }
}

object Trace {
  /** Local property naming the operation a Spark job belongs to. */
  val OpProperty = "perfbench.op"

  final case class JobRec(id: Int, op: String, start: Long, end: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, numTasks: Int, start: Long, end: Long)
  final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           peakMem: Long, bytesRead: Long, recordsRead: Long, bytesWritten: Long)
  final case class PlanRec(start: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class ProgressRec(query: String, batch: Long, start: Long, durationMs: Map[String, Long],
                               inputRows: Long, stateRows: Long, stateUpdated: Long,
                               stateRemoved: Long, stateMem: Long, commitMs: Long,
                               updateMs: Long, removeMs: Long) {
    def end: Long = start + durationMs.getOrElse("triggerExecution", 0L)
  }

  /** A node of the written trace: [start, end] in epoch ms, with children. */
  final case class Span(name: String, kind: String, start: Long, end: Long,
                        children: Seq[Span] = Nil, attrs: Map[String, Double] = Map.empty) {
    def ms: Long = end - start
    /** Duration minus the part of [start, end] its children cover. */
    def selfMs: Long = ms - covered(children.map(c => (c.start max start, c.end min end)))
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def toJson(s: Span): String = {
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"name":${Json.str(s.name)},"kind":"${s.kind}","start_ms":${s.start},""" +
      s""""dur_ms":${s.ms},"self_ms":${s.selfMs},"attrs":{$attrs},""" +
      s""""children":[${s.children.map(toJson).mkString(",")}]}"""
  }
}

/** Minimal JSON writing for the harness's flat outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
