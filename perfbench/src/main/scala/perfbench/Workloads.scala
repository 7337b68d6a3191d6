package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkEntry, StockJobs}
import graft.io.{StockCsv, Tables}

/** A benchmark workload. Inputs are made by [[prepare]], after set-up and
  * before anything is timed; [[pass]] runs the workload's operations once. */
trait Workload {
  /** Returns the passes it ran, whose operations count as attempted. */
  def warmUp(): Seq[Pass]
  def prepare(): Unit
  /** Generated input rows one pass consumes. */
  def inputRows: Long
  def pass(passNo: Int): Pass
  /** The closed-loop part of a pass, for the traced run's warm and
    * single-core comparisons. */
  def baselinePass(passNo: Int): Pass = pass(passNo)
  /** Read the workload's inputs alone and write them to the `noop` sink. */
  def scan(): Unit
  /** Called once after the last pass, for checks that need every pass. */
  def finish(): Unit = ()
}

object Workload {
  val Names = Seq("registry", "stock")

  def apply(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "registry" => new RegistryWorkload(spark, a)
    case "stock"    => new StockWorkload(spark, a)
  }
}

/** The committed split of `SparkEntry.queries` into batch queries and drains
  * (queries that start a streaming query), as observed by [[Classify]], and
  * the sample of both that a run measures (`registry_sample.txt`, which says
  * how each query was chosen). */
object Registry {
  val Batch = "registry_batch.txt"
  val Drains = "registry_drains.txt"
  val Sample = "registry_sample.txt"

  /** The query names of a list: the first word of each line, without
    * blank lines and `#` comments. */
  def list(resource: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/perfbench/$resource")
    require(in != null, s"missing resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+")(0)).toSeq
    finally in.close()
  }

  /** Order-independent digest of a result. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Ends (epoch ms) of the micro-batches with input that streaming queries
  * of the session complete, for the drains' event latency. */
final class BatchEnds extends StreamingQueryListener {
  private val ends = new ConcurrentLinkedQueue[Double]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) ends.add(Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue)
  }
  /** The ends recorded so far, once every event sent has been delivered. */
  def take(spark: SparkSession): Seq[Double] = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val out = ends.asScala.toSeq
    ends.clear()
    out
  }
}

/** Registry queries (a sample of batch queries and drains) at the generated
  * scale, in seed-shuffled order. Every pass, the warm-up too, reads its own
  * copy of the tables, so each pass pays what a first query on new data
  * pays (the library's per-input replay tapes and format copies); code
  * generation and JIT compiles happen once per JVM, in the warm-up. The
  * warm-up's results are written to parquet for the DuckDB oracle check
  * that `run.py` makes against `SparkEntry.oracleSql`; later passes must
  * reproduce their digests. */
final class RegistryWorkload(spark: SparkSession, a: Args) extends Workload {
  private val names = new scala.util.Random(a.seed).shuffle(Registry.list(Registry.Sample))
  private val drains = Registry.list(Registry.Drains).toSet
  private val digests = mutable.Map.empty[String, String]
  private val results = a.work.resolve("results")
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private val batchEnds = new BatchEnds
  spark.streams.addListener(batchEnds)
  private var rows = 0L

  def inputRows: Long = rows

  def warmUp(): Seq[Pass] = Seq(pass(-1))

  def prepare(): Unit = rows = tables.map(Tables.table(spark, a.tables.toString, _).count()).sum

  private def check(name: String)(df: DataFrame, rows: Array[Row]): Option[String] = {
    val d = Registry.digest(rows)
    digests.get(name) match {
      case Some(first) => if (first == d) None else Some("result differs from the first pass")
      case None =>
        digests(name) = d
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.mode("overwrite").parquet(results.resolve(name).toString)
        None
    }
  }

  /** Event latency of a drain: from its submission, when all its input is
    * due, to the end of each micro-batch with input it ran; a failed drain
    * is charged the operation timeout. */
  def pass(passNo: Int): Pass = {
    val dir = a.work.resolve(s"tables-p$passNo")
    Harness.deleteTree(dir)
    Harness.copyTree(a.tables, dir)
    batchEnds.take(spark)
    val p = Harness.pass(spark, names.map { n =>
      Op(n, () => SparkEntry.queries(n)(spark, dir.toString), check(n))
    }, passNo)
    val ends = batchEnds.take(spark)
    val latencies = p.ops.filter(o => drains.contains(o.name)).flatMap { o =>
      if (o.error.isDefined) Seq(Harness.OpTimeoutS * 1000)
      else ends.filter(e => e >= o.start && e <= o.end + 1).map(_ - o.start)
    }
    Harness.deleteTree(dir)
    p.copy(latenciesMs = latencies, latencyEvents = latencies.size)
  }

  def scan(): Unit = tables.foreach { t =>
    Tables.table(spark, a.tables.toString, t).write.format("noop").mode("overwrite").save()
  }

  /** The oracle SQL of every query whose result was written, for run.py. */
  override def finish(): Unit = Files.writeString(a.work.resolve("oracle_sql.json"),
    Json.obj(digests.keys.toSeq.sorted.map(n => n -> Json.str(SparkEntry.oracleSql(n)))))
}

/** The four stock jobs, in batch and streaming form, by job name. */
object StockJobsTable {
  val Batch: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "maxClosePricePerYear" -> ((s, d) => StockJobs.maxClosePricePerYear(s, d)),
    "rollingAvgHighPrice" -> ((s, d) => StockJobs.rollingAvgHighPrice(s, d)),
    "maxVolumePerYearMonth" -> ((s, d) => StockJobs.maxVolumePerYearMonth(s, d)),
    "daysSinceCloseThreshold" -> ((s, d) => StockJobs.daysSinceCloseThreshold(s, d)))
  val Stream: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "maxClosePricePerYear" -> ((s, d) => StockJobs.maxClosePricePerYearStream(s, d)),
    "rollingAvgHighPrice" -> ((s, d) => StockJobs.rollingAvgHighPriceStream(s, d)),
    "maxVolumePerYearMonth" -> ((s, d) => StockJobs.maxVolumePerYearMonthStream(s, d)),
    "daysSinceCloseThreshold" -> ((s, d) => StockJobs.daysSinceCloseThresholdStream(s, d)))
}

/** Closed loop: the four batch forms collected, then the four streaming
  * forms drained with `Trigger.AvailableNow`, over one input generated from
  * `seed` into the work directory's `name`. */
final class StockScaled(spark: SparkSession, a: Args, seed: Long, name: String) {
  /** Input size: rows over trading days, one file per trading month. */
  val Rows = 50000L
  val Days = 1260
  val DaysPerFile = 21
  private val dir = a.work.resolve(name)
  private var expected: StockOracle.Expected = _

  def inputRows: Long = expected.rows * (StockJobsTable.Batch.size + StockJobsTable.Stream.size)

  def prepare(): Unit = {
    Harness.deleteTree(dir)
    expected = StockOracle.fold(StockGen.write(dir, seed, Rows, Days, DaysPerFile).files)
  }

  def pass(passNo: Int): Pass = {
    val batch = StockJobsTable.Batch.map { case (job, f) =>
      Op(job, () => f(spark, dir.toString),
        (_, rows) => StockOracle.check(job, stream = false, rows.toSeq, expected))
    }
    val stream = StockJobsTable.Stream.zipWithIndex.map { case ((job, f), i) =>
      val sink = s"perfbench_drain_${passNo + 1}_$i"
      val ckpt = a.work.resolve(s"ckpt-$passNo-$i")
      Op(job + "Stream", () => Harness.drain(spark, f(spark, dir.toString), sink, ckpt),
        (_, rows) => {
          spark.catalog.dropTempView(sink)
          Harness.deleteTree(ckpt)
          StockOracle.check(job, stream = true, rows.toSeq, expected)
        })
    }
    Harness.pass(spark, batch ++ stream, passNo)
  }

  def scan(): Unit =
    StockCsv.read(spark, dir.toString).write.format("noop").mode("overwrite").save()
}

/** Open loop: a generator thread publishes one file per trading day at a
  * fixed rate (by atomic rename into the watched directory) while the four
  * streaming jobs consume the directory on the default trigger. */
final class StockLive(spark: SparkSession, a: Args) {
  val FilesPerSecond = 6.0
  val RowsPerDay = 200
  /** Long enough for one rolling-average block per symbol. */
  private val days = StockGen.MinSeriesDays
  private val root = a.work.resolve(s"live-${a.seed}")
  private var gen: StockGen.Generated = _
  private var expected: StockOracle.Expected = _

  def prepare(): Unit = {
    Harness.deleteTree(root)
    gen = StockGen.write(root.resolve("staged"), a.seed, days.toLong * RowsPerDay, days)
    expected = StockOracle.fold(gen.files)
  }

  /** Column holding the epoch day of the record that triggered each row. */
  private def ordIndex(job: String): Int = if (job == "maxVolumePerYearMonth") 2 else 1

  /** File name → batch id, from a file source's metadata log. */
  private def sourceLog(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def pass(passNo: Int): Pass = {
    val dir = root.resolve(s"pass-$passNo")
    val stage = dir.resolve("stage")
    val watched = dir.resolve("in")
    Files.createDirectories(stage)
    Files.createDirectories(watched)
    gen.files.foreach(f => Files.copy(f, stage.resolve(f.getFileName)))
    val dayIndex = gen.days.zipWithIndex.map { case (d, i) => d.toEpochDay -> i }.toMap
    val jobs = StockJobsTable.Stream
    val outputs = jobs.map(_ => new ConcurrentLinkedQueue[(Long, Array[Row])]())
    val sc = spark.sparkContext
    val queries = jobs.zipWithIndex.map { case ((job, f), i) =>
      val sink: (DataFrame, Long) => Unit = (df, id) => outputs(i).add((id, Materialize(df)))
      val start = Clock.ms()
      sc.setLocalProperty(Trace.OpProperty, s"live$passNo-$job")
      val q = f(spark, watched.toString).writeStream.queryName(s"live$passNo-$job")
        .option("checkpointLocation", dir.resolve(s"ckpt-$i").toString)
        .foreachBatch(sink).start()
      sc.setLocalProperty(Trace.OpProperty, null)
      (start, q)
    }
    val waitUntil = Clock.ms() + 30000
    while (queries.exists(_._2.status.message != "Waiting for data to arrive") &&
           queries.forall(_._2.isActive) && Clock.ms() < waitUntil) Thread.sleep(10)
    val period = 1000.0 / FilesPerSecond
    val t0 = Clock.ms() + period
    val due = gen.files.indices.map(i => t0 + i * period)
    val published = new Array[Double](gen.files.size)
    val publisher = new Thread(() => gen.files.zipWithIndex.foreach { case (f, i) =>
      val wait = due(i) - Clock.ms()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      Files.move(stage.resolve(f.getFileName), watched.resolve(f.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      published(i) = Clock.ms()
    }, "perfbench-publisher")
    publisher.start()
    publisher.join()
    val caughtUp = queries.map { case (_, q) =>
      try { q.processAllAvailable(); None } catch { case t: Throwable => Some(Harness.describe(t)) }
    }
    val errors = queries.zip(caughtUp).map { case ((_, q), err) =>
      scala.util.Try(q.stop())
      err.orElse(q.exception.map(Harness.describe))
    }
    val stopped = Clock.ms()
    // batch id -> when the batch completed, per query
    val batchEnds = queries.map { case (_, q) =>
      q.recentProgress.filter(_.numInputRows > 0).map { p =>
        p.batchId -> (Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue)
      }.toMap
    }
    val latencies = jobs.indices.map { i =>
      val oi = ordIndex(jobs(i)._1)
      outputs(i).asScala.toSeq.flatMap { case (b, rows) =>
        batchEnds(i).get(b).toSeq.flatMap { end =>
          rows.map(r => end - due(dayIndex(r.getAs[Number](oi).longValue)))
        }
      }
    }
    val logs = jobs.indices.map(i => sourceLog(dir.resolve(s"ckpt-$i")))
    val backlog = jobs.indices.flatMap { i =>
      val fileBatch = gen.files.map(f => logs(i).getOrElse(f.getFileName.toString, Long.MaxValue))
      batchEnds(i).toSeq.map { case (b, end) =>
        due.indices.count(k => due(k) <= end && fileBatch(k) > b)
      }
    }.maxOption.getOrElse(0)
    val c0 = Clock.ms()
    val checks = jobs.indices.flatMap { i =>
      if (errors(i).isDefined) None
      else StockOracle.check(jobs(i)._1, stream = true,
        outputs(i).asScala.toSeq.flatMap(_._2.toSeq), expected)
    }
    val checkS = (Clock.ms() - c0) / 1000
    val lastEnd = batchEnds.flatMap(_.values).maxOption.getOrElse(stopped)
    // each streaming job is one operation: from its start to its last batch
    val ops = jobs.indices.map { i =>
      val end = batchEnds(i).values.maxOption.getOrElse(stopped)
      OpResult(s"live$passNo-${jobs(i)._1}", jobs(i)._1 + "Stream", queries(i)._1, end, end,
        errors(i).orElse(checks.find(_.startsWith(jobs(i)._1 + ":"))))
    }
    Harness.deleteTree(dir)
    // rows of one file that one batch emitted share a latency: one event
    Pass((lastEnd - t0) / 1000, Nil, ops, checkS, latencies.flatten,
      latencies.map(_.distinct.size).sum,
      published.indices.map(i => published(i) - due(i)).maxOption.getOrElse(0.0), backlog, ops)
  }
}

/** The reference's four jobs end to end on seeded stock data: the closed
  * loop (batch forms, then streaming forms drained) over one scaled input,
  * then the open loop over a live-published one. The pass's wall time and
  * input rows are the closed loop's; the open loop, whose length is set by
  * its publishing schedule, is measured by event latency and backlog. */
final class StockWorkload(spark: SparkSession, a: Args) extends Workload {
  private val scaled = new StockScaled(spark, a, a.seed, s"stock-${a.seed}")
  private val live = new StockLive(spark, a)

  /** One closed loop over an input of the measured size made from a fixed
    * seed: a smaller warm-up leaves the JIT far from steady state, and the
    * first measured pass then runs about 40% slower than the second. */
  def warmUp(): Seq[Pass] = {
    val w = new StockScaled(spark, a, 0L, "stock-warmup")
    w.prepare()
    Seq(w.pass(-1))
  }
  def prepare(): Unit = { scaled.prepare(); live.prepare() }
  def inputRows: Long = scaled.inputRows

  def pass(passNo: Int): Pass = {
    val s = scaled.pass(passNo)
    val l = live.pass(passNo)
    Pass(s.wallS, s.ops, s.spans ++ l.spans, s.checkS + l.checkS,
      l.latenciesMs, l.latencyEvents, l.genLateMs, l.backlogMaxFiles, open = l.ops)
  }

  override def baselinePass(passNo: Int): Pass = scaled.pass(passNo)
  def scan(): Unit = scaled.scan()
}
