package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry

/** Splits `SparkEntry.queries` into batch queries and drains by observation:
  * a query is a drain if running it starts at least one streaming query.
  * Writes `registry_batch.txt` and `registry_drains.txt` to `<out_dir>` and
  * prints each query's time and group.
  *
  *   runMain perfbench.Classify <tables_dir> <out_dir> <work_dir>
  */
object Classify {
  def main(argv: Array[String]): Unit = {
    val Array(tables, outDir, work) = argv
    val spark = Main.session(Runtime.getRuntime.availableProcessors, Paths.get(work).toAbsolutePath)
    val started = new AtomicInteger
    spark.streams.addListener(new StreamingQueryListener {
      // delivered synchronously from DataStreamWriter.start()
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val groups = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val before = started.get
      val t0 = Clock.ms()
      try Materialize(SparkEntry.queries(name)(spark, tables))
      catch { case t: Throwable => System.err.println(s"[classify] $name failed: ${Harness.describe(t)}") }
      val drain = started.get > before
      println(f"$name%-48s ${(Clock.ms() - t0) / 1000}%8.3f ${if (drain) "drain" else "batch"}")
      name -> drain
    }
    def write(file: String, names: Seq[String]) =
      Files.writeString(Paths.get(outDir, file), names.mkString("", "\n", "\n"))
    write("registry_batch.txt", groups.filterNot(_._2).map(_._1))
    write("registry_drains.txt", groups.filter(_._2).map(_._1))
    spark.stop()
  }
}
