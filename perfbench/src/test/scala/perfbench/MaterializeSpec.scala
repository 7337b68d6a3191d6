package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.StockJobs

class MaterializeSpec extends SparkSuite {

  private def shuffleBytes(body: => Unit): Long = {
    val bytes = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; PerfbenchBridge.drainListeners(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    bytes.get
  }

  test("materializing maxClosePricePerYear runs its keyed shuffle") {
    val in = dir.resolve("in")
    StockGen.write(in, 5L, 10000, 120)
    val rows = shuffleBytes(Materialize(StockJobs.maxClosePricePerYear(spark, in.toString)))
    assert(rows > 0, "the materializer let the window's shuffle be pruned away")
  }
}
