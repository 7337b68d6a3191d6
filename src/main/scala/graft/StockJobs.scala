package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.StockCsv
import graft.operators.KeyedOps

/** Drop-in entry points for the reference's four jobs: a user of
  * kundan59/Stock-Price-Analysis-... points these at the same CSV and gets
  * the same per-record emission stream as the reference's `print()` sink,
  * as a DataFrame. Each is the corresponding KeyedOps transform (oracle- and
  * golden-tested) wired to the stock schema ([[graft.io.StockCsv]]); the
  * incremental forms live in [[graft.streaming.StatefulOps]].
  */
object StockJobs {

  /** Running max closing price per year — the reference's
    * MaximumClosingPrice.java:47-82 (ValueState). Emits one
    * (year, running max) record per input row, in date order per year. */
  def maxClosePricePerYear(spark: SparkSession, csvPath: String): DataFrame =
    KeyedOps.runningMax(
        StockCsv.read(spark, csvPath).withColumn("yr", year(col("Date"))),
        Seq(col("yr")), Seq(col("Date")), col("Close"), "max_close")
      .select(col("yr").as("year"), col("max_close"))

  /** 51-record rolling average of the high price per symbol — the
    * reference's RollingAverageHighPrice.java:56-113 (ValueState +
    * ReducingState): sums 50 records, the 51st triggers the emission and is
    * discarded. One row per completed block. */
  def rollingAvgHighPrice(spark: SparkSession, csvPath: String): DataFrame =
    KeyedOps.blockAverage(
        StockCsv.read(spark, csvPath),
        Seq(col("Symbol")), Seq(col("Date")), col("High"), "avg_high")
      .select(col("Symbol").as("symbol"), col("block"), col("avg_high"))

  /** Running max trade volume per (year, month) — the reference's
    * MaxTradeVolumePerYearPerMonth.java:53-91 (MapState keyed by month
    * within the year's state). */
  def maxVolumePerYearMonth(spark: SparkSession, csvPath: String): DataFrame =
    KeyedOps.runningMax(
        StockCsv.read(spark, csvPath)
          .withColumn("yr", year(col("Date"))).withColumn("mon", month(col("Date"))),
        Seq(col("yr"), col("mon")), Seq(col("Date")), col("Volume"), "max_volume")
      .select(col("yr").as("year"), col("mon").as("month"), col("max_volume"))

  /** Trading days elapsed between close-price threshold breaches — the
    * reference's DaysSincePriceThreshold.java:61-102 (ListState consumed
    * only via its size, i.e. a per-key counter). One row per breach with the
    * sub-threshold run length before it. */
  def daysSinceCloseThreshold(spark: SparkSession, csvPath: String,
                              threshold: Double = 300.0): DataFrame =
    KeyedOps.thresholdGaps(
        StockCsv.read(spark, csvPath),
        Seq(col("Symbol")), Seq(col("Date")), col("Close"), threshold, "days")
      .select(col("Symbol").as("symbol"), col("Date").as("date"), col("days"))

  // ---- incremental (Structured Streaming) forms: the stock CSV directory as
  //      a file stream feeding the flatMapGroupsWithState keyed-state ops —
  //      the execution model the reference actually uses. Ord = epoch day of
  //      the quote date (monotone per key like the file order the reference
  //      relies on). Start with `.writeStream`, or execute on the bounded
  //      batch read for testing — both run the same operator.
  //
  //      Two deployment settings matter when you start these queries
  //      yourself with a local checkpoint location:
  //      - `spark.sql.streaming.checkpointFileManagerClass=
  //        graft.io.LocalCheckpointFileManager` writes the checkpoint
  //        files without the process Hadoop forks per file when the
  //        native Hadoop library is missing: one AvailableNow drain of a
  //        stream form over 50,000 quotes in 60 files took a median
  //        729 ms with it against 1148 ms without (4 cores, local[4]).
  //        The library's own drains set it; queries you start are yours
  //        to configure.
  //      - a micro-batch over more than 32 files makes the file source
  //        list the batch's files with a Spark job, one task per file:
  //        about 300 ms of `getBatch` per drain at 60 files. The 32 is
  //        `spark.sql.sources.parallelPartitionDiscovery.threshold`; at
  //        100 the same drain spent 12 ms in `getBatch`.

  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.KV

  private def kvStream(spark: SparkSession, dir: String,
                       keyCol: String, valueCol: String) = {
    import spark.implicits._
    StockCsv.readStream(spark, dir)
      .select(col(keyCol).cast("string").as("key"),
              datediff(col("Date"), lit("1970-01-01")).cast("long").as("ord"),
              col(valueCol).as("value"))
      .as[KV]
  }

  /** Streaming [[maxClosePricePerYear]]: per-record running max per year over
    * a stock-CSV file stream (MaximumClosingPrice.java's DataStream shape). */
  def maxClosePricePerYearStream(spark: SparkSession, dir: String): DataFrame =
    StatefulOps.runningMax(kvStream(spark, dir, "Date", "Close")
        .map(kv => kv.copy(key = kv.key.substring(0, 4)))(
          org.apache.spark.sql.Encoders.product[KV]))
      .toDF()
      .select(col("key").cast("int").as("year"), col("ord"), col("out").as("max_close"))

  /** Streaming [[daysSinceCloseThreshold]]: breach gap counts per symbol over
    * a stock-CSV file stream (DaysSincePriceThreshold.java's shape). */
  def daysSinceCloseThresholdStream(spark: SparkSession, dir: String,
                                    threshold: Double = 300.0): DataFrame =
    StatefulOps.thresholdGaps(kvStream(spark, dir, "Symbol", "Close"), threshold)
      .toDF()
      .select(col("key").as("symbol"), col("ord"), col("gap").as("days"))

  /** Streaming [[rollingAvgHighPrice]]: 51-record trigger-discard block
    * averages per symbol (RollingAverageHighPrice.java's shape); blocks that
    * span micro-batches carry their partial sum in keyed state. */
  def rollingAvgHighPriceStream(spark: SparkSession, dir: String): DataFrame =
    StatefulOps.blockAverage(kvStream(spark, dir, "Symbol", "High"))
      .toDF()
      .select(col("key").as("symbol"), col("ord"), col("out").as("avg_high"))

  /** Streaming [[maxVolumePerYearMonth]]: running max volume with the month
    * as a true subkey map inside the year's state
    * (MaxTradeVolumePerYearPerMonth.java's MapState shape). */
  def maxVolumePerYearMonthStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.StatefulOps.KSV
    val ksv = StockCsv.readStream(spark, dir)
      .select(year(col("Date")).cast("string").as("key"),
              month(col("Date")).cast("string").as("subkey"),
              datediff(col("Date"), lit("1970-01-01")).cast("long").as("ord"),
              col("Volume").cast("double").as("value"))
      .as[KSV]
    StatefulOps.runningMaxBySubkey(ksv)
      .toDF()
      .select(col("key").cast("int").as("year"), col("subkey").cast("int").as("month"),
              col("ord"), col("out").cast("long").as("max_volume"))
  }
}
