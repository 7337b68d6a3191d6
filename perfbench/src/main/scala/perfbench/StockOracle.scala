package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Correctness oracle for the stock workloads: a single-threaded, per-record
  * fold of the reference's four keyed-state jobs over the generated CSV
  * files, read line by line in date order (FIXTURES.md §2 semantics):
  *
  *  - Q1 running max of Close per year, one emission per record;
  *  - Q2 per symbol, 50 records summed, the 51st emits sum/50 and is
  *    discarded (sums in whole paise, so exact like the library's decimal);
  *  - Q3 running max of Volume per (year, month), one emission per record;
  *  - Q4 per symbol, each Close >= 300 emits the count of sub-threshold
  *    records since the previous breach.
  *
  * Several symbols quote on the same day, and Q1/Q3 order only by date, so
  * the order of same-day records within a year is unspecified and so is each
  * same-day emission. Their check is therefore tie-tolerant: sorted per key,
  * the emissions must reach each date's running max exactly at that date's
  * last record and stay between the previous and current date's max.
  */
object StockOracle {

  val Threshold = 300.0

  /** Per key: emissions in arrival order, and the index of each date's last record. */
  final case class RunningMax(outs: IndexedSeq[Double], dateEnds: IndexedSeq[Int])

  final case class Expected(
      q1: Map[Int, RunningMax],
      q2: Seq[(String, Long, Long, Double)], // symbol, block, epoch day of the trigger, avg
      q3: Map[(Int, Int), RunningMax],
      q4: Seq[(String, Long, Long)],         // symbol, epoch day of the breach, gap
      rows: Long)

  private final class MaxFold {
    val outs = mutable.ArrayBuffer.empty[Double]
    val ends = mutable.ArrayBuffer.empty[Int]
    var cur = Double.NegativeInfinity
    var lastDay = Long.MinValue
    def add(day: Long, v: Double): Unit = {
      if (day != lastDay && outs.nonEmpty) ends += outs.size - 1
      lastDay = day
      if (v > cur) cur = v
      outs += cur
    }
    def result: RunningMax = RunningMax(outs.toIndexedSeq, (ends :+ (outs.size - 1)).toIndexedSeq)
  }

  private def paise(s: String): Long =
    BigDecimal(s).setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal.unscaledValue.longValueExact

  /** Fold the generated files (in the given, date, order). */
  def fold(files: Seq[Path]): Expected = {
    val q1 = mutable.LinkedHashMap.empty[Int, MaxFold]
    val q3 = mutable.LinkedHashMap.empty[(Int, Int), MaxFold]
    val q2acc = mutable.HashMap.empty[String, (Int, Long, Long)] // count, paise, block
    val q2 = mutable.ArrayBuffer.empty[(String, Long, Long, Double)]
    val q4gap = mutable.HashMap.empty[String, Long]
    val q4 = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var rows = 0L
    for (f <- files; line <- Files.readAllLines(f).asScala.iterator.drop(1)) {
      val t = line.split(",", -1)
      val date = LocalDate.parse(t(0))
      val day = date.toEpochDay
      val sym = t(1)
      val close = t(8).toDouble
      rows += 1
      q1.getOrElseUpdate(date.getYear, new MaxFold).add(day, close)
      q3.getOrElseUpdate((date.getYear, date.getMonthValue), new MaxFold).add(day, t(10).toLong.toDouble)
      val (n, sum, block) = q2acc.getOrElse(sym, (0, 0L, 0L))
      if (n < 50) q2acc(sym) = (n + 1, sum + paise(t(5)), block)
      else {
        q2 += ((sym, block, day, BigDecimal(sum, 2).toDouble / 50))
        q2acc(sym) = (0, 0L, block + 1)
      }
      if (close >= Threshold) { q4 += ((sym, day, q4gap.getOrElse(sym, 0L))); q4gap(sym) = 0L }
      else q4gap(sym) = q4gap.getOrElse(sym, 0L) + 1
    }
    Expected(q1.map { case (k, v) => k -> v.result }.toMap, q2.toSeq,
      q3.map { case (k, v) => k -> v.result }.toMap, q4.toSeq, rows)
  }

  private def num(r: Row, i: Int): Long = r.getAs[Number](i).longValue
  private def dbl(r: Row, i: Int): Double = r.getAs[Number](i).doubleValue

  private def checkMax[K](what: String, exp: Map[K, RunningMax], got: Map[K, Seq[Double]]): Option[String] = {
    if (got.keySet != exp.keySet) return Some(s"$what: keys ${got.size} vs expected ${exp.size}")
    exp.iterator.flatMap { case (k, e) =>
      val g = got(k).toArray.sorted
      if (g.size != e.outs.size) Some(s"$what: key $k has ${g.size} rows, expected ${e.outs.size}")
      else {
        var prevMax = Double.NegativeInfinity
        var from = 0
        e.dateEnds.iterator.flatMap { end =>
          val m = e.outs(end)
          val bad = g(end) != m || (from to end).exists(j => g(j) < prevMax || g(j) > m)
          prevMax = m
          from = end + 1
          if (bad) Some(s"$what: key $k disagrees at record $end") else None
        }.nextOption()
      }
    }.nextOption()
  }

  private def checkExact[T: Ordering](what: String, exp: Seq[T], got: Seq[T]): Option[String] =
    if (exp.size != got.size) Some(s"$what: ${got.size} rows, expected ${exp.size}")
    else if (exp.sorted != got.sorted) Some(s"$what: rows differ from the reference fold")
    else None

  /** Check one job's rows. `job` is the job's name; `stream` tells the
    * micro-batch forms (which carry the epoch-day `ord`) from the batch ones. */
  def check(job: String, stream: Boolean, rows: Seq[Row], e: Expected): Option[String] = job match {
    case "maxClosePricePerYear" =>
      val v = if (stream) 2 else 1
      checkMax(job, e.q1, rows.groupMap(r => num(r, 0).toInt)(r => dbl(r, v)))
    case "maxVolumePerYearMonth" =>
      val v = if (stream) 3 else 2
      checkMax(job, e.q3, rows.groupMap(r => (num(r, 0).toInt, num(r, 1).toInt))(r => dbl(r, v)))
    case "rollingAvgHighPrice" =>
      if (stream) checkExact(job, e.q2.map(x => (x._1, x._3, x._4)),
                             rows.map(r => (r.getString(0), num(r, 1), dbl(r, 2))))
      else checkExact(job, e.q2.map(x => (x._1, x._2, x._4)),
                      rows.map(r => (r.getString(0), num(r, 1), dbl(r, 2))))
    case "daysSinceCloseThreshold" =>
      val ord: Row => Long =
        if (stream) num(_, 1) else _.getAs[java.sql.Date](1).toLocalDate.toEpochDay
      checkExact(job, e.q4, rows.map(r => (r.getString(0), ord(r), num(r, 2))))
  }
}
