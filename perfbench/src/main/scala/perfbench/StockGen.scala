package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

/** Seeded stock-quote generator in the reference's 15-column HDFC schema.
  *
  * Writes one CSV file (with header) per trading day, or per run of
  * `daysPerFile` consecutive trading days. Symbols trade over
  * contiguous runs of days whose lengths are Zipf-skewed: symbol `i` trades
  * for about `days * (i + 1)^-0.6` days (at least [[MinSeriesDays]]), so a
  * few symbols hold long histories and most hold short ones, the key skew
  * the keyBy operators see. Prices are a per-symbol random walk in whole
  * paise, so every price has at most two decimals and decimal sums are
  * exact. The same `(seed, rows, days)` gives byte-identical files.
  */
object StockGen {

  val Header = "Date,Symbol,Series,Prev Close,Open,High,Low,Last,Close,VWAP,Volume," +
    "Turnover,Trades,Deliverable Volume,%Deliverble"
  /** Long enough for at least one 51-record block of the rolling average. */
  val MinSeriesDays = 60
  /** Trades / deliverable volume are empty before this day, as in HDFC.csv. */
  private val DeliverableFrom = LocalDate.of(2011, 6, 1)

  /** What [[write]] produced: the trading days and the files in date order
    * (file `i` holds days `i * daysPerFile` onwards). */
  final case class Generated(days: IndexedSeq[LocalDate], files: IndexedSeq[Path], rows: Long)

  /** `n` consecutive weekdays from 2000-01-03, the first date of HDFC.csv. */
  def tradingDays(n: Int): IndexedSeq[LocalDate] =
    Iterator.iterate(LocalDate.of(2000, 1, 3))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toIndexedSeq

  /** Series length per symbol: Zipf-skewed, summing to exactly `rows`. */
  private[perfbench] def seriesLengths(rows: Long, days: Int): Array[Int] = {
    require(days >= MinSeriesDays, s"need at least $MinSeriesDays trading days")
    val out = Array.newBuilder[Int]
    var left = rows
    var i = 0
    while (left > 0) {
      val len = math.max(MinSeriesDays, math.round(days * math.pow(i + 1, -0.6)).toInt)
      val take = math.min(left, math.min(len, days).toLong).toInt
      out += take
      left -= take
      i += 1
    }
    out.result()
  }

  /** Symbol `i` as four capital letters: AAAA, AAAB, ... */
  private[perfbench] def symbol(i: Int): String = {
    val c = new Array[Char](4)
    var v = i
    for (k <- 3 to 0 by -1) { c(k) = ('A' + v % 26).toChar; v /= 26 }
    new String(c)
  }

  private def money(sb: java.lang.StringBuilder, paise: Long): Unit = {
    sb.append(paise / 100).append('.')
    val f = paise % 100
    if (f < 10) sb.append('0')
    sb.append(f)
  }

  /** One symbol's quotes over its run of days, fields in whole paise. */
  private final class Series(seed: Long, idx: Int, val start: Int, val len: Int) {
    val close, open, high, low, last, vwap, volume = new Array[Long](len)
    private val rnd = new SplittableRandom(seed * 1000003L + idx)
    private def gauss(): Double =
      math.sqrt(-2 * math.log(1 - rnd.nextDouble())) * math.cos(2 * math.Pi * rnd.nextDouble())
    private def tick(p: Double): Long = math.max(100L, math.round(p / 5) * 5)
    private var prev = 1000L + rnd.nextLong(300000L)
    val firstPrev: Long = prev
    for (k <- 0 until len) {
      val c = tick(prev * math.exp(0.02 * gauss()))
      val o = tick(prev * (1 + 0.005 * gauss()))
      close(k) = c
      open(k) = o
      high(k) = math.max(o, c) + rnd.nextLong(math.max(1L, c / 100))
      low(k) = math.max(5L, math.min(o, c) - rnd.nextLong(math.max(1L, c / 100)))
      last(k) = tick(c * (1 + 0.001 * gauss()))
      vwap(k) = (high(k) + low(k) + c) / 3
      volume(k) = 1000L + (math.exp(10 + 1.5 * rnd.nextDouble() * 3) % 2e7).toLong
      prev = c
    }
  }

  /** Write `rows` quotes over `days` trading days to `dir`, one file per
    * `daysPerFile` days named `day-NNNNN.csv` after its first day. */
  def write(dir: Path, seed: Long, rows: Long, days: Int, daysPerFile: Int = 1): Generated = {
    Files.createDirectories(dir)
    val dates = tradingDays(days)
    val rnd = new SplittableRandom(seed)
    val series = seriesLengths(rows, days).zipWithIndex.map { case (len, i) =>
      new Series(seed, i, rnd.nextInt(days - len + 1), len)
    }
    val files = dates.indices.grouped(daysPerFile).map { group =>
      val sb = new java.lang.StringBuilder(1 << 16)
      sb.append(Header).append('\n')
      group.foreach(d => appendDay(sb, series, d, dates(d)))
      val f = dir.resolve(f"day-${group.head}%05d.csv")
      Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
      f
    }.toIndexedSeq
    Generated(dates, files, series.map(_.len.toLong).sum)
  }

  private def appendDay(sb: java.lang.StringBuilder, series: Array[Series], d: Int,
                        date: LocalDate): Unit = {
    val iso = date.toString
    val deliverable = !date.isBefore(DeliverableFrom)
    var i = 0
    while (i < series.length) {
      val s = series(i)
      val k = d - s.start
      if (k >= 0 && k < s.len) {
        val prevClose = if (k == 0) s.firstPrev else s.close(k - 1)
        sb.append(iso).append(',').append(symbol(i)).append(",EQ,")
        money(sb, prevClose); sb.append(',')
        money(sb, s.open(k)); sb.append(',')
        money(sb, s.high(k)); sb.append(',')
        money(sb, s.low(k)); sb.append(',')
        money(sb, s.last(k)); sb.append(',')
        money(sb, s.close(k)); sb.append(',')
        money(sb, s.vwap(k)); sb.append(',')
        val vol = s.volume(k)
        sb.append(vol).append(',')
        money(sb, s.vwap(k) * vol); sb.append(',')
        if (deliverable) {
          val trades = vol / 40 + 1
          val deliv = vol * (20 + (vol % 60)) / 100
          sb.append(trades).append(',').append(deliv).append(',')
          val pct = deliv * 10000 / vol
          sb.append(pct / 10000).append('.').append(String.format("%04d", Long.box(pct % 10000)))
        } else sb.append(",,")
        sb.append('\n')
      }
      i += 1
    }
  }
}
