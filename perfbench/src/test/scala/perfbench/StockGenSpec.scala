package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.io.StockCsv

class StockGenSpec extends SparkSuite {

  test("the same seed writes byte-identical files, another seed does not") {
    val a = StockGen.write(dir.resolve("a"), 7L, 5000, 80)
    val b = StockGen.write(dir.resolve("b"), 7L, 5000, 80)
    val c = StockGen.write(dir.resolve("c"), 8L, 5000, 80)
    assert(a.files.size == 80 && a.rows == 5000)
    a.files.zip(b.files).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)), x.toString)
    }
    assert(a.files.zip(c.files).exists { case (x, y) =>
      !java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)) })
  }

  test("series lengths are Zipf-skewed and sum to the requested rows") {
    val lens = StockGen.seriesLengths(100000, 1000)
    assert(lens.sum == 100000)
    assert(lens.head == 1000 && lens.last <= lens.head)
    assert(lens.take(10).sum > 10 * StockGen.MinSeriesDays * 4)
  }

  test("generated files parse through StockCsv.read with no nulls in required columns") {
    val g = StockGen.write(dir.resolve("parse"), 3L, 20000, 3000)
    val df = StockCsv.read(spark, dir.resolve("parse").toString)
    assert(df.count() == g.rows)
    val required = Seq("Date", "Symbol", "Series", "PrevClose", "Open", "High", "Low", "Last",
      "Close", "VWAP", "Volume", "Turnover")
    required.foreach(c => assert(df.filter(col(c).isNull).count() == 0, c))
    // trades and deliverables are present only from 2011-06-01, as in HDFC.csv
    assert(df.filter(col("Date") >= "2011-06-01" && col("Trades").isNull).count() == 0)
    assert(df.filter(col("Date") < "2011-06-01" && col("Trades").isNotNull).count() == 0)
  }
}
