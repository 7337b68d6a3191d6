package perfbench

import org.apache.spark.sql.Row

class StockOracleSpec extends SparkSuite {

  private lazy val (input, expected) = {
    val g = StockGen.write(dir.resolve("in"), 11L, 12000, 200)
    (dir.resolve("in").toString, StockOracle.fold(g.files))
  }

  test("the reference fold agrees with the KeyedOps batch forms") {
    StockJobsTable.Batch.foreach { case (job, f) =>
      val rows = Materialize(f(spark, input)).toSeq
      assert(rows.nonEmpty, job)
      assert(StockOracle.check(job, stream = false, rows, expected).isEmpty, job)
    }
  }

  test("the reference fold agrees with the micro-batch forms") {
    StockJobsTable.Stream.zipWithIndex.foreach { case ((job, f), i) =>
      val sink = s"oracle_spec_$i"
      val rows = Materialize(Harness.drain(spark, f(spark, input), sink,
        dir.resolve(s"ckpt-$i"))).toSeq
      spark.catalog.dropTempView(sink)
      assert(StockOracle.check(job, stream = true, rows, expected).isEmpty, job)
    }
  }

  test("a perturbed result is rejected") {
    StockJobsTable.Batch.foreach { case (job, f) =>
      val rows = Materialize(f(spark, input)).toSeq
      val last = rows.last
      val bumped = Row.fromSeq(last.toSeq.init :+ (last.get(last.size - 1) match {
        case d: Double => d + 1
        case l: Long => l + 1
        case x => x
      }))
      assert(StockOracle.check(job, stream = false, rows.init :+ bumped, expected).isDefined, job)
      assert(StockOracle.check(job, stream = false, rows.init, expected).isDefined, job)
    }
  }
}
