package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A local session and a scratch directory shared by one suite. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val dir: Path = Files.createTempDirectory("perfbench-test-")
  lazy val spark: SparkSession = Main.session(2, dir)

  override def afterAll(): Unit = {
    spark.stop()
    Harness.deleteTree(dir)
  }
}
