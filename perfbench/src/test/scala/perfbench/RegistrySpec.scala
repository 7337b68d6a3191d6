package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

class RegistrySpec extends AnyFunSuite {

  test("the batch and drain lists cover the registry exactly, each query once") {
    val batch = Registry.list(Registry.Batch)
    val drains = Registry.list(Registry.Drains)
    val all = batch ++ drains
    assert(all.diff(all.distinct).isEmpty, "listed twice")
    val missing = SparkEntry.queries.keySet -- all
    assert(missing.isEmpty, s"registered but in neither list (run perfbench.Classify): $missing")
    val unknown = all.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"listed but not registered: $unknown")
  }

  test("every measured query is registered, in the group the sample names, with an oracle") {
    val groups = Map("batch" -> Registry.list(Registry.Batch).toSet,
      "drain" -> Registry.list(Registry.Drains).toSet)
    val in = getClass.getResourceAsStream(s"/perfbench/${Registry.Sample}")
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+")).toSeq
    finally in.close()
    assert(lines.map(_(0)) == Registry.list(Registry.Sample))
    assert(groups.keySet.forall(g => lines.exists(_(1) == g)), "the sample needs both groups")
    lines.foreach { l =>
      assert(groups(l(1)).contains(l(0)), s"${l(0)} is not a ${l(1)} query")
      assert(SparkEntry.oracleSql.contains(l(0)), l(0))
    }
  }
}
