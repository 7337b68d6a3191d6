package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Trace._

class LayersSpec extends AnyFunSuite {

  private val op = OpResult("p0-0-q", "q", 1000, 1400, 2000, None)

  test("layer times partition the operation's wall time") {
    val t = Layers.OpTrace(op, Seq(JobRec(1, op.id, 1500, 1800, Seq(1))), Nil, Nil,
      Seq(PlanRec(1000, 50, 30, 20)), Nil, Nil, Nil)
    val l = Layers.layerTimes(t).toMap
    assert(l("exec") == 300 && l("catalyst") == 100 && l("operators") == 600)
    assert(!l.contains("unattributed"))
  }

  test("time counted twice beyond 10% of the wall is named unattributed") {
    val t = Layers.OpTrace(op, Seq(JobRec(1, op.id, 1000, 2000, Seq(1))), Nil, Nil,
      Seq(PlanRec(1000, 300, 0, 0)), Nil, Nil, Nil)
    assert(Layers.layerTimes(t).toMap.get("unattributed").contains(-300L))
  }

  test("covered counts overlapping intervals once") {
    assert(covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(covered(Nil) == 0)
  }
}
