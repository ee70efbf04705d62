package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ann.GraphSearch

/** The one tuning loop (`GraphSearch.tune`) and efFor's grid pick
  * (`GraphSearch.pickEf`), driven by a fake (iters, ef) → recall probe
  * table — no Spark job (the point memo only resolves the data version
  * of a dataset dir that does not exist). Every case pins the exact probe sequence and the
  * pick; the oracle SFs never reach escalation or saturation (their
  * policies pin iters = 2), so this is where those branches are held.
  */
class TuneSpec extends AnyFunSuite {

  /** A probe over a fixed table that logs every evaluation. */
  private class Table(points: ((Int, Int), Double)*) {
    private val recall = points.toMap
    val calls = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def probe(iters: Int, ef: Int): Double = {
      calls += ((iters, ef))
      recall((iters, ef))
    }
    /** The same probe behind the engine's point memo, under `graph`. */
    def memoized(graph: String)(iters: Int, ef: Int): Double =
      GraphSearch.measure(SparkTest.spark, "tune-spec", graph, iters, ef)(probe(iters, ef))
  }

  test("ef doubles from Ef until a beam meets the target") {
    val t = new Table((2, 64) -> 0.5, (2, 128) -> 0.8, (2, 256) -> 0.92)
    assert(GraphSearch.tune(1024, 0.9, t.probe) == ((2, 256, 0.92)))
    assert(t.calls == Seq((2, 64), (2, 128), (2, 256)))
  }

  test("doubling stops at the cap") {
    val t = new Table((2, 64) -> 0.5, (2, 128) -> 0.7, (2, 200) -> 0.95)
    assert(GraphSearch.tune(200, 0.9, t.probe) == ((2, 200, 0.95)))
    assert(t.calls == Seq((2, 64), (2, 128), (2, 200)))
  }

  test("a corpus smaller than Ef probes once, at the cap") {
    val t = new Table((2, 40) -> 1.0)
    assert(GraphSearch.tune(40, 0.9, t.probe) == ((2, 40, 1.0)))
    assert(t.calls == Seq((2, 40)))
  }

  test("a capped beam that misses escalates iters, restarting ef at Ef") {
    val t = new Table((2, 64) -> 0.5, (2, 128) -> 0.6, (2, 256) -> 0.7,
      (3, 64) -> 0.8, (3, 128) -> 0.93)
    assert(GraphSearch.tune(256, 0.9, t.probe) == ((3, 128, 0.93)))
    assert(t.calls == Seq((2, 64), (2, 128), (2, 256), (3, 64), (3, 128)))
  }

  test("saturation keeps the cheaper build and its measured recall") {
    // iters 3 buys 0.02 at the cap: below the 0.05 a level must buy
    val t = new Table((2, 64) -> 0.5, (2, 128) -> 0.56, (3, 64) -> 0.55, (3, 128) -> 0.58)
    assert(GraphSearch.tune(128, 0.9, t.probe) == ((2, 128, 0.56)))
    assert(t.calls == Seq((2, 64), (2, 128), (3, 64), (3, 128)))
  }

  test("escalation stops at MaxDescentIters") {
    val t = new Table((2, 64) -> 0.3, (3, 64) -> 0.4, (4, 64) -> 0.5, (5, 64) -> 0.6)
    assert(GraphSearch.MaxDescentIters == 5)
    assert(GraphSearch.tune(64, 0.9, t.probe) == ((5, 64, 0.6)))
    assert(t.calls == Seq((2, 64), (3, 64), (4, 64), (5, 64)))
  }

  test("efFor picks the smallest grid beam meeting the target, after measuring the grid") {
    val t = new Table((2, 8) -> 0.5, (2, 16) -> 0.74, (2, 32) -> 0.95, (2, 64) -> 1.0)
    assert(GraphSearch.pickEf(Seq(64, 8, 32, 16), 0.9, fail("cap must stay unread"),
      t.probe) == 32)
    assert(t.calls == Seq((2, 8), (2, 16), (2, 32), (2, 64)))
  }

  test("efFor doubles from the grid edge with no re-probe of the edge") {
    val t = new Table((2, 8) -> 0.2, (2, 16) -> 0.3, (2, 32) -> 0.5, (2, 64) -> 0.6,
      (2, 128) -> 0.8, (2, 256) -> 0.91)
    assert(GraphSearch.pickEf(Seq(8, 16, 32, 64), 0.9, 1024, t.memoized("double")) == 256)
    assert(t.calls == Seq((2, 8), (2, 16), (2, 32), (2, 64), (2, 128), (2, 256)))
  }

  test("efFor lands on the cap when no beam meets the target") {
    val t = new Table((2, 8) -> 0.2, (2, 16) -> 0.3, (2, 32) -> 0.5, (2, 64) -> 0.6,
      (2, 128) -> 0.8, (2, 200) -> 0.85)
    assert(GraphSearch.pickEf(Seq(8, 16, 32, 64), 0.9, 200, t.memoized("cap")) == 200)
    assert(t.calls == Seq((2, 8), (2, 16), (2, 32), (2, 64), (2, 128), (2, 200)))
  }

  test("efFor with the grid edge above the cap probes the cap once") {
    val t = new Table((2, 8) -> 0.2, (2, 16) -> 0.3, (2, 32) -> 0.5, (2, 64) -> 0.6,
      (2, 40) -> 0.7)
    assert(GraphSearch.pickEf(Seq(8, 16, 32, 64), 0.9, 40, t.memoized("small")) == 40)
    assert(t.calls == Seq((2, 8), (2, 16), (2, 32), (2, 64), (2, 40)))
  }
}
