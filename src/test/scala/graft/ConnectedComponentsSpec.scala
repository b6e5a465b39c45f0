package graft

import graft.operators.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite

/** Min-label propagation on known graphs: a chain (tests multi-hop
  * flooding beyond one iteration), a triangle, singletons, ids next to
  * Long.MaxValue, and the round budget on both sides of its edge. */
class ConnectedComponentsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def run(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] =
    runOn(0L until n, edges)

  private def runOn(ids: Seq[Long], edges: Seq[(Long, Long)],
      maxIter: Int = 64): Map[Long, Long] = {
    val v = ids.toDF("id")
    val e = edges.toDF("s", "d")
    ConnectedComponents.minLabel(v, "id", e, "s", "d", maxIter)
      .as[(Long, Long)].collect().toMap
  }

  private val chain = Seq((1L, 0L), (1L, 2L), (3L, 2L), (3L, 4L))

  test("chain components flood the min label across hops") {
    // 0-1-2-3-4 chain plus 5-6, 7 isolated
    val got = run(8, chain :+ ((6L, 5L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("triangle plus bridge is one component") {
    val got = run(5, Seq((2L, 1L), (3L, 2L), (1L, 3L), (3L, 4L)))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("no edges: every vertex is its own component") {
    val got = run(4, Seq.empty)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("ids next to Long.MaxValue: convergence never does label arithmetic") {
    val m = Long.MaxValue - 10L
    val got = runOn(Seq(m, m + 1L, m + 2L, m + 5L), Seq((m + 1L, m), (m + 2L, m + 1L)))
    assert(got == Map(m -> m, (m + 1L) -> m, (m + 2L) -> m, (m + 5L) -> (m + 5L)))
  }

  test("round budget: a clique stops on its first round; a chain needs its length") {
    // a triangle is at its fixpoint after initialisation, so round 1
    // changes nothing and ends the loop
    assert(runOn(0L until 3L, Seq((1L, 0L), (2L, 1L), (0L, 2L)), maxIter = 2) ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    // 0-1-2-3-4: initialisation reaches one hop, rounds 1-3 the other three,
    // round 4 confirms; unconverged labels are refused, never returned
    intercept[IllegalStateException](runOn(0L until 5L, chain, maxIter = 4))
    assert(runOn(0L until 5L, chain, maxIter = 5) == (0L until 5L).map(_ -> 0L).toMap)
  }
}
