package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the union of the query modules, and Bench's
  * fixed lists name registry keys: a duplicated key would let one module
  * silently shadow another's query, and a renamed query would silently
  * drop out of the headline subtotal or the heavy-first order. */
class SparkEntrySpec extends AnyFunSuite {

  private def dups(keys: Seq[String]) =
    keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }

  test("no two query modules define the same query or oracle key") {
    val q = dups(SparkEntry.modules.flatMap(_.queries.keys))
    assert(q.isEmpty, s"query keys defined twice: ${q.mkString(", ")}")
    val o = dups(SparkEntry.modules.flatMap(_.oracle.keys))
    assert(o.isEmpty, s"oracle keys defined twice: ${o.mkString(", ")}")
  }

  test("Bench's headline169 names 169 registered queries; heavyFirst only registered ones") {
    val keys = SparkEntry.queries.keySet
    assert(Bench.Headline169.size == 169)
    assert(Bench.Headline169 -- keys == Set.empty[String])
    assert(Bench.heavyFirst.toSet -- keys == Set.empty[String])
  }
}
