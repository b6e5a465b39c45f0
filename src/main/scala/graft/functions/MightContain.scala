package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL surface for Spark's own runtime-filter bloom join halves.
  *
  * Spark ships [[BloomFilterAggregate]] (build side) and
  * [[BloomFilterMightContain]] (probe side) for its `InjectRuntimeFilter`
  * optimization, but keeps BOTH in the internal registry — reachable only
  * from the optimizer's own rewrites, not from user SQL. Registering them
  * makes the EXPLICIT bloom-prefiltered join expressible (q_join_bloom):
  * build a bloom over the small side's join keys with
  * `bloom_filter_agg(xxhash64(k), items, bits)` in an uncorrelated scalar
  * subquery, probe it with `might_contain(bloom, xxhash64(key))` on the
  * big side, and confirm exactly with the real semi join. The probe is a
  * map-side conjunct, so at 100 TB the big side sheds non-matching rows
  * BEFORE the shuffle — the hand-rolled version of the optimization Spark
  * only applies when its own cost heuristics fire.
  *
  * No new expression code: both halves are Spark's own codegen'd
  * implementations; this object is registration only, so the serialized
  * bloom format stays compatible with Spark's own runtime filters by
  * construction.
  */
object MightContain {
  val info = new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain")
  val aggInfo = new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg")

  private[functions] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      "might_contain expects exactly 2 arguments: (bloom binary, xxhash64 value)")
    BloomFilterMightContain(children.head, children(1))
  }

  private[functions] def aggBuilder(children: Seq[Expression]): Expression =
    children match {
      case Seq(c)       => new BloomFilterAggregate(c)
      case Seq(c, n)    => new BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
      case _ => throw new IllegalArgumentException(
        "bloom_filter_agg expects (xxhash64 value[, estimatedNumItems[, numBits]])")
    }
}
