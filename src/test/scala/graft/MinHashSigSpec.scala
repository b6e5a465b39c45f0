package graft

import graft.functions.MinHashSig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The row-local MinHash signature `minhash32` over a document's word
  * hashes: no token rows, no shuffle. */
class MinHashSigSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def sigs(parts: Int): Map[Long, Seq[Long]] =
    Tables.documents(spark, sf)
      .repartition(parts)
      .select(col("doc_id"),
        expr("minhash32(transform(array_distinct(split(text, ' ')), w -> xxhash64(w)))").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap

  test("signature is deterministic and partitioning-invariant (merge law)") {
    val a = sigs(2)
    val b = sigs(9)
    assert(a.nonEmpty && a == b)
    assert(a.values.forall(_.length == 32))
  }

  test("estimate: identical docs = 1.0, estimates correlate with overlap") {
    val m = sigs(4)
    val any = m.keys.head
    assert(MinHashSig.estimate(m(any).toArray, m(any).toArray) == 1.0)
    // known near-dup pair in this corpus: docs 1 and 5 (word-jaccard ~0.83)
    if (m.contains(1L) && m.contains(5L))
      assert(MinHashSig.estimate(m(1L).toArray, m(5L).toArray) > 0.5)
  }
}
