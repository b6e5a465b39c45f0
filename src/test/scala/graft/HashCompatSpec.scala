package graft

import graft.functions.{SimHashSig, XxHash64Chain}
import graft.operators.MinHashLsh
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the JVM-side xxhash64 replica (XxHash64Chain) byte-equal to the
  * Spark SQL `xxhash64` expression — the property that lets the row-local
  * MinHash signature (MinHashSig) and the typed SimHashSig Aggregator
  * replace expression pipelines in q_dedup_minhash / q_dedup_simhash
  * without changing any output row. */
class HashCompatSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private lazy val words = Tables.documents(spark, sf)
    .select(explode(array_distinct(split(col("text"), " "))).as("word"))
    .distinct()

  test("hashString == xxhash64(word) for every corpus token") {
    val rows = words.select(col("word"), xxhash64(col("word")).as("h"))
      .as[(String, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (w, h) =>
      assert(XxHash64Chain.hashString(w) == h, s"hashString mismatch for '$w'")
    }
  }

  test("hashStringInt == xxhash64(word, lit(s)) for all 32 minhash seeds") {
    val cols = (0 until 32).map(s => xxhash64(col("word"), lit(s)).as(s"h$s"))
    val rows = words.select(col("word") +: cols: _*).collect()
    rows.foreach { r =>
      val w = r.getString(0)
      (0 until 32).foreach { s =>
        assert(XxHash64Chain.hashStringInt(w, s) == r.getLong(s + 1),
          s"hashStringInt mismatch for '$w' seed $s")
      }
    }
  }

  private lazy val tokens = Tables.documents(spark, sf)
    .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))

  /** The 32-MIN `xxhash64(word, lit(s))` expression form, per doc. */
  private lazy val minExprSigs: Map[Long, Seq[Long]] = {
    val minCols = (0 until 32).map(s => min(xxhash64(col("word"), lit(s))).as(s"m$s"))
    tokens.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until 32).map(s => col(s"m$s")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
  }

  test("MinHashSig aggregator == 32-MIN xxhash64 expression signatures") {
    // MinHashSig (`minhash32`) over each doc's aggregated word hashes, every
    // token twice, in scan order: the signature is a min over the multiset,
    // so order and repetition must not matter
    val viaAgg = tokens.select(col("doc_id"), xxhash64(col("word")).as("h"))
      .groupBy(col("doc_id"))
      .agg(expr("minhash32(concat(collect_list(h), collect_list(h)))").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaExpr = minExprSigs
    assert(viaAgg.nonEmpty && viaAgg == viaExpr)
  }

  test("MinHashLsh.signatures (row-local, from the confirm's word hashes) == 32-MIN expression form") {
    val rowLocal = MinHashLsh.signatures(Tables.documents(spark, sf))
      .as[(Long, Seq[Long])].collect().toMap
    assert(rowLocal.nonEmpty && rowLocal == minExprSigs)
  }

  test("SimHashSig aggregator == 64x-explode vote formulation signatures") {
    val viaAgg = tokens.groupBy(col("doc_id"))
      .agg(SimHashSig.simhash64(col("word")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val viaExpr = tokens
      .withColumn("h", xxhash64(col("word")))
      .withColumn("j", explode(typedLit((0 until 64).toArray)))
      .withColumn("vote", when(expr("(h >> j) & 1") === 1, 1).otherwise(-1))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("vote")).as("s"))
      .withColumn("bit", when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg.nonEmpty && viaAgg == viaExpr)
  }
}
