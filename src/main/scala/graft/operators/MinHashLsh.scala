package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash-LSH near-duplicate detection — the linear-cost scale path of
  * the dedup family (exact tier: [[SetSimilarity]]): per-document sorted
  * word hashes and their 32 xxhash64 min-signatures → 8 bands of 4 →
  * band-hash bucket join for candidates → signature prefilter → exact
  * sorted-hash-set Jaccard confirm.
  *
  * Cost is ~linear in documents when the ≥threshold pair set is sparse
  * (the real-corpus case): every stage is an equi join or hash aggregate
  * on long keys, and the only pair-shaped work is per LSH bucket.
  * SparseLshSpec demonstrates this on a generated 20k-doc sparse corpus —
  * candidate count equals the planted near-dup count, with zero quadratic
  * leakage. On the driver's pathologically dense synthetic corpus the
  * OUTPUT itself is quadratic (42% of all pairs ≥0.7-similar), which no
  * banding scheme can prune — hence q_dedup_minhash's documented doc_id
  * bound there.
  */
object MinHashLsh {

  /** Per-document features, one row per doc_id (the operator's input
    * contract): `ws`, the sorted xxhash64 values of the distinct
    * whitespace words — the set the exact confirm compares — and `sig`,
    * the 32-minhash signature derived from `ws` in the same row
    * ([[graft.functions.MinHashSig]]). Docs with NULL text have no words, so they carry no
    * features and never pair. */
  private def features(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr("array_sort(transform(array_distinct(split(text, ' ')), w -> xxhash64(w)))").as("ws"))
      .withColumn("sig", expr("minhash32(ws)"))

  /** 32-minhash signature per document over its distinct whitespace words,
    * as (doc_id, sig): a map-only projection, no token rows and no
    * shuffle. Byte-equal to the 32-MIN `xxhash64(word, lit(s))` expression
    * form grouped by doc_id (pinned by HashCompatSpec). */
  def signatures(docs: DataFrame): DataFrame =
    features(docs).select(col("doc_id"), col("sig"))

  /** Banded candidate pairs (da < db), deduped. 8 bands × 4 rows: a pair
    * with signature agreement s collides in some band with probability
    * 1−(1−s⁴)⁸ (≈0.97 at s=0.8, ≈0.03 at s=0.3) — the LSH S-curve that
    * makes the bucket join linear on sparse corpora.
    *
    * distinct runs FIRST on the two long keys (codegen'd hash agg);
    * carrying the 32-element sig arrays through distinct regressed
    * 42s → 280s in round 1 (interpreted array-key aggregation over the
    * 8× band duplicates). */
  def candidateKeys(sigs: DataFrame): DataFrame = {
    val bands = sigs
      .withColumn("band", explode(typedLit((0 until 8).toArray)))
      .select(col("doc_id"), col("band"),
        xxhash64(expr("slice(sig, band * 4 + 1, 4)"), col("band")).as("band_sig"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** Full pipeline over (doc_id: long, text: string), one row per doc_id:
    * near-dup pairs with exact word-set Jaccard ≥ minBp basis points, as
    * (da, db, jacc_bp).
    *
    * One feature frame `(doc_id, ws, sig)` feeds both stages: the banded
    * candidate join reads its `sig`, and each candidate side is attached
    * ONCE with `sig` and `ws` together. The signature-estimate prefilter
    * (agreement ≥ 32·t − 8, i.e. 14/32 at t = 0.7) keeps
    * P(drop a true ≥t pair) ≈ P(Binom(32, t) < k) ~ 1e-3 while rejecting
    * the low-jaccard bulk before the exact merge pass. The attaches are
    * plain equi joins on doc_id: the frame is O(corpus), so an explicit
    * broadcast hint would cap the operator at executor memory; locally AQE
    * may still elect a broadcast from the observed size — the right call
    * at either scale, made from data. The confirm is the same codegen'd
    * sorted-hash merge pass as the exact tier (`sorted_jaccard_bp`,
    * identical up to 64-bit hash collisions), so LSH and exact answers
    * agree wherever both run.
    *
    * The feature frame is a lazy localCheckpoint, not a persist: it is
    * computed once for the band build and both attaches, and its blocks
    * belong to the returned frame's lineage, so the ContextCleaner
    * reclaims them once the caller drops the result — no CacheManager
    * entry outlives the call. */
  def nearDupPairs(docs: DataFrame, minBp: Long): DataFrame = {
    val feats = features(docs).localCheckpoint(eager = false)
    val prefilter = math.max(0L, (32L * minBp) / 10000L - 8L)
    def side(s: String) = feats.select(col("doc_id").as(s"d$s"),
      col("sig").as(s"sig$s"), col("ws").as(s"ws$s"))
    candidateKeys(feats)
      .join(side("a"), "da")
      .join(side("b"), "db")
      .filter(expr(s"size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b)) >= $prefilter"))
      .select(col("da"), col("db"), expr("sorted_jaccard_bp(wsa, wsb)").as("jacc_bp"))
      .filter(col("jacc_bp") >= minBp)
  }
}
