package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-10 additions (SURVEY §2.31): model-evaluation calibration and
  * code-switch detection — two LLM-pipeline readouts the existing eval
  * (confusion matrix) and language tiers (lang-id, language mix) did not
  * cover, each DuckDB-oracle-checked with all-integer arithmetic. */
object Analytics14 extends QueryModule {

  /** CALIBRATION TABLE (reliability diagram) — the evaluation readout
    * beside q_eval_confusion: bucket a model's predicted probability
    * into deciles and compare, per bucket, the mean prediction against
    * the observed positive rate. The "model" here is a deterministic
    * hash score in basis points (Knuth multiplicative hash of event_id —
    * any externally-scored column plugs into the same plan); the label
    * is user parity. ONE two-phase aggregate over (bucket): counts,
    * positives, Σpred — then exact integer-div bp readouts; at 100 TB
    * the calibration table is 10 rows from one map-combinable pass,
    * never a sort or a window. */
  def q_eval_calibration(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        // pmod, not % — at large event_id the Long multiply wraps
        // negative and plain % would emit negative buckets silently
        // (the q_net_portscan precedent); the oracle mirrors with
        // ((x % m) + m) % m since DuckDB raises on the overflow instead
        pmod(col("event_id") * 2654435761L, lit(10000L)).as("pred_bp"),
        (col("user_id") % 2 === 0).cast("long").as("pos"))
      .groupBy((col("pred_bp") / 1000L).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("pred_bp")).as("pred_sum"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("pred_sum div n").as("mean_pred_bp"),
        expr("(10000 * n_pos) div n").as("pos_rate_bp"))
      .orderBy(col("bucket"))

  /** CODE-SWITCH DETECTION — documents mixing stopwords from two or more
    * language families (the contamination mode corpus language filters
    * miss: a document that passes an `en` threshold can still carry
    * embedded `de` boilerplate). Per doc, ONE pass counts which of the
    * four stopword families occur (size(filter(...)) > 0 per family —
    * four codegen'd array scans, no explode, no shuffle until the final
    * per-language rollup); mixed = families ≥ 2. At 100 TB the per-doc
    * work is map-side and the output is |languages| rows. */
  def q_text_langmix(spark: SparkSession, dir: String): DataFrame = {
    def fam(words: String): org.apache.spark.sql.Column =
      (expr(s"size(filter(split(text, ' '), w -> w IN ($words)))") > 0).cast("long")
    Tables.documents(spark, dir)
      .select(col("lang"),
        (fam("'the','and','of','a','to'") + fam("'der','die','und','das'") +
          fam("'el','la','los','y'") + fam("'le','les','et','un'")).as("fams"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("fams") >= 2).cast("long")).as("n_mixed"),
        sum(col("fams")).as("fam_hits"))
      .select(col("lang"), col("n_docs"), col("n_mixed"),
        expr("(10000 * n_mixed) div n_docs").as("mixed_bp"), col("fam_hits"))
      .orderBy(col("lang"))
  }

  /** PER-SOURCE DUPLICATE-RATE AUDIT — the corpus-health readout that
    * drives source weighting decisions (a source whose crawl is 40%
    * exact dupes gets downweighted before any expensive near-dup pass):
    * per source, docs vs distinct texts (counted as distinct xxhash64 —
    * the 64-bit surrogate the dedup tier already justifies), dup rate in
    * integer-div bp, and the duplicated VOLUME in characters (chars
    * minus one representative per distinct text — what dedup would
    * reclaim). Two map-combinable aggregations (per (source, hash), then
    * per source); the hash frame is distinct-text-sized, never a
    * self-join. */
  def q_audit_duprate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), xxhash64(col("text")).as("h"), col("n_chars"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("copies"), sum(col("n_chars")).as("chars"),
        min(col("n_chars")).as("keep_chars"))
      .groupBy(col("source"))
      .agg(sum(col("copies")).as("n_docs"), count(lit(1)).as("n_distinct"),
        (sum(col("chars")) - sum(col("keep_chars"))).as("dup_chars"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        expr("(10000 * (n_docs - n_distinct)) div n_docs").as("dup_bp"),
        col("dup_chars"))
      .orderBy(col("source"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eval_calibration" -> q_eval_calibration _,
    "q_text_langmix" -> q_text_langmix _,
    "q_audit_duprate" -> q_audit_duprate _,
  )

  val oracle: Map[String, String] = Map(
    // the oracle groups by the TEXT itself — the engine's xxhash64 is a
    // 64-bit surrogate (collision P ≈ corpus²/2⁶⁴, the dedup tier's
    // standing argument), so the distinct counts agree
    "q_audit_duprate" ->
      """WITH per AS (
        |  SELECT source, text, count(*) AS copies,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    CAST(min(n_chars) AS BIGINT) AS keep_chars
        |  FROM documents GROUP BY source, text)
        |SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs,
        |  count(*) AS n_distinct,
        |  (10000 * (CAST(sum(copies) AS BIGINT) - count(*))) // CAST(sum(copies) AS BIGINT) AS dup_bp,
        |  CAST(sum(chars) - sum(keep_chars) AS BIGINT) AS dup_chars
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    "q_eval_calibration" ->
      """WITH p AS (
        |  SELECT (((event_id * 2654435761) % 10000) + 10000) % 10000 AS pred_bp,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS pos
        |  FROM events)
        |SELECT pred_bp // 1000 AS bucket, count(*) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(pred_bp) AS BIGINT) // count(*) AS mean_pred_bp,
        |  (10000 * CAST(sum(pos) AS BIGINT)) // count(*) AS pos_rate_bp
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_langmix" ->
      """WITH d AS (
        |  SELECT lang,
        |    (CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','a','to'))) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ('der','die','und','das'))) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ('el','la','los','y'))) > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ('le','les','et','un'))) > 0 THEN 1 ELSE 0 END) AS fams
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN fams >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
        |  (10000 * CAST(sum(CASE WHEN fams >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS mixed_bp,
        |  CAST(sum(fams) AS BIGINT) AS fam_hits
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
