package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators — SURVEY.md §2.9 + the north-star
  * extensions (dedup, similarity search, text analysis).
  *
  * Float discipline (§2.10): vectors are L2-normalized float32
  * (FIXTURES.md), float→double casts are exact, dot products use a
  * *sequential* left-to-right double fold on both engines
  * (`aggregate(zip_with(…))` ↔ `list_sum(list_transform(list_zip(…)))` —
  * validated bit-identical at 4 dp), and similarity thresholds are applied
  * to the *rounded* value on both sides.
  */
object LlmOps extends QueryModule {

  /** Exact-dup detection: per source, docs vs distinct md5(text). At 100 TB
    * the same plan holds with xxhash64 pre-shuffle (cheaper) + md5 confirm;
    * md5 is used here because both engines emit identical lowercase hex. */
  def q_dedup_exact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))
      .orderBy(col("source"))
  }

  /** Word-set Jaccard near-dup pairs (exact, jacc ≥ 8000 bp) over the FULL
    * corpus — the contract's ≤5k-doc brute-force domain (SURVEY §2.9) with
    * no doc_id bound. The round-1 inverted-index formulation self-joined
    * word lists on the word, which is quadratic in docs-per-hot-word
    * (448M candidate pairs at sf0.1) and had to be bounded to 1/5th of the
    * corpus; [[graft.operators.SetSimilarity]] replaces it with
    * dictionary-hashed set collapse + size-ratio-pruned distinct-set pairs
    * + a codegen'd merge-pass intersection, covering all 5k docs faster
    * than the old bounded join. Unbounded scale path: MinHash-LSH
    * ([[graft.queries.LlmExt.q_dedup_minhash]]), for which this query is
    * the correctness twin. */
  def q_sim_jaccard(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("array_sort(transform(array_distinct(split(text, ' ')), w -> xxhash64(w)))").as("ws"))
    graft.operators.SetSimilarity.exactJaccardPairs(sets, minBp = 8000L)
      .orderBy(col("da"), col("db"))
  }

  /** Brute-force cosine top-k for query vectors vec_id < 10 (dot == cosine
    * on L2-normalized inputs). The 10-row query side broadcasts; ranking is
    * on the basis-point-quantized similarity (floor(10000·dot) — exact IEEE
    * on both engines, unlike round(double, 4)) with vec_id tiebreak so both
    * engines rank identical keys. Scale path: [[q_ann_ivf]] (bucketed)
    * replaces the full scan. */
  def q_knn_cosine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.filter(col("vec_id") < 10).select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    // graft.functions.FloatDot: codegen'd, bit-identical to the
    // aggregate(zip_with(...)) sequential fold and the DuckDB oracle
    val dot = expr("float_dot(va, vb)")
    val w = Window.partitionBy(col("a_id")).orderBy(col("sim_bp").desc, col("b_id"))
    broadcast(a).join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), floor(lit(10000.0) * dot).as("sim_bp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("a_id"), col("rn"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> q_dedup_exact _,
    "q_sim_jaccard" -> q_sim_jaccard _,
    "q_knn_cosine" -> q_knn_cosine _,
  )

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_sim_jaccard" ->
      """WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da, db, CAST(floor(10000.0 * i / (sa.n + sb.n - i)) AS BIGINT) AS jacc_bp
        |FROM inter JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
        |WHERE floor(10000.0 * i / (sa.n + sb.n - i)) >= 8000
        |ORDER BY da, db""".stripMargin,
    "q_knn_cosine" ->
      """WITH d AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    CAST(floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
        |SELECT a_id, b_id, sim_bp, rn FROM (
        |  SELECT a_id, b_id, sim_bp,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY sim_bp DESC, b_id) AS INT) AS rn
        |  FROM d)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
  )
}
