package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (SURVEY §2.9 battery, round-8
  * continuation): the three order/composition controls every large-scale
  * corpus build runs between cleaning and serialization — a seeded
  * global shuffle, domain-mixture subsampling, and sequence-length
  * bucketing. All three ride the engine's deterministic md5 recipe
  * (cf. LlmExt.withSplit) so the oracle pins exact row-level decisions,
  * never a pseudo-random approximation. */
object Pipeline extends QueryModule {

  /** Seeded GLOBAL SHUFFLE of the corpus — the training-order
    * randomization pass (every epoch reshuffle is this op with a new
    * seed). The permutation key is the integer prefix of
    * md5(seed ‖ doc_id): deterministic, uniform, and reproducible
    * across engines and runs — "random" order that an oracle can check
    * row for row. The plan is a range-partitioned distributed sort
    * (Spark samples key quantiles, assigns contiguous key ranges to
    * partitions): no single-partition stage at any scale, and the
    * output files are the shuffled shards in order. doc_id tiebreak
    * keeps the total order unique (16-bit prefixes collide). */
  def q_shuffle_global(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("skey",
        expr("CAST(conv(substring(md5(concat('epoch7:', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT)"))
      .select(col("skey"), col("doc_id"), col("n_chars"))
      .orderBy(col("skey"), col("doc_id"))
  }

  /** Domain-MIXTURE subsampling — the corpus-composition control (the
    * Pile/ROOTS-style recipe: each domain d keeps an acceptance rate
    * w_d of its documents). The rates arrive as a broadcast dimension
    * (domain → rate in 1/65536ths, the same grain as the split
    * bucketizer), a document is kept iff its md5 bucket < rate — the
    * SAME document is kept under every run, engine, and partitioning,
    * so downstream incremental rebuilds see a stable corpus. One scan,
    * one broadcast join, one map-combinable aggregate; the audit output
    * (kept/total per domain, bp realized vs target) is the mixture
    * report a pipeline logs per build. */
  def q_mix_domains(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = Seq( // acceptance in 1/65536ths: en all, fr 60%, de 50%, es 40%, zh 25%
      ("en", 65536L), ("fr", 39322L), ("de", 32768L), ("es", 26214L), ("zh", 16384L)
    ).toDF("lang_r", "rate")
    Tables.documents(spark, dir)
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT)"))
      .join(broadcast(rates), col("lang") === col("lang_r"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("bucket") < col("rate"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("bucket") < col("rate"), col("n_chars")).otherwise(0L))
          .as("kept_chars"),
        max(col("rate")).as("rate"))
      .select(col("lang"), col("total"), col("kept"), col("kept_chars"),
        floor(lit(10000.0) * col("kept") / col("total")).cast("long")
          .as("realized_bp"),
        floor(lit(10000.0) * col("rate") / lit(65536.0)).cast("long")
          .as("target_bp"))
      .orderBy(col("lang"))
  }

  /** Sequence-LENGTH BUCKETING — the batch-shaping measure: documents
    * grouped into power-of-two length buckets (the padded batch
    * geometry), with the padding waste each bucket pays
    * (Σ (bucket_top − n_chars)) and its utilization in basis points.
    * The bucket key is pure integer arithmetic on n_chars (no log:
    * shifting a power-of-two probe would re-introduce doubles), the
    * aggregate is one map-combinable pass, and the report is what
    * decides bucket boundaries before a packing run (q_seq_pack
    * consumes such boundaries). */
  def q_len_buckets(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("bucket_top",
        when(col("n_chars") <= 64, 64L)
          .when(col("n_chars") <= 128, 128L)
          .when(col("n_chars") <= 256, 256L)
          .when(col("n_chars") <= 512, 512L)
          .otherwise(1024L))
      .groupBy(col("bucket_top"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("bucket_top") - col("n_chars")).as("padding_waste"))
      .select(col("bucket_top"), col("n_docs"), col("sum_chars"),
        col("padding_waste"),
        floor(lit(10000.0) * col("sum_chars") /
          (col("bucket_top") * col("n_docs"))).cast("long").as("util_bp"))
      .orderBy(col("bucket_top"))
  }

  /** TEMPERATURE-scaled mixture sampling — [[q_mix_domains]] with the
    * acceptance rates DERIVED from the corpus instead of handed in: each
    * language keeps rate (w_d / w_max)^(1/2), where w_d is the language's
    * character mass — the α=0.5 temperature flattening every multilingual
    * corpus build runs so low-resource languages are upsampled relative
    * to their raw share (rate 1.0 for the heaviest language, √-scaled
    * below it). Two map-combinable passes: a column-pruned (lang,
    * n_chars) scan builds the per-language weights (|langs| rows →
    * broadcast), then the keep pass applies the same deterministic
    * md5-bucket rule as every sampler in this engine — the kept set is
    * stable across runs, engines, and partitionings. The √ stays exact
    * across engines: both compute the identical IEEE double expression
    * floor(65536·sqrt(w/w_max)), so the cut is the same integer on both
    * sides of the oracle. At 100 TB the weights frame is KBs and the
    * document scan never shuffles — only the |langs|-row audit does. */
  def q_mix_temperature(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("lang"), col("n_chars"),
      expr("CAST(conv(substring(md5(concat('temp:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT)")
        .as("bucket"))
    // persist: w feeds both wmax and the rates frame — without it the
    // documents scan + weights agg runs twice and the "two passes" claim
    // below would be false
    val w = d.groupBy(col("lang")).agg(sum(col("n_chars")).as("w")).persist()
    val wmax = w.agg(max(col("w")).as("wmax"))
    val rates = w.crossJoin(broadcast(wmax)) // |langs| × 1 row: never data-sized
      .select(col("lang").as("lang_r"),
        floor(lit(65536.0) * sqrt(col("w").cast("double") / col("wmax").cast("double")))
          .cast("long").as("cut"))
    d.join(broadcast(rates), col("lang") === col("lang_r"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("bucket") < col("cut"), 1L).otherwise(0L)).as("kept"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("bucket") < col("cut"), col("n_chars")).otherwise(0L))
          .as("kept_chars"),
        max(col("cut")).as("cut"))
      .select(col("lang"), col("total"), col("kept"), col("total_chars"),
        col("kept_chars"),
        floor(lit(10000.0) * col("cut") / lit(65536.0)).cast("long").as("target_bp"),
        floor(lit(10000.0) * col("kept") / col("total")).cast("long").as("realized_bp"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shuffle_global" -> q_shuffle_global _,
    "q_mix_domains" -> q_mix_domains _,
    "q_mix_temperature" -> q_mix_temperature _,
    "q_len_buckets" -> q_len_buckets _,
  )

  val oracle: Map[String, String] = Map(
    "q_shuffle_global" ->
      """SELECT CAST(concat('0x', substr(md5(concat('epoch7:', CAST(doc_id AS VARCHAR))), 1, 6)) AS BIGINT) AS skey,
        |  doc_id, n_chars
        |FROM documents
        |ORDER BY skey, doc_id""".stripMargin,
    "q_mix_domains" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    CAST(concat('0x', substr(md5(concat('mix:', CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) AS bucket,
        |    CASE lang WHEN 'en' THEN 65536 WHEN 'fr' THEN 39322
        |      WHEN 'de' THEN 32768 WHEN 'es' THEN 26214
        |      WHEN 'zh' THEN 16384 END AS rate
        |  FROM documents),
        |a AS (
        |  SELECT lang, count(*) AS total,
        |    CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |    CAST(sum(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        |    CAST(max(rate) AS BIGINT) AS rate
        |  FROM d GROUP BY lang)
        |SELECT lang, total, kept, kept_chars,
        |  CAST(floor(10000.0 * kept / total) AS BIGINT) AS realized_bp,
        |  CAST(floor(10000.0 * rate / 65536.0) AS BIGINT) AS target_bp
        |FROM a ORDER BY lang""".stripMargin,
    "q_mix_temperature" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    CAST(concat('0x', substr(md5(concat('temp:', CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) AS bucket
        |  FROM documents),
        |w AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS w FROM d GROUP BY lang),
        |m AS (SELECT max(w) AS wmax FROM w),
        |r AS (SELECT lang, CAST(floor(65536.0 * sqrt(CAST(w AS DOUBLE) / CAST(wmax AS DOUBLE))) AS BIGINT) AS cut
        |  FROM w, m),
        |a AS (
        |  SELECT d.lang AS lang, count(*) AS total,
        |    CAST(sum(CASE WHEN bucket < cut THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(CASE WHEN bucket < cut THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        |    CAST(max(cut) AS BIGINT) AS cut
        |  FROM d JOIN r ON d.lang = r.lang GROUP BY d.lang)
        |SELECT lang, total, kept, total_chars, kept_chars,
        |  CAST(floor(10000.0 * cut / 65536.0) AS BIGINT) AS target_bp,
        |  CAST(floor(10000.0 * kept / total) AS BIGINT) AS realized_bp
        |FROM a ORDER BY lang""".stripMargin,
    "q_len_buckets" ->
      """WITH b AS (
        |  SELECT n_chars,
        |    CASE WHEN n_chars <= 64 THEN 64 WHEN n_chars <= 128 THEN 128
        |      WHEN n_chars <= 256 THEN 256 WHEN n_chars <= 512 THEN 512
        |      ELSE 1024 END AS bucket_top
        |  FROM documents),
        |a AS (
        |  SELECT bucket_top, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(sum(bucket_top - n_chars) AS BIGINT) AS padding_waste
        |  FROM b GROUP BY bucket_top)
        |SELECT CAST(bucket_top AS BIGINT) AS bucket_top, n_docs, sum_chars,
        |  padding_waste,
        |  CAST(floor(10000.0 * sum_chars / (bucket_top * n_docs)) AS BIGINT) AS util_bp
        |FROM a ORDER BY bucket_top""".stripMargin,
  )
}
