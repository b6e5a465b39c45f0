package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-11 additions (SURVEY §2.32 query tier): the three
  * corpus-pipeline readouts the existing tiers did not cover —
  * INCREMENTAL dedup (per crawl snapshot, against the standing index),
  * budget-constrained source allocation (exact water-filling in one
  * window pass), and cross-source vocabulary overlap (the
  * source-redundancy readout behind mixture decisions). All-integer
  * arithmetic; each DuckDB-oracle-checked. */
object Analytics15 extends QueryModule {

  /** INCREMENTAL EXACT DEDUP — the per-snapshot shape production
    * pipelines actually run (a full-corpus re-dedup per crawl is the
    * thing nobody can afford at 100 TB): the EXISTING corpus is reduced
    * once to its distinct-text-hash INDEX (the only state the pass
    * needs — hashes, not text, so the index is O(docs·8B)); the
    * INCOMING batch left-joins it and reports, per source, how much of
    * the batch is novel vs already-known, and the novel character
    * volume actually worth ingesting. One map-side hash projection per
    * side, one shuffle join on the 64-bit key, one rollup — AQE
    * broadcast-flips the index side when a day's index fits. The batch
    * split is deterministic block striping (`(doc_id div 20) % 4 == 3`
    * plays "incoming" — blocks, not residues, so the split does not
    * correlate with the generator's source assignment); within-batch
    * duplicates are NOT collapsed here — that is the standing
    * q_dedup_exact pass, run batch-locally. Oracle groups by the text
    * itself (the xxhash64 surrogate argument of q_audit_duprate). */
  def q_dedup_incremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.tables.TxTable
    val docs = Tables.documents(spark, dir)
    val batch = expr("(doc_id div 20) % 4")
    // the STANDING index is a persisted TxTable built batch-by-batch —
    // one append (day 0) then one MERGE of each later day's distinct
    // hashes (round-11 verdict #8: the production state shape, updated
    // per crawl, not an index recomputed per run). publishOnce: the
    // build is ingest history, the gate measures the PROBE.
    val fp = Tables.sourceFingerprint(dir, "documents.parquet")
    val root = Tables.publishOnce(s"graft_dedup_idx_$fp") { tmp =>
      val t = new TxTable(tmp, Seq("h"))
      for (b <- 0 to 2) {
        val hs = docs.filter(batch === b)
          .select(xxhash64(col("text")).as("h")).distinct()
          .withColumn("known", lit(1L))
        if (b == 0) t.append(spark, hs) else { t.merge(spark, hs, "h"); () }
      }
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS")); ()
    }
    val index = TxTable.open(root).read(spark).select(col("h"), col("known"))
    docs.filter(batch === 3)
      .select(col("source"), xxhash64(col("text")).as("h"), col("n_chars"))
      .join(index, Seq("h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_novel"),
        sum(when(col("known").isNull, col("n_chars")).otherwise(0L)).as("novel_chars"))
      .select(col("source"), col("n_in"), col("n_novel"), col("novel_chars"),
        expr("(10000 * (n_in - n_novel)) div n_in").as("dup_bp"))
      .orderBy(col("source"))
  }

  /** TOKEN-BUDGET ALLOCATION (water-filling) — the mixing op that CAPS
    * oversampled sources under a global token budget: allocate
    * `alloc_i = min(avail_i, t)` with the waterline `t` chosen so the
    * allocations exhaust the budget (Σ min(avail_i, t) ≤ B, maximal
    * integer t). Exact in ONE pass over the per-source aggregate: sort
    * sources by availability ascending, take the largest k where the k
    * smallest fit fully even at their own level
    * (prefix_k + (n−k)·avail_k ≤ B), then t = (B − prefix_k) div (n−k) —
    * sources at or below the line keep everything, the rest are capped
    * at t. At 100 TB the corpus-sized work is the ONE map-combinable
    * aggregate; the allocation math runs on a |sources|-row frame with
    * broadcast one-row scalars. Budget B = 9/10 of total available
    * tokens (chars div 4 as the token proxy) — tight enough to cap the
    * large sources, loose enough that small ones go under the line, so
    * BOTH branches are exercised; all integer div. */
  def q_mix_budget(spark: SparkSession, dir: String): DataFrame = {
    val avail = Tables.documents(spark, dir)
      .select(col("source"), expr("n_chars div 4").as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("avail"))
    val w = Window.orderBy(col("avail"), col("source"))
    val ranked = avail.select(col("source"), col("avail"),
      sum(col("avail")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("prefix"),
      row_number().over(w).cast("long").as("k"))
    // |sources| rows: the global scalars are a legitimate one-row
    // broadcast cross join, not a corpus-sized bottleneck
    val scalars = ranked.agg(max(col("k")).as("n"), sum(col("avail")).as("total"))
      .select(col("n"), expr("(9 * total) div 10").as("b"))
    val kstar = ranked.crossJoin(broadcast(scalars))
      .select(col("k"), col("prefix"), col("n"), col("b"),
        when(col("prefix") + (col("n") - col("k")) * col("avail") <= col("b"),
          col("k")).otherwise(lit(0L)).as("fit"))
      .agg(max(col("fit")).as("kstar"), max(col("n")).as("n"), max(col("b")).as("b"))
    // prefix at the waterline index (0 when nothing fits fully): kstar=n
    // is impossible with B < total, so the div is safe
    val water = ranked.crossJoin(broadcast(kstar))
      .filter(col("k") === greatest(col("kstar"), lit(1L)))
      .select(col("n"), col("b"), col("kstar"),
        when(col("kstar") === 0, lit(0L)).otherwise(col("prefix")).as("pstar"))
      .select(col("n"), col("b"), col("kstar"),
        expr("(b - pstar) div (n - kstar)").as("t"))
    ranked.crossJoin(broadcast(water))
      .select(col("source"), col("avail"),
        when(col("k") <= col("kstar"), col("avail"))
          .otherwise(least(col("avail"), col("t"))).as("alloc"), col("b"))
      .select(col("source"), col("avail"), col("alloc"),
        expr("(10000 * alloc) div b").as("share_bp"))
      .orderBy(col("source"))
  }

  /** CROSS-SOURCE VOCABULARY OVERLAP — the source-redundancy matrix
    * behind mixture decisions (two crawls with near-identical bigram
    * vocabularies are one source for weighting purposes): per source
    * the DISTINCT word-bigram set, then exact pairwise Jaccard in basis
    * points over all source pairs. The corpus-sized work is ONE
    * distinct projection to (source, bigram) — map-side generated, far
    * smaller than the corpus; the pair counts come from a self-join ON
    * THE BIGRAM (shuffle by bigram, never a corpus replication) whose
    * output is bounded by |sources|² per bigram. Only pairs sharing at
    * least one bigram appear (Jaccard 0 pairs carry no information).
    * Word bigrams, not unigrams: unigram vocabulary saturates on any
    * real corpus (and on this one), bigrams keep resolution. */
  def q_src_overlap(spark: SparkSession, dir: String): DataFrame = {
    val sw = Tables.documents(spark, dir)
      .select(col("source"), split(col("text"), " ").as("ws"))
      // single-word docs: sequence(0, -1) is the DESCENDING [0, -1] —
      // null "bigrams" that the oracle's range(1, len) never emits;
      // a one-word document contributes no bigram on either side
      .filter(size(col("ws")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i + 1]))"))
        .as("w"))
      .distinct()
    val sizes = sw.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sw.as("a").join(sw.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("n_a"))), Seq("sa"))
      .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("n_b"))), Seq("sb"))
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("n_common"),
        expr("(10000 * n_common) div (n_a + n_b - n_common)").as("jaccard_bp"))
      .orderBy(col("sa"), col("sb"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_incremental" -> q_dedup_incremental _,
    "q_mix_budget" -> q_mix_budget _,
    "q_src_overlap" -> q_src_overlap _,
  )

  val oracle: Map[String, String] = Map(
    "q_dedup_incremental" ->
      """WITH existing AS (
        |  SELECT DISTINCT text FROM documents WHERE (doc_id // 20) % 4 <> 3),
        |inc AS (
        |  SELECT source, n_chars,
        |    text IN (SELECT text FROM existing) AS known
        |  FROM documents WHERE (doc_id // 20) % 4 = 3)
        |SELECT source, count(*) AS n_in,
        |  CAST(sum(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN NOT known THEN n_chars ELSE 0 END) AS BIGINT) AS novel_chars,
        |  (10000 * (count(*) - CAST(sum(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT))) // count(*) AS dup_bp
        |FROM inc GROUP BY source ORDER BY source""".stripMargin,
    "q_mix_budget" ->
      """WITH s AS (
        |  SELECT source, CAST(sum(n_chars // 4) AS BIGINT) AS avail
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT source, avail,
        |    CAST(sum(avail) OVER (ORDER BY avail, source
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
        |    CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT) AS k
        |  FROM s),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             (9 * CAST(sum(avail) AS BIGINT)) // 10 AS b FROM s),
        |ks AS (
        |  SELECT coalesce(max(CASE WHEN prefix + (n - k) * avail <= b
        |                       THEN k ELSE NULL END), 0) AS kstar
        |  FROM r, g),
        |w AS (
        |  SELECT g.n, g.b, ks.kstar,
        |    coalesce((SELECT prefix FROM r WHERE r.k = ks.kstar), 0) AS pstar
        |  FROM g, ks),
        |t AS (SELECT n, b, kstar, (b - pstar) // (n - kstar) AS t FROM w)
        |SELECT r.source, r.avail,
        |  CASE WHEN r.k <= t.kstar THEN r.avail
        |       ELSE least(r.avail, t.t) END AS alloc,
        |  (10000 * (CASE WHEN r.k <= t.kstar THEN r.avail
        |            ELSE least(r.avail, t.t) END)) // t.b AS share_bp
        |FROM r, t ORDER BY r.source""".stripMargin,
    "q_src_overlap" ->
      """WITH sw AS (
        |  SELECT DISTINCT source, ws[i] || ' ' || ws[i + 1] AS w
        |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents),
        |       unnest(range(1, len(ws))) AS t(i)),
        |sizes AS (SELECT source, count(*) AS n FROM sw GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
        |  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, x.n AS n_a, y.n AS n_b, n_common,
        |  (10000 * n_common) // (x.n + y.n - n_common) AS jaccard_bp
        |FROM pairs JOIN sizes x ON x.source = sa JOIN sizes y ON y.source = sb
        |ORDER BY sa, sb""".stripMargin,
  )
}
