package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-serving and distribution-drift operators — SURVEY.md §2.19.
  *
  * [[q_rag_hybrid]] is the RAG serving join the LLM tier was missing: the
  * sparse (BM25) and dense (embedding cosine) retrieval paths fused by
  * reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009 — RRF
  * with the standard k=60), the de-facto hybrid-search ranker in Lucene /
  * Vespa / OpenSearch deployments. [[q_drift_ks]] is the training-data
  * monitoring primitive: an EXACT two-sample Kolmogorov–Smirnov distance
  * between two event populations, computed distributively over the
  * value-domain frame (never a global data window).
  */
object Retrieval extends QueryModule {

  /** Hybrid retrieval with reciprocal-rank fusion.
    *
    * Query = the literal term set {join, vector, scan} on the sparse side
    * and embedding vec_id 0 on the dense side (the corpus convention:
    * embeddings[i] embeds documents[i], FIXTURES.md). Each side produces
    * its own top-32 candidate list — sparse by summed per-term BM25 basis
    * points (identical constants and ln-free idf as q_text_bm25, §2.14),
    * dense by exact cosine in basis points (unit-norm corpus, so the
    * codegen'd float_dot IS the cosine) — and fusion scores
    * rrf = Σ_sides floor(10000 / (60 + rank)).
    *
    * Scale shape: the sparse side never builds the full tf matrix — query
    * terms are filtered BEFORE the (doc,word) aggregation, so the shuffle
    * carries |terms|·|matching docs| rows, not the corpus vocabulary;
    * doc length comes from a linear `size(split(...))` projection. Both
    * top-32s plan TakeOrderedAndProject (per-partition top-k, driver
    * merges k·P candidates — no global sort, no data-sized window); ranks
    * and the fusion aggregate run on the ≤64-row candidate union, where a
    * window is a constant-size frame. At 100 TB both candidate generators
    * are one scan each and everything downstream is O(k). */
  def q_rag_hybrid(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = Seq("join", "vector", "scan")
    // doc length (token count) is a projection, not an explode-aggregate
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_w"))
    // tf restricted to the query terms — the posting slice, not the matrix
    val tfq = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .persist() // two consumers: df(word) and the per-doc score
    val dfw = tfq.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val sparse = tfq
      .join(dl, "doc_id").join(broadcast(dfw), "word").crossJoin(broadcast(corpus))
      .withColumn("term_bp", floor(lit(10000.0) * expr(
        "(CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(total_w AS DOUBLE) / CAST(n_docs AS DOUBLE))))) " +
          "* ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))")))
      .groupBy(col("doc_id")).agg(sum(col("term_bp")).as("score_bp"))
    val s32 = sparse.orderBy(col("score_bp").desc, col("doc_id")).limit(32)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("score_bp").desc, col("doc_id"))))
    val e = Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val dense = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .select(col("vec_id"),
        floor(lit(10000.0) * expr("float_dot(qv, embedding)")).as("sim_bp"))
    val d32 = dense.orderBy(col("sim_bp").desc, col("vec_id")).limit(32)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("sim_bp").desc, col("vec_id"))))
    s32.select(col("doc_id").as("id"), lit("s").as("side"), col("rk"))
      .unionByName(d32.select(col("vec_id").as("id"), lit("d").as("side"), col("rk")))
      .groupBy(col("id")).agg(
        max(when(col("side") === "s", col("rk")).otherwise(0)).as("r_sparse"),
        max(when(col("side") === "d", col("rk")).otherwise(0)).as("r_dense"),
        sum(floor(lit(10000.0) / (lit(60) + col("rk")))).as("rrf_bp"))
      .orderBy(col("rrf_bp").desc, col("id")).limit(10)
  }

  /** Exact two-sample Kolmogorov–Smirnov distance (basis points) between
    * the `value` distributions of click vs purchase events — the
    * distribution-drift gate of a data pipeline (is this week's feed
    * shaped like last week's?). Values are quantized to 1e-4 units first
    * (the documented grain: KS over the quantized distribution), which
    * makes the ECDF domain BOUNDED by the value range rather than the row
    * count. The plan aggregates indicator counts per quantized value (one
    * map-combinable shuffle over the data), then runs the two cumulative
    * sums with Q.runningSumById over the domain frame — range-partitioned
    * prefix sums, never an all-rows window — and takes
    * ks = max |ca/na − cb/nb|, floored to bp (floor is monotone, so the
    * max of per-point floors equals the floor at the supremum point).
    * `ks_at` reports the smallest quantized value attaining the supremum.
    * At 100 TB the data pass is one agg; everything after runs on the
    * value-domain frame (≤ range/1e-4 rows, independent of data size). */
  def q_drift_ks(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(floor(col("value") * lit(10000.0)).cast("long").as("v_u"), col("event_type"))
      .groupBy(col("v_u")).agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
      .persist() // consumed by the fused prefix pass and the totals
    val c = Q.runningSums2ById(spark, g, "v_u", "a", "ca", "b", "cb")
    val tot = g.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    // supremum + argmin(v_u at supremum) in ONE aggregation: struct max
    // orders lexicographically, so (d_bp, -v_u) maximizes the distance
    // first and the SMALLEST attaining value second — no second pass, no
    // persist of the domain frame
    c.crossJoin(broadcast(tot))
      .withColumn("d_bp", floor(lit(10000.0) * abs(
        col("ca").cast("double") / col("na").cast("double") -
          col("cb").cast("double") / col("nb").cast("double"))))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        max(struct(col("d_bp").as("d"), (-col("v_u")).as("nv"))).as("m"))
      .select(col("na"), col("nb"), col("m.d").as("ks_bp"), (-col("m.nv")).as("ks_at"))
  }

  /** Total variation distance (bp) between the weekday and weekend
    * event-type distributions — the CATEGORICAL drift monitor next to
    * [[q_drift_ks]]'s continuous one: tvd = ½ Σ_types |a/Na − b/Nb|.
    * One map-combinable indicator agg over the data; the bin frame is
    * bounded by the type domain. Cross-products ride exact decimals
    * (order-independent sums — a 5-term double sum would depend on
    * aggregation order), one IEEE division at emission. */
  def q_drift_tvd(spark: SparkSession, dir: String): DataFrame = {
    val wk = expr("weekday(ts)") // 0=Mon … 6=Sun
    val g = Tables.events(spark, dir)
      .select(col("event_type"), when(wk >= 5, 1L).otherwise(0L).as("is_we"))
      .groupBy(col("event_type")).agg(
        sum(lit(1L) - col("is_we")).as("a"),
        sum(col("is_we")).as("b"))
      .persist() // bins + totals
    val tot = g.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    g.crossJoin(broadcast(tot))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum(abs(col("a").cast("decimal(18,0)") * col("nb").cast("decimal(18,0)") -
          col("b").cast("decimal(18,0)") * col("na").cast("decimal(18,0)"))).as("sdec"))
      .select(col("na"), col("nb"),
        floor(lit(10000.0) * col("sdec").cast("double") /
          (lit(2.0) * col("na").cast("double") * col("nb").cast("double"))).as("tvd_bp"))
  }

  /** ANN quality evaluation — recall@10 of the IVF search
    * ([[LlmExt.q_ann_ivf]]'s same-cell probe) against the exact top-10,
    * per probe vector: the measurement loop an ANN deployment runs
    * before trusting its index (cell-probe loss is the IVF tradeoff;
    * this query makes it a NUMBER, engine-exactly). One scored pass
    * over (probe × corpus) feeds both rankings; ranks are per-probe
    * windows (partitioned by a_id, never global), the intersection is a
    * semi join on (a_id, b_id). At 100 TB the scored pass is the same
    * one broadcast-probe scan the ANN itself costs, and everything
    * after runs on O(probes · k) rows. */
  def q_ann_recall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("label").as("la"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("lb"), col("embedding").as("vb"))
    val scored = broadcast(a).join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("la"), col("lb"),
        floor(lit(10000.0) * expr("float_dot(va, vb)")).as("sim_bp"))
      .persist() // exact and IVF rankings share the scan
    val w = Window.partitionBy(col("a_id")).orderBy(col("sim_bp").desc, col("b_id"))
    val exact = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select(col("a_id"), col("b_id"))
    val ivf = scored.filter(col("la") === col("lb"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select(col("a_id"), col("b_id"))
    val hits = exact.join(ivf, Seq("a_id", "b_id"), "left_semi")
      .groupBy(col("a_id")).agg(count(lit(1)).as("n_hit"))
    a.select(col("a_id")).join(hits, Seq("a_id"), "left")
      .select(col("a_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_bp", floor(lit(10000.0) * col("n_hit") / lit(10.0)))
      .orderBy(col("a_id"))
  }

  /** PQ shortlist + EXACT re-rank — the two-stage retrieval serve path
    * (FAISS's refine / IndexRefineFlat step, Jégou et al. 2011 §VI):
    * [[graft.queries.LlmExt.q_ann_pq]]'s compressed-domain ADC ranking
    * produces a per-query shortlist of 10 (over-fetch: 3.3× the final
    * k), then ONLY those candidates pay an exact-vector cosine, and the
    * top-3 by exact similarity is the answer. This is the tier that
    * turns a 32×-compressed index into near-exact results: ADC recall
    * loss lives almost entirely inside the shortlist ordering, which
    * the refine step repairs at O(probes · shortlist) exact distances —
    * never a corpus-sized exact pass. `pq_rank` is kept in the output
    * precisely to exhibit the repair (rows where rn ≠ pq_rank are the
    * re-ranked ones). At 100 TB: the ADC stage scans the coded corpus
    * (map-side broadcast-LUT join), the refine joins a ≤100-row
    * broadcast shortlist against the exact vectors — one equi
    * broadcast-probe scan, no shuffle grows with the corpus. */
  def q_ann_refine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val wS = Window.partitionBy(col("a_id")).orderBy(col("adc"), col("b_id"))
    val short = LlmExt.pqAdcScores(e)
      .withColumn("rs", row_number().over(wS)).filter(col("rs") <= 10)
      .select(col("a_id"), col("b_id"), col("rs"))
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qa"), col("embedding").as("va"))
    val cv = e.select(col("vec_id").as("qb"), col("embedding").as("vb"))
    val wR = Window.partitionBy(col("a_id")).orderBy(col("sim_bp").desc, col("b_id"))
    broadcast(short.join(broadcast(qv), col("a_id") === col("qa")))
      .join(cv, col("b_id") === col("qb"))
      .select(col("a_id"), col("b_id"), col("rs"),
        floor(lit(10000.0) * expr("float_dot(va, vb)")).as("sim_bp"))
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"), col("rs").cast("int").as("pq_rank"),
        col("sim_bp"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** Hellinger drift — the third member of the drift family next to
    * [[q_drift_ks]] (CDF-domain) and [[q_drift_tvd]] (L1): the
    * Bhattacharyya-coefficient distance H² = 1 − Σ_bins √(p_i·q_i),
    * bounded, symmetric, and more sensitive than TVD to mass moving
    * into near-empty bins — the property monitoring cares about when a
    * new failure mode APPEARS rather than an existing one growing. The
    * engine's determinism discipline picks Hellinger over the
    * industry's PSI deliberately: PSI needs ln (not correctly rounded,
    * engines may differ in the last ulp → floor flips), while √ IS
    * IEEE-correctly-rounded everywhere, so per-bin
    * floor(10⁴·√(p_i·q_i)) is bit-identical across engines and the bin
    * sum is exact BIGINT arithmetic — order-independent, unlike a
    * double Σ. Same two-phase shape as TVD: one map-combinable bin agg
    * over the full stream, one broadcast totals row, O(bins) finish. */
  def q_drift_hellinger(spark: SparkSession, dir: String): DataFrame = {
    val wk = expr("weekday(ts)") // 0=Mon … 6=Sun
    val g = Tables.events(spark, dir)
      .select(col("event_type"), when(wk >= 5, 1L).otherwise(0L).as("is_we"))
      .groupBy(col("event_type")).agg(
        sum(lit(1L) - col("is_we")).as("a"),
        sum(col("is_we")).as("b"))
      .persist() // bins + totals share the scan
    val tot = g.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    g.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        floor(lit(10000.0) * sqrt(
          (col("a").cast("double") / col("na").cast("double")) *
            (col("b").cast("double") / col("nb").cast("double")))).as("bc_bp"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum(col("bc_bp")).as("bc_sum_bp"))
      .select(col("na"), col("nb"), col("bc_sum_bp"),
        (lit(10000L) - col("bc_sum_bp")).as("hell_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rag_hybrid" -> q_rag_hybrid _,
    "q_drift_hellinger" -> q_drift_hellinger _,
    "q_drift_ks" -> q_drift_ks _,
    "q_drift_tvd" -> q_drift_tvd _,
    "q_ann_recall" -> q_ann_recall _,
    "q_ann_refine" -> q_ann_refine _,
  )

  val oracle: Map[String, String] = Map(
    "q_rag_hybrid" ->
      """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_w FROM dl),
        |tfq AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word IN ('join', 'vector', 'scan') GROUP BY 1, 2),
        |dfw AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
        |sparse AS (
        |  SELECT t.doc_id,
        |    CAST(sum(CAST(floor(10000.0 *
        |      (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(total_w AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))) AS BIGINT)) AS BIGINT) AS score_bp
        |  FROM tfq t JOIN dl ON t.doc_id = dl.doc_id JOIN dfw ON t.word = dfw.word CROSS JOIN corpus
        |  GROUP BY 1),
        |s32 AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_bp DESC, doc_id) AS INT) AS rk
        |        FROM sparse ORDER BY score_bp DESC, doc_id LIMIT 32),
        |dense AS (
        |  SELECT b.vec_id,
        |    CAST(floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id <> 0),
        |d32 AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY sim_bp DESC, vec_id) AS INT) AS rk
        |        FROM dense ORDER BY sim_bp DESC, vec_id LIMIT 32),
        |u AS (SELECT doc_id AS id, 's' AS side, rk FROM s32
        |      UNION ALL SELECT vec_id AS id, 'd' AS side, rk FROM d32)
        |SELECT id,
        |  max(CASE WHEN side = 's' THEN rk ELSE 0 END) AS r_sparse,
        |  max(CASE WHEN side = 'd' THEN rk ELSE 0 END) AS r_dense,
        |  CAST(sum(CAST(floor(10000.0 / (60 + rk)) AS BIGINT)) AS BIGINT) AS rrf_bp
        |FROM u GROUP BY id ORDER BY rrf_bp DESC, id LIMIT 10""".stripMargin,
    "q_drift_hellinger" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE 1 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM g),
        |d AS (SELECT t.na, t.nb,
        |    CAST(floor(10000.0 * sqrt((CAST(a AS DOUBLE) / CAST(na AS DOUBLE))
        |      * (CAST(b AS DOUBLE) / CAST(nb AS DOUBLE)))) AS BIGINT) AS bc_bp
        |  FROM g CROSS JOIN t)
        |SELECT max(na) AS na, max(nb) AS nb,
        |  CAST(sum(bc_bp) AS BIGINT) AS bc_sum_bp,
        |  10000 - CAST(sum(bc_bp) AS BIGINT) AS hell_bp
        |FROM d""".stripMargin,
    "q_drift_tvd" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE 1 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM g)
        |SELECT t.na, t.nb,
        |  CAST(floor(10000.0 *
        |    CAST((SELECT sum(abs(CAST(a AS HUGEINT) * t.nb - CAST(b AS HUGEINT) * t.na)) FROM g) AS DOUBLE) /
        |    (2.0 * CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))) AS BIGINT) AS tvd_bp
        |FROM t""".stripMargin,
    "q_ann_recall" ->
      """WITH s AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS la, b.label AS lb,
        |    CAST(floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |exact AS (SELECT a_id, b_id FROM (
        |  SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id ORDER BY sim_bp DESC, b_id) AS rn
        |  FROM s) WHERE rn <= 10),
        |ivf AS (SELECT a_id, b_id FROM (
        |  SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id ORDER BY sim_bp DESC, b_id) AS rn
        |  FROM s WHERE la = lb) WHERE rn <= 10),
        |h AS (SELECT e.a_id, count(*) AS n_hit FROM exact e
        |      JOIN ivf i ON e.a_id = i.a_id AND e.b_id = i.b_id GROUP BY 1)
        |SELECT p.a_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(floor(10000.0 * coalesce(h.n_hit, 0) / 10.0) AS BIGINT) AS recall_bp
        |FROM (SELECT vec_id AS a_id FROM embeddings WHERE vec_id < 10) p
        |LEFT JOIN h ON p.a_id = h.a_id
        |ORDER BY p.a_id""".stripMargin,
    "q_ann_refine" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    (ord - 1) // 8 AS sub, (ord - 1) % 8 AS dim,
        |    CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS ord FROM embeddings)),
        |cb AS (
        |  SELECT sub, label, dim, CAST(floor(sum(qv) / count(*)) AS BIGINT) AS c
        |  FROM dims GROUP BY sub, label, dim),
        |sdist AS (
        |  SELECT d.vec_id, d.sub, cb.label,
        |    CAST(sum((d.qv - cb.c) * (d.qv - cb.c)) AS BIGINT) AS dist
        |  FROM dims d JOIN cb ON d.sub = cb.sub AND d.dim = cb.dim
        |  GROUP BY d.vec_id, d.sub, cb.label),
        |enc AS (
        |  SELECT vec_id AS b_id, sub, min(dist * 16 + label) % 16 AS code
        |  FROM sdist GROUP BY vec_id, sub),
        |lut AS (
        |  SELECT vec_id AS a_id, sub, label, dist AS qdist
        |  FROM sdist WHERE vec_id < 10),
        |adc AS (
        |  SELECT l.a_id, e.b_id, CAST(sum(l.qdist) AS BIGINT) AS adc
        |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.label
        |  WHERE e.b_id <> l.a_id GROUP BY l.a_id, e.b_id),
        |short AS (SELECT a_id, b_id, rs FROM (
        |  SELECT a_id, b_id,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY adc, b_id) AS INT) AS rs
        |  FROM adc) WHERE rs <= 10),
        |r AS (
        |  SELECT s.a_id, s.b_id, s.rs,
        |    CAST(floor(10000.0 * list_sum(list_transform(list_zip(qa.embedding, qb.embedding),
        |      t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM short s JOIN embeddings qa ON s.a_id = qa.vec_id
        |               JOIN embeddings qb ON s.b_id = qb.vec_id)
        |SELECT a_id, b_id, pq_rank, sim_bp, rn FROM (
        |  SELECT a_id, b_id, rs AS pq_rank, sim_bp,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY sim_bp DESC, b_id) AS INT) AS rn
        |  FROM r) WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_drift_ks" ->
      """WITH g AS (
        |  SELECT CAST(floor("value" * 10000.0) AS BIGINT) AS v_u,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
        |c AS (SELECT v_u,
        |    CAST(sum(a) OVER (ORDER BY v_u ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
        |    CAST(sum(b) OVER (ORDER BY v_u ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
        |  FROM g),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM g),
        |d AS (SELECT v_u,
        |    CAST(floor(10000.0 * abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |                           - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) AS BIGINT) AS d_bp
        |  FROM c CROSS JOIN t),
        |m AS (SELECT max(d_bp) AS ks_bp FROM d)
        |SELECT t.na, t.nb, m.ks_bp,
        |  (SELECT min(v_u) FROM d WHERE d_bp = m.ks_bp) AS ks_at
        |FROM t CROSS JOIN m""".stripMargin,
  )
}
