package graft.queries

import graft.Tables
import graft.functions.SimHashSig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended training-data pipeline operators beyond SURVEY §2.9: text
  * analysis (language-ID, quality scoring, token counting, fingerprinting),
  * n-gram and embedding near-dup, bucketed ANN, MinHash-LSH and SimHash
  * dedup, and multimodal byte-column plumbing.
  *
  * Ratio outputs are quantized with `floor(10000.0 * a / b)` ("basis
  * points") instead of `round(double, n)` — multiply/divide/floor of
  * identical doubles are IEEE-exact on both engines, whereas round()
  * diverges on repr boundaries (see q_case_null history). Thresholds are
  * applied to the quantized value on both sides.
  *
  * DuckDB lambda indexes are 1-based where Spark's are 0-based — the only
  * index-using pair here (fingerprint) avoids indexes entirely by folding.
  */
object LlmExt extends QueryModule {

  private val stopEn = "('the','and','of','a','to')"

  /** Heuristic language-ID: marker-word hit counts per candidate language,
    * argmax with a fixed tie order. (The synthetic corpus is a shared word
    * soup, so the value is the operator shape: per-row set-membership
    * counting over tokenized text — embarrassingly parallel, no shuffle.) */
  def q_text_lang_id(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(s"size(filter(split(text, ' '), w -> w IN $stopEn))").as("n_en"),
        expr("size(filter(split(text, ' '), w -> w IN ('der','die','und','das')))").as("n_de"),
        expr("size(filter(split(text, ' '), w -> w IN ('el','la','los','y')))").as("n_es"),
        expr("size(filter(split(text, ' '), w -> w IN ('le','les','et','un')))").as("n_fr"))
      .withColumn("pred_lang",
        when(col("n_en") >= col("n_de") && col("n_en") >= col("n_es") && col("n_en") >= col("n_fr") && col("n_en") > 0, "en")
          .when(col("n_de") >= col("n_es") && col("n_de") >= col("n_fr") && col("n_de") > 0, "de")
          .when(col("n_es") >= col("n_fr") && col("n_es") > 0, "es")
          .when(col("n_fr") > 0, "fr")
          .otherwise("unknown"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: token/unique/stopword ratios in exact basis points +
    * a categorical verdict. */
  def q_text_quality(spark: SparkSession, dir: String): DataFrame = {
    withQualityScores(Tables.documents(spark, dir))
      .withColumn("cpw_bp", floor(lit(10000.0) * col("n_chars") / expr("NULLIF(n_words, 0)")))
      .withColumn("verdict",
        when(col("uniq_bp") > 3000 && col("stop_bp") < 3000, "good").otherwise("low"))
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("n_uniq"),
        col("n_stop"), col("uniq_bp"), col("stop_bp"), col("cpw_bp"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Repetition / boilerplate scoring (the Gopher-rule family — Rae et
    * al., "Scaling Language Models: ... Gopher", 2021): duplicate-word
    * fraction and top-word dominance in exact basis points + a
    * keep/drop verdict. Pure per-row array math, no shuffle. */
  def q_text_repetition(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("size(split(text, ' '))").as("n_words"),
        expr("size(array_distinct(split(text, ' ')))").as("n_uniq"),
        expr("array_max(transform(array_distinct(split(text, ' ')), w -> size(filter(split(text, ' '), x -> x = w))))")
          .as("top_word_n"))
      .withColumn("dup_bp",
        floor(lit(10000.0) * (col("n_words") - col("n_uniq")) / expr("NULLIF(n_words, 0)")))
      .withColumn("top_bp",
        floor(lit(10000.0) * col("top_word_n") / expr("NULLIF(n_words, 0)")))
      .withColumn("verdict",
        when(col("dup_bp") > 5000 || col("top_bp") > 2000, "repetitive").otherwise("ok"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination screen: documents containing any probe phrase
    * from an eval set, with the matched probes as a csv — the
    * decontamination step of a training pipeline. Substring containment
    * per row; at scale the probe set broadcasts (here it is a literal
    * array). */
  def q_text_contam(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("array_join(filter(array('slow join', 'fast scan', 'window merge'), p -> contains(text, p)), ',')")
          .as("hits"))
      .filter(length(col("hits")) > 0)
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace split vs regex tokenizer vs long-token
    * filter — the three tokenization shapes a BPE-ish pipeline needs. */
  def q_text_tokens(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("size(split(text, ' '))").as("n_ws"),
        expr("size(regexp_extract_all(text, '[a-z]+', 0))").as("n_re"),
        expr("size(filter(split(text, ' '), w -> length(w) > 5))").as("n_long"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: order-sensitive polynomial rolling hash over
    * tokens (exact BIGINT fold, mod 1e9+7 keeps products overflow-free on
    * both engines) + md5 prefix. DuckDB twin: list_reduce over a
    * 0-prepended list. */
  def q_text_fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("aggregate(transform(split(text, ' '), w -> CAST(ascii(w) + length(w) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)").as("fp"),
        substring(md5(col("text")), 1, 16).as("md5_pfx"))
      .orderBy(col("doc_id"))
  }

  /** Character-3-gram Jaccard near-dup (exact, ≥ 5000 bp) over the FULL
    * corpus via [[graft.operators.SetSimilarity]] — the round-1 gram
    * self-join needed a doc_id < 200 bound (3.4M candidate rows at sf0.01
    * on 1/25th of the docs); the set-collapse + size-ratio-pruned pair
    * join covers everything. Gram-hash extraction is one custom-expression
    * pass per document ([[graft.functions.CharNgramHashes]] — the
    * interpreted higher-order-function chain it replaces measured 780µs
    * per doc and dominated the whole query). */
  def q_ngram_jaccard(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("char_ngram_hashes(text, 3)").as("ws"))
    graft.operators.SetSimilarity.exactJaccardPairs(sets, minBp = 5000L)
      .orderBy(col("da"), col("db"))
  }

  /** graft.functions.FloatDot: codegen'd, bit-identical to the sequential
    * aggregate(zip_with(...)) fold and the DuckDB oracle. */
  private def dotExpr = expr("float_dot(va, vb)")

  /** Embedding-cosine near-dup within coarse-quantizer cells: pairs of
    * SAME-LABEL vectors with sim ≥ 0.30 (dot == cosine on L2-normalized
    * vectors; this corpus's max inter-vector sim is ~0.37 so a production
    * 0.95 threshold would be vacuous here). Round 1 ran this as an
    * UNBOUNDED all-pairs non-equi join — the one remaining quadratic op;
    * bucketing by cell label (the q_ann_ivf IVF shape: near-dups live in
    * the same cell by the quantizer's construction) makes the join equi on
    * label, so it shuffles by cell instead of replicating the corpus. */
  def q_embed_neardup(spark: SparkSession, dir: String): DataFrame = {
    cellCosinePairs(Tables.embeddings(spark, dir), minBp = 3000)
      .orderBy(col("da"), col("db"))
  }

  /** Shared candidate generation for the cosine family: same-cell (label)
    * vector pairs with `sim_bp = floor(10000·dot)` at or above `minBp`,
    * `da < db`. Equi on the cell label, so the join shuffles by cell
    * instead of replicating the corpus — the one construction behind
    * q_embed_neardup, q_dedup_semantic, and q_graph_triangles. */
  private[graft] def cellCosinePairs(e: DataFrame, minBp: Long): DataFrame = {
    val a = e.select(col("vec_id").as("da"), col("label").as("la"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("db"), col("label").as("lb"), col("embedding").as("vb"))
    a.join(b, col("la") === col("lb") && col("da") < col("db"))
      .select(col("da"), col("db"), floor(lit(10000.0) * dotExpr).as("sim_bp"))
      .filter(col("sim_bp") >= minBp)
      .select(col("da"), col("db"), col("sim_bp"))
  }

  /** IVF-style bucketed ANN: `label` stands in for the coarse-quantizer
    * cell; each query probes only its own cell (1/10th of the corpus) —
    * the join is equi on label so it shuffles/broadcasts instead of the
    * brute-force nested loop of q_knn_cosine. */
  def q_ann_ivf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("label").as("la"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("lb"), col("embedding").as("vb"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("sim_bp").desc, col("b_id"))
    broadcast(a).join(b, col("la") === col("lb") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), floor(lit(10000.0) * dotExpr).as("sim_bp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("a_id"), col("rn"))
  }

  /** IVF with nprobe = 2 — the FAISS recall knob single-probe
    * [[q_ann_ivf]] lacks: a query whose true neighbors straddle a cell
    * boundary misses them when only its own cell is scanned, so the
    * serve ranks ALL cells by exact query→centroid distance (integer
    * squared-L2 over the micro-quantized dims — the per-cell centroid is
    * [[q_vec_centroid]]'s floored mean) and scans the TWO nearest.
    * Catalyst shape: centroids are |cells|×dims tiny (broadcast), the
    * probe set is queries×2 rows (broadcast with the query vectors), and
    * the candidate join stays EQUI on the cell key — at 100 TB the
    * corpus stays partitioned by cell and nprobe multiplies per-query
    * candidates, never the shuffle pattern. Exact-integer arithmetic end
    * to end, so DuckDB reproduces the probe RANKING bit-for-bit. */
  def q_ann_ivf_nprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dims = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(lit(1000000.0) * col("v").cast("double")).as("q"))
    val cent = dims.groupBy(col("label").as("cl"), col("pos"))
      .agg(floor(sum(col("q")) / count(lit(1))).as("c"))
    val cellDist = dims.filter(col("vec_id") < 10)
      .join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id").as("a_id"), col("cl"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("cd"))
    val wp = Window.partitionBy(col("a_id")).orderBy(col("cd"), col("cl"))
    val probes = cellDist.withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= 2).select(col("a_id"), col("cl"))
    val a = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("lb"),
      col("embedding").as("vb"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("sim_bp").desc, col("b_id"))
    broadcast(a.join(probes, "a_id")).join(b,
        col("cl") === col("lb") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), floor(lit(10000.0) * dotExpr).as("sim_bp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("a_id"), col("rn"))
  }

  /** Per-cell centroid accumulation — the k-means/IVF TRAINING step that
    * produces the coarse quantizer [[q_ann_ivf]] probes: per (label, dim),
    * the exact sum of micro-quantized components and the member count
    * (the centroid is their ratio; emitting the integer accumulators keeps
    * every value engine-exact — float sums are order-dependent, integer
    * sums are not). posexplode → two-phase hash aggregation: map-side
    * combine makes this one shuffle of |labels|·dims rows regardless of
    * corpus size. */
  def q_vec_centroid(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        floor(lit(1000000.0) * col("v").cast("double")).as("q"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
      .orderBy(col("label"), col("dim"))
  }

  /** MinHash-LSH near-dup at scale (SURVEY §2.9 design op, as a real
    * runnable pipeline): [[graft.operators.MinHashLsh]] — one per-doc
    * feature row (sorted word hashes plus the 32 xxhash64 min-signatures
    * derived from them, no token shuffle) → 8 bands of 4 → band-hash
    * bucket join → signature prefilter → exact sorted-hash confirm. No
    * oracle (xxhash64 is engine-specific); q_sim_jaccard is the
    * correctness twin for the confirm stage, and SparseLshSpec
    * demonstrates the linear-cost claim on a generated sparse corpus with
    * planted near-dups.
    *
    * Bounded to doc_id < 1000: this synthetic corpus breaks LSH's sparsity
    * assumption — 41% of ALL doc pairs have word-Jaccard >= 0.7
    * (re-measured 2026-08 on a 500-doc sample of the REGENERATED corpus:
    * 51493/124750 pairs at sf0.1, 51/124k at sf0.01 — the r7 testdata
    * regeneration lightened the docs but not the pair density), so the
    * confirmed OUTPUT is itself quadratic and no banding scheme can prune
    * it. On a real corpus the >=0.7 set is sparse and this plan's cost is
    * ~linear in docs. */
  def q_dedup_minhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 1000)
    graft.operators.MinHashLsh.nearDupPairs(docs, minBp = 7000L)
      .orderBy(col("da"), col("db"))
  }

  /** MinHash-LSH at FULL domain on a corpus with a real web corpus's
    * SPARSITY (the round-8 verdict's demo-slice fix): 20k generated docs
    * of 40 words from a 50k vocabulary (random-pair Jaccard ≈ 0.0004),
    * every 20th doc given a planted twin sharing 39 of 40 words
    * (Jaccard ≈ 0.95) — SparseLshSpec's generator promoted to an
    * ORACLE-CHECKED gate. The full banded pipeline (signatures → band
    * buckets → prefilter → exact confirm) must surface EXACTLY the 1000
    * planted pairs out of ~2×10⁸ possible: any quadratic leakage, any
    * recall miss, any banding bug lands on a row-count or hash mismatch.
    * The corpus text is xxhash64-generated (engine-specific), but the
    * planted PAIR SET is pure arithmetic — (20r, 20r+1) — so DuckDB
    * reconstructs the expected output without sharing any hash function
    * with the engine. This gate runs LSH where its sparsity assumption
    * holds; [[q_dedup_minhash]] keeps the dense-slice reading. */
  def q_dedup_minhash_sparse(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val corpus = spark.range(20000L).selectExpr(
      "id as doc_id",
      """concat_ws(' ', transform(sequence(0, 39), i ->
        |  concat('w', CAST(pmod(xxhash64(
        |    CAST(CASE WHEN id % 20 = 1 AND i < 39 THEN id - 1 ELSE id END AS BIGINT),
        |    i), 50000) AS STRING)))) as text""".stripMargin)
    graft.operators.MinHashLsh.nearDupPairs(corpus, minBp = 7000L)
      .select(col("da"), col("db"))
      .orderBy(col("da"), col("db"))
  }

  /** SimHash dedup: 64-bit signature from signed bit votes of per-word
    * hashes; candidate pairs via 16-bit chunk equality (pigeonhole:
    * hamming ≤ 3 ⇒ some chunk of 4 equal — recall-complete for the ≤3
    * filter), confirmed by bit_count(xor). No oracle (xxhash64).
    *
    * Signatures come from the typed SimHashSig Aggregator: one pass, 64
    * counters in one buffer, map-side combinable — replacing the first
    * formulation's 64× per-word row explode (a 64× shuffle-input blowup at
    * scale) while emitting bit-identical signatures (HashCompatSpec). */
  def q_dedup_simhash(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
    // persist: the chunk self-join consumes the signature build on both
    // sides and ReuseExchange does not bridge them — without the cache the
    // explode+Aggregator pipeline runs per side
    val sig = words
      .groupBy(col("doc_id"))
      .agg(SimHashSig.simhash64(col("word")).as("simhash"))
      .persist()
    graft.operators.SimHashDedup
      .pairsFromSignatures(sig, "doc_id", "simhash")
      .orderBy(col("da"), col("db"))
  }

  /** SimHash-LSH with a PLANTED-TWIN ORACLE (round-12 verdict #6 — the
    * last LSH family promoted from spec-pinned to oracle-checked, the
    * [[q_dedup_minhash_sparse]] discipline): 20k generated docs of 40
    * words from a 50k vocabulary — random cross-pair signatures are
    * ~independent 64-bit values, so P(hamming ≤ 3) ≈ 2⁻⁴⁸ per pair and
    * the fixed corpus deterministically yields ZERO unplanned pairs —
    * with every 20th doc given a twin holding the SAME WORD SET in
    * reverse order with the lead word doubled. SimHash is an
    * order/multiplicity-blind SET signature (array_distinct feeds the
    * sign-vote Aggregator), so each twin's signature is BIT-IDENTICAL
    * (hamming 0) BY CONSTRUCTION, not by probability — the planted
    * pair set is pure arithmetic, (20r, 20r+1, 0), and DuckDB
    * reconstructs it without sharing a hash function with the engine.
    * Any quadratic leakage, chunk-banding bug, recall miss, or a
    * signature that sneaks order-sensitivity in lands on a row or hash
    * mismatch. SimHashBandSpec pins the nonzero-hamming band edges
    * (recall at exactly 3, exclusion at 4) on constructed signatures. */
  def q_dedup_simhash_planted(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val corpus = spark.range(20000L).selectExpr(
      "id AS doc_id",
      """concat_ws(' ',
        |  CASE WHEN id % 20 = 1 THEN array(concat('w', CAST(pmod(xxhash64(id - 1, 39), 50000) AS STRING)))
        |       ELSE array() END,
        |  transform(sequence(0, 39), i ->
        |    concat('w', CAST(pmod(xxhash64(
        |      CAST(CASE WHEN id % 20 = 1 THEN id - 1 ELSE id END AS BIGINT),
        |      CASE WHEN id % 20 = 1 THEN 39 - i ELSE i END), 50000) AS STRING)))
        |) AS text""".stripMargin)
    val words = corpus
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
    val sig = words
      .groupBy(col("doc_id"))
      .agg(SimHashSig.simhash64(col("word")).as("simhash"))
      .persist()
    graft.operators.SimHashDedup
      .pairsFromSignatures(sig, "doc_id", "simhash")
      .orderBy(col("da"), col("db"))
  }

  /** Dedup clustering: near-dup pairs (the exact ≥ 0.8-Jaccard graph of
    * [[graft.queries.LlmOps.q_sim_jaccard]]) → connected components →
    * every doc labeled with its cluster's canonical (smallest) doc_id —
    * the step that turns pairwise similarity into the keep/drop decision
    * of a dedup pipeline ([[graft.operators.ConnectedComponents]],
    * iterative min-label propagation). Oracle: DuckDB recursive-CTE
    * reachability over the same brute-force pair set.
    *
    * Bounded to doc_id < 1000 for the same reason as q_dedup_minhash: on
    * this synthetic corpus 25% of ALL doc pairs are ≥ 0.8-similar
    * (re-measured 2026-08 on the REGENERATED corpus: 31054/124750 pairs
    * in a 500-doc sf0.1 sample — the density survived the r7 testdata
    * regeneration), so the edge set itself is O(docs²) and no component
    * algorithm beats its input size. On a real corpus near-dup edges are
    * ~O(docs) and the same plan runs unbounded; the bound covers 100% of
    * the t2 correctness domain (500 docs at sf0.01). */
  def q_dedup_cluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 1000)
    // the pair graph is SHARED with q_dedup_cluster_star (identical input,
    // identical oracle) — built once per (JVM, corpus) by whichever of the
    // two runs first ([[DedupGraph]])
    val pairs = DedupGraph.pairs(spark, dir)
    graft.operators.ConnectedComponents
      .minLabel(docs.select(col("doc_id")), "doc_id", pairs, "da", "db")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** SEMANTIC dedup clustering — [[q_dedup_cluster]]'s lexical pipeline
    * with embeddings as the similarity signal: same-cell cosine near-dup
    * pairs (the [[q_embed_neardup]] candidate generation — IVF-cell
    * bucketing keeps the pair join equi on label) feed
    * [[graft.operators.ConnectedComponents]], labeling every vector with
    * its duplicate-group's minimum vec_id. This is the dedup tier lexical
    * methods cannot reach (paraphrases hash differently but embed
    * nearby); at 100 TB the cell bucketing bounds candidate pairs per
    * reducer exactly as in q_embed_neardup, and the CC loop runs over the
    * near-dup fraction only. Oracle: DuckDB recursive-CTE reachability
    * over the same pair predicate. */
  def q_dedup_semantic(spark: SparkSession, dir: String): DataFrame = {
    // vec_id < 1000: same demo-slice contract as q_dedup_cluster's
    // doc_id bound — the 0.30 threshold makes a loose geometric graph
    // whose min-label rounds track its diameter (~17 at 2000 vectors)
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 1000)
    val pairs = cellCosinePairs(e, minBp = 3000).select(col("da"), col("db"))
    graft.operators.ConnectedComponents
      .minLabel(e.select(col("vec_id")), "vec_id", pairs, "da", "db")
      .select(col("id").as("vec_id"), col("component").as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Distributed triangle counting over the similarity graph — the local
    * clustering-structure probe (a near-dup cluster that is a clique is a
    * true duplicate group; a chain of pairwise-similars with no triangles
    * is threshold drift). Orientation by vertex id (a<b<c) makes each
    * triangle appear exactly once, as in Cohen's MapReduce formulation
    * (at web scale one orients by DEGREE so hub vertices don't own
    * quadratic wedge sets — same plan shape, different order key). Two
    * equi-joins: wedges a−b−c from edges sharing the middle vertex, then
    * a semi-check that the closing edge (a,c) exists; both shuffle by
    * vertex key, map-side combinable counts fall out of the final agg. */
  def q_graph_triangles(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 1000)
    val p = cellCosinePairs(e, minBp = 2000)
      .select(col("da"), col("db"))
      .persist() // three consumers with different key roles
    val tri = p.select(col("da").as("a"), col("db").as("b"))
      .join(p.select(col("da").as("b2"), col("db").as("c")), col("b") === col("b2"))
      .join(p.select(col("da").as("a3"), col("db").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("vec_id"))
  }

  /** Asymmetric n-gram CONTAINMENT — |A∩B| / |A| ≥ 0.9 over char-3-gram
    * sets: the quote/subset-duplicate detector Jaccard misses by
    * construction (a doc embedded verbatim in a 10× larger one has
    * Jaccard ≤ 0.1 but containment 1.0 — the common shape of boilerplate
    * wrappers and quotation chains in web corpora). Same machinery as
    * [[q_ngram_jaccard]] ([[graft.functions.CharNgramHashes]] sets, one
    * codegen'd merge pass per surviving pair) with the one-sided size
    * prune containment admits: c ≤ |B|, so |B| ≥ t·|A| — cheap integer
    * conjunct ahead of the merge pass. Exact all-pairs is contract-bounded
    * (doc_id < 500) like the other exact-tier ops; the scale path is the
    * same LSH banding with containment re-scoring at confirm. */
  def q_text_containment(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.documents(spark, dir)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), expr("char_ngram_hashes(text, 3)").as("gs"))
      .withColumn("n", size(col("gs")))
      // explicit repartition: AQE would coalesce the tiny set frame to one
      // partition and the quadratic pair join would inherit it (the
      // SetSimilarity lesson); persist: both join sides prune different
      // columns, so without a cache ReuseExchange misses and the gram
      // pipeline runs twice
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .persist()
    val a = sets.select(col("doc_id").as("da"), col("gs").as("ga"), col("n").as("na"))
    val b = sets.select(col("doc_id").as("db"), col("gs").as("gb"), col("n").as("nb"))
    a.join(b, col("da") =!= col("db") &&
        col("nb").cast("long") * 10000L >= col("na").cast("long") * 9000L)
      .withColumn("cont_bp",
        floor(lit(10000.0) * expr("sorted_intersect_size(ga, gb)") / col("na")))
      .filter(col("cont_bp") >= 9000)
      .select(col("da"), col("db"), col("cont_bp"))
      .orderBy(col("da"), col("db"))
  }

  /** Edit-distance record linkage — the fuzzy-match tier the set-based
    * dedups cannot express (token/ngram Jaccard, MinHash, SimHash and
    * embedding-cosine are all order-insensitive; transpositions and small
    * in-word edits need character-level distance). For each probe document
    * the single nearest other document by Levenshtein distance on the
    * 40-char prefix key (ties break on doc_id) — the canonical-record
    * assignment step of entity resolution, exact-integer so the oracle
    * matches bit-for-bit.
    *
    * Spark shape: ONE parquet scan builds the 2000-row key frame (the
    * probe rows are a subset of the catalog, so re-scanning the wide
    * `text` column for them is pure waste — `persist()` pins the 40-char
    * keys and both branches read the cache). The probe side (200 rows) is
    * explicitly `broadcast()`: pair generation is a broadcast nested-loop
    * join that streams the catalog side once with no shuffle. The argmin
    * per probe is `min(struct(dist, db))` — a map-combinable hash
    * aggregate whose partial state is one struct per probe per task
    * (200·P rows through the shuffle), not the row_number window
    * formulation that would sort all 400k pairs. Exact all-pairs linkage
    * is contract-bounded (probe < 200, catalog < 2000) like the other
    * exact-tier ops; the scale paths are (a) length-band blocking —
    * dist ≥ |len(a)−len(b)| makes bands EXACT for thresholded variants —
    * and (b) Spark's 3-arg `levenshtein(a, b, threshold)` whose DP
    * early-exits past the bound (not used here: DuckDB has no 3-arg form,
    * and parity is the point of the exact tier). */
  def q_text_editdist(spark: SparkSession, dir: String): DataFrame = {
    // explicit repartition (the SetSimilarity lesson): the catalog side is
    // one small parquet split, so the BNLJ would run its 400k DP
    // evaluations on a single task — spread the compute-heavy side over
    // every core (measured 34.7s single-task at sf0.1)
    val keys = Tables.documents(spark, dir)
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("k"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .persist()
    val probe = broadcast(
      keys.filter(col("doc_id") < 200)
        .select(col("doc_id").as("da"), col("k").as("ka")))
    val catalog = keys.select(col("doc_id").as("db"), col("k").as("kb"))
    catalog.join(probe, col("da") =!= col("db"))
      .select(col("da"),
        struct(levenshtein(col("ka"), col("kb")).cast("long").as("dist"),
          col("db").as("nn")).as("cand"))
      .groupBy(col("da"))
      .agg(min(col("cand")).as("best"))
      .select(col("da"), col("best.nn").as("nn"), col("best.dist").as("dist"))
      .orderBy(col("da"))
  }

  /** Lloyd's k-means, two unrolled iterations in EXACT integer arithmetic —
    * the iterative refinement loop behind the [[q_vec_centroid]] training
    * step and the [[q_ann_ivf]] quantizer, engine-portable because every
    * step is integer math: vectors are micro-quantized once
    * (floor(1e6·x), exact for L2-normalized floats), dot products are
    * BIGINT folds (≤ 64·1e12 per vector — no overflow, no float
    * order-dependence), and centroid updates divide exact integer sums
    * (floor of a correctly-rounded double division — identical in both
    * engines). Assignment ties break on centroid id.
    *
    * The Spark shape is the 100 TB shape: k centroid rows BROADCAST to a
    * map-side assignment (crossJoin of 8 rows), centroid update as
    * posexplode + two-phase hash agg (one shuffle of k·dims rows per
    * iteration regardless of corpus size) — the same loop structure
    * MLlib's KMeans runs, here in pure DataFrame ops with a generated
    * unrolled DuckDB twin as the oracle. */
  def q_kmeans_lloyd(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(1000000 * CAST(x AS DOUBLE)) AS BIGINT))").as("qv"))
      .persist() // consumed by every assignment round with different pruning
    var cents = q.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("qv").as("qc"))
    def assign(c: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cid"))
      q.crossJoin(broadcast(c))
        .withColumn("dot",
          expr("aggregate(zip_with(qv, qc, (a, b) -> a * b), CAST(0 AS BIGINT), (s, x) -> s + x)"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("qv"))
    }
    val a1 = assign(cents)
    cents = a1.select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), t -> t.c)").as("qc"))
    assign(cents).select(col("vec_id"), col("cid")).orderBy(col("vec_id"))
  }

  /** END-TO-END training-data preparation — the capstone composition of
    * the pipeline stages this engine exists for, as ONE declarative plan
    * Catalyst optimizes jointly: (1) quality gate (the q_text_quality
    * rules inline: unique-word and stopword ratios), (2) exact-dedup
    * SURVIVOR SELECTION (min doc_id per md5(text) group via a window —
    * canonical-document choice, not just counting), (3) content-stable
    * train/val/test hash split (the q_sample_split buckets), then
    * per-split accounting. Every stage is engine-portable, so the WHOLE
    * pipeline is oracle-checked end to end — the property that lets a
    * 100 TB run validate any slice of itself against a single-node
    * engine. All stages are map-side except one hash shuffle (dedup
    * window) and the final tiny agg. */
  def q_pipeline_prepare(spark: SparkSession, dir: String): DataFrame = {
    val gated = withQualityScores(Tables.documents(spark, dir))
      .filter(col("uniq_bp") > 3000 && col("stop_bp") < 3000)
    withSplit(dedupSurvivors(gated))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("n_words").cast("long")).as("sum_words"))
      .orderBy(col("split"))
  }

  /** Deterministic train/val/test assignment by content-stable hash
    * bucketing — the split primitive of a training-data pipeline: md5 of
    * the document key → 16-bit bucket → 80/10/10 ranges. Hash-based (not
    * random) so the split is reproducible across runs, engines and
    * backfills, and any doc's assignment is computable without a lookup
    * table. Pure map-side + one tiny aggregation — trivially 100 TB-safe. */
  /** Content-stable split assignment shared by [[q_sample_split]] and
    * [[q_pipeline_prepare]]: md5 of the doc key → 16-bit bucket →
    * 80/10/10 ranges. ONE definition of the boundaries, so the capstone
    * pipeline and the stage query cannot drift. */
  private[graft] def withSplit(df: DataFrame): DataFrame = df
    .withColumn("bucket",
      expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT)"))
    .withColumn("split",
      when(col("bucket") < 52429, "train")   // 0.80 * 65536
        .when(col("bucket") < 58982, "val")  // 0.90 * 65536
        .otherwise("test"))

  /** Quality-gate scores shared by [[q_text_quality]] and
    * [[q_pipeline_prepare]]: word counts and the unique-word / stopword
    * ratios in basis points. */
  private[graft] def withQualityScores(df: DataFrame): DataFrame = df
    .withColumn("n_words", expr("size(split(text, ' '))"))
    .withColumn("n_uniq", expr("size(array_distinct(split(text, ' ')))"))
    .withColumn("n_stop", expr(s"size(filter(split(text, ' '), w -> w IN $stopEn))"))
    .withColumn("uniq_bp", floor(lit(10000.0) * col("n_uniq") / expr("NULLIF(n_words, 0)")))
    .withColumn("stop_bp", floor(lit(10000.0) * col("n_stop") / expr("NULLIF(n_words, 0)")))

  /** Exact-dedup SURVIVOR selection shared by [[q_pipeline_prepare]] (and
    * unit-tested directly on synthetic duplicates — the driver corpus has
    * none at the oracle scale factors, so the gate alone cannot exercise
    * the rule): canonical document = MIN doc_id per md5(text) group. */
  private[graft] def dedupSurvivors(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    df.withColumn("fp", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("fp", "rn")
  }

  def q_sample_split(spark: SparkSession, dir: String): DataFrame = {
    withSplit(Tables.documents(spark, dir))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("split"))
  }

  /** Text normalization battery: strip non-letters, vowel-case translate,
    * head-N-token truncation — the per-row cleanup stage before tokenizing
    * (no shuffle; regexp_replace is global-by-default in Spark, 'g' flag
    * spelled out in the DuckDB twin). */
  def q_text_norm(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), "[^a-z ]", "").as("letters"),
        translate(col("text"), "aeiou", "AEIOU").as("tr"),
        expr("array_join(slice(split(text, ' '), 1, 5), ' ')").as("head5"),
        length(col("text")).as("len_raw"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal byte-column plumbing: text-as-bytes stands in for an opaque
    * media blob; octet length, header byte, fixed-stride byte sampling —
    * the schema/partitioning shape of a decode stage (the real decoder is
    * stubbed in [[graft.operators.Multimodal]]; codec libs aren't in this
    * container). The byte sample is emitted as a csv string — the driver's
    * comparator cannot hash list-typed output columns (round-1 err). */
  def q_mm_bytes(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("octet_length(CAST(text AS BINARY))").as("n_bytes"),
        ascii(col("text")).as("first_byte"),
        expr("array_join(transform(sequence(1, 8), i -> CAST(ascii(substring(text, i, 1)) AS STRING)), ',')")
          .as("byte_sample"))
      .orderBy(col("doc_id"))
  }

  /** IMAGE NEAR-DUP with a PLANTED-TWIN ORACLE (r14 verdict #3 — the
    * pixel tier of the dedup stack, the [[q_dedup_simhash_planted]]
    * discipline lifted to real image decode): 4000 generated 32×24 P6
    * images whose pixels are integer hashes of (seed, index), with
    * every 20th image given a twin that holds the SAME PIXELS under
    * DIFFERENT BYTES (a netpbm header comment — the re-encode shape).
    * The pipeline is the real one: P6 decode → 9×8 luma thumbnail →
    * 64-bit dHash (pure integer end-to-end) → 16-bit-chunk pigeonhole
    * banding (recall-complete for hamming ≤ 3, never all-pairs) → exact
    * luma-grid confirm. Twins hash BIT-IDENTICALLY by construction
    * (same pixels), distinct seeds give ~independent 64-bit hashes
    * (P(hamming ≤ 3) ≈ 2⁻⁴⁶ per pair — zero unplanned pairs on the
    * fixed corpus), so the result is pure arithmetic a DuckDB range()
    * reconstructs without sharing one line of decode or hash code.
    * MultimodalSpec drives re-encoded and 1-px-shifted pairs through
    * the same distributed path. */
  def q_mm_neardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.range(4000L).map { boxed =>
      val id: Long = boxed
      val twin = id % 20 == 1
      val seed = if (twin) id - 1 else id
      graft.operators.Multimodal.MediaRow(id,
        graft.operators.Multimodal.syntheticPpm(seed, 32, 24, comment = twin),
        "ppm")
    }
    graft.operators.Multimodal.imageNearDup(media)
      .orderBy(col("da"))
  }

  /** PII redaction — the scrub step of a training-data pipeline: mask
    * digit runs with a placeholder token and count what was removed, so
    * downstream audits can reconcile redaction volume. Pure per-row regex
    * (embarrassingly parallel, no shuffle); patterns stay inside the
    * RE2 ∩ java.util.regex common subset (no lookaround — DuckDB's RE2
    * has none) so the oracle is portable. */
  def q_text_pii(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]+", "<ID>").as("redacted"),
        length(regexp_replace(col("c_name"), "[^0-9]", "")).as("n_digits"))
      .orderBy(col("c_custkey"))
  }

  /** Stratified fixed-k sampling: at most k=50 docs per stratum (lang),
    * picked by content-stable hash order (md5 of the key) — every stratum
    * is represented regardless of its size, and any doc's membership is
    * recomputable without a lookup table (the per-stratum analogue of
    * [[q_sample_split]]). The rank window shuffles by stratum only; with
    * heavy strata at 100 TB the same selection runs as a per-partition
    * top-k (sort within partitions, keep k, re-rank the ≤ k·partitions
    * survivors) — the TakeOrderedAndProject shape per group. */
  def q_sample_stratified(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("hk"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 50)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  /** 6 deterministic random-ish hyperplanes over 64 dims with components
    * in EXACT 1/16 steps ((mix % 17 − 8)/16 ∈ [−0.5, 0.5]): every value
    * is an exact binary fraction, so the float array (Spark), its decimal
    * rendering (this source), and the double the oracle parses are all
    * the SAME number — the property that makes the sign bits, and hence
    * the whole LSH bucket, engine-portable. */
  private val hplanes: IndexedSeq[Array[Float]] = (0 until 6).map { p =>
    Array.tabulate(64) { d =>
      (((p * 1000003 + d * 7919) % 17 - 8) / 16.0).toFloat
    }
  }

  /** Spark-side bucket expression: 6 sign bits of float_dot against the
    * literal hyperplanes, packed into an integer. */
  private def bucketExpr: String = {
    def arr(p: Int) =
      "array(" + hplanes(p).map(v => s"CAST($v AS FLOAT)").mkString(",") + ")"
    (0 until 6).map { p =>
      s"(CASE WHEN float_dot(embedding, ${arr(p)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("CAST(", " + ", " AS BIGINT)")
  }

  /** Random-hyperplane (SimHash-for-vectors) multi-probe LSH ANN — the
    * second bucketed ANN scheme next to [[q_ann_ivf]]'s IVF cells, and
    * the one that needs NO trained quantizer: 6 sign-bit hyperplane
    * projections → 64 buckets; each query probes its own bucket plus the
    * 6 Hamming-1 neighbors (multi-probe LSH, Lv et al., VLDB 2007), and
    * only probed-bucket candidates pay the exact-cosine re-rank. Cost at
    * scale: bucketing is one map-side pass (6 codegen'd dot products per
    * row), the probe join is equi on the bucket int (shuffles by bucket,
    * never all-pairs), and the re-rank touches ~7/64 of the corpus per
    * query. Fully oracle-checked — the hyperplanes' exact-binary-fraction
    * components make both engines compute identical buckets. */
  def q_ann_hplsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).withColumn("bucket", expr(bucketExpr))
    val a = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("bucket"), col("embedding").as("va"))
      .withColumn("probe", explode(expr(
        "array(bucket, bucket ^ 1, bucket ^ 2, bucket ^ 4, bucket ^ 8, bucket ^ 16, bucket ^ 32)")))
    val b = e.select(col("vec_id").as("b_id"), col("bucket").as("bb"), col("embedding").as("vb"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("sim_bp").desc, col("b_id"))
    broadcast(a).join(b, col("probe") === col("bb") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        floor(lit(10000.0) * expr("float_dot(va, vb)")).as("sim_bp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("a_id"), col("rn"))
  }

  /** Product-quantization ANN with asymmetric distance (ADC — Jégou,
    * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
    * IEEE PAMI 2011): the 4th ANN family member, the COMPRESSION tier —
    * [[q_ann_ivf]] prunes candidates, [[q_ann_sq8]] shrinks components
    * 4×, PQ shrinks a 64-float vector to 8 ONE-BYTE codes (32× — the
    * billion-vector memory tier FAISS IVFPQ ships) by cutting it into
    * 8 subspaces of 8 dims and snapping each sub-vector to its nearest
    * of 10 per-subspace codewords. Every number here is an exact
    * BIGINT: components micro-quantize to floor(1e6·x), codewords are
    * per-(subspace, label) means (one exact-integer-input double
    * division, floored — IEEE-identical in both engines), assignment
    * and ADC are integer squared-L2, and the per-subspace argmin is a
    * packed `min(dist·16 + label)` (dist < 2⁴⁶, label < 16 — no window,
    * no struct comparators).
    *
    * The Catalyst shape IS the paper's serving architecture: the
    * 640-row codebook and the 800-row query LUT (per (query, subspace,
    * codeword) distances — ADC's whole trick: queries stay EXACT, only
    * the corpus is coded) broadcast; the corpus is coded in one
    * posexplode + two two-phase aggregations keyed (vec_id, sub[, label])
    * — map-side combine bounds every shuffle by corpus×subspaces, and
    * scoring is a map-side broadcast-LUT join + one 8-term sum per
    * (query, candidate). At 100 TB: same plan with the codebook trained
    * on a sample; compose with IVF's cell filter for the full IVFPQ. */
  def q_ann_pq(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("a_id")).orderBy(col("adc"), col("b_id"))
    pqAdcScores(Tables.embeddings(spark, dir))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"), col("adc"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** The PQ/ADC scored candidate frame — (a_id, b_id, adc) for every
    * (query, candidate) pair, query = vec_id < 10 — shared by
    * [[q_ann_pq]] (ADC ranks ARE the answer) and
    * [[graft.queries.Retrieval.q_ann_refine]] (ADC ranks make the
    * shortlist; exact cosine re-ranks it). Recipe documented at
    * [[q_ann_pq]]. */
  private[queries] def pqAdcScores(e: DataFrame): DataFrame = {
    val dims = e
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"),
        (col("pos").cast("long") / lit(8)).cast("long").as("sub"),
        pmod(col("pos").cast("long"), lit(8)).as("dim"),
        floor(lit(1000000.0) * col("x").cast("double")).as("qv"))
    // codebook: per (subspace, label, dim) floored mean — 8×10×8 = 640 rows
    val cb = dims.groupBy(col("sub"), col("label"), col("dim"))
      .agg(floor(sum(col("qv")) / count(lit(1))).as("c"))
    // per (vector, subspace, codeword) exact squared-L2 — the shared
    // frame behind BOTH the corpus encoding and the query LUT (the
    // vector's OWN label mattered only for training; `label` below is
    // the candidate codeword's)
    val sdist = dims.drop("label").join(broadcast(cb), Seq("sub", "dim"))
      .groupBy(col("vec_id"), col("sub"), col("label"))
      .agg(sum((col("qv") - col("c")) * (col("qv") - col("c"))).as("dist"))
    val enc = sdist.groupBy(col("vec_id"), col("sub"))
      .agg(pmod(min(col("dist") * lit(16L) + col("label")), lit(16L)).as("code"))
      .select(col("vec_id").as("b_id"), col("sub"), col("code"))
    val lut = sdist.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("sub").as("lsub"),
        col("label"), col("dist").as("qdist"))
    enc.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("label") &&
          col("b_id") =!= col("a_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("qdist")).as("adc"))
  }

  /** IVFPQ — the composed FAISS serving shape (Jégou et al. 2011, §V:
    * coarse quantizer + product codes): [[q_ann_ivf]]'s cell filter and
    * [[q_ann_pq]]'s ADC scoring in ONE plan. Every vector is PQ-coded
    * exactly as in q_ann_pq (8 subspaces × one byte), but the scoring
    * join's equi keys now INCLUDE the coarse cell (`label`), so a query
    * ADC-scores only its own cell's ~1/10th of the corpus — the inverted
    * list — instead of every coded vector. That is the whole IVFPQ
    * economics: the cell prune bounds candidates per query, the codes
    * bound bytes per candidate, and both ride broadcast joins (640-row
    * codebook, 800-row query LUT), never a pair shuffle. At 100 TB: the
    * corpus stays partitioned by cell, queries broadcast, and each
    * executor scores only the cells it hosts — same plan, a thousand
    * executors. Exact-integer arithmetic end to end (micro-quantized
    * components, integer squared-L2, packed argmin), so the DuckDB
    * oracle reproduces it bit-for-bit. */
  /** (vec_id, label, sub, dim, qv): quantized per-dimension values in 8-dim
    * subspaces — the shared front of PQ encode and query-LUT build. */
  private def pqDims(e: DataFrame): DataFrame = e
    .select(col("vec_id"), col("label").cast("long").as("label"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
    .select(col("vec_id"), col("label"),
      (col("pos").cast("long") / lit(8)).cast("long").as("sub"),
      pmod(col("pos").cast("long"), lit(8)).as("dim"),
      floor(lit(1000000.0) * col("x").cast("double")).as("qv"))

  /** Per (vector, subspace, codeword) exact squared-L2 against the
    * codebook, the vector's own CELL carried through. */
  private def pqSdist(dims: DataFrame, cb: DataFrame): DataFrame =
    dims.join(broadcast(cb), Seq("sub", "dim"))
      .groupBy(col("vec_id"), col("label"), col("sub"), col("cw"))
      .agg(sum((col("qv") - col("c")) * (col("qv") - col("c"))).as("dist"))

  /** ADC serve over an encoded corpus: query LUT joined to the inverted
    * lists ON (cell, subspace, codeword) — the tail q_ann_ivfpq and its
    * stored-index twin share verbatim. */
  private def pqServe(enc: DataFrame, lut: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("a_id")).orderBy(col("adc"), col("b_id"))
    enc.join(broadcast(lut),
        col("lb") === col("la") && // the IVF cell prune, ON the join keys
          col("sub") === col("lsub") && col("code") === col("cw") &&
          col("b_id") =!= col("a_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("qdist")).as("adc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"), col("adc"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  def q_ann_ivfpq(spark: SparkSession, dir: String): DataFrame = {
    val dims = pqDims(Tables.embeddings(spark, dir))
    // codebook: per (subspace, codeword, dim) floored mean — trained per
    // label exactly as q_ann_pq's (`cw` IS the training label there)
    val cb = dims.groupBy(col("sub"), col("label").as("cw"), col("dim"))
      .agg(floor(sum(col("qv")) / count(lit(1))).as("c"))
    val sdist = pqSdist(dims, cb)
    val enc = sdist.groupBy(col("vec_id"), col("label"), col("sub"))
      .agg(pmod(min(col("dist") * lit(16L) + col("cw")), lit(16L)).as("code"))
      .select(col("vec_id").as("b_id"), col("label").as("lb"),
        col("sub"), col("code"))
    val lut = sdist.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("label").as("la"),
        col("sub").as("lsub"), col("cw"), col("dist").as("qdist"))
    pqServe(enc, lut)
  }

  /** PERSISTED ANN index (round-11 verdict #4): the PQ codebook and the
    * encoded inverted lists are built ONCE (publishOnce discipline) and
    * stored as TxTables — codes range-laid-out by IVF cell with stats on
    * `lb`, so a cell-targeted probe prunes at the manifest; the SERVE
    * plan reads the stored index, builds the query LUT from the QUERY
    * vectors only (pushed `vec_id < 10` scan), and never re-encodes the
    * corpus (PqSpec pins exactly one Generate — the query-side explode —
    * in the executed plan). This is the production serve shape at 100 TB:
    * encode is ingest, the index is a table, a query costs a LUT build
    * plus one join against the lists. Same ADC oracle as q_ann_ivfpq.
    * The index build now lands its TAIL BATCH through [[refreshPqIndex]]
    * (see [[ivfpqIndexRoot]]) so the gate's oracle also covers the
    * incremental-maintenance path. */
  /** INCREMENTAL ANN index maintenance (round-12 verdict #3): encode
    * ONLY `delta` (newly arrived or re-embedded vectors) against the
    * STORED codebook — held FIXED, the FAISS production rule: per-batch
    * retraining would shift every centroid and force a full corpus
    * re-encode, so drift is handled by scheduled rebuilds, never by
    * ingest — and MERGE the fresh codes into the stored inverted lists
    * keyed by `b_id`. Re-embedded vectors replace their old codes
    * copy-on-write; appended vectors land as inserts; and because codes
    * files carry `b_id` stats, a monotone-id ingest (the streaming
    * shape) rewrites ZERO stored list files — the merge's interval
    * probe proves every old file disjoint from the new ids (PqSpec pins
    * rewrittenFiles == 0 and the delta-only encode cost). At 100 TB a
    * batch costs encoding |delta| vectors plus appending |delta| code
    * rows; the standing lists never move. */
  def refreshPqIndex(spark: SparkSession, indexRoot: String,
      delta: DataFrame): graft.tables.TxTable.MergeResult = {
    import graft.tables.TxTable
    val cb = TxTable.open(s"$indexRoot/codebook").read(spark)
    val enc = pqSdist(pqDims(delta), cb)
      .groupBy(col("vec_id"), col("label"), col("sub"))
      .agg(pmod(min(col("dist") * lit(16L) + col("cw")), lit(16L)).as("code"))
      .select(col("vec_id").as("b_id"), col("label").as("lb"),
        col("sub"), col("code"))
    TxTable.open(s"$indexRoot/codes").merge(spark, enc, "b_id")
  }

  /** ANN INDEX TAKEDOWN (r14 verdict #4 — the GDPR/opt-out shape): stop
    * serving a band of vector ids from the PERSISTED index WITHOUT a
    * corpus re-encode or a list rebuild. Routes through the codes
    * TxTable's POSITIONAL delete on `b_id` (a stat column): files whose
    * id interval is provably all-in the band DROP metadata-only, files
    * provably disjoint carry BY NAME (zero rewrites — the common case,
    * since ingest batches land id-banded code files), and stragglers
    * get their row positions tombstoned in a deletion vector. Every
    * serve path ([[q_ann_ivfpq_indexed]] / [[q_ann_ivfpq_nprobe]])
    * reads the codes table DV-aware, so a deleted id stops serving at
    * the next read — the stored lists never move, the codebook and
    * centroids never retrain. PqSpec pins the zero-rewrite accounting
    * and the serve exclusion. */
  def deletePqIndex(spark: SparkSession, indexRoot: String,
      loId: Long, hiId: Long): graft.tables.TxTable.PositionalDeleteResult =
    graft.tables.TxTable.open(s"$indexRoot/codes")
      .deletePositional(spark, "b_id", loId, hiId)

  /** The published base+refresh index build behind
    * [[q_ann_ivfpq_indexed]], exposed so PqSpec can pin the refresh
    * accounting: the LAST 50 vectors arrive through
    * [[refreshPqIndex]] as a later ingest batch (delta-only encode +
    * merge), the rest through the initial build, and the lineage ends
    * with a real TAKEDOWN — 50 synthetic vectors ingested incrementally
    * then deleted by id band ([[deletePqIndex]]), so the published
    * index history carries append + delete while the FINAL state stays
    * exactly the corpus (the serve gates' DuckDB oracles hold
    * unchanged). The codebook is trained once on the full corpus — the
    * "day-0 training" stand-in that keeps the DuckDB oracle exact;
    * production trains on a sample and the refresh path is identical.
    * Returns (root, refresh result). */
  private[graft] def ivfpqIndexRoot(spark: SparkSession, dir: String)
      : (String, Option[graft.tables.TxTable.MergeResult]) = {
    import graft.tables.TxTable
    val fp = Tables.sourceFingerprint(dir, "embeddings.parquet")
    var refreshed: Option[TxTable.MergeResult] = None
    val root = Tables.publishOnce(s"graft_ivfpq_index4_$fp") { tmp =>
      val all = Tables.embeddings(spark, dir)
      val splitId = all.agg(max(col("vec_id"))).head().getLong(0) - 49L
      val dims = pqDims(all)
      val cb = dims.groupBy(col("sub"), col("label").as("cw"), col("dim"))
        .agg(floor(sum(col("qv")) / count(lit(1))).as("c"))
      // COARSE centroids (per cell × dim, exact floored means) are part
      // of the stored index too — the nprobe serve ranks cells against
      // them instead of re-deriving anything from the corpus; like the
      // codebook they are trained at build and held FIXED across
      // refreshes (the FAISS coarse-quantizer contract)
      val cent = dims.groupBy(col("label").as("cl"), col("sub"), col("dim"))
        .agg(floor(sum(col("qv")) / count(lit(1))).as("cc"))
      val encBase = pqSdist(dims.filter(col("vec_id") < splitId), cb)
        .groupBy(col("vec_id"), col("label"), col("sub"))
        .agg(pmod(min(col("dist") * lit(16L) + col("cw")), lit(16L)).as("code"))
        .select(col("vec_id").as("b_id"), col("label").as("lb"),
          col("sub"), col("code"))
      // b_id rides the stat set so the refresh merge can prove stored
      // list files disjoint from a monotone ingest's new ids
      new TxTable(s"$tmp/codes", Seq("lb", "b_id"))
        .append(spark, encBase.repartitionByRange(4, col("lb")))
      new TxTable(s"$tmp/codebook", Seq("sub"))
        .append(spark, cb.repartition(1))
      new TxTable(s"$tmp/centroids", Seq("cl"))
        .append(spark, cent.repartition(1))
      // the tail batch lands through the INCREMENTAL path
      refreshed = Some(refreshPqIndex(spark, tmp,
        all.filter(col("vec_id") >= splitId)))
      // TAKEDOWN lineage (r14 verdict #4): 50 synthetic vectors arrive
      // incrementally, then delete by id band — monotone ids land in
      // their own code files, so the delete drops them METADATA-ONLY
      // (zero list rewrites) and the final state equals the corpus
      val maxId = splitId + 49L
      refreshPqIndex(spark, tmp, all.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + lit(maxId + 1L)))
      deletePqIndex(spark, tmp, maxId + 1L, maxId + 50L)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS")); ()
    }
    (root, refreshed)
  }

  // spec seams: the private PQ stages, exposed so PqSpec can rebuild a
  // PRIVATE index copy and pin the refresh accounting without touching
  // the shared published root
  private[graft] def pqDimsForSpec(e: DataFrame): DataFrame = pqDims(e)
  private[graft] def pqSdistForSpec(dims: DataFrame, cb: DataFrame): DataFrame =
    pqSdist(dims, cb)

  def q_ann_ivfpq_indexed(spark: SparkSession, dir: String): DataFrame = {
    import graft.tables.TxTable
    val root = ivfpqIndexRoot(spark, dir)._1
    val codes = TxTable.open(s"$root/codes").read(spark)
    val cb = TxTable.open(s"$root/codebook").read(spark)
    val qdims = pqDims(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < 10) // query vectors only — pushed to the scan
    val lut = pqSdist(qdims, cb)
      .select(col("vec_id").as("a_id"), col("label").as("la"),
        col("sub").as("lsub"), col("cw"), col("dist").as("qdist"))
    pqServe(codes, lut)
  }

  /** nprobe = 2 over the PERSISTED IVF-PQ index (round-13 verdict #4):
    * the production vector-serving shape — [[q_ann_ivfpq_indexed]]
    * scans one cell per query; here the STORED coarse centroids rank
    * every cell by exact integer query→centroid squared-L2, the TWO
    * nearest cells' stored inverted lists are ADC-scored against the
    * query LUT built from the STORED codebook, and the corpus is never
    * re-encoded: per query the serve costs a tiny LUT (query rows only,
    * pushed scan) plus one equi join into the pruned lists. Centroids,
    * codebook, and lists all read from the index root; nprobe
    * multiplies per-query candidates, never the shuffle pattern (the
    * candidate join stays EQUI on the cell key). PqSpec pins the
    * query-side-only explode count, the pushed query filter, and that
    * the serve commits nothing to the stored tables. */
  def q_ann_ivfpq_nprobe(spark: SparkSession, dir: String): DataFrame = {
    import graft.tables.TxTable
    val root = ivfpqIndexRoot(spark, dir)._1
    val codes = TxTable.open(s"$root/codes").read(spark)
    val cb = TxTable.open(s"$root/codebook").read(spark)
    val cent = TxTable.open(s"$root/centroids").read(spark)
    val qdims = pqDims(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < 10) // query vectors only — pushed to the scan
    val cellDist = qdims.join(broadcast(cent), Seq("sub", "dim"))
      .groupBy(col("vec_id").as("a_id"), col("cl"))
      .agg(sum((col("qv") - col("cc")) * (col("qv") - col("cc"))).as("cd"))
    val wp = Window.partitionBy(col("a_id")).orderBy(col("cd"), col("cl"))
    val probes = cellDist.withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= 2).select(col("a_id").as("p_id"), col("cl"))
    val lut = pqSdist(qdims, cb)
      .select(col("vec_id").as("a_id"), col("sub").as("lsub"),
        col("cw"), col("dist").as("qdist"))
      .join(broadcast(probes), col("a_id") === col("p_id"))
      .select(col("a_id"), col("cl").as("la"), col("lsub"), col("cw"),
        col("qdist"))
    pqServe(codes, lut)
  }

  /** Shard packing — the webdataset-creation step of a training pipeline:
    * documents in a stable order are greedily packed into shards of a
    * fixed character budget (a doc's shard = its START offset ÷ budget,
    * from a running total), then summarized per shard. The global running
    * sum EXECUTES as Q.runningSumById's two-phase prefix offsets
    * (range-partition by doc_id → partition-local fold → P-row offset
    * prefix broadcast back) — never the `sum() OVER (ORDER BY doc_id)`
    * window, whose plan moves the whole corpus to ONE partition. */
  def q_shard_pack(spark: SparkSession, dir: String): DataFrame = {
    Q.runningSumById(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", "end_off")
      .withColumn("shard", floor((col("end_off") - col("n_chars")) / 20000L))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("shard"))
  }

  /** TF-IDF-style term scoring without log (ln/exp are banned by the
    * determinism rules — libm variance): per-(doc, term) tf, corpus df,
    * and the rarity-weighted score floor(10000·tf/df) in basis points;
    * top-3 terms per doc with a total tie order. The shape is the real
    * pipeline's: tokenize → per-doc aggregate → corpus-wide df join →
    * per-doc top-k window — tf is map-side combinable, df shuffles once
    * by term, and the top-k window shuffles by doc. */
  def q_text_tfidf(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    // df derives FROM tf (one row per (doc, word) ⇒ count per word = df),
    // and tf is persisted: its two consumers prune DIFFERENT columns (the
    // join needs the count, the df branch only the keys), which makes the
    // subplans canonically unequal and defeats ReuseExchange — without the
    // persist the corpus is tokenized once per consumer (verified: 3
    // Generate nodes in the executed plan, 1 with the persist)
    val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "word")
      .withColumn("score_bp", floor(lit(10000.0) * col("tf") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_bp").desc, col("word").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score_bp"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_neardup" -> q_mm_neardup _,
    "q_text_pii" -> q_text_pii _,
    "q_sample_stratified" -> q_sample_stratified _,
    "q_shard_pack" -> q_shard_pack _,
    "q_text_tfidf" -> q_text_tfidf _,
    "q_ann_hplsh" -> q_ann_hplsh _,
    "q_text_lang_id" -> q_text_lang_id _,
    "q_text_quality" -> q_text_quality _,
    "q_text_tokens" -> q_text_tokens _,
    "q_text_repetition" -> q_text_repetition _,
    "q_text_contam" -> q_text_contam _,
    "q_text_fingerprint" -> q_text_fingerprint _,
    "q_ngram_jaccard" -> q_ngram_jaccard _,
    "q_embed_neardup" -> q_embed_neardup _,
    "q_ann_ivf" -> q_ann_ivf _,
    "q_ann_ivf_nprobe" -> q_ann_ivf_nprobe _,
    "q_ann_pq" -> q_ann_pq _,
    "q_ann_ivfpq" -> q_ann_ivfpq _,
    "q_ann_ivfpq_indexed" -> q_ann_ivfpq_indexed _,
    "q_ann_ivfpq_nprobe" -> q_ann_ivfpq_nprobe _,
    "q_vec_centroid" -> q_vec_centroid _,
    "q_dedup_minhash" -> q_dedup_minhash _,
    "q_dedup_minhash_sparse" -> q_dedup_minhash_sparse _,
    "q_dedup_simhash" -> q_dedup_simhash _,
    "q_dedup_simhash_planted" -> q_dedup_simhash_planted _,
    "q_dedup_cluster" -> q_dedup_cluster _,
    "q_dedup_semantic" -> q_dedup_semantic _,
    "q_kmeans_lloyd" -> q_kmeans_lloyd _,
    "q_graph_triangles" -> q_graph_triangles _,
    "q_text_containment" -> q_text_containment _,
    "q_text_editdist" -> q_text_editdist _,
    "q_sample_split" -> q_sample_split _,
    "q_pipeline_prepare" -> q_pipeline_prepare _,
    "q_text_norm" -> q_text_norm _,
    "q_mm_bytes" -> q_mm_bytes _,
  )

  // q_dedup_minhash / q_dedup_simhash: no oracle (xxhash64 engine-specific).
  private val oracleBase: Map[String, String] = Map(
    // the planted sparse LSH gate: 1000 arithmetic pairs (20r, 20r+1) —
    // no hash function is shared with the engine
    "q_dedup_minhash_sparse" ->
      """SELECT CAST(20 * r AS BIGINT) AS da, CAST(20 * r + 1 AS BIGINT) AS db
        |FROM range(1000) t(r) ORDER BY da, db""".stripMargin,
    // simhash planted twins: identical word SETS ⇒ bit-identical
    // signatures ⇒ hamming 0, pure arithmetic — no shared hash function
    "q_dedup_simhash_planted" ->
      """SELECT CAST(20 * r AS BIGINT) AS da, CAST(20 * r + 1 AS BIGINT) AS db,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM range(1000) t(r) ORDER BY da, db""".stripMargin,
    "q_text_pii" ->
      """SELECT c_custkey,
        |  regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted,
        |  CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g')) AS INT) AS n_digits
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, CAST(rk AS INT) AS rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "q_shard_pack" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
        |  FROM documents)
        |SELECT CAST(floor((end_off - n_chars) / 20000) AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    "q_ann_hplsh" -> {
      // generated from the SAME hyperplane constants as the Spark side;
      // the 1/16-step components parse to identical doubles in DuckDB
      def fold(p: Int) = {
        val lits = hplanes(p).map(v => f"$v%s").mkString("[", ",", "]")
        s"list_sum(list_transform(list_zip(embedding, $lits), t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))"
      }
      val bucket = (0 until 6)
        .map(p => s"(CASE WHEN ${fold(p)} > 0 THEN ${1L << p} ELSE 0 END)")
        .mkString("CAST(", " + ", " AS BIGINT)")
      s"""WITH hb AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
         |p AS (SELECT vec_id AS a_id, embedding AS va,
         |        unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
         |                xor(bucket, 8), xor(bucket, 16), xor(bucket, 32)]) AS probe
         |      FROM hb WHERE vec_id < 10),
         |c AS (SELECT p.a_id, b.vec_id AS b_id,
         |        CAST(floor(10000.0 * list_sum(list_transform(list_zip(p.va, b.embedding),
         |          t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
         |      FROM p JOIN hb b ON b.bucket = p.probe AND b.vec_id <> p.a_id)
         |SELECT a_id, b_id, sim_bp, rn FROM (
         |  SELECT a_id, b_id, sim_bp,
         |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY sim_bp DESC, b_id) AS INT) AS rn
         |  FROM c)
         |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin
    },
    "q_text_tfidf" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
        |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |        CAST(floor(10000.0 * tf.tf / df.df) AS BIGINT) AS score_bp
        |      FROM tf JOIN df USING (word)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_bp DESC, word ASC) AS rk FROM s)
        |SELECT doc_id, CAST(rk AS INT) AS rk, word, tf, df, score_bp
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_text_lang_id" ->
      """SELECT doc_id, lang, n_en, n_de, n_es, n_fr,
        |  CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr AND n_en > 0 THEN 'en'
        |       WHEN n_de >= n_es AND n_de >= n_fr AND n_de > 0 THEN 'de'
        |       WHEN n_es >= n_fr AND n_es > 0 THEN 'es'
        |       WHEN n_fr > 0 THEN 'fr'
        |       ELSE 'unknown' END AS pred_lang
        |FROM (SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','a','to'))) AS INT) AS n_en,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('der','die','und','das'))) AS INT) AS n_de,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('el','la','los','y'))) AS INT) AS n_es,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('le','les','et','un'))) AS INT) AS n_fr
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, n_chars, n_words, n_uniq, n_stop,
        |  CAST(floor(10000.0 * n_uniq / NULLIF(n_words, 0)) AS BIGINT) AS uniq_bp,
        |  CAST(floor(10000.0 * n_stop / NULLIF(n_words, 0)) AS BIGINT) AS stop_bp,
        |  CAST(floor(10000.0 * n_chars / NULLIF(n_words, 0)) AS BIGINT) AS cpw_bp,
        |  CASE WHEN floor(10000.0 * n_uniq / NULLIF(n_words, 0)) > 3000
        |        AND floor(10000.0 * n_stop / NULLIF(n_words, 0)) < 3000
        |       THEN 'good' ELSE 'low' END AS verdict
        |FROM (SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','a','to'))) AS INT) AS n_stop
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_re,
        |  CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 5)) AS INT) AS n_long
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      """SELECT doc_id, n_words, n_uniq, top_word_n,
        |  CAST(floor(10000.0 * (n_words - n_uniq) / NULLIF(n_words, 0)) AS BIGINT) AS dup_bp,
        |  CAST(floor(10000.0 * top_word_n / NULLIF(n_words, 0)) AS BIGINT) AS top_bp,
        |  CASE WHEN floor(10000.0 * (n_words - n_uniq) / NULLIF(n_words, 0)) > 5000
        |         OR floor(10000.0 * top_word_n / NULLIF(n_words, 0)) > 2000
        |       THEN 'repetitive' ELSE 'ok' END AS verdict
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
        |    CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
        |         w -> len(list_filter(string_split(text, ' '), x -> x = w)))) AS INT) AS top_word_n
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_text_contam" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(['slow join', 'fast scan', 'window merge'],
        |    p -> contains(text, p)), ',') AS hits
        |FROM documents
        |WHERE len(list_filter(['slow join', 'fast scan', 'window merge'],
        |    p -> contains(text, p))) > 0
        |ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '), w -> CAST(ascii(w) + length(w) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp,
        |  substr(md5(text), 1, 16) AS md5_pfx
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_distinct(list_transform(range(1, length(text) - 1), i -> substr(text, i, 3)))) AS g
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da, db, CAST(floor(10000.0 * i / (sa.n + sb.n - i)) AS BIGINT) AS jacc_bp
        |FROM inter JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
        |WHERE floor(10000.0 * i / (sa.n + sb.n - i)) >= 5000
        |ORDER BY da, db""".stripMargin,
    "q_embed_neardup" ->
      """SELECT a.vec_id AS da, b.vec_id AS db,
        |  CAST(floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |       t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id AND a.label = b.label
        |WHERE floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |       t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) >= 3000
        |ORDER BY da, db""".stripMargin,
    "q_ann_ivf" ->
      """WITH d AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    CAST(floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |         t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id < 10 AND a.label = b.label AND a.vec_id <> b.vec_id)
        |SELECT a_id, b_id, sim_bp, rn FROM (
        |  SELECT a_id, b_id, sim_bp,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY sim_bp DESC, b_id) AS INT) AS rn
        |  FROM d)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_ann_ivf_nprobe" ->
      """WITH dims AS (
        |  SELECT vec_id, label, ord AS pos,
        |    CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT) AS q
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS ord FROM embeddings)),
        |cent AS (
        |  SELECT label AS cl, pos, CAST(floor(sum(q) / count(*)) AS BIGINT) AS c
        |  FROM dims GROUP BY label, pos),
        |cd AS (
        |  SELECT d.vec_id AS a_id, cent.cl,
        |    sum((d.q - cent.c) * (d.q - cent.c)) AS cd
        |  FROM dims d JOIN cent ON d.pos = cent.pos
        |  WHERE d.vec_id < 10 GROUP BY d.vec_id, cent.cl),
        |probes AS (
        |  SELECT a_id, cl FROM (
        |    SELECT a_id, cl,
        |      row_number() OVER (PARTITION BY a_id ORDER BY cd, cl) AS pr
        |    FROM cd)
        |  WHERE pr <= 2),
        |d AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    CAST(floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |         t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) AS BIGINT) AS sim_bp
        |  FROM embeddings a
        |  JOIN probes p ON p.a_id = a.vec_id
        |  JOIN embeddings b ON b.label = p.cl AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10)
        |SELECT a_id, b_id, sim_bp, rn FROM (
        |  SELECT a_id, b_id, sim_bp,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY sim_bp DESC, b_id) AS INT) AS rn
        |  FROM d)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_ann_pq" ->
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
        |  WHERE e.b_id <> l.a_id GROUP BY l.a_id, e.b_id)
        |SELECT a_id, b_id, adc, rn FROM (
        |  SELECT a_id, b_id, adc,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY adc, b_id) AS INT) AS rn
        |  FROM adc)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_ann_ivfpq" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    (ord - 1) // 8 AS sub, (ord - 1) % 8 AS dim,
        |    CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS ord FROM embeddings)),
        |cb AS (
        |  SELECT sub, label AS cw, dim, CAST(floor(sum(qv) / count(*)) AS BIGINT) AS c
        |  FROM dims GROUP BY sub, label, dim),
        |sdist AS (
        |  SELECT d.vec_id, d.label, d.sub, cb.cw,
        |    CAST(sum((d.qv - cb.c) * (d.qv - cb.c)) AS BIGINT) AS dist
        |  FROM dims d JOIN cb ON d.sub = cb.sub AND d.dim = cb.dim
        |  GROUP BY d.vec_id, d.label, d.sub, cb.cw),
        |enc AS (
        |  SELECT vec_id AS b_id, label AS lb, sub,
        |    min(dist * 16 + cw) % 16 AS code
        |  FROM sdist GROUP BY vec_id, label, sub),
        |lut AS (
        |  SELECT vec_id AS a_id, label AS la, sub, cw, dist AS qdist
        |  FROM sdist WHERE vec_id < 10),
        |adc AS (
        |  SELECT l.a_id, e.b_id, CAST(sum(l.qdist) AS BIGINT) AS adc
        |  FROM enc e JOIN lut l
        |    ON e.lb = l.la AND e.sub = l.sub AND e.code = l.cw
        |  WHERE e.b_id <> l.a_id GROUP BY l.a_id, e.b_id)
        |SELECT a_id, b_id, adc, rn FROM (
        |  SELECT a_id, b_id, adc,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY adc, b_id) AS INT) AS rn
        |  FROM adc)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_ann_ivfpq_nprobe" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    (ord - 1) // 8 AS sub, (ord - 1) % 8 AS dim,
        |    CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS ord FROM embeddings)),
        |cb AS (
        |  SELECT sub, label AS cw, dim, CAST(floor(sum(qv) / count(*)) AS BIGINT) AS c
        |  FROM dims GROUP BY sub, label, dim),
        |cent AS (
        |  SELECT label AS cl, sub, dim,
        |    CAST(floor(sum(qv) / count(*)) AS BIGINT) AS cc
        |  FROM dims GROUP BY label, sub, dim),
        |cd AS (
        |  SELECT d.vec_id AS a_id, cent.cl,
        |    sum((d.qv - cent.cc) * (d.qv - cent.cc)) AS cd
        |  FROM dims d JOIN cent ON d.sub = cent.sub AND d.dim = cent.dim
        |  WHERE d.vec_id < 10 GROUP BY d.vec_id, cent.cl),
        |probes AS (
        |  SELECT a_id, cl FROM (
        |    SELECT a_id, cl,
        |      row_number() OVER (PARTITION BY a_id ORDER BY cd, cl) AS pr
        |    FROM cd)
        |  WHERE pr <= 2),
        |sdist AS (
        |  SELECT d.vec_id, d.label, d.sub, cb.cw,
        |    CAST(sum((d.qv - cb.c) * (d.qv - cb.c)) AS BIGINT) AS dist
        |  FROM dims d JOIN cb ON d.sub = cb.sub AND d.dim = cb.dim
        |  GROUP BY d.vec_id, d.label, d.sub, cb.cw),
        |enc AS (
        |  SELECT vec_id AS b_id, label AS lb, sub,
        |    min(dist * 16 + cw) % 16 AS code
        |  FROM sdist GROUP BY vec_id, label, sub),
        |lut AS (
        |  SELECT vec_id AS a_id, sub, cw, dist AS qdist
        |  FROM sdist WHERE vec_id < 10),
        |adc AS (
        |  SELECT l.a_id, e.b_id, CAST(sum(l.qdist) AS BIGINT) AS adc
        |  FROM enc e
        |  JOIN probes p ON e.lb = p.cl
        |  JOIN lut l ON l.a_id = p.a_id AND e.sub = l.sub AND e.code = l.cw
        |  WHERE e.b_id <> l.a_id GROUP BY l.a_id, e.b_id)
        |SELECT a_id, b_id, adc, rn FROM (
        |  SELECT a_id, b_id, adc,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY adc, b_id) AS INT) AS rn
        |  FROM adc)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_kmeans_lloyd" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(1000000 * CAST(x AS DOUBLE)) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid, qv FROM (
        |    SELECT q.vec_id, c.cid, q.qv,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.qv, c.qc), t -> t[1] * t[2])) DESC, c.cid) AS rn
        |    FROM q CROSS JOIN c0 c) WHERE rn = 1),
        |u1 AS (SELECT cid, ord,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS c
        |  FROM (SELECT cid, unnest(qv) AS v, generate_subscripts(qv, 1) AS ord FROM a1)
        |  GROUP BY cid, ord),
        |c1 AS (SELECT cid, list(c ORDER BY ord) AS qc FROM u1 GROUP BY cid),
        |a2 AS (SELECT vec_id, cid FROM (
        |    SELECT q.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.qv, c.qc), t -> t[1] * t[2])) DESC, c.cid) AS rn
        |    FROM q CROSS JOIN c1 c) WHERE rn = 1)
        |SELECT vec_id, cid FROM a2 ORDER BY vec_id""".stripMargin,
    "q_pipeline_prepare" ->
      """WITH s AS (
        |  SELECT doc_id, text, n_chars,
        |    len(string_split(text, ' ')) AS n_words,
        |    CAST(floor(10000.0 * len(list_distinct(string_split(text, ' ')))
        |         / NULLIF(len(string_split(text, ' ')), 0)) AS BIGINT) AS uniq_bp,
        |    CAST(floor(10000.0 * len(list_filter(string_split(text, ' '),
        |           w -> w IN ('the','and','of','a','to')))
        |         / NULLIF(len(string_split(text, ' ')), 0)) AS BIGINT) AS stop_bp
        |  FROM documents),
        |f AS (SELECT * FROM s WHERE uniq_bp > 3000 AND stop_bp < 3000),
        |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f),
        |sv AS (SELECT * FROM d WHERE rn = 1),
        |b AS (SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) AS bucket FROM sv)
        |SELECT CASE WHEN bucket < 52429 THEN 'train'
        |            WHEN bucket < 58982 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "q_graph_triangles" ->
      """WITH v AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 1000),
        |p AS (
        |  SELECT a.vec_id AS da, b.vec_id AS db
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) >= 2000),
        |tri AS (
        |  SELECT e1.da AS a, e1.db AS b, e2.db AS c
        |  FROM p e1 JOIN p e2 ON e1.db = e2.da
        |       JOIN p e3 ON e3.da = e1.da AND e3.db = e2.db)
        |SELECT vec_id, count(*) AS n_tri FROM (
        |  SELECT unnest([a, b, c]) AS vec_id FROM tri)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_dedup_semantic" ->
      """WITH v AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 1000),
        |p AS (
        |  SELECT a.vec_id AS da, b.vec_id AS db
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE floor(10000.0 * list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))) >= 3000),
        |edges AS (SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p),
        |reach AS (
        |  WITH RECURSIVE rr(a, b) AS (
        |    SELECT vec_id, vec_id FROM v
        |    UNION
        |    SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a)
        |  SELECT * FROM rr)
        |SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,
    "q_text_containment" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_distinct(list_transform(range(1, length(text) - 1), i -> substr(text, i, 3)))) AS g
        |      FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
        |          FROM g a JOIN g b ON a.g = b.g AND a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT da, db, CAST(floor(10000.0 * c / sa.n) AS BIGINT) AS cont_bp
        |FROM inter JOIN sz sa ON da = sa.doc_id
        |WHERE floor(10000.0 * c / sa.n) >= 9000
        |ORDER BY da, db""".stripMargin,
    "q_text_editdist" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS k FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, levenshtein(a.k, b.k) AS dist
        |  FROM d a JOIN d b ON a.doc_id <> b.doc_id
        |  WHERE a.doc_id < 200 AND b.doc_id < 2000)
        |SELECT da, db AS nn, CAST(dist AS BIGINT) AS dist FROM (
        |  SELECT da, db, dist,
        |    row_number() OVER (PARTITION BY da ORDER BY dist, db) AS rn
        |  FROM pairs)
        |WHERE rn = 1 ORDER BY da""".stripMargin,
    "q_dedup_cluster" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
        |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db FROM inter JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
        |  WHERE floor(10000.0 * i / (sa.n + sb.n - i)) >= 8000),
        |edges AS (SELECT da AS a, db AS b FROM pairs UNION ALL SELECT db, da FROM pairs),
        |reach AS (
        |  WITH RECURSIVE rr(a, b) AS (
        |    SELECT doc_id, doc_id FROM d
        |    UNION
        |    SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a)
        |  SELECT * FROM rr)
        |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "q_sample_split" ->
      """SELECT split, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (
        |  SELECT n_chars, doc_id,
        |    CASE WHEN b < 52429 THEN 'train' WHEN b < 58982 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, n_chars,
        |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS b
        |        FROM documents))
        |GROUP BY split ORDER BY split""".stripMargin,
    "q_text_norm" ->
      """SELECT doc_id,
        |  regexp_replace(text, '[^a-z ]', '', 'g') AS letters,
        |  translate(text, 'aeiou', 'AEIOU') AS tr,
        |  array_to_string((string_split(text, ' '))[1:5], ' ') AS head5,
        |  CAST(length(text) AS INT) AS len_raw
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_vec_centroid" ->
      """SELECT label, CAST(ord AS INT) AS dim,
        |  CAST(sum(CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_q,
        |  count(*) AS n
        |FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS ord
        |      FROM embeddings)
        |GROUP BY label, ord ORDER BY label, dim""".stripMargin,
    "q_mm_bytes" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(ascii(text) AS INT) AS first_byte,
        |  array_to_string(list_transform(range(1, 9), i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS VARCHAR)), ',') AS byte_sample
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the planted-twin pair set is pure arithmetic: ids (20r, 20r+1)
    // share pixels (hamming 0, px_diff 0), everything else is an
    // independent 64-bit dHash (P(hamming ≤ 3) ≈ 2⁻⁴⁶ per pair)
    "q_mm_neardup" ->
      """SELECT CAST(20 * r AS BIGINT) AS da, CAST(20 * r + 1 AS BIGINT) AS db,
        |  CAST(0 AS BIGINT) AS hamming, CAST(0 AS BIGINT) AS px_diff
        |FROM range(200) t(r) ORDER BY da""".stripMargin,
  )

  // the stored-index serve path computes the SAME ADC answer — it earns
  // q_ann_ivfpq's oracle verbatim
  val oracle: Map[String, String] =
    oracleBase + ("q_ann_ivfpq_indexed" -> oracleBase("q_ann_ivfpq"))
}
