package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 third continuation: pipeline validation (constraint audit),
  * the map-side quantile bucketizer that q_win_ntile's doc names as its
  * scale sibling, tokenizer-vocabulary prep, incremental join
  * maintenance, the DSv2-connector query, Spark-4 VARIANT extraction,
  * and GPT-style sequence packing.
  *
  * Determinism follows SURVEY.md §2.10 / [[Q]]: integer or exact-stored
  * values in every hashed column, explicit total ORDER BY, types pinned on
  * both engines.
  */
object Analytics5 extends QueryModule {

  /** Declared-constraint audit (the Deequ/Great-Expectations tier next to
    * q_profile_stats's column profiling — that one DESCRIBES columns, this
    * one CHECKS contracts a pipeline declares before training on a drop):
    * EVERY constraint — range, null, key-uniqueness, AND referential —
    * rides ONE scan of lineitem: violation counters are map-combinable
    * conditional sums, uniqueness is count − countDistinct in the same
    * pass (planned via one Expand), and the FK check LEFT-joins the
    * broadcast orders-key dim so "no match" is just another conditional
    * sum in the same aggregate — never a second read, never a
    * per-constraint union of full passes. At 100 TB the audit costs
    * exactly one pass over the fact table plus a dim broadcast.
    * (l_orderkey, l_linenumber) is genuinely non-unique in this data
    * (~20% dup keys), so the uniqueness constraint demonstrably FAILS —
    * the audit proves it reports, not rubber-stamps. */
  def q_quality_audit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ok = Tables.orders(spark, dir).select(col("o_orderkey"))
    li.join(broadcast(ok), col("l_orderkey") === col("o_orderkey"), "left_outer")
      .agg(
        count(lit(1)).as("n"),
        sum(when(!col("l_quantity").between(1.0, 50.0) || col("l_quantity").isNull, 1L)
          .otherwise(0L)).as("v_qty"),
        sum(when(!col("l_discount").between(0.0, 1.0) || col("l_discount").isNull, 1L)
          .otherwise(0L)).as("v_disc"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_ship"),
        // keys are coalesced on BOTH engines: Spark's countDistinct SKIPS
        // tuples containing a NULL while DuckDB's count(DISTINCT (a,b))
        // counts null-field row-structs — pinning a sentinel makes the
        // uniqueness metric engine-independent even if a key is ever NULL
        (count(lit(1)) - countDistinct(coalesce(col("l_orderkey"), lit(-1L)),
          coalesce(col("l_linenumber"), lit(-1L)))).as("v_uniq"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_fk"))
      .selectExpr(
        """stack(5,
          |  'fk_orderkey_exists',    n, v_fk,
          |  'l_discount_in_0_1',     n, v_disc,
          |  'l_quantity_in_1_50',    n, v_qty,
          |  'l_shipdate_not_null',   n, v_ship,
          |  'pk_orderkey_linenumber_unique', n, v_uniq
          |) AS (check_name, n_checked, n_violations)""".stripMargin)
      .withColumn("pass", (col("n_violations") === 0L).cast("int"))
      .orderBy(col("check_name"))
  }

  /** Map-side quantile bucketizing — the scale sibling q_win_ntile's own
    * doc names: exact equi-depth via ntile sorts EVERY row per group, but
    * bucket ASSIGNMENT only needs the 3 boundary values. Stage 1 derives
    * per-type quartile boundaries (value at rank ⌊kn/4⌋ in (value,
    * event_id) order — a discrete quantile of exact stored doubles, no
    * interpolation arithmetic to diverge between engines) on a frame that
    * collapses to |types|×3 rows; stage 2 broadcast-joins those 15 rows
    * and assigns bucket = 1 + Σ(value > bₖ) as pure map-side comparisons.
    * At 100 TB stage 1 is the piece you swap for an approx_percentile
    * sketch (one map-combinable pass, no sort) while stage 2 — the part
    * that touches every row — is already shuffle-free. The oracle mirrors
    * the same rank-boundary definition. */
  def q_bucketize(spark: SparkSession, dir: String): DataFrame =
    bucketize(Tables.events(spark, dir)
        .select(col("event_type"), col("event_id"), col("value")))
      .orderBy(col("event_type"), col("event_id"))

  /** The bucketizer over a pre-projected (event_type, event_id, value)
    * frame — exposed so the spec can drive the degenerate cases. Pinned
    * semantics, identical on both engines: in a tiny group some boundary
    * ranks ⌊kn/4⌋ are 0, so those boundaries are NULL (n = 1 has none and
    * the group drops); `when(value > b, 1).otherwise(0)` treats a NULL
    * comparison as not-crossed, exactly DuckDB's `CASE WHEN value > b
    * THEN 1 ELSE 0 END` — a bare `(value > b).cast("long")` would instead
    * propagate NULL into the bucket and the engines would diverge. NULL
    * values rank NULLS LAST (pinned — the engines' ASC defaults differ)
    * and land in bucket 1. */
  def bucketize(ev: DataFrame): DataFrame = {
    // NULLS LAST pinned explicitly: Spark's ASC defaults to NULLS FIRST,
    // DuckDB's to NULLS LAST — unpinned, a NULL value would take rank 1 on
    // one engine and rank n on the other and shift every boundary
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc_nulls_last, col("event_id"))
    val bounds = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("n div 4") || col("rn") === expr("n * 2 div 4") ||
        col("rn") === expr("n * 3 div 4"))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("rn") === expr("n div 4"), col("value"))).as("b1"),
        min(when(col("rn") === expr("n * 2 div 4"), col("value"))).as("b2"),
        min(when(col("rn") === expr("n * 3 div 4"), col("value"))).as("b3"))
    def crossed(b: String) = when(col("value") > col(b), 1L).otherwise(0L)
    ev.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"), col("event_id"),
        (lit(1L) + crossed("b1") + crossed("b2") + crossed("b3")).as("bucket"))
  }

  /** Corpus vocabulary build — tokenizer prep (the id-assignment step
    * between q_text_tokens's counting and any embedding lookup): corpus
    * word frequencies via one explode + two-phase hash agg (map-side
    * combine collapses each partition to its distinct words before the
    * shuffle), then the top 200 by (count DESC, word) with vocab_id =
    * rank. The ranking window runs AFTER the limit, on a 200-row frame —
    * never on the vocabulary, never on the corpus (the SinglePartition
    * window stays O(k)); at 100 TB the only data-sized costs are the
    * scan and one |vocab|-keyed shuffle. Empty tokens from the shared
    * split convention are dropped on both engines. */
  def q_vocab_topk(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    counts
      .orderBy(col("n").desc, col("word"))
      .limit(200)
      .withColumn("vocab_id",
        row_number().over(Window.orderBy(col("n").desc, col("word"))).cast("long"))
      .select(col("vocab_id"), col("word"), col("n"))
      .orderBy(col("vocab_id"))
  }

  /** Incremental JOIN maintenance — the join face of q_agg_incremental's
    * materialized-view merge law (A⋈B where A = A_old ∪ ΔA, B = B_old ∪ ΔB):
    * R_new = (A_old⋈B_old) ∪ (ΔA⋈B_old) ∪ (A_old⋈ΔB) ∪ (ΔA⋈ΔB), each
    * partial pre-aggregated, the union re-aggregated — and the result must
    * equal the full recompute EXACTLY (the oracle IS the full join;
    * decimal revenue sums make re-aggregation order-independent). The
    * even/odd ship-day split stands in for stored-state-vs-ingest-batch;
    * the three Δ-touching joins broadcast the batch side, so at 100 TB
    * only A_old⋈B_old's pre-aggregated state is ever stored and each new
    * batch costs two broadcast joins plus a 5-row merge — history is
    * never re-joined. */
  def q_join_incremental(spark: SparkSession, dir: String): DataFrame = {
    import Q.{dec2, outDbl}
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (dayofmonth(col("o_orderdate")) % 2).as("od"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        (dayofmonth(col("l_shipdate")) % 2).as("ld"))
    val rev = dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))
    def part(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(rev).as("rev_dec"))
    val (oOld, oNew) = (o.filter(col("od") === 0), o.filter(col("od") === 1))
    val (lOld, lNew) = (l.filter(col("ld") === 0), l.filter(col("ld") === 1))
    Seq(part(oOld, lOld), part(broadcast(oNew), lOld),
        part(oOld, broadcast(lNew)), part(broadcast(oNew), lNew))
      .reduce(_ unionAll _)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n"), outDbl(sum(col("rev_dec"))).as("rev"))
      .orderBy(col("o_orderpriority"))
  }

  /** Stored-state incremental join — q_join_incremental's merge law with
    * the old-state partial PERSISTED TO PARQUET and read back before the
    * batch folds in, i.e. the shape a nightly 100 TB materialized view
    * actually runs: job 1 (here the write-once publish) joins history once
    * and stores the pre-aggregated partials (|priorities| rows, decimal
    * sums — doubles would NOT survive this round-trip bit-exact, which is
    * why the engine's money sums are decimal); job 2 reads the state table
    * back and folds one batch with two broadcast joins plus a 5-row merge.
    * History is never re-joined, and the oracle is the FULL RECOMPUTE, so
    * the gate proves storage fidelity, not just the in-memory plan.
    * State is keyed by source fingerprint (stale-proof) and published via
    * atomic rename (concurrent-JVM-proof) — the same discipline as the
    * partitioned events cache. */
  def q_join_stored(spark: SparkSession, dir: String): DataFrame = {
    import Q.{dec2, outDbl}
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (dayofmonth(col("o_orderdate")) % 2).as("od"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        (dayofmonth(col("l_shipdate")) % 2).as("ld"))
    val rev = dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))
    def part(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(rev).as("rev_dec"))
    val (oOld, oNew) = (o.filter(col("od") === 0), o.filter(col("od") === 1))
    val (lOld, lNew) = (l.filter(col("ld") === 0), l.filter(col("ld") === 1))
    val fp = Tables.sourceFingerprint(dir, "orders.parquet", "lineitem.parquet")
    val statePath = Tables.publishOnce(s"graft_joinstate_$fp") { tmp =>
      part(oOld, lOld).write.parquet(tmp)
    }
    spark.read.parquet(statePath)
      .unionByName(part(broadcast(oNew), lOld))
      .unionByName(part(oOld, broadcast(lNew)))
      .unionByName(part(broadcast(oNew), lNew))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n"), outDbl(sum(col("rev_dec"))).as("rev"))
      .orderBy(col("o_orderpriority"))
  }

  /** Reads the custom DataSource V2 connector ([[graft.sources.GenSource]])
    * end to end: id-range filter pushed INTO the source (splits outside the
    * bounds are never planned — GenSourceSpec pins the partition count),
    * column pruning reaches the reader, and the aggregate rides the usual
    * two-phase plan. The source is deterministic integer arithmetic, so a
    * from-thin-air table is still hash-checked against DuckDB's range()
    * reconstruction. `dir` is unused — this query's table does not live on
    * disk, which is the point. */
  def q_source_gen(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.GenSource")
      .option("rows", "60000").option("parts", "8").load()
      .filter(col("id") >= 10000L && col("id") < 50000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy(col("event_type"))

  /** Semi-structured JSON through Spark 4's VARIANT type — the modern
    * open-schema tier next to q_map_json's string-path extraction: one
    * `parse_json` into a binary variant column (parsed ONCE, however many
    * paths are read — get_json_object re-parses per path), then typed
    * `variant_get` extraction and `try_variant_get` for a path that does
    * not exist (NULL, not an error — schema drift must not kill the
    * pipeline). `try_parse_json` likewise nulls a malformed document
    * instead of failing the job (spec-pinned on constructed garbage) —
    * a 100 TB crawl WILL contain broken JSON. The oracle reads the same
    * paths with DuckDB's JSON functions; outputs are exact integers. */
  def q_json_variant(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr("try_parse_json(props)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.absent', 'bigint')").as("missing"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), max(col("k")).as("k_max"),
        count(col("missing")).as("n_absent"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Sequence packing into fixed token-budget training examples — the
    * pretraining batch-prep op q_shard_pack deliberately is NOT (shards
    * never split a document; GPT-style packing concatenates the token
    * stream and CUTS at exact example boundaries, so a document spans
    * examples): ntok = n_chars div 4 (integer chars-per-token heuristic),
    * global running offset gives each doc [start, end) in the stream,
    * and one codegen'd `sequence` explode emits a span row per example
    * the doc crosses — example_id = offset div 512, span = the clipped
    * overlap. Pure integer arithmetic; the doc-order running offset
    * EXECUTES as Q.runningSumById's two-phase prefix pattern
    * (q_global_rownum's recipe — range-partition, partition-local fold,
    * P-row offset prefix broadcast back), never a SinglePartition
    * `sum() OVER (ORDER BY doc_id)` window over the corpus.
    * Invariants pinned by spec: every example except the last holds
    * exactly 512 tokens, and each doc's spans partition its tokens. */
  def q_seq_pack(spark: SparkSession, dir: String): DataFrame = {
    val B = 512L
    Q.runningSumById(spark,
        Tables.documents(spark, dir)
          .select(col("doc_id"), greatest(expr("n_chars div 4"), lit(1L)).as("ntok")),
        "doc_id", "ntok", "end")
      .withColumn("start", col("end") - col("ntok"))
      .select(col("doc_id"), col("start"), col("end"),
        explode(expr(s"sequence(start div $B, (end - 1) div $B)")).as("example_id"))
      .select(col("example_id"), col("doc_id"),
        (least(col("end"), (col("example_id") + 1) * B) -
          greatest(col("start"), col("example_id") * B)).as("n_tok"),
        (greatest(col("start"), col("example_id") * B) === col("start"))
          .cast("int").as("is_head"))
      .orderBy(col("example_id"), col("doc_id"))
  }

  /** Case-insensitive semantics through Spark 4's collation engine — the
    * second flagship Spark-4 surface next to q_json_variant's VARIANT:
    * the same column counted distinct under binary vs `COLLATE
    * UTF8_LCASE` comparison. Collation pushes the equivalence into the
    * comparator (hash agg keys, codegen'd) instead of wrapping every
    * reference in lower() — at 100 TB that is the difference between a
    * collation-aware grouping key and materializing a second string per
    * row. Mixed case is synthesized deterministically from real rows
    * (even event_ids uppercase); the oracle states the same two counts
    * with lower(). */
  def q_str_collate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("event_id") % 2 === 0, upper(col("event_type")))
          .otherwise(col("event_type")).as("t"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("t")).as("n_binary"),
        countDistinct(expr("t COLLATE UTF8_LCASE")).as("n_ci"))
      .orderBy(col("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_str_collate" -> q_str_collate _,
    "q_seq_pack" -> q_seq_pack _,
    "q_json_variant" -> q_json_variant _,
    "q_quality_audit" -> q_quality_audit _,
    "q_bucketize" -> q_bucketize _,
    "q_vocab_topk" -> q_vocab_topk _,
    "q_source_gen" -> q_source_gen _,
    "q_join_incremental" -> q_join_incremental _,
    "q_join_stored" -> q_join_stored _,
  )

  val oracle: Map[String, String] = Map(
    "q_quality_audit" ->
      """WITH j AS (
        |  SELECT l.*, o.o_orderkey AS ok FROM lineitem l
        |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
        |                    OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        |    CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
        |                    OR l_discount > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ship,
        |    count(*) - count(DISTINCT (coalesce(l_orderkey, -1),
        |                               coalesce(l_linenumber, -1))) AS v_uniq,
        |    CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_fk
        |  FROM j),
        |u AS (
        |  SELECT 'fk_orderkey_exists' AS check_name, n AS n_checked, v_fk AS n_violations
        |    FROM s
        |  UNION ALL SELECT 'l_discount_in_0_1', n, v_disc FROM s
        |  UNION ALL SELECT 'l_quantity_in_1_50', n, v_qty FROM s
        |  UNION ALL SELECT 'l_shipdate_not_null', n, v_ship FROM s
        |  UNION ALL SELECT 'pk_orderkey_linenumber_unique', n, v_uniq FROM s)
        |SELECT check_name, n_checked, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS pass
        |FROM u ORDER BY check_name""".stripMargin,
    "q_bucketize" ->
      """WITH r AS (
        |  SELECT event_type, event_id, "value",
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY "value" ASC NULLS LAST, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    min(CASE WHEN rn = n // 4 THEN "value" END) AS b1,
        |    min(CASE WHEN rn = n * 2 // 4 THEN "value" END) AS b2,
        |    min(CASE WHEN rn = n * 3 // 4 THEN "value" END) AS b3
        |  FROM r WHERE rn = n // 4 OR rn = n * 2 // 4 OR rn = n * 3 // 4
        |  GROUP BY event_type)
        |SELECT e.event_type, e.event_id,
        |  CAST(1 + CASE WHEN e."value" > b.b1 THEN 1 ELSE 0 END
        |         + CASE WHEN e."value" > b.b2 THEN 1 ELSE 0 END
        |         + CASE WHEN e."value" > b.b3 THEN 1 ELSE 0 END AS BIGINT) AS bucket
        |FROM events e JOIN b ON e.event_type = b.event_type
        |ORDER BY e.event_type, e.event_id""".stripMargin,
    "q_str_collate" ->
      """WITH m AS (
        |  SELECT user_id,
        |    CASE WHEN event_id % 2 = 0 THEN upper(event_type)
        |         ELSE event_type END AS t
        |  FROM events)
        |SELECT user_id,
        |  CAST(count(DISTINCT t) AS BIGINT) AS n_binary,
        |  CAST(count(DISTINCT lower(t)) AS BIGINT) AS n_ci
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, greatest(n_chars // 4, 1) AS ntok FROM documents),
        |o AS (
        |  SELECT doc_id, ntok,
        |    CAST(sum(ntok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS "end"
        |  FROM t),
        |s AS (SELECT doc_id, "end" - ntok AS "start", "end" FROM o),
        |x AS (
        |  SELECT doc_id, "start", "end",
        |    unnest(generate_series("start" // 512, ("end" - 1) // 512)) AS example_id
        |  FROM s)
        |SELECT CAST(example_id AS BIGINT) AS example_id, doc_id,
        |  CAST(least("end", (example_id + 1) * 512)
        |     - greatest("start", example_id * 512) AS BIGINT) AS n_tok,
        |  CAST(CASE WHEN greatest("start", example_id * 512) = "start"
        |       THEN 1 ELSE 0 END AS INT) AS is_head
        |FROM x ORDER BY example_id, doc_id""".stripMargin,
    "q_json_variant" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
        |  CAST(sum(CASE WHEN json_extract_string(props, '$.absent') IS NOT NULL
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_absent,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the oracle IS the full recompute: the incremental merge must be
    // semantically invisible (same contract as q_agg_incremental)
    // full recompute: the stored-state fold must equal joining everything
    "q_join_stored" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS rev
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_incremental" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS rev
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_source_gen" ->
      """WITH g AS (SELECT range AS id FROM range(0, 60000)),
        |f AS (SELECT id, id % 997 AS user_id,
        |        CASE CAST(id % 5 AS INT)
        |          WHEN 0 THEN 'click' WHEN 1 THEN 'view' WHEN 2 THEN 'purchase'
        |          WHEN 3 THEN 'error' ELSE 'scroll' END AS event_type,
        |        (id * 1103515245 + 12345) % 2147483648 AS v
        |      FROM g WHERE id >= 10000 AND id < 50000)
        |SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
        |  min(id) AS min_id, max(id) AS max_id
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_vocab_topk" ->
      """WITH c AS (
        |  SELECT w AS word, count(*) AS n
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY w),
        |t AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS vocab_id
        |      FROM c)
        |SELECT CAST(vocab_id AS BIGINT) AS vocab_id, word, n
        |FROM t WHERE vocab_id <= 200 ORDER BY vocab_id""".stripMargin,
  )
}
