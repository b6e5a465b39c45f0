package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 second continuation: the typed-cogroup per-key merge tier and
  * deterministic probability-proportional-to-size sampling.
  *
  * Determinism follows SURVEY.md §2.10 / [[Q]]: integer arithmetic in every
  * hashed column, explicit total ORDER BY, types pinned on both engines.
  */
object Analytics4 extends QueryModule {

  /** Per-key sorted-merge pair counting via typed cogroup — the
    * `KeyValueGroupedDataset.cogroup` tier of §2's preference order,
    * previously undemonstrated: q_join_range's interval semantics (clicks
    * within the 30 minutes before each same-user purchase) computed WITHOUT
    * materializing a single pair row. Both sides shuffle once, co-partitioned
    * on user_id (Catalyst plans one CoGroup over two hash-partitioned
    * children — the same execution a native merge-cogroup picks), then a
    * two-pointer walk over the per-key sorted lists counts window hits in
    * O(N+M) with O(1) extra state beyond the buffers. The join formulation
    * must emit and re-aggregate every qualifying pair; this one never does —
    * the right shape when only per-key statistics of the pairing are needed.
    * Per-key buffers are bounded by per-user event counts; at unbounded-user
    * scale the same remedy as q_join_range applies (sessionize or bucket the
    * time axis first). The oracle is the deliberate opposite: a correlated
    * BETWEEN count + full outer aggregate join in plain SQL. */
  def q_cogroup_pairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    def side(t: String): Dataset[(Long, Long)] =
      ev.filter(col("event_type") === t)
        .select(col("user_id"), col("ts_us")).as[(Long, Long)]
    cogroupPairs(spark, side("purchase"), side("click"), windowUs = 1800000000L)
      .orderBy(col("user_id"))
  }

  /** The merge itself: for each key, counts of left rows, right rows,
    * (left, right) pairs with right.ts in [left.ts − windowUs, left.ts], and
    * left rows with ≥ 1 such pair. Exposed so the spec can pin it against a
    * brute-force pair join on constructed data. Emits a row for every key
    * present on either side (zeros on the absent side). */
  def cogroupPairs(spark: SparkSession, left: Dataset[(Long, Long)],
                   right: Dataset[(Long, Long)], windowUs: Long): DataFrame = {
    import spark.implicits._
    left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) { (k, ls, rs) =>
      val l = ls.map(_._2).toArray; java.util.Arrays.sort(l)
      val r = rs.map(_._2).toArray; java.util.Arrays.sort(r)
      // Two monotone pointers over r as l ascends: hi = #{r ≤ lt},
      // lo = #{r < lt − window} — both bounds are nondecreasing in lt, so
      // the whole key costs one pass over each side after the sorts.
      var lo = 0; var hi = 0; var pairs = 0L; var hit = 0L
      l.foreach { lt =>
        while (hi < r.length && r(hi) <= lt) hi += 1
        while (lo < r.length && r(lo) < lt - windowUs) lo += 1
        val c = (hi - lo).toLong
        pairs += c
        if (c > 0) hit += 1
      }
      Iterator((k, l.length.toLong, r.length.toLong, pairs, hit))
    }.toDF("user_id", "n_purch", "n_click", "n_pairs", "n_hit")
  }

  /** Deterministic probability-proportional-to-size sampling — the
    * weighted tier next to q_sample_split/q_sample_stratified: per language,
    * systematic PPS over the doc_id order with weight = n_chars, so a
    * document's selection probability is proportional to its token mass
    * (how training-mix subsampling weights corpora). Pure BIGINT
    * arithmetic: running weight W, stride s = total div 20, a document is
    * selected iff a stride boundary falls inside its weight interval
    * (W div s > (W − w) div s) — ≈ 20 docs per group, bit-identical on
    * both engines, no RNG and no libm. One per-group window shuffle; at
    * unbounded group size the running sum becomes the standard two-phase
    * cumsum (per-partition totals broadcast as offsets) — the selection
    * rule is unchanged. */
  def q_sample_weighted(spark: SparkSession, dir: String): DataFrame = {
    val wCum = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("lang"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(wCum))
      .withColumn("s", greatest(sum(col("n_chars")).over(wAll).divide(lit(20)).cast("long"), lit(1L)))
      .filter(expr("(cum div s) > ((cum - n_chars) div s)"))
      .select(col("lang"), col("doc_id"), col("n_chars"), col("cum"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Content-checksum table diff — the migration/compaction audit tier:
    * verify two table versions hold the same rows WITHOUT moving either
    * (the 100 TB answer to "did the rewrite lose data?"). Each side folds
    * to 128 bucket signatures: row hash = 60-bit md5 prefix of a canonical
    * key string (integer/string columns only — §2.10 keeps doubles out of
    * hashed text), bucket = hash mod 128, signature = count + BIT_XOR of
    * hashes (order-independent, overflow-free, map-combinable — each side
    * is one two-phase aggregation shuffling 128 partial rows regardless of
    * table size; the final compare joins 128-row frames, broadcast under
    * AQE). Buckets bound the re-scan when a mismatch IS found. Side B
    * simulates a migration that dropped rows (l_orderkey ≡ 0 mod 997,
    * line 1), so drifted buckets report same = 0 with their row delta. */
  def q_table_diff(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_returnflag"))
    // Side B is a filter of side A here, so hash ONCE and derive both
    // sides from the persisted hashed frame (the oracle's WITH r) — the
    // generic two-independent-tables path pays two scans by necessity.
    val r = li.select(hashCol(key).as("h"), col("l_orderkey"), col("l_linenumber"))
      .persist()
    diffHashed(r, r.filter(!(col("l_orderkey") % 997 === 0 && col("l_linenumber") === 1)),
      buckets = 128)
      .orderBy(col("bucket"))
  }

  /** The diff itself: per hash bucket, row counts and XOR signatures of
    * both sides plus a same flag. Exposed so the spec can pin identity
    * (diff of a frame with itself is all-same) and single-row drift
    * localization on constructed data. */
  private def hashCol(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(k.cast("binary")), 1, 15), 16, 10).cast("long")

  def checksumDiff(a: DataFrame, b: DataFrame, rowKey: org.apache.spark.sql.Column,
                   buckets: Int): DataFrame =
    diffHashed(a.select(hashCol(rowKey).as("h")),
      b.select(hashCol(rowKey).as("h")), buckets)

  /** The compare over pre-hashed sides (column `h`): lets callers hash one
    * shared frame once when B derives from A. */
  def diffHashed(a: DataFrame, b: DataFrame, buckets: Int): DataFrame = {
    def sig(df: DataFrame) = df
      .withColumn("bucket", col("h") % buckets)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("sig"))
    val sa = sig(a).select(col("bucket"), col("n").as("n_a"), col("sig").as("sig_a"))
    val sb = sig(b).select(col("bucket"), col("n").as("n_b"), col("sig").as("sig_b"))
    sa.join(sb, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        (coalesce(col("n_a"), lit(0L)) === coalesce(col("n_b"), lit(0L)) &&
          coalesce(col("sig_a"), lit(0L)) === coalesce(col("sig_b"), lit(0L)))
          .cast("int").as("same"))
  }

  /** Global contiguous row numbering in total order WITHOUT a global
    * window — the sequence-assignment primitive (shard/example numbering
    * for training data). The naive `row_number() OVER (ORDER BY …)` plans
    * a SinglePartition exchange of the whole table — the canonical scale
    * anti-pattern this query exists to avoid. Instead: range-partition on
    * the total order + partition-local sort (one shuffle, same cost as any
    * global sort), number within partitions via mapPartitions (genuine
    * per-partition imperative logic — §2's tier (d), justified: the rank
    * is a property of the physical iterator), then lift local ranks to
    * global with per-partition counts — a map-combinable 16-row aggregate
    * whose prefix sum runs on a #partitions-sized frame, never the data —
    * broadcast-joined back. Output is boundary-independent: range
    * partitions are non-overlapping, so offset + local rank IS the global
    * rank wherever the sampled boundaries land. The final ORDER BY is the
    * gate's total-order contract (the frame is already rn-ordered within
    * partitions; a cluster sink would write it as-is). */
  def q_global_rownum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sorted = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .repartitionByRange(16, col("ts_us"), col("event_id"))
      .sortWithinPartitions(col("ts_us"), col("event_id"))
      .as[(Long, Long)]
    val local = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var i = 0L
      it.map { case (t, e) => i += 1; (pid, i, t, e) }
    }.toDF("pid", "local_rn", "ts_us", "event_id")
    val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), Seq("pid"))
      .select(col("ts_us"), col("event_id"), (col("local_rn") + col("offset")).as("rn"))
      .orderBy(col("rn"))
  }

  /** Equi-depth binning via ntile — the quantile-bucketing window next to
    * q_win_rank's rank family: per event_type, assign each sample to one of
    * 4 equal-count value buckets (feature discretization / decile reports).
    * ntile is SQL-standard on both engines (first n mod k buckets take the
    * extra row), and the ORDER BY includes event_id so tied values have a
    * deterministic bucket. One event_type shuffle; per-group sort is the
    * inherent cost of exact equi-depth — the approximate sibling at scale
    * is q_agg_quantile_approx's percentile boundaries as a map-side
    * bucketizer. */
  def q_win_ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .select(col("event_type"), col("event_id"), col("tile"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Overlapping sliding-window chunking — the RAG/context-window prep
    * tier next to q_text_dupline's non-overlapping dedup chunks: each doc
    * splits into 50-word windows at stride 25 (adjacent chunks share 25
    * words, so no retrieval boundary loses context). One codegen'd
    * explode over a per-doc start sequence, no shuffle before the output
    * sort — embarrassingly parallel at any corpus size. Emits the chunk's
    * word count and a 64-bit md5 fingerprint rather than the text (the
    * downstream contract is (doc, chunk) → stable id; both engines build
    * the identical chunk string from the shared split convention). */
  def q_text_chunk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(expr("sequence(0, greatest(size(ws) - 1, 0), 25)")).as("st"))
      .select(col("doc_id"),
        expr("CAST(st div 25 + 1 AS BIGINT)").as("chunk_no"),
        expr("CAST(size(slice(ws, st + 1, 50)) AS BIGINT)").as("n_words"),
        expr("substring(md5(concat_ws(' ', slice(ws, st + 1, 50))), 1, 16)").as("fp"))
      .orderBy(col("doc_id"), col("chunk_no"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_chunk" -> q_text_chunk _,
    "q_win_ntile" -> q_win_ntile _,
    "q_cogroup_pairs" -> q_cogroup_pairs _,
    "q_sample_weighted" -> q_sample_weighted _,
    "q_table_diff" -> q_table_diff _,
    "q_global_rownum" -> q_global_rownum _,
  )

  val oracle: Map[String, String] = Map(
    "q_cogroup_pairs" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'click'),
        |pp AS (SELECT p.user_id, p.event_id,
        |         (SELECT count(*) FROM c WHERE c.user_id = p.user_id
        |            AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us) AS k
        |       FROM p),
        |pa AS (SELECT user_id, count(*) AS n_purch, CAST(sum(k) AS BIGINT) AS n_pairs,
        |         CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |       FROM pp GROUP BY user_id),
        |ca AS (SELECT user_id, count(*) AS n_click FROM c GROUP BY user_id)
        |SELECT coalesce(pa.user_id, ca.user_id) AS user_id,
        |  coalesce(pa.n_purch, 0) AS n_purch, coalesce(ca.n_click, 0) AS n_click,
        |  coalesce(pa.n_pairs, 0) AS n_pairs, coalesce(pa.n_hit, 0) AS n_hit
        |FROM pa FULL OUTER JOIN ca ON pa.user_id = ca.user_id
        |ORDER BY user_id""".stripMargin,
    "q_table_diff" ->
      """WITH r AS (
        |  SELECT CAST(concat('0x', substr(md5(concat_ws('|', l_orderkey, l_linenumber,
        |           l_partkey, l_suppkey, l_returnflag)), 1, 15)) AS BIGINT) AS h,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |a AS (SELECT h % 128 AS bucket, count(*) AS n_a, bit_xor(h) AS sig_a
        |      FROM r GROUP BY 1),
        |b AS (SELECT h % 128 AS bucket, count(*) AS n_b, bit_xor(h) AS sig_b
        |      FROM r WHERE NOT (l_orderkey % 997 = 0 AND l_linenumber = 1) GROUP BY 1)
        |SELECT coalesce(a.bucket, b.bucket) AS bucket,
        |  coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |  CAST(CASE WHEN coalesce(n_a, 0) = coalesce(n_b, 0)
        |             AND coalesce(sig_a, 0) = coalesce(sig_b, 0)
        |       THEN 1 ELSE 0 END AS INT) AS same
        |FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
        |ORDER BY bucket""".stripMargin,
    "q_text_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, ws,
        |        unnest(generate_series(0, greatest(len(ws) - 1, 0), 25)) AS st
        |      FROM w)
        |SELECT doc_id, CAST(st // 25 + 1 AS BIGINT) AS chunk_no,
        |  CAST(len(list_slice(ws, st + 1, st + 50)) AS BIGINT) AS n_words,
        |  substr(md5(array_to_string(list_slice(ws, st + 1, st + 50), ' ')), 1, 16) AS fp
        |FROM s ORDER BY doc_id, chunk_no""".stripMargin,
    "q_win_ntile" ->
      """SELECT event_type, event_id,
        |  ntile(4) OVER (PARTITION BY event_type ORDER BY "value", event_id) AS tile
        |FROM events ORDER BY event_type, event_id""".stripMargin,
    "q_global_rownum" ->
      """SELECT epoch_us(ts) AS ts_us, event_id,
        |  row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn
        |FROM events ORDER BY rn""".stripMargin,
    "q_sample_weighted" ->
      """WITH b AS (
        |  SELECT lang, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    greatest(sum(n_chars) OVER (PARTITION BY lang) // 20, 1) AS s
        |  FROM documents)
        |SELECT lang, doc_id, n_chars, CAST(cum AS BIGINT) AS cum
        |FROM b WHERE cum // s > (cum - n_chars) // s
        |ORDER BY lang, doc_id""".stripMargin,
  )
}
