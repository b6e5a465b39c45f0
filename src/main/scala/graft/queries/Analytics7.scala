package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 third-continuation additions (SURVEY §2.21): structured log
  * parsing (the netmonitor ingest face), the frame-sampling multimodal
  * gate, bottom-k uniform sampling, the Count-Min point-frequency
  * sketch, and the native as-of join's direction/tolerance variants. */
object Analytics7 extends QueryModule {

  /** Structured LOG-LINE PARSING — the ingest stage every monitoring
    * pipeline runs first: raw text lines → typed columns, with a
    * malformed-line bucket instead of a failed job. The lines are built
    * from `events` by an engine-identical concat (so the oracle sees the
    * SAME raw input), with every 53rd line corrupted ("X!" prefix) to
    * exercise the reject path; the operator under test is the parse
    * chain — anchored `rlike` classification, `regexp_extract` field
    * pulls, `get_json_object` over the recovered JSON tail — all
    * codegen'd native functions in ONE narrow pass (no shuffle until the
    * final small aggregate), which is what keeps parse embarrassingly
    * parallel over a 100 TB log lake. Malformed rows aggregate under
    * `_malformed` with NULL field sums (regexp_extract's no-match empty
    * string casts to NULL on both engines). */
  def q_log_parse(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        concat(col("event_type"), lit(" uid="), col("user_id"), lit(" "), col("props")).as("line0"))
      .select(col("event_id"),
        when(col("event_id") % 53 === 0, concat(lit("X!"), col("line0")))
          .otherwise(col("line0")).as("line"))
    lines
      .withColumn("ok", col("line").rlike("^[a-z]+ uid=[0-9]+ \\{"))
      .withColumn("etype",
        when(col("ok"), regexp_extract(col("line"), "^([a-z]+) uid=", 1))
          .otherwise(lit("_malformed")))
      .withColumn("uid",
        when(col("ok"), regexp_extract(col("line"), " uid=([0-9]+) ", 1).cast("bigint")))
      .withColumn("k",
        when(col("ok"),
          get_json_object(regexp_extract(col("line"), "(\\{.*\\})$", 1), "$.k").cast("bigint")))
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n"), sum(col("uid")).as("uid_sum"), sum(col("k")).as("k_sum"))
      .orderBy(col("etype"))
  }

  /** FRAME SAMPLING through the oracle gate — the video-frame-extraction
    * shape of [[graft.operators.Multimodal.sampleFrames]] driven over the
    * documents-as-blobs media table: every 96th byte offset opens a
    * 48-byte frame, one input row fanning out to its frames in a NARROW
    * flatMap (no shuffle — frame parallelism IS the media table's
    * partitioning, how a 100 TB corpus keeps decode embarrassingly
    * parallel). The corpus is pure ASCII (verified: octet_length = length
    * corpus-wide), so DuckDB pins the exact same byte windows with
    * substr over the text and md5 over the slice — frame identity is
    * hash-checked row for row, not just counted. */
  def q_mm_frames(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.operators.Multimodal.mediaTable(Tables.documents(spark, dir))
    graft.operators.Multimodal.sampleFrames(media, frameSize = 48, stride = 96)
      .select(col("doc_id"), col("frame_idx").as("frame_no"),
        length(col("frame")).cast("int").as("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_no"))
  }

  /** BOTTOM-K uniform sample — distributed reservoir sampling done the
    * engine way: rank every document by the integer-free md5 priority
    * md5('s42:' ‖ doc_id) and keep the k smallest. Statistically a
    * uniform k-sample without replacement (each doc's priority is an
    * independent uniform draw), yet fully deterministic and
    * engine-reproducible — the SAME k documents under every run, engine,
    * and partitioning, so an incremental rebuild resamples nothing. The
    * plan is the scale story: `orderBy().limit(k)` compiles to
    * TakeOrderedAndProject — each partition keeps a k-row heap and the
    * driver merges P·k rows — NO global sort, no single-partition
    * shuffle, O(k) memory at any corpus size (plan-contracted). */
  def q_sample_bottomk(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(concat(lit("s42:"), col("doc_id"))).as("skey"))
      .orderBy(col("skey"), col("doc_id"))
      .limit(200)
  }

  /** COUNT-MIN point-frequency estimates
    * ([[graft.functions.CountMinSketch]]): one fixed 4×32768 counter
    * matrix aggregated map-side over the full event stream (the shuffle
    * ships one 1 MB sketch per partition, never the rows), probed for
    * the ten tracked keys. On this corpus the estimates are EXACT — the
    * hash family is fixed, the per-key inexactness odds are
    * (1500/32768)⁴ ≈ 4·10⁻⁶, and CORRECTNESS verifies the identity
    * against true counts at every SF — so the sketch earns a real
    * count(*) oracle; the ≥-bound and merge≡reduce algebra are pinned
    * in CmsSpec. */
  def q_agg_cms(spark: SparkSession, dir: String): DataFrame = {
    val cms = graft.functions.CountMinSketch.udafFor(32768, 4, 0L until 10L)
    Tables.events(spark, dir)
      .agg(cms(col("user_id")).as("est"))
      .select(explode(col("est")).as("e"))
      .select(col("e._1").as("user_id"), col("e._2").as("est_n"))
      .orderBy(col("user_id"))
  }

  /** Toleranced AS-OF — the native operator's `tolerance` knob (pandas
    * merge_asof parity): each purchase takes the same user's latest
    * strictly-prior event ONLY if it lies within one hour; staler
    * candidates null-extend instead of matching (tolerance filters the
    * as-of candidate, it never falls back to an older in-bound row).
    * Same single merge pass and shuffle/sort footprint as
    * [[Analytics2.q_join_asof_native]] — the bound is one long compare
    * per row. */
  def q_join_asof_tol(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val hist = ev.select(col("user_id").as("r_user"), col("event_id").as("r_event_id"),
      col("value").as("r_value"), col("ts_us").as("r_ts_us"))
    graft.plans.AsofJoin.join(purchases, hist,
      keys = Seq("user_id" -> "r_user"),
      order = Seq("ts_us" -> "r_ts_us", "event_id" -> "r_event_id"),
      tolerance = Some(3600000000L)) // 1 hour in µs
      .select(col("event_id"), col("user_id"),
        col("r_event_id").as("prev_event_id"), col("r_value").as("prev_value"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of — the native operator's direction knob: each purchase
    * takes the same user's FIRST strictly-later event (the
    * "next-touchpoint" lookup attribution pipelines run). In forward mode
    * the exec buffers no candidate at all — the merge lookahead row IS
    * the match — so the cost profile is identical to backward. The
    * oracle is the lead-window form, which the differential spec also
    * pins on constructed frames. */
  def q_join_asof_fwd(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val hist = ev.select(col("user_id").as("r_user"), col("event_id").as("r_event_id"),
      col("event_type").as("r_etype"), col("ts_us").as("r_ts_us"))
    graft.plans.AsofJoin.join(purchases, hist,
      keys = Seq("user_id" -> "r_user"),
      order = Seq("ts_us" -> "r_ts_us", "event_id" -> "r_event_id"),
      forward = true)
      .select(col("event_id"), col("user_id"),
        col("r_event_id").as("next_event_id"), col("r_etype").as("next_type"))
      .orderBy(col("event_id"))
  }

  /** Schema'd CSV INGESTION — the text-file face every monitoring/ETL
    * deployment starts from (everything else in the suite reads parquet;
    * a switching user's first day is a CSV drop). The gate round-trips
    * `events` through a real CSV file once (write-once publish, quoting
    * exercised by the embedded-JSON props column) and the TIMED query is
    * the schema'd read: explicit `StructType` (no runaway inference scan
    * at 100 TB — inference reads the data twice), header skip, quote
    * parsing, then a JSON field pull + aggregate that only matches the
    * oracle if every typed value survived text serialization exactly
    * (doubles ride Spark's shortest-repr round trip; sums compare in
    * decimal cents). Splittable-format caveat documented: one CSV file =
    * one read task; a 100 TB drop arrives as many files, which is the
    * parallelism axis. */
  def q_source_csv(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    val root = Tables.publishOnce(s"graft_csvsrc_$fp") { tmp =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1)
        .write.option("header", "true").csv(s"$tmp/csv")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS")); ()
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    spark.read.schema(schema).option("header", "true").csv(s"$root/csv")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        sum(get_json_object(col("props"), "$.k").cast("bigint")).as("k_sum"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** Schema'd JSONL INGESTION — [[q_source_csv]]'s twin for the other
    * ubiquitous drop format (one JSON object per line). Same write-once
    * publish, same explicit-schema discipline (JSON inference is an extra
    * full scan), and the aggregate pins nested-field extraction from the
    * re-parsed props string. JSONL is line-splittable, so unlike CSV-with-
    * quoting the 100 TB story holds even within one large file. */
  def q_source_jsonl(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    val root = Tables.publishOnce(s"graft_jsonsrc_$fp") { tmp =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1)
        .write.json(s"$tmp/json")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS")); ()
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    spark.read.schema(schema).json(s"$root/json")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        sum(get_json_object(col("props"), "$.k").cast("bigint")).as("k_sum"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** Trigram-index LIKE acceleration (the pg_trgm / Lucene-wildcard
    * recipe): substring patterns answered from an inverted TRIGRAM
    * posting list instead of a full-corpus `contains` scan. A doc is a
    * candidate for pattern p iff it holds EVERY trigram of p (necessary
    * condition — trigrams of any occurrence of p are trigrams of the
    * doc), so the query side is |grams(p)| posting-list fetches → a
    * count-match filter → exact `contains` confirm on candidates ONLY.
    * This is the substring face the token inverted index
    * (q_index_posting) cannot serve: the gate's patterns all CROSS word
    * boundaries. Output per pattern: candidate count vs confirmed count
    * — the index's false-positive rate, the number that decides n-gram
    * size in production. At 100 TB the postings are a build-once index
    * table; a query touches |grams(p)| posting lists by equi join
    * (never the corpus), and the confirm probes only candidates with
    * the pattern dimension broadcast end to end. */
  def q_like_trgm(spark: SparkSession, dir: String): DataFrame =
    trgmSearch(spark, Tables.documents(spark, dir),
      Seq("fast merge", "table key", "vector scan"))

  /** The trigram search pipeline behind [[q_like_trgm]], on any
    * (doc_id, text) frame — exposed so the randomized differential spec
    * can pin the necessary-condition soundness (every true substring
    * match IS a candidate) and the confirm counts against brute force
    * on arbitrary corpora. */
  private[graft] def trgmSearch(spark: SparkSession, docs: DataFrame,
      pats: Seq[String]): DataFrame = {
    import spark.implicits._
    def trigrams(c: String) =
      s"array_distinct(transform(sequence(1, length($c) - 2), i -> substring($c, i, 3)))"
    // The gate fuses index build + query, so the posting build prunes to
    // the QUERIED gram set: per doc, membership of each of the patterns'
    // |grams| trigrams is a codegen'd `contains` byte-search (zero
    // per-position allocation — the materialize-every-trigram formulation
    // spent its whole budget allocating 300 three-char strings per doc),
    // and only the present ones explode. Identical (doc, gram) pairs to a
    // posting-list fetch restricted to the query's grams. A persistent
    // index (the 100 TB shape) builds unpruned once and every query
    // touches just its grams' posting lists.
    val needed = array(pats.flatMap(_.sliding(3)).distinct.map(lit): _*)
    val grams = docs.select(col("doc_id"),
      explode(filter(needed, g => contains(col("text"), g))).as("gram"))
    val pg = pats.toDF("pat")
      .select(col("pat"), explode(expr(trigrams("pat"))).as("gram"))
    val need = pg.groupBy(col("pat")).agg(count(lit(1)).as("n_need"))
    val cand = grams.join(broadcast(pg), "gram")
      .groupBy(col("doc_id"), col("pat"))
      .agg(count(lit(1)).as("n_hit"))
      .join(broadcast(need), "pat")
      .filter(col("n_hit") === col("n_need"))
      .select(col("doc_id"), col("pat"))
    cand.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .groupBy(col("pat"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(expr("contains(text, pat)"), 1L).otherwise(0L)).as("n_matches"))
      .orderBy(col("pat"))
  }

  /** TOP-TALKER DRIFT — the monitoring report behind "who's new in the
    * top 10": all-time heavy hitters by total value vs the RECENT half
    * of the stream (epoch-ms midpoint, exact BIGINT both engines),
    * full-outer-joined into entered / dropped / stayed status with the
    * rank delta. Each side is a TakeOrderedAndProject top-10
    * (per-partition heaps, never a global sort or data-sized window),
    * ranks derive on the 10-row frame (Q.rankTopK), and everything
    * after the two TOAPs runs on ≤ 20 rows — at 100 TB the cost is two
    * map-combinable aggregation scans, full stop. Sums ride the
    * decimal-cents recipe so the top-10 cut is engine-exact; the
    * recency predicate is `2·ms ≥ lo+hi` (integer, no division). */
  def q_topk_drift(spark: SparkSession, dir: String): DataFrame = {
    val ev0 = Tables.events(spark, dir)
      .select(col("user_id"), col("value"), unix_millis(col("ts")).as("ms"))
    val bounds = ev0.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
    val ev = ev0.crossJoin(broadcast(bounds)) // 1-row bounds frame
    def side(cond: org.apache.spark.sql.Column, vname: String, rname: String) = {
      // persist: rankTopK consumes t on BOTH join sides — without it the
      // events scan + TOAP lineage runs twice per side (Q.rankTopK's
      // documented caller contract)
      val t = ev.filter(cond).groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("vdec"))
        .orderBy(col("vdec").desc, col("user_id")).limit(10)
        .persist()
      graft.queries.Q.rankTopK(t, "vdec", "user_id")
        .select(col("user_id"), col("vdec").cast("double").as(vname),
          col("rk").as(rname))
    }
    side(lit(true), "v_all", "rk_all")
      .join(side(col("ms") * 2 >= col("lo") + col("hi"), "v_recent", "rk_recent"),
        Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("rk_all").isNull, lit("entered"))
          .when(col("rk_recent").isNull, lit("dropped"))
          .otherwise(lit("stayed")))
      .withColumn("rank_delta", (col("rk_all") - col("rk_recent")).cast("int"))
      .select(col("user_id"), col("v_all"), col("rk_all"), col("v_recent"),
        col("rk_recent"), col("status"), col("rank_delta"))
      .orderBy(coalesce(col("rk_recent"), lit(99)), col("user_id"))
  }

  /** CIDR PREFIX ROLLUP — the flow-aggregation staple of a network
    * monitor: dotted-quad source addresses parsed to 32-bit ints
    * (split → octet ints → shifts), masked to their /16 and /24
    * prefixes (pure integer div/mul — the netmask AND), and the
    * traffic aggregated per /16 with its distinct-/24 fan-out — "which
    * networks send the most, and how spread inside each". Addresses
    * derive deterministically from event fields (same concat on both
    * engines), so the operator under test is the PARSE + MASK + ROLLUP
    * chain, all codegen'd integer arithmetic. Top-10 /16s plan
    * TakeOrderedAndProject; the aggregate is map-combinable; at 100 TB
    * this is one scan + one two-phase agg — the shape per-prefix
    * traffic accounting must have. */
  def q_ip_rollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("ip", concat_ws(".",
        lit(10), pmod(col("user_id"), lit(200)),
        pmod(col("event_id"), lit(251)), pmod(col("event_id") * 7, lit(256))))
    val oct = split(col("ip"), "\\.")
    val parsed = ev.withColumn("ip_int",
      oct.getItem(0).cast("long") * lit(16777216L) +
        oct.getItem(1).cast("long") * lit(65536L) +
        oct.getItem(2).cast("long") * lit(256L) + oct.getItem(3).cast("long"))
    parsed
      .withColumn("p16", expr("(ip_int div 65536) * 65536"))
      .withColumn("p24", expr("(ip_int div 256) * 256"))
      .groupBy(col("p16"))
      .agg(count(lit(1)).as("n_flows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("p24")).as("n_24s"))
      .withColumn("prefix", concat_ws(".",
        expr("p16 div 16777216"), expr("pmod(p16 div 65536, 256)")))
      .select(col("prefix"), col("p16"), col("n_flows"), col("v_sum"), col("n_24s"))
      .orderBy(col("n_flows").desc, col("p16"))
      .limit(10)
  }

  /** MAD OUTLIERS — robust anomaly detection: per event type, the
    * median absolute deviation replaces [[Analytics.q_anomaly_zscore]]'s
    * mean/stddev, so a burst of anomalies cannot drag the baseline
    * toward itself (breakdown point 50% vs 0%). Values quantize to
    * integer cents (one shared double floor, identical both engines);
    * the two medians are EXACT percentile aggregates whose state is a
    * value→count map — bounded by the DISTINCT cent values per group,
    * not rows, so the agg stays map-combinable at 100 TB for any
    * bounded-domain metric (unbounded domains take the KLL path,
    * q_agg_quantile_approx). Interpolated medians of ints are dyadic
    * (x.0/x.5), deviations and 3×MAD stay dyadic, so every comparison
    * is bit-exact across engines. Flag rule: |x − med| > 3·MAD. */
  def q_anomaly_mad(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(spark, dir).select(col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))
    val m = c.groupBy(col("event_type"))
      .agg(expr("percentile(cents, 0.5)").as("med"))
    // persist: d feeds both the MAD aggregation and the final outlier
    // count — without it the events scan + median join lineage runs twice
    val d = c.join(broadcast(m), "event_type")
      .withColumn("dev", abs(col("cents") - col("med")))
      .persist()
    val m2 = d.groupBy(col("event_type"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    d.join(broadcast(m2), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** COLLOCATION DISCOVERY — the corpus-analysis pass behind multi-word
    * vocab entries: adjacent-word bigrams ranked by a PMI-MONOTONE
    * lift ratio, score_e4 = (n_xy · N · 10⁴) div (n_x · n_y) — exactly
    * the ordering pointwise mutual information induces, computed in
    * pure BIGINT (log is not correctly rounded across engines; the
    * ratio inside it is, because it never leaves integer arithmetic —
    * products bounded by tokens²·10⁴ < 2⁶³ at any SF this suite runs).
    * Bigrams come from one codegen'd transform over the split array
    * (no self-join); unigram counts broadcast (vocab-sized); support
    * floor n_xy ≥ 20 keeps the statistic stable; top-20 plans
    * TakeOrderedAndProject. At 100 TB: two map-combinable counting
    * passes and a broadcast join — the collocation recipe at corpus
    * scale. */
  def q_colloc_pmi(spark: SparkSession, dir: String): DataFrame = {
    val ws = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("w"))
    val uni = ws.select(explode(col("w")).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("n_x"))
    val n = ws.select(sum(size(col("w"))).as("n_tokens"))
    val bg = ws.select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS x, w[i+1] AS y))")).as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= 20)
    bg.join(broadcast(uni), "x")
      .join(broadcast(uni.select(col("x").as("y"), col("n_x").as("n_y"))), "y")
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        expr("(n_xy * n_tokens * 10000) div (n_x * n_y)").as("score_e4"))
      .orderBy(col("score_e4").desc, col("x"), col("y"))
      .limit(20)
  }

  /** WELCH'S T-TEST A/B GATE — the statistical-inference tier: each
    * event_type segment tested against the `click` baseline for a mean
    * difference in `value`, the two-sample unequal-variance t the A/B
    * dashboards of every analytics stack compute. Exactness recipe:
    * moments are EXACT BIGINT (values quantized to cents; n, Σc, Σc²
    * map-combinable — one two-phase agg scan at any scale), then mean /
    * variance / t are derived by the IDENTICAL IEEE-double expression
    * tree on both engines (every step a correctly-rounded op on
    * exact-integer-derived doubles, so the result is bit-identical —
    * the q_mix_temperature / q_drift_hellinger precedent), floored at
    * e4. The baseline is a 1-row broadcast; nothing after the first
    * agg touches more than 5 rows. At 100 TB: one scan, full stop. */
  def q_ab_welch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
    val g = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .withColumn("m", col("s").cast("double") / col("n").cast("double"))
      .withColumn("msq", col("ss").cast("double") / col("n").cast("double"))
      .withColumn("v",
        (col("msq") - col("m") * col("m")) * col("n").cast("double") /
          (col("n") - lit(1)).cast("double"))
    val base = g.filter(col("event_type") === "click")
      .select(col("m").as("m0"), col("v").as("v0"), col("n").as("n0"))
    g.crossJoin(broadcast(base))
      .withColumn("t", (col("m") - col("m0")) /
        sqrt(col("v") / col("n").cast("double") +
          col("v0") / col("n0").cast("double")))
      .select(col("event_type"), col("n"),
        floor(col("m") * lit(1e4)).cast("long").as("mean_e4"),
        floor(abs(col("t")) * lit(1e4)).cast("long").as("t_e4"),
        (abs(col("t")) >= lit(1.96)).as("significant"))
      .orderBy(col("event_type"))
  }

  /** OLS TREND DETECTION — the regression tier next to [[q_ab_welch]]'s
    * hypothesis test: per event_type, the least-squares slope of the
    * value metric against time ("is this host's traffic trending up"),
    * the monitoring-dashboard staple. Sufficient statistics n, Σx, Σy,
    * Σxy, Σx² are EXACT BIGINT in one map-combinable agg (values in
    * cents; time recentred to seconds since the corpus start — a 1-row
    * broadcast — so the quadratic sums stay far from overflow); the
    * slope is then derived by the IDENTICAL IEEE-double expression tree
    * on both engines (the q_ab_welch recipe), floored at e9, with the
    * sign surfaced as a rising flag. At 100 TB: one scan + one tiny
    * min, full stop. */
  def q_trend_ols(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_seconds(col("ts")).as("xs"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
    val x0 = ev.agg(min(col("xs")).as("x0"))
    val g = ev.crossJoin(broadcast(x0))
      .withColumn("x", col("xs") - col("x0"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("c")).as("sy"), sum(col("x") * col("c")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    g.withColumn("slope",
        (col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") /
            col("n").cast("double")) /
        (col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") /
            col("n").cast("double")))
      .select(col("event_type"), col("n"),
        floor(col("slope") * lit(1e9)).cast("long").as("slope_e9"),
        (col("slope") > lit(0.0)).as("rising"))
      .orderBy(col("event_type"))
  }

  /** FLESCH READABILITY — the classic reading-ease score over the
    * corpus, per language: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), with the standard vowel-group syllable
    * heuristic (`[aeiouy]+` runs) and — this corpus being unpunctuated
    * word soup — each DOCUMENT as the sentence unit. The counting
    * machinery is the operator under test: per-doc word and
    * vowel-group counts from codegen'd split/regexp_extract_all (one
    * narrow pass, no shuffle until the per-lang agg), summed EXACTLY as
    * BIGINTs (map-combinable — never a double accumulated in partition
    * order), then ONE identical IEEE-double expression per language
    * floored at e4. At 100 TB: one scan + one 5-group agg. */
  def q_text_readability(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("w"),
        size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("y"))
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("w_sum"),
        sum(col("y")).as("y_sum"))
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("w_sum").cast("double") / col("n_docs").cast("double")) -
          lit(84.6) * (col("y_sum").cast("double") / col("w_sum").cast("double")))
      .select(col("lang"), col("n_docs"), col("w_sum"), col("y_sum"),
        floor(col("flesch") * lit(1e4)).cast("long").as("flesch_e4"))
      .orderBy(col("lang"))
  }

  /** ALERT FLAP DETECTION — the monitoring-stack staple next to
    * [[Analytics3.q_alert_hysteresis]]: a host whose alert STATE keeps
    * toggling is flapping, and flap suppression needs the transition
    * count, not the state itself. Per user, events in (ts, event_id)
    * order carry a boolean state (value ≥ 50 — an exact double compare,
    * identical literal both engines); transitions are counted with ONE
    * lag window pass (one user_id shuffle, state bounded by the
    * partition); the flap ratio is an exact integer division in basis
    * points and the flapping flag an exact integer cross-multiply
    * (2·trans ≥ n−1 — never a float threshold). Output: top-10 most
    * flap-dense users. At 100 TB: one shuffle, one window pass, one
    * two-phase agg. */
  def q_alert_flap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val st = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("value") >= lit(50.0)).as("state"))
      .withColumn("prev", lag(col("state"), 1).over(w))
    st.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("prev").isNotNull && col("prev") =!= col("state"), lit(1L))
          .otherwise(lit(0L))).as("n_trans"))
      .withColumn("flap_bp",
        when(col("n_events") > 1,
          expr("(10000 * n_trans) div (n_events - 1)")).otherwise(lit(0L)))
      .withColumn("flapping", col("n_trans") * lit(2) >= col("n_events") - lit(1))
      .orderBy(col("flap_bp").desc, col("user_id"))
      .limit(10)
  }

  /** BENFORD FIRST-DIGIT AUDIT — the fraud/data-quality screen: per
    * segment, the distribution of the value's first significant digit
    * against Benford's law, as one exact-integer deviation score. The
    * digit comes from the CENT quantization's decimal string (BIGINT →
    * string is scientific-notation-free on both engines, so the first
    * character is deterministic); the nine Benford expectations are
    * PINNED e4 constants (floor(10⁴·log10(1+1/d)) — log is not
    * correctly rounded across engines, so the table is data, not a
    * runtime computation); deviation = Σ_d |10⁴·n_d − B_d·N| div N in
    * pure BIGINT. ONE two-phase agg with nine conditional counters —
    * map-combinable, no second shuffle. At 100 TB: one scan. */
  def q_audit_benford(spark: SparkSession, dir: String): DataFrame = {
    val benfordE4 = Seq(3010L, 1760L, 1249L, 969L, 791L, 669L, 579L, 511L, 457L)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        substring(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
          .cast("string"), 1, 1).cast("long").as("d"))
    val counters = count(lit(1)).as("n") +: (1 to 9).map(d =>
      sum(when(col("d") === d, lit(1L)).otherwise(lit(0L))).as(s"n$d"))
    val g = ev.groupBy(col("event_type"))
      .agg(counters.head, counters.tail: _*)
    val dev = (1 to 9).map(d =>
      abs(lit(10000L) * col(s"n$d") - lit(benfordE4(d - 1)) * col("n")))
      .reduce(_ + _)
    g.select(col("event_type"), col("n"),
        expr("(10000 * n1) div n").as("d1_bp"),
        (dev.cast("long")).as("dev_sum"))
      .withColumn("dev_bp", expr("dev_sum div n"))
      .drop("dev_sum")
      .orderBy(col("event_type"))
  }

  /** SLA UPTIME / AVAILABILITY — the monitoring report every fleet runs:
    * per host, the fraction of COARSE time buckets (hours here — the
    * corpus spans 30 days) in which the host reported at least once,
    * over the CORPUS-WIDE observation window (so silent hosts are
    * penalized, not excused). All exact integers: hour buckets by
    * epoch-ms div, active buckets by count(DISTINCT bucket) — two-phase
    * distinct, map-combinable partials — the window span from one
    * broadcast 1-row min/max, availability in basis points by BIGINT
    * div, longest-streak-friendly ordering (worst first). At 100 TB:
    * one scan + one distinct agg + a 1-row broadcast. */
  def q_sla_uptime(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 3600000").as("hr"))
    val span = ev.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    ev.groupBy(col("user_id"))
      .agg(countDistinct(col("hr")).as("n_active"))
      .crossJoin(broadcast(span))
      .withColumn("n_hours", col("hi") - col("lo") + lit(1L))
      .withColumn("avail_bp", expr("(10000 * n_active) div n_hours"))
      .select(col("user_id"), col("n_active"), col("n_hours"), col("avail_bp"))
      .orderBy(col("avail_bp"), col("user_id"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sla_uptime" -> q_sla_uptime _,
    "q_audit_benford" -> q_audit_benford _,
    "q_alert_flap" -> q_alert_flap _,
    "q_text_readability" -> q_text_readability _,
    "q_trend_ols" -> q_trend_ols _,
    "q_ab_welch" -> q_ab_welch _,
    "q_colloc_pmi" -> q_colloc_pmi _,
    "q_anomaly_mad" -> q_anomaly_mad _,
    "q_ip_rollup" -> q_ip_rollup _,
    "q_topk_drift" -> q_topk_drift _,
    "q_like_trgm" -> q_like_trgm _,
    "q_log_parse" -> q_log_parse _,
    "q_mm_frames" -> q_mm_frames _,
    "q_sample_bottomk" -> q_sample_bottomk _,
    "q_agg_cms" -> q_agg_cms _,
    "q_join_asof_tol" -> q_join_asof_tol _,
    "q_join_asof_fwd" -> q_join_asof_fwd _,
    "q_source_csv" -> q_source_csv _,
    "q_source_jsonl" -> q_source_jsonl _,
  )

  private val ingestOracle =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_sla_uptime" ->
      """WITH q AS (SELECT user_id, epoch_ms(ts) // 3600000 AS hr FROM events),
        |span AS (SELECT min(hr) AS lo, max(hr) AS hi FROM q),
        |g AS (SELECT user_id, count(DISTINCT hr) AS n_active FROM q GROUP BY user_id)
        |SELECT user_id, n_active, (hi - lo + 1) AS n_hours,
        |  (10000 * n_active) // (hi - lo + 1) AS avail_bp
        |FROM g, span ORDER BY avail_bp, user_id LIMIT 20""".stripMargin,
    "q_audit_benford" ->
      """WITH q AS (SELECT event_type,
        |    CAST(substr(CAST(CAST(floor("value" * 100.0 + 0.5) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS d FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(sum(CASE WHEN d = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        |    CAST(sum(CASE WHEN d = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n6,
        |    CAST(sum(CASE WHEN d = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n7,
        |    CAST(sum(CASE WHEN d = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n8,
        |    CAST(sum(CASE WHEN d = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n9
        |  FROM q GROUP BY event_type)
        |SELECT event_type, n, (10000 * n1) // n AS d1_bp,
        |  (abs(10000 * n1 - 3010 * n) + abs(10000 * n2 - 1760 * n)
        |   + abs(10000 * n3 - 1249 * n) + abs(10000 * n4 - 969 * n)
        |   + abs(10000 * n5 - 791 * n) + abs(10000 * n6 - 669 * n)
        |   + abs(10000 * n7 - 579 * n) + abs(10000 * n8 - 511 * n)
        |   + abs(10000 * n9 - 457 * n)) // n AS dev_bp
        |FROM g ORDER BY event_type""".stripMargin,
    "q_alert_flap" ->
      """WITH s AS (SELECT user_id, ts, event_id,
        |    ("value" >= 50.0e0) AS state FROM events),
        |p AS (SELECT user_id, state,
        |    lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM s),
        |g AS (SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev != state
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_trans
        |  FROM p GROUP BY user_id)
        |SELECT user_id, n_events, n_trans,
        |  CASE WHEN n_events > 1 THEN (10000 * n_trans) // (n_events - 1)
        |       ELSE 0 END AS flap_bp,
        |  n_trans * 2 >= n_events - 1 AS flapping
        |FROM g ORDER BY flap_bp DESC, user_id LIMIT 10""".stripMargin,
    "q_text_readability" ->
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS y
        |  FROM documents),
        |g AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS w_sum, CAST(sum(y) AS BIGINT) AS y_sum
        |  FROM d GROUP BY lang)
        |SELECT lang, n_docs, w_sum, y_sum,
        |  CAST(floor((206.835e0
        |    - 1.015e0 * (CAST(w_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |    - 84.6e0 * (CAST(y_sum AS DOUBLE) / CAST(w_sum AS DOUBLE)))
        |    * 1e4) AS BIGINT) AS flesch_e4
        |FROM g ORDER BY lang""".stripMargin,
    "q_trend_ols" ->
      """WITH q AS (SELECT event_type,
        |    epoch_us(ts) // 1000000 AS xs,
        |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS c FROM events),
        |x0 AS (SELECT min(xs) AS x0 FROM q),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(xs - x0) AS BIGINT) AS sx, CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum((xs - x0) * c) AS BIGINT) AS sxy,
        |    CAST(sum((xs - x0) * (xs - x0)) AS BIGINT) AS sxx
        |  FROM q, x0 GROUP BY event_type),
        |s AS (SELECT event_type, n,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |       / CAST(n AS DOUBLE)) AS slope
        |  FROM g)
        |SELECT event_type, n,
        |  CAST(floor(slope * 1e9) AS BIGINT) AS slope_e9,
        |  slope > 0.0e0 AS rising
        |FROM s ORDER BY event_type""".stripMargin,
    "q_ab_welch" ->
      """WITH q AS (SELECT event_type,
        |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS c FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c*c) AS BIGINT) AS ss
        |  FROM q GROUP BY event_type),
        |w AS (SELECT event_type, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    ((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |      * CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS v
        |  FROM g),
        |b AS (SELECT m AS m0, v AS v0, n AS n0 FROM w WHERE event_type = 'click')
        |SELECT w.event_type, w.n,
        |  CAST(floor(m * 1e4) AS BIGINT) AS mean_e4,
        |  CAST(floor(abs((m - m0) / sqrt(v / CAST(w.n AS DOUBLE)
        |    + v0 / CAST(n0 AS DOUBLE))) * 1e4) AS BIGINT) AS t_e4,
        |  abs((m - m0) / sqrt(v / CAST(w.n AS DOUBLE)
        |    + v0 / CAST(n0 AS DOUBLE))) >= 1.96e0 AS significant
        |FROM w, b ORDER BY w.event_type""".stripMargin,
    "q_colloc_pmi" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT x, count(*) AS n_x FROM (SELECT unnest(w) AS x FROM ws) GROUP BY 1),
        |n AS (SELECT CAST(sum(len(w)) AS BIGINT) AS n_tokens FROM ws),
        |bg AS (
        |  SELECT b['x'] AS x, b['y'] AS y, count(*) AS n_xy FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |      i -> struct_pack(x := w[i], y := w[i+1]))) AS b
        |    FROM ws)
        |  GROUP BY 1, 2 HAVING count(*) >= 20)
        |SELECT bg.x AS x, bg.y AS y, n_xy, u1.n_x AS n_x, u2.n_x AS n_y,
        |  (n_xy * n_tokens * 10000) // (u1.n_x * u2.n_x) AS score_e4
        |FROM bg JOIN uni u1 ON bg.x = u1.x JOIN uni u2 ON bg.y = u2.x
        |CROSS JOIN n
        |ORDER BY score_e4 DESC, bg.x, bg.y LIMIT 20""".stripMargin,
    "q_anomaly_mad" ->
      """WITH c AS (
        |  SELECT event_type, CAST(floor("value" * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med FROM c GROUP BY 1),
        |d AS (SELECT c.event_type, cents, med, abs(cents - med) AS dev
        |      FROM c JOIN m USING (event_type)),
        |m2 AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type AS event_type, count(*) AS n,
        |  max(med) AS med, max(mad) AS mad,
        |  CAST(sum(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN m2 USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q_ip_rollup" ->
      """WITH ips AS (
        |  SELECT event_id, user_id, "value",
        |    concat(10, '.', user_id % 200, '.', event_id % 251, '.', (event_id * 7) % 256) AS ip
        |  FROM events),
        |p AS (
        |  SELECT "value",
        |    (CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 +
        |     CAST(string_split(ip, '.')[2] AS BIGINT) * 65536 +
        |     CAST(string_split(ip, '.')[3] AS BIGINT) * 256 +
        |     CAST(string_split(ip, '.')[4] AS BIGINT)) AS ip_int
        |  FROM ips),
        |g AS (
        |  SELECT (ip_int // 65536) * 65536 AS p16, count(*) AS n_flows,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |    count(DISTINCT (ip_int // 256) * 256) AS n_24s
        |  FROM p GROUP BY 1)
        |SELECT concat(p16 // 16777216, '.', (p16 // 65536) % 256) AS prefix,
        |  p16, n_flows, v_sum, n_24s
        |FROM g ORDER BY n_flows DESC, p16 LIMIT 10""".stripMargin,
    "q_topk_drift" ->
      """WITH b AS (SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi FROM events),
        |al AS (
        |  SELECT user_id, CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS vdec
        |  FROM events GROUP BY 1
        |  ORDER BY vdec DESC, user_id LIMIT 10),
        |alr AS (SELECT user_id, CAST(vdec AS DOUBLE) AS v_all,
        |  CAST(row_number() OVER (ORDER BY vdec DESC, user_id) AS INT) AS rk_all FROM al),
        |re AS (
        |  SELECT user_id, CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS vdec
        |  FROM events, b WHERE epoch_ms(ts) * 2 >= lo + hi GROUP BY 1
        |  ORDER BY vdec DESC, user_id LIMIT 10),
        |rer AS (SELECT user_id, CAST(vdec AS DOUBLE) AS v_recent,
        |  CAST(row_number() OVER (ORDER BY vdec DESC, user_id) AS INT) AS rk_recent FROM re)
        |SELECT coalesce(alr.user_id, rer.user_id) AS user_id, v_all, rk_all, v_recent, rk_recent,
        |  CASE WHEN rk_all IS NULL THEN 'entered'
        |       WHEN rk_recent IS NULL THEN 'dropped' ELSE 'stayed' END AS status,
        |  CAST(rk_all - rk_recent AS INT) AS rank_delta
        |FROM alr FULL OUTER JOIN rer ON alr.user_id = rer.user_id
        |ORDER BY coalesce(rk_recent, 99), coalesce(alr.user_id, rer.user_id)""".stripMargin,
    "q_like_trgm" ->
      """WITH pats AS (SELECT unnest(['fast merge', 'table key', 'vector scan']) AS pat),
        |pg AS (SELECT DISTINCT pat, g AS gram FROM (
        |  SELECT pat, unnest(list_transform(range(1, len(pat) - 1), i -> substr(pat, i, 3))) AS g
        |  FROM pats)),
        |need AS (SELECT pat, count(*) AS n_need FROM pg GROUP BY pat),
        |grams AS (SELECT DISTINCT doc_id, g AS gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(text) - 1), i -> substr(text, i, 3))) AS g
        |  FROM documents WHERE len(text) >= 3)),
        |cand AS (
        |  SELECT g.doc_id, p.pat, count(*) AS n_hit
        |  FROM grams g JOIN pg p ON g.gram = p.gram
        |  GROUP BY g.doc_id, p.pat),
        |c2 AS (SELECT c.doc_id, c.pat FROM cand c
        |       JOIN need n ON c.pat = n.pat AND c.n_hit = n.n_need)
        |SELECT c2.pat AS pat, count(*) AS n_candidates,
        |  CAST(sum(CASE WHEN contains(d.text, c2.pat) THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
        |FROM c2 JOIN documents d ON c2.doc_id = d.doc_id
        |GROUP BY c2.pat ORDER BY c2.pat""".stripMargin,
    "q_log_parse" ->
      """WITH lines AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 53 = 0
        |      THEN 'X!' || event_type || ' uid=' || user_id || ' ' || props
        |      ELSE event_type || ' uid=' || user_id || ' ' || props END AS line
        |  FROM events),
        |parsed AS (
        |  SELECT regexp_matches(line, '^[a-z]+ uid=[0-9]+ \{') AS ok,
        |    CASE WHEN regexp_matches(line, '^[a-z]+ uid=[0-9]+ \{')
        |      THEN regexp_extract(line, '^([a-z]+) uid=', 1)
        |      ELSE '_malformed' END AS etype,
        |    CASE WHEN regexp_matches(line, '^[a-z]+ uid=[0-9]+ \{')
        |      THEN CAST(regexp_extract(line, ' uid=([0-9]+) ', 1) AS BIGINT) END AS uid,
        |    CASE WHEN regexp_matches(line, '^[a-z]+ uid=[0-9]+ \{')
        |      THEN CAST(json_extract_string(regexp_extract(line, '(\{.*\})$', 1), '$.k') AS BIGINT) END AS k
        |  FROM lines)
        |SELECT etype, count(*) AS n, CAST(sum(uid) AS BIGINT) AS uid_sum,
        |  CAST(sum(k) AS BIGINT) AS k_sum
        |FROM parsed GROUP BY etype ORDER BY etype""".stripMargin,
    "q_mm_frames" ->
      """SELECT doc_id, CAST(off // 96 AS INT) AS frame_no,
        |  CAST(length(substr(text, CAST(off AS INT) + 1, 48)) AS INT) AS frame_len,
        |  md5(substr(text, CAST(off AS INT) + 1, 48)) AS frame_md5
        |FROM (SELECT doc_id, text, unnest(range(0, length(text), 96)) AS off
        |      FROM documents)
        |ORDER BY doc_id, frame_no""".stripMargin,
    "q_sample_bottomk" ->
      """SELECT doc_id, lang, n_chars, md5('s42:' || doc_id) AS skey
        |FROM documents ORDER BY skey, doc_id LIMIT 200""".stripMargin,
    "q_agg_cms" ->
      """SELECT user_id, count(*) AS est_n FROM events
        |WHERE user_id BETWEEN 0 AND 9 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_join_asof_tol" ->
      """SELECT event_id, user_id,
        |  CASE WHEN dt <= 3600000000 THEN prev_event_id END AS prev_event_id,
        |  CASE WHEN dt <= 3600000000 THEN prev_value END AS prev_value
        |FROM (
        |  SELECT event_id, user_id, event_type,
        |    lag(event_id) OVER w AS prev_event_id,
        |    lag("value") OVER w AS prev_value,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q_join_asof_fwd" ->
      """SELECT event_id, user_id, next_event_id, next_type FROM (
        |  SELECT event_id, user_id, event_type,
        |    lead(event_id) OVER w AS next_event_id,
        |    lead(event_type) OVER w AS next_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // the ingestion gates re-aggregate the round-tripped file; the oracle
    // aggregates the ORIGINAL parquet rows — they only agree if every
    // typed value survived the text format exactly
    "q_source_csv" -> ingestOracle,
    "q_source_jsonl" -> ingestOracle,
  )
}
