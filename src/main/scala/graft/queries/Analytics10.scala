package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 eighth-continuation additions (SURVEY §2.26): the graph
  * family's local-density statistic (clustering coefficient), the CCNet
  * quality-bucketing stage of the LLM pipeline, funnel time-to-convert
  * percentiles, the seasonal-baseline anomaly screen, and SAX time-series
  * symbolization. Same disciplines as Analytics8/9: exact BIGINT
  * statistics (one division at the end, integer cross-multiply
  * comparisons), key-bounded or domain-bounded windows only (never a
  * data-sized single partition), and every quantile an ORDER STATISTIC
  * over quantized integers computed from a cumulative HISTOGRAM — the
  * shape that stays exact AND distributed when the row count is 10¹². */
object Analytics10 extends QueryModule {

  private def cents(c: Column): Column =
    floor(c * 100.0 + 0.5).cast("long")

  /** LOCAL CLUSTERING COEFFICIENT — per node, how interconnected its
    * neighborhood is: cc(v) = 2·t(v) / (deg(v)·(deg(v)−1)) where t(v)
    * counts edges AMONG v's neighbors. The graph family's local-density
    * face beside the global transitivity of q_graph_triangles and the
    * graph-level Newman r of q_graph_assort: a node can sit in a dense
    * clique (cc→1) or a hub-and-spoke (cc→0) at the SAME degree, and
    * training-data curation uses exactly that distinction (clique ⇒
    * near-duplicate cluster, star ⇒ template/boilerplate hub). Wedges by
    * ONE self-equi-join of the symmetric edge list on the center key —
    * Σdeg² work, never |V|² — closed wedges kept by a LEFT SEMI join
    * against the canonical (da<db) pair frame, then one count per center
    * and the exact-bp division at the end. cc is reported in basis
    * points, degree-≥2 nodes only (cc is undefined below — the same
    * explicit-domain discipline as q_graph_assort's NaN). At 100 TB the
    * wedge join is the known triangle-counting bound; the degree-ordered
    * orientation trick would cut it further and is documented, not
    * needed at the gate's density. */
  def q_graph_clustco(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 1000)
    val p = LlmExt.cellCosinePairs(e, minBp = 2000)
      .select(col("da"), col("db")).persist()
    clustcoOf(p)
  }

  /** The wedge-count mechanism over a canonical (da < db, distinct) pair
    * frame — factored so the randomized differential can drive cliques,
    * stars and paths through the identical plan. */
  private[graft] def clustcoOf(p: DataFrame): DataFrame = {
    val sym = p.union(p.select(col("db").as("da"), col("da").as("db")))
    val deg = sym.groupBy(col("da")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("da").as("n"), col("db").as("xa"))
      .join(sym.select(col("da").as("n"), col("db").as("xb")), Seq("n"))
      .filter(col("xa") < col("xb"))
    val tri = wedges
      .join(p.select(col("da").as("xa"), col("db").as("xb")),
        Seq("xa", "xb"), "left_semi")
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(tri.select(col("n").as("da"), col("tri")), Seq("da"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("cc_bp", expr("(20000 * tri) div (deg * (deg - 1))"))
      .select(col("da").as("vec_id"), col("deg"), col("tri"), col("cc_bp"))
      .orderBy(col("vec_id"))
  }

  /** CCNET QUALITY BUCKETING — the head/middle/tail split (Wenzek et
    * al., "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data", 2020): per LANGUAGE, rank every document by a quality
    * score and cut the corpus into thirds, so downstream sampling can
    * over-weight the head. The score is the suite's exact-integer
    * unique-word ratio (the q_text_quality battery; CCNet's perplexity
    * slot, same mechanics). The cut is NOT an ntile over a per-language
    * window — that is the all-rows-to-one-partition shape the suite
    * bans; at 100 TB a language partition IS the corpus. Instead the
    * thresholds come from the score HISTOGRAM: a two-phase (lang, score)
    * count, a cumulative window over the ≤10⁴-row-per-language DISTINCT
    * SCORE domain (domain-bounded, not data-bounded), and a broadcast
    * join back — classification is then map-side integer compares.
    * Whole score-tie groups land in one bucket on both engines, which
    * is what makes the thirds deterministic (3·c_lt ≥ 2n ⇒ head,
    * 3·c_lt ≥ n ⇒ middle, else tail, c_lt = docs scoring strictly
    * lower). */
  def q_quality_buckets(spark: SparkSession, dir: String): DataFrame = {
    val d = LlmExt.withQualityScores(Tables.documents(spark, dir))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("lang"), col("uniq_bp").as("score"))
    bucketsOf(d)
  }

  /** The histogram-threshold mechanism over an explicit (doc_id, lang,
    * score) frame — factored for the randomized differential (skewed,
    * constant and two-point score distributions). */
  private[graft] def bucketsOf(d: DataFrame): DataFrame = {
    val hist = d.groupBy(col("lang"), col("score")).agg(count(lit(1)).as("c"))
    val wl = Window.partitionBy(col("lang")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("c_lt", coalesce(sum(col("c")).over(wl), lit(0L)))
    val tot = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    d.join(broadcast(cum.select(col("lang"), col("score"), col("c_lt"))),
        Seq("lang", "score"))
      .join(broadcast(tot), Seq("lang"))
      .withColumn("bucket",
        when(col("c_lt") * 3 >= col("n") * 2, lit("head"))
          .when(col("c_lt") * 3 >= col("n"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** FUNNEL TIME-TO-CONVERT — q_funnel counts who converted; the product
    * question that follows is HOW FAST: per day, the p50/p90/max
    * view→click latency among converting (user, day) pairs. Latencies
    * are quantized to whole seconds and the percentiles are ORDER
    * STATISTICS over the per-day latency HISTOGRAM (smallest latency
    * whose cumulative count reaches p·n — 2·c_le ≥ n for p50, 10·c_le ≥
    * 9·n for p90, exact integer cross-multiplies) — the same
    * domain-bounded-cumulative recipe as q_quality_buckets, because a
    * day's converter count at 100 TB is data-sized but a day's DISTINCT
    * whole-second latency domain is ≤86400 rows. One (user, day) window
    * pass finds each pair's first view and first subsequent click (the
    * q_funnel shape, one shuffle), the pair collapse rides the same
    * sort via row_number, and the day totals broadcast back onto the
    * histogram. */
  def q_funnel_latency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        to_date(col("ts")).as("day"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("ts") > col("tv"), col("ts"))).over(w))
      .withColumn("rn",
        row_number().over(w.orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1 && col("tc").isNotNull)
      .select(col("day"),
        expr("(unix_micros(tc) - unix_micros(tv)) div 1000000").as("dur_s"))
    val hist = pairs.groupBy(col("day"), col("dur_s")).agg(count(lit(1)).as("c"))
    val wd = Window.partitionBy(col("day")).orderBy(col("dur_s"))
    val cum = hist.withColumn("c_le", sum(col("c")).over(wd))
    val tot = pairs.groupBy(col("day")).agg(count(lit(1)).as("n"))
    cum.join(broadcast(tot), Seq("day"))
      .groupBy(col("day"))
      .agg(max(col("n")).as("n_conv"),
        min(when(col("c_le") * 2 >= col("n"), col("dur_s"))).as("p50_s"),
        min(when(col("c_le") * 10 >= col("n") * 9, col("dur_s"))).as("p90_s"),
        max(col("dur_s")).as("max_s"))
      .orderBy(col("day"))
  }

  /** SEASONAL-BASELINE ANOMALY — "is this value unusual FOR A TUESDAY":
    * per (host, weekday) the exact mean/variance baseline, each
    * observation flagged beyond 2σ of ITS OWN weekday's profile. The
    * calendar-seasonal face of the anomaly family (Bollinger = trailing
    * window, Hampel = local median, MAD = global robust): a nightly
    * batch job is only anomalous relative to other nights, and the
    * weekday profile is the cheapest seasonal model that catches it.
    * Exact integers end to end: cent values, one (host, dow) two-phase
    * moment agg joined back, deviation and variance cross-multiplied
    * through m (dev_n = m·y − s1, var_n = m·s2 − s1²; flag dev_n² >
    * 4·m·var_n... the σ² identity: (y−μ)² > 4σ² ⇔ (m·y−s1)² >
    * 4·(m·s2−s1²) since both sides scale by m²) — no float anywhere in
    * the flag. Weekday by epoch arithmetic, never an engine dayofweek
    * (§2.10 numbering rule). Profiles with m < 5 are too thin to flag
    * against and are emitted unflagged (flag NULL→false semantics made
    * explicit). One user_id-keyed shuffle for the agg, one equi join
    * back; at 100 TB both sides partition on the same key. */
  def q_ts_seasonal(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        cents(col("value")).as("y"),
        pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 4, lit(7))
          .cast("long").as("dow"))
    val g = b.groupBy(col("user_id"), col("dow"))
      .agg(count(lit(1)).as("m"), sum(col("y")).as("s1"),
        sum(col("y") * col("y")).as("s2"))
    b.join(g, Seq("user_id", "dow"))
      .withColumn("dev_n", col("m") * col("y") - col("s1"))
      .withColumn("var_n", col("m") * col("s2") - col("s1") * col("s1"))
      .withColumn("is_anom", col("m") >= 5 &&
        col("dev_n") * col("dev_n") > lit(4L) * col("var_n"))
      .select(col("user_id"), col("dow"), col("ts_us"), col("event_id"),
        col("y"), col("m"), col("s1"), col("dev_n"), col("var_n"), col("is_anom"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** SAX SYMBOLIZATION (Lin et al., "A Symbolic Representation of Time
    * Series", 2003) — each host's value series compressed to a short
    * SYMBOL WORD: 8 equal-count PAA segments, each segment's mean mapped
    * to a letter a–d by the host's own value QUARTILES. The word is what
    * scales similarity search over raw telemetry (iSAX indexes shard
    * and prefix-match on it); two hosts with the same word have the same
    * coarse shape regardless of level detail. Everything stays exact
    * integers: quartiles are order statistics from the per-host
    * cumulative cent histogram (domain-bounded window — the
    * q_quality_buckets recipe, per host), PAA means are (sum, count)
    * pairs never divided, and the letter compare is the cross-multiply
    * s < q·c. Canonical SAX z-normalizes against fixed Gaussian
    * breakpoints; per-series empirical quartiles are the
    * equi-probability variant that keeps the discretization exact and
    * engine-identical (no float mean/σ). All windows are host-keyed;
    * the word assembly is one sorted-array aggregation per host. */
  def q_ts_sax(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        cents(col("value")).as("y"))
    saxOf(b, segments = 8)
  }

  /** The PAA + empirical-quartile mechanism over an explicit (user_id,
    * ts_us, event_id, y) frame — factored for the randomized
    * differential (constant series, ramps, two-level square waves). */
  private[graft] def saxOf(b: DataFrame, segments: Int): DataFrame = {
    val hist = b.groupBy(col("user_id"), col("y")).agg(count(lit(1)).as("c"))
    val wu = Window.partitionBy(col("user_id")).orderBy(col("y"))
    val cum = hist.withColumn("c_le", sum(col("c")).over(wu))
    val tot = b.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val qs = cum.join(tot, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(min(when(col("c_le") * 4 >= col("n"), col("y"))).as("q1"),
        min(when(col("c_le") * 2 >= col("n"), col("y"))).as("q2"),
        min(when(col("c_le") * 4 >= col("n") * 3, col("y"))).as("q3"))
    val seg = b
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))))
      .join(tot, Seq("user_id"))
      .withColumn("seg", expr(s"((rn - 1) * $segments) div n"))
    val paa = seg.groupBy(col("user_id"), col("n"), col("seg"))
      .agg(sum(col("y")).as("s"), count(lit(1)).as("c"))
    paa.join(qs, Seq("user_id"))
      .withColumn("letter",
        when(col("s") < col("q1") * col("c"), lit("a"))
          .when(col("s") < col("q2") * col("c"), lit("b"))
          .when(col("s") < col("q3") * col("c"), lit("c"))
          .otherwise(lit("d")))
      .groupBy(col("user_id"), col("n"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(seg, letter))), x -> x.letter), '')").as("sax"))
      .select(col("user_id"), col("n").as("n_events"), col("sax"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_clustco" -> q_graph_clustco _,
    "q_quality_buckets" -> q_quality_buckets _,
    "q_funnel_latency" -> q_funnel_latency _,
    "q_ts_seasonal" -> q_ts_seasonal _,
    "q_ts_sax" -> q_ts_sax _)

  val oracle: Map[String, String] = Map(
    "q_graph_clustco" -> (Analytics9.GraphCte +
      """,
        |deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM edges GROUP BY a),
        |wed AS (SELECT s1.a AS n, s1.b AS xa, s2.b AS xb
        |  FROM edges s1 JOIN edges s2 ON s1.a = s2.a AND s1.b < s2.b),
        |tri AS (SELECT w.n, count(*) AS tri FROM wed w
        |  JOIN p ON w.xa = p.da AND w.xb = p.db GROUP BY w.n)
        |SELECT d.a AS vec_id, d.deg, coalesce(t.tri, 0) AS tri,
        |  (20000 * coalesce(t.tri, 0)) // (d.deg * (d.deg - 1)) AS cc_bp
        |FROM deg d LEFT JOIN tri t ON d.a = t.n
        |WHERE d.deg >= 2 ORDER BY vec_id""".stripMargin),
    "q_quality_buckets" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(floor(10000.0 * len(list_distinct(string_split(text, ' ')))
        |      / len(string_split(text, ' '))) AS BIGINT) AS score
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |hist AS (SELECT lang, score, count(*) AS c FROM d GROUP BY 1, 2),
        |cum AS (SELECT lang, score,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY lang ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c_lt
        |  FROM hist),
        |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.score,
        |  CASE WHEN c.c_lt * 3 >= t.n * 2 THEN 'head'
        |       WHEN c.c_lt * 3 >= t.n THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM d JOIN cum c ON d.lang = c.lang AND d.score = c.score
        |JOIN tot t ON d.lang = t.lang
        |ORDER BY doc_id""".stripMargin,
    "q_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id,
        |    CAST(ts AS DATE) AS day FROM events),
        |w AS (SELECT user_id, day, ts, event_id, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id, day) AS tv
        |  FROM e),
        |w2 AS (SELECT user_id, day, ts, event_id, tv,
        |    min(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
        |      OVER (PARTITION BY user_id, day) AS tc,
        |    row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn
        |  FROM w),
        |pairs AS (SELECT day,
        |    (epoch_us(tc) - epoch_us(tv)) // 1000000 AS dur_s
        |  FROM w2 WHERE rn = 1 AND tc IS NOT NULL),
        |hist AS (SELECT day, dur_s, count(*) AS c FROM pairs GROUP BY 1, 2),
        |cum AS (SELECT day, dur_s,
        |    CAST(sum(c) OVER (PARTITION BY day ORDER BY dur_s) AS BIGINT) AS c_le
        |  FROM hist),
        |tot AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1)
        |SELECT c.day, max(t.n) AS n_conv,
        |  min(CASE WHEN c.c_le * 2 >= t.n THEN c.dur_s END) AS p50_s,
        |  min(CASE WHEN c.c_le * 10 >= t.n * 9 THEN c.dur_s END) AS p90_s,
        |  max(c.dur_s) AS max_s
        |FROM cum c JOIN tot t ON c.day = t.day
        |GROUP BY c.day ORDER BY c.day""".stripMargin,
    "q_ts_seasonal" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS y,
        |    (CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7 AS dow
        |  FROM events),
        |g AS (SELECT user_id, dow, count(*) AS m,
        |    CAST(sum(y) AS BIGINT) AS s1, CAST(sum(y * y) AS BIGINT) AS s2
        |  FROM b GROUP BY 1, 2)
        |SELECT b.user_id, b.dow, b.ts_us, b.event_id, b.y, g.m, g.s1,
        |  g.m * b.y - g.s1 AS dev_n,
        |  g.m * g.s2 - g.s1 * g.s1 AS var_n,
        |  g.m >= 5 AND (g.m * b.y - g.s1) * (g.m * b.y - g.s1)
        |    > 4 * (g.m * g.s2 - g.s1 * g.s1) AS is_anom
        |FROM b JOIN g ON b.user_id = g.user_id AND b.dow = g.dow
        |ORDER BY b.user_id, b.ts_us, b.event_id""".stripMargin,
    "q_ts_sax" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(floor("value" * 100.0 + 0.5) AS BIGINT) AS y FROM events),
        |hist AS (SELECT user_id, y, count(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (SELECT user_id, y,
        |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY y) AS BIGINT) AS c_le
        |  FROM hist),
        |tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |qs AS (SELECT c.user_id,
        |    min(CASE WHEN c.c_le * 4 >= t.n THEN c.y END) AS q1,
        |    min(CASE WHEN c.c_le * 2 >= t.n THEN c.y END) AS q2,
        |    min(CASE WHEN c.c_le * 4 >= t.n * 3 THEN c.y END) AS q3
        |  FROM cum c JOIN tot t ON c.user_id = t.user_id GROUP BY 1),
        |r AS (SELECT user_id, y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
        |  FROM b),
        |sg AS (SELECT r.user_id, t.n, ((r.rn - 1) * 8) // t.n AS seg, r.y
        |  FROM r JOIN tot t ON r.user_id = t.user_id),
        |paa AS (SELECT user_id, n, seg,
        |    CAST(sum(y) AS BIGINT) AS s, count(*) AS c
        |  FROM sg GROUP BY 1, 2, 3),
        |l AS (SELECT p.user_id, p.n, p.seg,
        |    CASE WHEN p.s < q.q1 * p.c THEN 'a'
        |         WHEN p.s < q.q2 * p.c THEN 'b'
        |         WHEN p.s < q.q3 * p.c THEN 'c'
        |         ELSE 'd' END AS letter
        |  FROM paa p JOIN qs q ON p.user_id = q.user_id)
        |SELECT user_id, n AS n_events,
        |  string_agg(letter, '' ORDER BY seg) AS sax
        |FROM l GROUP BY user_id, n ORDER BY user_id""".stripMargin)
}
