package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 ninth-continuation additions (SURVEY §2.27): the privacy
  * audit a corpus release needs (k-anonymity / l-diversity), the
  * port-scan fan-out screen from the reference's network-monitoring
  * home domain, TextRank keyword extraction (the graph face of the
  * text tier), weighted single-source shortest paths (the weighted
  * face of q_graph_bfs), and the per-language corpus report card.
  * Same disciplines as Analytics8-10: exact BIGINT statistics with
  * integer cross-multiply comparisons, every quantile an order
  * statistic over a domain-bounded cumulative histogram, and rank
  * state always node-bounded while the edge/event side stays
  * distributed. */
object Analytics11 extends QueryModule {

  /** K-ANONYMITY / L-DIVERSITY AUDIT — before a corpus ships, which
    * quasi-identifier classes are re-identifiable: group documents by
    * the QI tuple (lang, source, length bucket) and report each class's
    * size m (k-anonymity: a class of m < 5 pins an individual to ≤4
    * candidates) and its l-diversity l = distinct exact lengths inside
    * the class (a class can be large yet reveal the sensitive value if
    * everyone shares it). The release decision is the integer pair
    * (m, l) per class — no float anywhere. Mechanically ONE two-phase
    * aggregation over the QI key: count is map-combinable and the
    * distinct-count runs as the standard two-phase expand — at 100 TB
    * the QI-class domain (langs × sources × buckets) is thousands of
    * rows, so the reduce side is trivially small no matter the corpus
    * size. */
  def q_privacy_kanon(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        expr("n_chars div 200").as("len_b"), col("n_chars"))
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("m"),
        countDistinct(col("n_chars")).as("l_div"))
      .withColumn("k_ok", col("m") >= 5)
      .orderBy(col("lang"), col("source"), col("len_b"))
  }

  /** PORT-SCAN FAN-OUT SCREEN — the reference domain's classic
    * detection query: a scanning host touches many DISTINCT destination
    * ports in a day while a normal host re-uses a few. Ports derive
    * deterministically from the corpus (the q_ip_lpm recipe — modular
    * integer arithmetic both engines compute identically; no engine
    * hash). Per (host, day): event count and distinct-port count, then
    * the flag compares the day's fan-out against the host's OWN average
    * daily volume by integer cross-multiply — n_ports·n_days > 2·total
    * (= "today's distinct fan-out exceeds 2× my average daily event
    * count") with an absolute floor of 6 ports, so a chatty-but-normal
    * host doesn't flag and a quiet host's single burst does.
    * Mechanically: one distinct reduction + one (host, day) count — both
    * map-combinable two-phase aggs on the same key family — and the
    * host-profile side is a |hosts|-row broadcast; no window over the
    * event stream. */
  def q_net_fanout(spark: SparkSession, dir: String): DataFrame = {
    val flows = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_no"),
        pmod(col("event_id") * 2654435761L, lit(1024L)).as("port"))
    val days = flows.groupBy(col("user_id"), col("day_no"))
      .agg(count(lit(1)).as("n_ev"), countDistinct(col("port")).as("n_ports"))
    val prof = days.groupBy(col("user_id"))
      .agg(sum(col("n_ev")).as("total_ev"), count(lit(1)).as("n_days"))
    days.join(broadcast(prof), Seq("user_id"))
      .withColumn("is_scan", col("n_ports") >= 6 &&
        col("n_ports") * col("n_days") > col("total_ev") * 2)
      .select(col("user_id"), col("day_no"), col("n_ev"), col("n_ports"),
        col("total_ev"), col("n_days"), col("is_scan"))
      .orderBy(col("user_id"), col("day_no"))
  }

  /** TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau 2004) — corpus-level
    * keywords as PageRank over the word ADJACENCY graph: vocabulary =
    * words appearing in ≥5 % of documents (df·20 ≥ n_docs — a RELATIVE
    * bound, so the same query runs at every scale factor), edges =
    * adjacent vocab-word pairs weighted by corpus co-occurrence count,
    * two unrolled WEIGHTED PageRank rounds in the q_graph_pagerank
    * exact-integer recipe: per-edge contribution (r·w) div wdeg(u), rank
    * (15·S + 85·Σc) div 100 — `div` everywhere, bit-identical on both
    * engines. A word ranks high when it neighbors other high-ranked
    * words often — frequency alone doesn't (that is q_vocab_topk).
    * At 100 TB the pair extraction is the map-side pass over documents;
    * vocab and rank state are Zipf-bounded (≲10⁶ rows) and broadcast,
    * edges stay distributed. Top 30 via TakeOrderedAndProject + the
    * k-row broadcast rank (never a data window). */
  def q_text_keywords(spark: SparkSession, dir: String): DataFrame = {
    val scale = 1000000L
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val vocab = docs
      .select(col("doc_id"), explode(array_distinct(col("ws"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 20 >= col("n_docs"))
      .select(col("w"))
    val adj = docs
      .select(posexplode(col("ws")).as(Seq("pos", "wa")), col("doc_id"), col("ws"))
      .withColumn("wb", expr("get(ws, pos + 1)"))
      .filter(col("wb").isNotNull)
      .select(col("wa"), col("wb"))
      .join(broadcast(vocab.select(col("w").as("wa"))), Seq("wa"), "left_semi")
      .join(broadcast(vocab.select(col("w").as("wb"))), Seq("wb"), "left_semi")
    val e0 = adj.groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cw"))
    val top = textrankOf(e0).orderBy(col("r2").desc, col("word")).limit(30).persist()
    Q.rankTopK(top, "r2", "word")
      .select(col("word"), col("r2"), col("rk"))
      .orderBy(col("rk"))
  }

  /** The two weighted integer-PageRank rounds over an explicit directed
    * (wa, wb, cw) co-occurrence frame — factored so the spec can drive
    * hand-derivable paths/cliques through the identical plan. */
  private[graft] def textrankOf(e0: DataFrame): DataFrame = {
    val scale = 1000000L
    val edges = e0.union(e0.select(col("wb").as("wa"), col("wa").as("wb"), col("cw")))
      .groupBy(col("wa"), col("wb")).agg(sum(col("cw")).as("cw"))
      .persist()
    val wdeg = edges.groupBy(col("wa")).agg(sum(col("cw")).as("wd"))
    val c1 = edges.join(broadcast(wdeg), Seq("wa"))
      .select(col("wb"), expr(s"(${scale}L * cw) div wd").as("c"))
    val r1 = c1.groupBy(col("wb")).agg(sum(col("c")).as("s"))
      .select(col("wb").as("wa"), expr(s"(${15L * scale}L + 85L * s) div 100L").as("r"))
    val c2 = edges.join(broadcast(r1), Seq("wa")).join(broadcast(wdeg), Seq("wa"))
      .select(col("wb"), expr("(r * cw) div wd").as("c"))
    c2.groupBy(col("wb")).agg(sum(col("c")).as("s"))
      .select(col("wb").as("word"), expr(s"(${15L * scale}L + 85L * s) div 100L").as("r2"))
  }

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATHS — q_graph_bfs counts hops;
    * the operational question is usually cheapest total COST (latency,
    * toll, risk). Over the part—supplier bipartite graph with integer
    * edge weight = the minimum order quantity ever shipped on that link,
    * three unrolled Bellman-Ford rounds from the same seed set as BFS:
    * each round relaxes every edge once (dist join edges on the source
    * key, min per destination) and folds into the running minimum — the
    * distance frame stays node-bounded, the edge scan is the round's
    * only data-sized input, and three rounds = exact min cost over paths
    * of ≤3 edges (the oracle's recursion carries the hop counter so both
    * engines cut the SAME frontier). All-integer distances; unreachable
    * nodes simply absent. At 100 TB: rounds × one co-partitioned
    * edge join each — the textbook distributed SSSP shape. */
  def q_graph_sssp(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("src"),
        (col("l_suppkey") + lit(1000000000L)).as("dst"),
        col("l_quantity").cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .persist()
    val seeds = e0.select(col("src").as("id")).filter(col("id") < 10).distinct()
    ssspOf(e0, seeds, rounds = 3)
  }

  /** The unrolled Bellman-Ford mechanism over an explicit half-edge
    * (src, dst, w) frame and a seed frame (id) — factored for the spec's
    * hand-derived path/diamond fixtures. Symmetrizes internally. */
  private[graft] def ssspOf(e0: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    // Each round references the previous distance frame TWICE (the union's
    // carry branch and the relax join's probe side); without a lineage cut
    // the unrolled plan doubles per round and round k re-derives round k-1
    // down both branches. The lazy localCheckpoint (the CC loop's pattern)
    // materializes each node-bounded round once, inside the single final
    // action — measured 2.9 s → 2.0 s warm at sf0.1 on identical output.
    def relax(dist: DataFrame): DataFrame =
      dist.union(
          dist.join(edges, col("id") === col("src"))
            .select(col("dst").as("id"), (col("d") + col("w")).as("d")))
        .groupBy(col("id")).agg(min(col("d")).as("d"))
        .localCheckpoint(eager = false)
    val dN = (1 to rounds).foldLeft(seeds.withColumn("d", lit(0L)))((d, _) => relax(d))
    dN.select(col("id"), col("d").as("dist")).orderBy(col("dist"), col("id"))
  }

  /** CORPUS REPORT CARD — the dataset-documentation table every corpus
    * release ships (datasheets/model-cards practice): per language, doc
    * and source counts, total word volume, exact mean words per doc
    * (integer div — the only "mean" a cross-engine gate can pin), median
    * document length as an ORDER STATISTIC over the per-language
    * cumulative n_chars histogram (the §2.26 domain-bounded recipe —
    * distinct lengths per language, never an ntile over the corpus), and
    * the count of low-quality docs (unique-word ratio < 40 % — the
    * q_text_quality battery's gate). One quality pass + two two-phase
    * aggs + a broadcast histogram join; every column exact. */
  def q_corpus_card(spark: SparkSession, dir: String): DataFrame = {
    val d = LlmExt.withQualityScores(Tables.documents(spark, dir))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("n_words"), col("uniq_bp"))
    val hist = d.groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
    val wl = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
    val cum = hist.withColumn("c_le", sum(col("c")).over(wl))
    val med = cum
      .join(broadcast(d.groupBy(col("lang")).agg(count(lit(1)).as("n"))), Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(when(col("c_le") * 2 >= col("n"), col("n_chars"))).as("p50_chars"))
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_words")).as("words_total"),
        sum(when(col("uniq_bp") < 4000, 1L).otherwise(0L)).as("n_lowq"))
      .withColumn("wpd", expr("words_total div n_docs"))
      .join(broadcast(med), Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_sources"), col("words_total"),
        col("wpd"), col("p50_chars"), col("n_lowq"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_privacy_kanon" -> q_privacy_kanon _,
    "q_net_fanout" -> q_net_fanout _,
    "q_text_keywords" -> q_text_keywords _,
    "q_graph_sssp" -> q_graph_sssp _,
    "q_corpus_card" -> q_corpus_card _)

  val oracle: Map[String, String] = Map(
    "q_privacy_kanon" ->
      """SELECT lang, source, n_chars // 200 AS len_b,
        |  count(*) AS m,
        |  CAST(count(DISTINCT n_chars) AS BIGINT) AS l_div,
        |  count(*) >= 5 AS k_ok
        |FROM documents GROUP BY 1, 2, 3
        |ORDER BY lang, source, len_b""".stripMargin,
    "q_net_fanout" ->
      """WITH f AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_no,
        |    (event_id * 2654435761) % 1024 AS port FROM events),
        |d AS (SELECT user_id, day_no, count(*) AS n_ev,
        |    CAST(count(DISTINCT port) AS BIGINT) AS n_ports
        |  FROM f GROUP BY 1, 2),
        |p AS (SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS total_ev,
        |    count(*) AS n_days FROM d GROUP BY 1)
        |SELECT d.user_id, d.day_no, d.n_ev, d.n_ports, p.total_ev, p.n_days,
        |  d.n_ports >= 6 AND d.n_ports * p.n_days > p.total_ev * 2 AS is_scan
        |FROM d JOIN p ON d.user_id = p.user_id
        |ORDER BY d.user_id, d.day_no""".stripMargin,
    "q_text_keywords" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |nd AS (SELECT count(*) AS n_docs FROM w),
        |df AS (SELECT u.w, count(DISTINCT u.doc_id) AS df FROM
        |    (SELECT doc_id, unnest(list_distinct(ws)) AS w FROM w) u GROUP BY 1),
        |v AS (SELECT w FROM df, nd WHERE df * 20 >= n_docs),
        |p0 AS (SELECT unnest(list_transform(range(1, len(ws)),
        |    i -> struct_pack(a := ws[i], b := ws[i+1]))) AS pr FROM w),
        |adj AS (SELECT pr.a AS wa, pr.b AS wb FROM p0
        |  WHERE pr.a IN (SELECT w FROM v) AND pr.b IN (SELECT w FROM v)),
        |e0 AS (SELECT wa, wb, count(*) AS cw FROM adj GROUP BY 1, 2),
        |e AS (SELECT wa, wb, CAST(sum(cw) AS BIGINT) AS cw FROM
        |    (SELECT wa, wb, cw FROM e0
        |     UNION ALL SELECT wb AS wa, wa AS wb, cw FROM e0) GROUP BY 1, 2),
        |wd AS (SELECT wa, CAST(sum(cw) AS BIGINT) AS wd FROM e GROUP BY 1),
        |c1 AS (SELECT e.wb, (1000000 * e.cw) // w1.wd AS c
        |  FROM e JOIN wd w1 ON e.wa = w1.wa),
        |r1 AS (SELECT wb AS wa,
        |    (15000000 + 85 * CAST(sum(c) AS BIGINT)) // 100 AS r
        |  FROM c1 GROUP BY 1),
        |c2 AS (SELECT e.wb, (r1.r * e.cw) // w1.wd AS c
        |  FROM e JOIN r1 ON e.wa = r1.wa JOIN wd w1 ON e.wa = w1.wa),
        |r2 AS (SELECT wb AS word,
        |    (15000000 + 85 * CAST(sum(c) AS BIGINT)) // 100 AS r2
        |  FROM c2 GROUP BY 1),
        |top AS (SELECT word, r2,
        |    CAST(row_number() OVER (ORDER BY r2 DESC, word) AS INT) AS rk
        |  FROM r2 ORDER BY r2 DESC, word LIMIT 30)
        |SELECT word, r2, rk FROM top ORDER BY rk""".stripMargin,
    "q_graph_sssp" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT l_partkey AS src, l_suppkey + 1000000000 AS dst,
        |    CAST(min(l_quantity) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
        |walk(id, d, h) AS (
        |  SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS d, 0 AS h
        |  FROM e0 WHERE src < 10
        |  UNION
        |  SELECT e.dst, walk.d + e.w, walk.h + 1 FROM walk
        |  JOIN e ON e.src = walk.id WHERE walk.h < 3)
        |SELECT id, min(d) AS dist FROM walk GROUP BY id
        |ORDER BY dist, id""".stripMargin,
    "q_corpus_card" ->
      """WITH d AS (SELECT doc_id, lang, source, n_chars,
        |    len(string_split(text, ' ')) AS n_words,
        |    CAST(floor(10000.0 * len(list_distinct(string_split(text, ' ')))
        |      / len(string_split(text, ' '))) AS BIGINT) AS uniq_bp
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |hist AS (SELECT lang, n_chars, count(*) AS c FROM d GROUP BY 1, 2),
        |cum AS (SELECT lang, n_chars,
        |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS c_le
        |  FROM hist),
        |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |med AS (SELECT c.lang,
        |    min(CASE WHEN c.c_le * 2 >= t.n THEN c.n_chars END) AS p50_chars
        |  FROM cum c JOIN tot t ON c.lang = t.lang GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
        |  CAST(sum(d.n_words) AS BIGINT) AS words_total,
        |  CAST(sum(d.n_words) AS BIGINT) // count(*) AS wpd,
        |  max(m.p50_chars) AS p50_chars,
        |  CAST(sum(CASE WHEN d.uniq_bp < 4000 THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq
        |FROM d JOIN med m ON d.lang = m.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
}
