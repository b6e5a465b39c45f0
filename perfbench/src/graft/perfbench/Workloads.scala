package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.operators.{ConnectedComponents, MinHashLsh}
import graft.sources.{LogSource, TxBatchSource}
import graft.streaming.StreamOps
import graft.tables.TxTable

/** The declared-query member: a fixed list of `SparkEntry.queries` over
  * the generated TPC-H-shaped tables, each run compared with its first
  * result (and that one with DuckDB running the query's `oracleSql`, after
  * the window). */
final class DeclaredQueries(ctx: Ctx, names: Seq[String]) {
  import ctx._
  private val reference = mutable.Map.empty[String, (Seq[String], Seq[Row])]
  private val ms = mutable.Map.empty[String, Double]

  /** Runs every query once; true if each matched its reference. */
  def pass(): Boolean = names.map(run).forall(identity)

  private def run(q: String): Boolean = {
    val s = System.nanoTime()
    val (cols, rows) = tracer.span("queries", q) {
      val df = SparkEntry.queries(q)(spark, inputs)
      (df.columns.toSeq, df.collect().toSeq)
    }
    ms(q) = (System.nanoTime() - s) / 1e6
    reference.get(q) match {
      case Some((_, ref)) => rows == ref
      case None => reference(q) = (cols, rows); true
    }
  }

  def layer: Map[String, Double] =
    names.map(q => s"queries.${q}_ms" -> ms(q)).toMap + ("queries.pass_ms" -> ms.values.sum)

  def result: Map[String, Any] = names.map { q =>
    val (cols, rows) = reference(q)
    q -> Map("columns" -> cols, "rows" -> rows.map(_.toSeq), "oracle" -> SparkEntry.oracleSql(q))
  }.toMap
}

/** netmon: the collector loop, then the declared queries. One op appends a
  * batch of counter samples to a partitioned log topic and runs both
  * consumers over everything available — counter -> rate and threshold
  * alerts, each committing to a TxTable — as one AvailableNow trigger
  * each, concurrently; then it runs four declared queries (aggregate,
  * join, join with a HAVING subquery, window). A consumer left polling
  * would race the per-partition appends and split a batch into a varying
  * number of triggers; a run per batch processes it in exactly one, with
  * offsets and state carried by the checkpoints. An item is one sample
  * committed; the queries add time, not items. */
final class Netmon(ctx: Ctx) extends Workload {
  import ctx._
  // the curve levels off after about ten ops; the time budget allows five
  // (perfbench/README.md, "Warm-up")
  val warmOps = 5
  private val queries = new DeclaredQueries(ctx,
    Seq("q_tpch_q1", "q_tpch_q3", "q_tpch_q18", "q_win_rank"))
  private var batchMs = 0.0
  private val meta = Json.read(s"$inputs/netmon.json")
  private val parts = meta("parts").toString.toInt
  private val perBatch = meta("per_batch").toString.toInt
  private val nBatches = meta("batches").toString.toInt
  private val n = meta("rows").toString.toInt
  /** The columnar input file, mapped outside the heap: five int64
    * columns (event_id, ts_us, user_id, batch, part), then float64 value. */
  private val file = {
    val ch = java.nio.channels.FileChannel.open(Paths.get(s"$inputs/netmon.bin"))
    try ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY, 0, ch.size())
      .order(ByteOrder.LITTLE_ENDIAN)
    finally ch.close()
  }

  /** Batch b's rows (event_id, ts_us, user_id, value) by partition. */
  private def rows(b: Int): Array[Vector[(Long, Long, Long, Double)]] = {
    def long(c: Int, j: Int) = file.getLong(8 * (c * n + j))
    val out = Array.fill(parts)(Vector.newBuilder[(Long, Long, Long, Double)])
    for (j <- b * perBatch until (b + 1) * perBatch)
      out(long(4, j).toInt) += ((long(0, j), long(1, j), long(2, j), file.getDouble(8 * (5 * n + j))))
    out.map(_.result())
  }
  private var dir = ""
  private var rates: TxTable = _
  private var alerts: TxTable = _
  private var consumed = 0
  private var appendMs = 0.0

  def build(d: String): Unit = {
    dir = d
    rates = new TxTable(s"$d/rates", Seq("user_id"))
    alerts = new TxTable(s"$d/alerts", Seq("user_id"))
    consumed = 0
  }

  def hasOp: Boolean = consumed < nBatches

  /** Appends the next batch, commits it through both consumers, then
    * runs the declared queries. */
  def op(): (Long, Boolean) = {
    val batch = rows(consumed)
    val t = System.nanoTime()
    tracer.span("sources", "LogSource.append") {
      for (p <- 0 until parts) LogSource.append(s"$dir/topic", p, batch(p))
    }
    appendMs = (System.nanoTime() - t) / 1e6
    tracer.span("streaming", "AvailableNow rates+alerts") {
      val src = spark.readStream.format("graft.sources.LogSource")
        .option("path", s"$dir/topic").load()
      Seq(
        StreamOps.txTableSink(StreamOps.counterToRate(src).toDF(), rates, "rates", s"$dir/ck_rates"),
        StreamOps.txTableSink(StreamOps.alertStream(src).toDF(), alerts, "alerts", s"$dir/ck_alerts"))
        .map(_.trigger(Trigger.AvailableNow()).start())
        .foreach(_.awaitTermination())
    }
    consumed += 1
    batchMs = (System.nanoTime() - t) / 1e6
    (perBatch.toLong, queries.pass())
  }

  override def tables: Seq[TxTable] = Seq(rates, alerts)
  override def opLayer(): Map[String, Double] =
    queries.layer ++ Map("sources.log_append_ms" -> appendMs, "streaming.batch_ms" -> batchMs)

  def result(): Map[String, Any] = {
    val r = rates.read(spark).agg(count(lit(1)), sum(col("delta")), sum(col("dt_us")),
      sum(when(col("delta") < 0, 1).otherwise(0))).head()
    val a = alerts.read(spark).agg(count(lit(1)), sum(col("state"))).head()
    Map("batches" -> consumed, "rate_rows" -> r.getLong(0), "sum_dv" -> r.getDouble(1),
      "sum_dt" -> r.getLong(2), "resets" -> r.getLong(3),
      "alert_rows" -> a.getLong(0), "raises" -> a.getLong(1), "queries" -> queries.result)
  }
}

/** lake: one op runs two members —
  *  - txn: a round of SQL statements against a key-clustered TxTable with
  *    an aggregate materialized view over it, each point SELECT checked
  *    against the in-memory replay;
  *  - dedup: a corpus shard through MinHash-LSH near-duplicate pairs and
  *    connected components, checked against the planted duplicates.
  * Every statement and every shard is one item. */
final class Lake(ctx: Ctx) extends Workload {
  import ctx._
  // the curve levels off after about four ops; the time budget allows two
  // (perfbench/README.md, "Warm-up")
  val warmOps = 2
  private var roundMs, dedupMs = 0.0

  // txn state
  private val txn = Json.read(s"$inputs/txn.json")
  private val keys = txn("keys").toString.toInt
  private val groups = txn("groups").toString.toInt
  private val plan = txn("rounds_plan").asInstanceOf[Seq[Map[String, Any]]]
  private var t: TxTable = _
  private var mv = ""
  private var rounds = 0
  private val modes = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val stmtMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val scanned = mutable.ArrayBuffer.empty[Double]

  // dedup inputs
  private val dd = Json.read(s"$inputs/dedup.json")
  private val shards = dd("shards").toString.toInt
  private val docsPer = dd("docs").toString.toLong
  private val planted: Seq[Set[(Long, Long)]] =
    dd("pairs").asInstanceOf[Seq[Seq[Seq[Any]]]].map(_.map(p =>
      (p(0).toString.toLong, p(1).toString.toLong)).toSet)
  private var lastShard: (DataFrame, Int, Array[(Long, Long)]) = _
  private var pairMs, clusterMs = 0.0

  def build(d: String): Unit = {
    t = new TxTable(s"$d/t", Seq("k"))
    mv = s"$d/mv"
    val v = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$inputs/txn_base.bin")))
      .order(ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    // contiguous key slices, one per partition and so one file each: a
    // key-clustered layout, written with no shuffle
    val rows = (0 until keys).map(k => (k.toLong, v.get(k), (k % groups).toLong))
    t.append(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(rows, txn("files").toString.toInt)).toDF("k", "v", "g"))
    spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` TBLPROPERTIES('statCols'='g') AS " +
      "SELECT g, count(*) AS n, sum(CAST(v AS DECIMAL(18,2))) AS v_sum " +
      s"FROM txtable.`${t.root}` GROUP BY g")
    rounds = 0
    modes.clear()
  }

  def hasOp: Boolean = rounds < plan.size

  def op(): (Long, Boolean) = {
    val t0 = System.nanoTime()
    val (n, roundOk) = round()
    val t1 = System.nanoTime()
    val dedupOk = dedup(rounds % shards)
    roundMs = (t1 - t0) / 1e6
    dedupMs = (System.nanoTime() - t1) / 1e6
    (n + 1, roundOk && dedupOk)
  }

  private def round(): (Long, Boolean) = {
    stmtMs.clear(); scanned.clear()
    val stmts = plan(rounds)("stmts").asInstanceOf[Seq[Map[String, Any]]]
    var ok = true
    for (st <- stmts) {
      val kind = st("kind").toString
      val sql = st("sql").toString.replace("{t}", s"txtable.`${t.root}`")
        .replace("{mv}", s"txtable.`$mv`")
      val s = System.nanoTime()
      val rows = tracer.span("sql", kind)(spark.sql(sql).collect())
      stmtMs(kind) += (System.nanoTime() - s) / 1e6
      kind match {
        case "select" =>
          ok &&= rows.length == 1 && rows(0).getLong(0) == st("expect").toString.toLong
          TxBatchSource.pruneOf(t.root).foreach { case (kept, total) =>
            scanned += kept.toDouble / math.max(1, total) }
        case "refresh" => modes(rows(0).getString(0)) += 1
        case _ =>
      }
    }
    rounds += 1
    (stmts.size.toLong, ok)
  }

  private def docs(shard: Int): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING").option("sep", "\t")
      .csv(s"$inputs/dedup_$shard.tsv")

  private def dedup(shard: Int): Boolean = {
    val in = docs(shard)
    val t0 = System.nanoTime()
    val pairs = tracer.span("operators", "MinHashLsh.nearDupPairs") {
      MinHashLsh.nearDupPairs(in, minBp = 7000L).select(col("da"), col("db"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val t1 = System.nanoTime()
    val edges = spark.createDataFrame(pairs.toSeq).toDF("da", "db")
    val labels = tracer.span("operators", "ConnectedComponents.minLabel") {
      ConnectedComponents.minLabel(in.select(col("doc_id")), "doc_id", edges, "da", "db")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    pairMs = (t1 - t0) / 1e6
    clusterMs = (System.nanoTime() - t1) / 1e6
    lastShard = (in, shard, pairs)
    val want = planted(shard)
    // the smallest id of a planted cluster labels every member
    val label = mutable.Map.empty[Long, Long]
    want.toSeq.sorted.foreach { case (a, b) =>
      label(b) = math.min(label.getOrElse(b, b), label.getOrElse(a, a)) }
    pairs.toSet == want && labels.size == docsPer &&
      labels.forall { case (id, c) => c == label.getOrElse(id, id) }
  }

  override def tables: Seq[TxTable] = Seq(t)

  /** Member and statement times, and the dedup member's candidate/verify
    * split re-run outside the timed op on the same shard: signatures and
    * banded candidates each as their own job. */
  override def opLayer(): Map[String, Double] = {
    val (in, s, pairs) = lastShard
    val t0 = System.nanoTime()
    val sigs = MinHashLsh.signatures(in).persist()
    sigs.count()
    val t1 = System.nanoTime()
    val cands = MinHashLsh.candidateKeys(sigs).count()
    val t2 = System.nanoTime()
    sigs.unpersist(blocking = true)
    val sigMs = (t1 - t0) / 1e6
    val candMs = (t2 - t1) / 1e6
    val want = planted(s)
    Seq("insert", "merge", "update", "delete", "refresh").map(k => s"sql.${k}_ms" -> stmtMs(k)).toMap ++
      Map(
      "sql.round_ms" -> roundMs,
      "sql.select_ms" -> stmtMs("select") / 2,
      "sources.files_scanned_frac" -> Meter.median(scanned),
      "operators.dedup_ms" -> dedupMs,
      "operators.signatures_ms" -> sigMs,
      "operators.candidates_ms" -> candMs,
      "operators.confirm_ms" -> math.max(0.0, pairMs - sigMs - candMs),
      "operators.cluster_ms" -> clusterMs,
      "operators.candidates_per_doc" -> cands.toDouble / docsPer,
      "operators.candidate_precision" -> pairs.length.toDouble / math.max(1L, cands),
      "operators.recall" -> pairs.count(want).toDouble / want.size)
  }

  override def runLayer(): Map[String, Double] = Map(
    "sql.refresh_incremental_frac" -> modes("incremental").toDouble / math.max(1, modes.values.sum))

  def result(): Map[String, Any] = {
    val d = spark.sql("SELECT count(*), sum(k), sum(v), sum(k * v) FROM " +
      s"txtable.`${t.root}`").head()
    val view = spark.sql(s"SELECT g, n, CAST(v_sum AS BIGINT) FROM txtable.`$mv` ORDER BY g")
      .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Map("txn" -> Map("rounds" -> rounds, "rows" -> d.getLong(0), "sum_k" -> d.getLong(1),
      "sum_v" -> d.getLong(2), "sum_kv" -> d.getLong(3), "view" -> view,
      "refresh_modes" -> modes.toMap))
  }
}
