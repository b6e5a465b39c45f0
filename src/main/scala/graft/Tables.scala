package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md, FIXTURES.md).
  *
  * Schema normalization (SURVEY.md §1.2):
  *
  *  - `events.ts` has shipped in TWO generator layouts: parquet
  *    TIMESTAMP(NANOS) — which Spark's parquet reader rejects outright
  *    (PARQUET_TYPE_ILLEGAL, verified on Spark 4.1.2), so we read it as a
  *    raw long via `spark.sql.legacy.parquet.nanosAsLong` and convert to a
  *    microsecond TimestampType with *integer* division (ns epoch values
  *    ~1.7e18 exceed double's 53-bit mantissa: `DIV`, never `/`) — and,
  *    since the 2026-08-13 regeneration, native timestamp[us], which Spark
  *    reads directly (nanosAsLong does not apply to µs columns).
  *    [[normalizeTs]] branches on the ARRIVED type, so both layouts reach
  *    every query as the same µs-grained TimestampType; the generator only
  *    emits µs-grained values either way (FIXTURES.md) and DuckDB's
  *    `epoch_us(ts)` oracles are grain-agnostic, so both engines see
  *    bit-identical timestamps under either layout.
  *
  *  - Timestamp columns are cast to TimestampType so behavior is identical
  *    whether the reader infers TIMESTAMP_NTZ (Spark ≥3.4 default for
  *    isAdjustedToUTC=false parquet) or not; the session timezone is pinned
  *    UTC (graft.Session, build.sbt, and `ensure` below) which makes the
  *    NTZ→LTZ cast value-preserving.
  *
  * At 100 TB these loaders would take partitioned table roots instead of
  * single files; everything downstream is partition-agnostic (no
  * single-partition assumptions except the harness's final coalesce(1)).
  */
object Tables {

  /** Idempotent session configs + extension functions every query path
    * depends on. (On a real cluster GraftExtensions injects the same
    * functions and rules via spark.sql.extensions; the harness builds its
    * own sessions, so this registers them from GraftExtensions' lists.) */
  def ensure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // catalog confs are runtime-settable (unlike spark.sql.extensions, a
    // build-time static conf graft.Session sets in its builder):
    // `SELECT … FROM txtable.`/root`` works on any session that ran ensure
    spark.conf.set("spark.sql.catalog.txtable", "graft.sources.TxTableCatalog")
    graft.functions.GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val rules = graft.functions.GraftExtensions.rules ++ Seq(
      // manifest stats → Catalyst: must run AFTER V2ScanRelationPushDown
      // (extension hooks all run before it; "User Provided Optimizers"
      // is the one post-pushdown logical batch)
      graft.plans.TxManifestStats,
      // …which means the built-in "Join Reorder" batch (pre-pushdown) ran
      // stat-blind on txtable scans. Re-apply Catalyst's own
      // CostBasedJoinReorder AFTER the stats rewrap: it self-gates on
      // spark.sql.cbo.enabled + joinReorder.enabled (a no-op by default),
      // so with CBO on a multi-join over txtables reorders from manifest
      // row counts and column bounds with no ANALYZE pass (round-10
      // verdict #4). Wrapped in a once-per-plan tag guard: reordering is
      // not idempotent and would churn the fixed-point batch otherwise.
      graft.plans.CboReorderOnce)
    val missing = rules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
    graft.plans.AsofJoin.ensureStrategy(spark)
  }

  // Metadata cache (the catalog tier a real deployment gets from the
  // metastore): spark.read.parquet re-lists the path and re-reads footers
  // on EVERY call, and with 120+ bench queries × several tables each that
  // fixed cost dominates the suite tail. The resolved LogicalRelation is
  // immutable and the testdata is static for a round, so reuse it per
  // (session, dir, table). Keying by the live session object (not
  // identityHashCode, the round-5 form) makes cross-session collisions
  // impossible. A WeakHashMap (round-6 form) could NOT expire these
  // entries: each value map holds DataFrames, a DataFrame strongly
  // references its SparkSession, and a WeakHashMap key that is strongly
  // reachable through its own value never clears — so stopped sessions'
  // plans stayed pinned for the JVM lifetime anyway. Be explicit instead:
  // a strong map, pruned of stopped-context sessions on every access.
  // Release is deterministic (the access after `stop()` drops them), and
  // live-session entries are exactly the ones worth keeping.
  private val perSession =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()

  private def sessionMap(
      spark: SparkSession): java.util.concurrent.ConcurrentHashMap[String, AnyRef] = {
    val it = perSession.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    perSession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, AnyRef]())
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensure(spark)
    sessionMap(spark)
      .computeIfAbsent(s"tbl|$dir|$name",
        _ => spark.read.parquet(s"$dir/$name.parquet"))
      .asInstanceOf[DataFrame]
  }

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")

  def orders(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))

  /** ns→µs conversion; see class doc. */
  /** Normalize a frame's `ts` to µs-grained TimestampType from either
    * generator layout (int64 epoch-ns under nanosAsLong, or native
    * parquet timestamp[us]/NTZ — the cast is value-preserving in the
    * UTC-pinned session). */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(read(spark, dir, "events"))

  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** md5(dir) + source (size, mtime) fingerprint for derived-data cache
    * keys: path hashing alone (round-2 form) served a STALE copy if the
    * testdata regenerated in place, and String.hashCode collisions across
    * sf dirs could silently serve wrong data. The fingerprint makes both
    * impossible without reading a byte. */
  private[graft] def sourceFingerprint(dir: String, files: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val stats = files.map { f =>
      val s = new java.io.File(dir, f)
      s"${s.length()}_${s.lastModified()}"
    }.mkString("_")
    // layout epoch: bump when the TxTable WRITE layout changes shape
    // (r15: first-write schema declaration) so published caches built
    // under the old layout rebuild instead of serving the old shape
    s"${h}_${stats}_e2"
  }

  /** Write-once publish of a derived directory under java.io.tmpdir:
    * concurrent JVMs (Bench warm-up vs Verify vs tests) each write a
    * private dir, then publish with an atomic rename; losers discard.
    * `write` must leave a `_SUCCESS` marker in its output (Spark's
    * parquet writer does). Returns the published path. */
  private[graft] def publishOnce(name: String)(write: String => Unit): String = {
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    val out = new java.io.File(tmpRoot, name)
    val marker = new java.io.File(out, "_SUCCESS")
    if (!marker.exists()) {
      val tmp = new java.io.File(tmpRoot,
        s".${name}_${java.util.UUID.randomUUID()}")
      write(tmp.getAbsolutePath)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      if (!tmp.renameTo(out)) {
        if (marker.exists()) rm(tmp) // lost the race to a complete copy
        else {
          // a stale INCOMPLETE dir (crashed writer) blocks the rename:
          // clear it and retry once before giving up
          rm(out)
          if (!tmp.renameTo(out)) {
            rm(tmp)
            if (!marker.exists())
              throw new IllegalStateException(
                s"could not publish derived cache at $out and no complete " +
                  "copy exists")
          }
        }
      }
    }
    out.getAbsolutePath
  }

  /** Date-partitioned materialization of events (`.../day=2024-01-07/...`)
    * — the layout a 100 TB events table actually ships with, which is what
    * lets a day filter prune partitions at PLANNING time and a join
    * against a filtered dim prune them at RUNTIME (DPP). The driver's
    * testdata is a single file (read-only), so the partitioned copy is
    * written once per source fingerprint under java.io.tmpdir (atomic
    * rename publish, safe under concurrent JVMs); everything downstream
    * would point at the partitioned root directly in production.
    * PartitionPruningSpec asserts both pruning modes on it. */
  def eventsByDay(spark: SparkSession, dir: String): DataFrame = {
    val key = sourceFingerprint(dir, "events.parquet")
    val out = publishOnce(s"graft_events_byday_$key") { tmp =>
      events(spark, dir)
        .withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
    }
    ensure(spark)
    spark.read.parquet(out)
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Bucketed catalog tables for the co-located join (q_join_bucketed):
    * orders and customer written `bucketBy(8, custkey)` through the
    * catalog — the pay-the-shuffle-once-at-ingest layout that makes every
    * later join on the key Exchange-free. File-source bucketing only
    * exists through the catalog, so this is also the engine's
    * saveAsTable/warehouse SOURCE exercised in the oracle-checked path.
    * Table names carry an md5(dir) suffix (no cross-scale-factor
    * collisions); writes are memoized per (session, dir) and use
    * mode(overwrite) because the default in-memory catalog forgets tables
    * across JVMs while the warehouse directory persists. */
  def bucketedOrdersCustomer(spark: SparkSession, dir: String): (String, String) = {
    ensure(spark)
    val sfx = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    }
    val (ot, ct) = (s"orders_bkt_$sfx", s"customer_bkt_$sfx")
    if (sessionMap(spark).putIfAbsent(s"bkt|$sfx", java.lang.Boolean.TRUE) == null) {
      // the default in-memory catalog forgets tables across JVMs while the
      // warehouse DIRECTORY persists — a fresh JVM's saveAsTable would then
      // fail with "location already exists"; clear any orphaned location
      // (DROP TABLE alone is a no-op for a table the catalog never saw)
      def clearStale(table: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val wh = new java.net.URI(
          spark.conf.get("spark.sql.warehouse.dir")).getPath
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(wh, table))
      }
      clearStale(ot)
      clearStale(ct)
      orders(spark, dir).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
      customer(spark, dir).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
    }
    (ot, ct)
  }

  /** Register every table as a temp view (for spark.sql-expressed queries —
    * scalar/correlated subqueries exercise Catalyst's subquery machinery
    * best through the SQL frontend). Memoized per (session, dir): each
    * registration re-reads 10 parquet footers at plan-build time, which
    * taxed every SQL-frontend query in the bench; re-registration happens
    * only when the same session switches scale-factor dirs. */
  def views(spark: SparkSession, dir: String): Unit = {
    if (dir == sessionMap(spark).put("views", dir)) return
    region(spark, dir).createOrReplaceTempView("region")
    nation(spark, dir).createOrReplaceTempView("nation")
    customer(spark, dir).createOrReplaceTempView("customer")
    supplier(spark, dir).createOrReplaceTempView("supplier")
    part(spark, dir).createOrReplaceTempView("part")
    orders(spark, dir).createOrReplaceTempView("orders")
    lineitem(spark, dir).createOrReplaceTempView("lineitem")
    events(spark, dir).createOrReplaceTempView("events")
    documents(spark, dir).createOrReplaceTempView("documents")
    embeddings(spark, dir).createOrReplaceTempView("embeddings")
  }
}
