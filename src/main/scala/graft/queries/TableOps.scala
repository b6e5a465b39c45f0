package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tables.TxTable

/** Transactional-table queries (SURVEY §2.16): the Delta/Iceberg-style
  * tier ([[graft.tables.TxTable]]) driven through the correctness gate.
  * Each query BUILDS a table from the gate's parquet inputs, runs the
  * table operation (manifest min/max skipping, copy-on-write merge), and
  * returns a frame DuckDB can reproduce from the raw inputs — so the
  * ACID layer is oracle-checked end to end, not just spec-pinned.
  * Table BUILDS are write-once published per source fingerprint (the
  * same discipline as the stored-state join): building the base table is
  * ingest, not the measured operation, so Verify/Bench calls share one
  * build. The merge query still gets a private file-tree COPY per call —
  * merge commits new versions, and calls must stay independent.
  */
object TableOps extends QueryModule {

  /** Recursive file-tree copy (the base table is a few small parquet
    * files plus O(files) manifests — milliseconds, vs re-running the
    * Spark write per call). */
  private[graft] def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private[queries] def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  // Temp copies whose frames are still live (the spec-facing lazy path)
  // are reclaimed at JVM exit — without this, every invocation leaked a
  // table-sized tree for the tmpdir lifetime.
  private val tempRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(tempRoots.forEach(r => deleteTree(r)))

  /** Run a mutating table op on a private temp copy of `published`,
    * MATERIALIZE the (aggregate-sized) result, and delete the copy
    * before returning. Calls stay independent — each gets its own copy —
    * but no longer accumulate temp trees across Verify/Bench warm-up +
    * timed runs. The collect is of a ≤ few-hundred-row aggregate, the
    * same driver-side budget as the suite's broadcast-sized frames. */
  private[queries] def mutatedAggregate(spark: SparkSession, published: String,
      prefix: String)(build: String => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(prefix).toString
    copyTree(published, root)
    try {
      val df = build(root)
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally deleteTree(root)
  }

  /** Per-FILE min/max data skipping through the table layer: events land
    * as 16 range-partitioned files (disjoint user_id ranges recorded in
    * the manifest), then a selective `user_id BETWEEN 2 AND 4` probe
    * plans a scan over ONLY the files whose [min,max] admit the range —
    * at 100 TB this is the difference between reading 3 files and
    * opening a million footers, decided from O(files) driver-side
    * metadata before Spark ever plans the scan. The residual filter
    * still runs (stats admit false positives, never false negatives), so
    * the answer is exact; TxTableSpec pins that files really are
    * dropped, the oracle pins the answer. */
  def q_table_skip(spark: SparkSession, dir: String): DataFrame =
    skipPruned(spark, dir).df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** The build + pruned read behind [[q_table_skip]], exposed so specs
    * can assert `filesScanned < filesTotal` — the skip must actually
    * happen, not just return the right rows. */
  private[graft] def skipPruned(spark: SparkSession, dir: String): TxTable.PrunedRead =
    // read-only: every caller shares the published table directly
    new TxTable(eventsTableRoot(spark, dir), Seq("user_id"))
      .readWhere(spark, "user_id", 2, 4)

  /** The shared 16-file range-partitioned events table build behind
    * [[q_table_skip]] and [[q_table_delete]] (write-once published per
    * source fingerprint — the build is ingest, not the measured op). */
  private[queries] def eventsTableRoot(spark: SparkSession, dir: String): String = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    Tables.publishOnce(s"graft_tableskip_$fp") { tmp =>
      val t = new TxTable(tmp, Seq("user_id"))
      t.append(spark, Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(16, col("user_id")))
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** Per-file BLOOM data skipping through the table layer: events land
    * as 16 HASH-partitioned files — the layout where min/max stats are
    * useless (every file's [min,max] spans nearly the whole user_id
    * domain) — and a `user_id = 3` point probe prunes via the per-file
    * bloom filters the write pass recorded in the manifest. All of one
    * user's rows hash to one file, so the probe plans a scan over ~1 of
    * 16 files with zero data I/O spent deciding; at 100 TB this is the
    * GDPR/needle-lookup path on a column the table is NOT sorted or
    * partitioned by. Blooms admit false positives, never false
    * negatives, and the residual `=` filter keeps the answer exact —
    * DuckDB-checked here; BloomSkipSpec pins that files really are
    * dropped and that pre-bloom files stay scanned. */
  def q_table_bloomskip(spark: SparkSession, dir: String): DataFrame =
    bloomPruned(spark, dir).df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("event_id")).as("n_events"))
      .orderBy(col("event_type"))

  /** The build + bloom-pruned read behind [[q_table_bloomskip]], exposed
    * so specs can assert `filesScanned < filesTotal` on a layout where
    * range stats alone would scan everything. */
  private[graft] def bloomPruned(spark: SparkSession, dir: String): TxTable.PrunedRead =
    new TxTable(bloomTableRoot(spark, dir), Seq("user_id"), Seq("user_id"))
      .readEquals(spark, "user_id", 3L)

  /** The shared 16-file hash-partitioned events table behind
    * [[q_table_bloomskip]] (write-once published per source fingerprint —
    * the build is ingest, not the measured op). */
  private def bloomTableRoot(spark: SparkSession, dir: String): String = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    Tables.publishOnce(s"graft_tablebloom_$fp") { tmp =>
      val t = new TxTable(tmp, Seq("user_id"), Seq("user_id"))
      t.append(spark, Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"), col("event_id"))
        .repartition(16, col("user_id")))
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** Copy-on-write DELETE through the table layer: drop
    * `user_id BETWEEN 3 AND 7` from the 16-file range-partitioned events
    * table. The manifest stats classify every file WITHOUT reading it —
    * files fully inside the range leave the manifest metadata-only (the
    * 100 TB retention-delete path: truncating a time range costs zero
    * data I/O), straddlers are rewritten minus the victims, disjoint
    * files are carried by name. The aggregate over the survivors is
    * DuckDB-checked against NOT BETWEEN on the raw parquet, so the
    * delete's row-level semantics are oracle-pinned, not just
    * file-accounting-pinned (TxTableSpec covers that). */
  def q_table_delete(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, eventsTableRoot(spark, dir), "graft_q_table_delete") { root =>
      val t = new TxTable(root, Seq("user_id"))
      t.delete(spark, "user_id", 3, 7)
      t.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }

  /** The copy + delete + read behind [[q_table_delete]], exposed so the
    * spec can assert files were dropped/kept, not just rows removed. The
    * returned frame stays LAZY over the temp copy (the spec inspects
    * file accounting), so the copy is reclaimed by the shutdown hook,
    * not eagerly. */
  private[graft] def deleteApplied(
      spark: SparkSession, dir: String): (TxTable.DeleteResult, DataFrame) = {
    val published = eventsTableRoot(spark, dir)
    // delete MUTATES: work on a private copy so calls stay independent
    val root = Files.createTempDirectory("graft_q_table_delete").toString
    tempRoots.add(root)
    copyTree(published, root)
    val t = new TxTable(root, Seq("user_id"))
    val r = t.delete(spark, "user_id", 3, 7)
    (r, t.read(spark))
  }

  /** Atomic band overwrite (`replaceWhere`) through the table layer —
    * the BACKFILL path: the `user_id BETWEEN 3 AND 7` band of the
    * 16-file range-partitioned events table is restated (values
    * doubled — the corrected-pipeline-rerun shape) and swapped in as
    * ONE commit. Covered files drop metadata-only, straddlers rewrite
    * minus the band, disjoint files carry by name, and readers see old
    * band or new band, never a mix — at 100 TB "recompute one bad day"
    * costs the band, not the table, and exposes no delete/append gap.
    * A replacement that leaked rows outside its declared band would be
    * REFUSED (ReplaceWhereSpec pins that); the oracle pins the restated
    * answer. */
  def q_table_replace(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, eventsTableRoot(spark, dir), "graft_q_table_replace") { root =>
      val t = new TxTable(root, Seq("user_id"))
      val restated = Tables.events(spark, dir)
        .filter(col("user_id") >= 3 && col("user_id") <= 7)
        .select(col("user_id"), col("event_type"),
          (col("value") * 2).as("value"))
        .repartitionByRange(4, col("user_id"))
      t.overwriteWhere(spark, "user_id", 3, 7, restated)
      t.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }

  /** Copy-on-write MERGE through the table layer: orders become an
    * 8-file table range-partitioned on o_orderkey, then one upsert batch
    * applies updates (keys <= 300 move to priority '0-MERGED' — a
    * key-clustered batch, the shape CDC feeds have) and inserts (ten
    * fresh negative keys, '9-INSERTED'). Only files holding a source key
    * are rewritten — candidates come from joining the batch keys against
    * the broadcast manifest intervals, so at 100 TB the untouched
    * history is carried BY NAME and never copied (TxTableSpec pins the
    * kept-files invariant; this gate pins the upsert semantics against
    * DuckDB's set-based restatement of MERGE). */
  /** The shared 8-file orders base behind [[q_table_merge]] and its SQL
    * twin (write-once published per source fingerprint). */
  private[queries] def mergeBaseRoot(spark: SparkSession, dir: String): String = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val fp = Tables.sourceFingerprint(dir, "orders.parquet")
    Tables.publishOnce(s"graft_tablemerge_base_$fp") { tmp =>
      val t0 = new TxTable(tmp, Seq("o_orderkey"))
      t0.append(spark, base.repartitionByRange(8, col("o_orderkey")))
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** MERGE-ON-READ upsert ([[graft.tables.TxTable#mergePositional]]):
    * q_table_merge's exact scenario through the DV-based write path —
    * matched rows tombstone by position, the whole source appends,
    * ZERO candidate files rewritten (asserted in-gate: the physical
    * claim IS the operator). Earns q_table_merge's oracle verbatim —
    * same answer, different write amplification; at 100 TB this is the
    * steady-state CDC-upsert shape with compaction folding vectors in
    * on schedule. */
  def q_table_merge_mor(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val published = mergeBaseRoot(spark, dir)
    mutatedAggregate(spark, published, "graft_q_table_merge_mor") { root =>
      val t = new TxTable(root, Seq("o_orderkey"))
      val updates = base.filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey"), lit("0-MERGED").as("o_orderpriority"))
      val inserts = spark.range(10)
        .select((-col("id") - 1).as("o_orderkey"),
          lit("9-INSERTED").as("o_orderpriority"))
      val r = t.mergePositional(spark, updates.unionByName(inserts), "o_orderkey")
      require(r.rewrittenFiles == 0,
        s"merge-on-read must rewrite no candidate file: $r")
      t.read(spark)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("o_orderpriority"))
    }
  }

  /** MERGE-ON-READ UPDATE ([[graft.tables.TxTable#updatePositionalWhere]]):
    * the band-doubling restatement through DV tombstones + appended
    * updated images — a k-row update costs O(k) positions and O(k) new
    * rows, never a candidate-file rewrite. Earns q_table_replace's
    * oracle (the same restated band). */
  def q_table_update_mor(spark: SparkSession, dir: String): DataFrame = {
    val published = eventsTableRoot(spark, dir)
    mutatedAggregate(spark, published, "graft_q_table_update_mor") { root =>
      val t = new TxTable(root, Seq("user_id"))
      t.updatePositionalWhere(spark, "user_id BETWEEN 3 AND 7",
        Seq("value" -> "value * 2"))
      t.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }
  }

  def q_table_merge(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val published = mergeBaseRoot(spark, dir)
    // merge MUTATES: work on a private copy so calls stay independent
    mutatedAggregate(spark, published, "graft_q_table_merge") { root =>
      val t = new TxTable(root, Seq("o_orderkey"))
      val updates = base.filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey"), lit("0-MERGED").as("o_orderpriority"))
      val inserts = spark.range(10)
        .select((-col("id") - 1).as("o_orderkey"),
          lit("9-INSERTED").as("o_orderpriority"))
      t.merge(spark, updates.unionByName(inserts), "o_orderkey")
      t.read(spark)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("o_orderpriority"))
    }
  }

  /** Change-data-feed read through the table layer: events land in
    * THREE deterministic appends (batch k = `user_id % 3 == k`, commit
    * versions 1..3), then a compaction rewrites the table (version 4 — a
    * CHANGE commit whose added files are rewritten history, not new
    * rows). `changesBetween(0, 4, skipChangeCommits = true)` must
    * return exactly the appended rows tagged with their commit version —
    * the compaction invisible to the incremental consumer, planned
    * entirely from manifest diffs (an incremental consumer reads one
    * batch's bytes at 100 TB, never the table). DuckDB reconstructs the
    * version tag from the split rule itself. */
  def q_table_changes(spark: SparkSession, dir: String): DataFrame =
    changesApplied(spark, dir)
      .groupBy(col("_commit_version").as("commit_version"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("commit_version"))

  /** ROW-level change data feed through the gate (`_change_type` —
    * Delta CDF): the shared 3-append + compaction table takes a real
    * DELETE (`user_id BETWEEN 3 AND 7`, v5), then the FULL history's
    * row changes are summarized per (commit version, change type).
    * The three appends surface as pure inserts, the compaction
    * contributes ZERO rows (its rewrite diff cancels under multiset
    * semantics — no skip-commits hack), and the delete surfaces its
    * victims as `delete` rows. This is the feed that makes downstream
    * replication total — RowChangesSpec replays one into an empty
    * replica and converges bit-exactly; DuckDB reconstructs the
    * summary from the split rule + the delete band. */
  def q_table_cdf(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, changesTableRoot(spark, dir), "graft_q_table_cdf") { root =>
      val t = new TxTable(root, Seq("user_id"))
      t.delete(spark, "user_id", 3, 7) // v5: a genuine delete on the compacted table
      // the whole feed through the PUBLIC batch-CDF face (Delta's
      // readChangeFeed batch options; rowChangesBetween is the engine) —
      // the gate earns its oracle through the DSv2 surface a switching
      // deployment would actually call
      spark.read.format("txtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(root)
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("commit_version"), col("change_type"))
    }

  /** CDC-APPLY replication through the gate: the 3-append + compaction
    * table takes a real delete (v5), then a FRESH replica pulls the
    * whole history through `applyChangesFrom` — one sync, exactly once,
    * watermarked in the replica's own manifest — and the replica's
    * content is aggregated. The answer must equal the source's live
    * state (DuckDB reconstructs it as NOT-BETWEEN — the replication
    * path earns the same oracle as reading the source), with the
    * compaction contributing zero applied rows and the delete's
    * transient victims cancelled net against their inserts where
    * applicable. ReplicationSpec pins convergence, idempotent replay,
    * and churn cancellation on constructed histories.
    *
    * The gate runs the PRODUCTION replication shape — snapshot bootstrap
    * once, then incremental syncs — not a full-history replay: the
    * published build ([[replicaTableRoot]], `user_id < 150` band, ~10%
    * of events) already contains the full source history — the three
    * appends, the compaction, AND the v5 delete — plus a replica
    * `bootstrapFrom`'d through v4 (all of that is ingest, the same
    * publishOnce discipline as every base-table build). The timed call
    * is therefore ONE incremental sync (fold the delete version into
    * the replica) plus the replica read: exactly what a steady-state
    * sync costs at 100 TB (the changed files, never the table), and it
    * still exercises the whole oracle-checked mechanism — version
    * arithmetic, watermark recognition, the delete-probe fold.
    * Full-history replay is ReplicationSpec's job on constructed
    * histories; the full-volume CDC read cost is already measured by
    * [[q_table_cdf]] on the unbounded build. */
  def q_table_replica(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, replicaTableRoot(spark, dir), "graft_q_table_replica") { root =>
      val src = new TxTable(s"$root/src", Seq("user_id"))
      val dst = new TxTable(s"$root/replica_batch", Seq("user_id"))
      dst.applyChangesFrom(spark, src, "gate-replica", "user_id") // tail: v5 only
      dst.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }

  /** STREAMING CDC-apply replication through the gate — the continuous
    * face of [[q_table_replica]]: the same 3-append + compaction + delete
    * source is read as a ROW-LEVEL change stream (`TxTableSource` with
    * `readChangeFeed=true`, one micro-batch per source version) and a
    * fresh replica is built by `StreamOps.txReplicaSink` folding each
    * micro-batch exactly once under its `queryName → batchId` manifest
    * watermark — Trigger.AvailableNow drains the whole history and
    * terminates. The replica's content must equal the source's live
    * state (the SAME NOT-BETWEEN oracle as the batch replica: the
    * transport must be invisible in the answer). Like the batch gate,
    * this runs the production shape: the published build carries the
    * full source history (v5 delete included) and a replica
    * `bootstrapFrom`'d through v4; the stream resumes from the
    * REPLICA'S OWN watermark (`startingVersion = applied + 1`,
    * inclusive — the Delta semantics) under the SAME appId, the sink's
    * source-version watermark composing with the bootstrap's. The
    * timed call is one-batch tail drain → read. Backlog telescoping,
    * per-version admission, checkpointed restart, replayed-batch
    * refusal, and checkpoint REPLACEMENT are StreamingReplicaSpec's
    * job. At 100 TB the stream's per-trigger cost is the source's
    * changed files, so replication lag tracks change rate, not table
    * size. */
  def q_table_replica_stream(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, replicaTableRoot(spark, dir), "graft_q_table_rstream") { root =>
      val srcRoot = s"$root/src"
      val ckpt = Files.createTempDirectory("graft_q_table_rstream_ckpt").toString
      try {
        val dst = new TxTable(s"$root/replica_stream", Seq("user_id"))
        // resume where the replica's manifest says it stands (the
        // bootstrap watermark) — no external state, the production restart
        val applied = dst.snapshot().txns.getOrElse("gate-replica-stream", 0L)
        val cdf = spark.readStream.format("graft.sources.TxTableSource")
          .option("path", srcRoot)
          .option("readChangeFeed", "true")
          .option("startingVersion", (applied + 1).toString)
          .load()
        val q = graft.streaming.StreamOps
          .txReplicaSink(cdf, dst, "user_id", "gate-replica-stream", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        require(q.awaitTermination(180000), "replication stream did not drain")
        val agg = dst.read(spark)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
        spark.createDataFrame(agg.collectAsList(), agg.schema)
      } finally deleteTree(ckpt)
    }

  /** The build + CDC read behind [[q_table_changes]], exposed so the
    * spec can pin row-level tags and the change-commit refusal. */
  private[graft] def changesApplied(spark: SparkSession, dir: String): DataFrame = {
    // read-only: every caller shares the published table directly
    new TxTable(changesTableRoot(spark, dir), Seq("user_id"))
      .changesBetween(spark, 0, 4, skipChangeCommits = true)
  }

  /** The shared 3-append + compaction table build behind
    * [[q_table_changes]] and [[q_table_timetravel]] (write-once published
    * per source fingerprint). */
  private[queries] def changesTableRoot(spark: SparkSession, dir: String): String = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    Tables.publishOnce(s"graft_tablechanges_$fp") { tmp =>
      val t = new TxTable(tmp, Seq("user_id"))
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
      (0 until 3).foreach(k => t.append(spark, ev.filter(col("user_id") % 3 === k)))
      t.compact(spark, smallRows = Long.MaxValue / 2) // v4: a change commit
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** The replica gates' bounded twin of [[changesTableRoot]] (same
    * 3-append + compaction shape on `user_id < 150`), laid out as
    * `src/` (whose history ends in a v5 band delete) plus TWO replicas
    * `bootstrapFrom`'d through v4 — one per gate appId
    * (`replica_batch`, `replica_stream`), since the bootstrap watermark
    * is per-appId. Build work is all ingest, published once; each gate
    * call copies the tree and times only its own INCREMENTAL tail sync
    * of the delete version — see [[q_table_replica]]'s cost note. */
  private def replicaTableRoot(spark: SparkSession, dir: String): String = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    Tables.publishOnce(s"graft_tablereplica2_$fp") { tmp =>
      val t = new TxTable(s"$tmp/src", Seq("user_id"))
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .filter(col("user_id") < 150)
      (0 until 3).foreach(k => t.append(spark, ev.filter(col("user_id") % 3 === k)))
      t.compact(spark, smallRows = Long.MaxValue / 2) // v4: a change commit
      new TxTable(s"$tmp/replica_batch", Seq("user_id"))
        .bootstrapFrom(spark, t, "gate-replica")
      new TxTable(s"$tmp/replica_stream", Seq("user_id"))
        .bootstrapFrom(spark, t, "gate-replica-stream")
      t.delete(spark, "user_id", 3, 7) // v5: the tail the gates sync
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** Time travel through the gate: `versionAsOf = 2` on the same
    * 3-append + compaction table reads the MID-HISTORY snapshot — exactly
    * appends 1 and 2 (`user_id % 3 IN (0, 1)`) — even though version 4
    * has since rewritten every live file. A snapshot IS its manifest, so
    * the old version plans a scan over the original append files, still
    * on disk until vacuum; DuckDB reconstructs the same content from the
    * deterministic split rule. TxTableSpec pins the file accounting;
    * this pins the row-level answer of the historical read. */
  /** RESTORE through the gate (Delta's `RESTORE TABLE … TO VERSION AS
    * OF`): on a copy of the shared 3-append + compaction table, a band
    * delete (v5) is the bad commit and `restore(4)` undoes it as a NEW
    * metadata-only commit — zero data I/O, history intact (the bad v5
    * stays time-travelable for audit, CDF across the restore reports the
    * honest re-inserts so replicas follow). The final read must equal
    * the FULL events content: a restore that missed a file, resurrected
    * the wrong version, or failed to supersede the delete all land on
    * different aggregates. RestoreSpec pins versioning, CDF honesty,
    * lost-file refusal, and watermark carry-forward. */
  def q_table_restore(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, changesTableRoot(spark, dir), "graft_q_table_restore") { root =>
      val t = new TxTable(root, Seq("user_id"))
      t.delete(spark, "user_id", 3, 7) // v5: the bad commit
      t.restore(4)                     // v6: metadata-only undo
      t.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }

  def q_table_timetravel(spark: SparkSession, dir: String): DataFrame =
    new TxTable(changesTableRoot(spark, dir), Seq("user_id"))
      .read(spark, versionAsOf = Some(2))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** TAG retention through the gate: tag the 2-append state of the
    * shared table (version 2), then MUTATE (a band delete) and VACUUM
    * down to ONE retained version — everything except HEAD and the tag
    * is reclaimed — and read back BY NAME. The oracle is the v2 state
    * (q_table_timetravel's answer, user_id % 3 ∈ {0,1}), so any tag
    * that dangles, any vacuum that touches a tagged file, or any
    * checkpoint that mis-reconstructs below the cutoff lands on
    * different aggregates. TxTagSpec pins the mechanism on constructed
    * histories; this gate pins it under the driver's oracle. */
  def q_table_tag(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, changesTableRoot(spark, dir), "graft_q_table_tag") { root =>
      val t = new TxTable(root, Seq("user_id"))
      t.tag("audit", 2)
      t.delete(spark, "user_id", 0, 100) // v5: post-tag mutation
      t.vacuum(retainVersions = 1)       // only HEAD + the tag survive
      t.readTag(spark, "audit")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }

  /** MERGE-ON-READ delete through the gate (deletion vectors — the
    * Delta DV / Iceberg positional-delete tier next to q_table_delete's
    * copy-on-write): drop `user_id BETWEEN 5 AND 9` from the
    * TIME-partitioned events table (the evolve build: 16 files banded
    * by event_id, i.e. ingest order). A user-level delete is
    * perpendicular to that layout, so EVERY file straddles — exactly
    * the GDPR/retention shape where copy-on-write degenerates into a
    * full-table rewrite. Positional delete rewrites NOTHING: victim row
    * positions land in one tiny vector and readers anti-join them out.
    * Row-level semantics are DuckDB-pinned (NOT BETWEEN on the raw
    * parquet); DvSpec pins the zero-rewrite accounting, stacking,
    * no-resurrection, materialization and vacuum. */
  def q_table_dv(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, evolveTableRoot(spark, dir), "graft_q_table_dv") { root =>
      val t = new TxTable(root, Seq("user_id", "event_id"))
      t.deletePositional(spark, "user_id", 5, 9)
      t.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }

  /** Predicate-positional-delete gate ([[TxTable.deletePositionalWhere]]
    * — round 11): the SAME perpendicular layout as [[q_table_dv]], but
    * the victim set is an ARBITRARY predicate (modulo residual + band
    * conjunct) no single stat band expresses — still zero files
    * rewritten, victims land in one vector per commit, and the NULL-
    * survives / prune-class semantics are the copy-on-write
    * deleteWhere's (DvSpec pins the accounting). */
  def q_table_dv_pred(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, evolveTableRoot(spark, dir), "graft_q_table_dvpred") { root =>
      val t = new TxTable(root, Seq("user_id", "event_id"))
      t.deletePositionalWhere(spark, "user_id % 3 = 1 AND user_id <= 9")
      t.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }

  /** The copy + positional delete behind [[q_table_dv]], exposed so the
    * spec can assert zero files were rewritten (deleteApplied precedent). */
  private[graft] def dvApplied(spark: SparkSession,
      dir: String): (TxTable.PositionalDeleteResult, DataFrame) = {
    val published = evolveTableRoot(spark, dir)
    val root = Files.createTempDirectory("graft_q_table_dv").toString
    tempRoots.add(root)
    copyTree(published, root)
    val t = new TxTable(root, Seq("user_id", "event_id"))
    val r = t.deletePositional(spark, "user_id", 5, 9)
    (r, t.read(spark))
  }

  /** STATS EVOLUTION through the gate (partition-layout re-key without
    * rewriting history, manifest-only): events land in 8 sequential
    * appends, each a narrow `event_id` band — the streaming-ingest shape
    * where ingest-order ids cluster tightly per file — but the table
    * declares stats ONLY on `user_id`, so an `event_id` probe must scan
    * all 16 files. `evolveStats(event_id)` records per-file min/max for
    * the new column in one distributed pass: zero bytes rewritten, every
    * file carried by name, and the SAME probe now plans a scan over just
    * the one append's files. At 100 TB this is ALTER TABLE for pruning:
    * a retroactive skipping column for the cost of one read, no rewrite,
    * no downtime. The probe window is the second band [n/8, 2·n/8), so
    * the oracle is sf-independent; the answer is DuckDB-checked and the
    * spec pins that files really were pruned post-evolution. */
  def q_table_evolve(spark: SparkSession, dir: String): DataFrame =
    evolvePruned(spark, dir).df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** The build + evolved pruned read behind [[q_table_evolve]], exposed
    * so the spec can assert `filesScanned < filesTotal` on the NEW stat
    * column — the evolution must actually enable the skip. */
  private[graft] def evolvePruned(spark: SparkSession, dir: String): TxTable.PrunedRead = {
    // post-evolution readers declare the widened stat columns
    val t = new TxTable(evolveTableRoot(spark, dir), Seq("user_id", "event_id"))
    val n = t.snapshot().files.map(_.rows).sum // O(files) driver metadata, no job
    val band = n / 8
    t.readWhere(spark, "event_id", band, 2 * band - 1)
  }

  /** The shared 8-banded-append + evolveStats build behind
    * [[q_table_evolve]] (write-once published per source fingerprint).
    * Appends declare stats only on user_id; version 9 is the evolution. */
  private def evolveTableRoot(spark: SparkSession, dir: String): String = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    Tables.publishOnce(s"graft_tableevolve_$fp") { tmp =>
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val n = ev.count()
      val band = n / 8
      val t = new TxTable(tmp, Seq("user_id"))
      (0 until 8).foreach { k =>
        val lo = k * band
        val hi = if (k == 7) n else (k + 1) * band
        t.append(spark,
          ev.filter(col("event_id") >= lo && col("event_id") < hi).repartition(2))
      }
      t.evolveStats(spark, Seq("event_id"))
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** MULTI-TABLE ATOMIC TRANSACTION through the gate
    * ([[graft.tables.TxGroup]]): events split into a `hot` table (even
    * users) and a `cold` table (odd users), group-committed together;
    * then ONE transaction MOVES users 2 and 4 from hot to cold — a
    * delete on one member plus an append on the other, made visible by
    * a single group-manifest publish. No group reader ever sees the
    * moved rows in both tables or in neither: the group pins (hot v,
    * cold v) pairs, and the put-if-absent link that publishes the pair
    * is the all-or-nothing point. The query reads BOTH members through
    * the group's consistent cut and aggregates per (table, event_type);
    * DuckDB reconstructs the post-move partition from the split rule.
    * TxGroupSpec pins atomicity itself (crash window, race, conserved
    * row total across every group version). */
  def q_table_multi(spark: SparkSession, dir: String): DataFrame = {
    val g = new graft.tables.TxGroup(multiTableRoot(spark, dir))
    val hot = g.read(spark, "hot", Seq("user_id")).withColumn("tbl", lit("hot"))
    val cold = g.read(spark, "cold", Seq("user_id")).withColumn("tbl", lit("cold"))
    hot.unionByName(cold)
      .groupBy(col("tbl"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("tbl"), col("event_type"))
  }

  /** GROUP-consistent replication through the gate — the cross-table
    * face of [[q_table_replica]]: the shared hot/cold group (split +
    * atomic move) replays into a FRESH replica group via
    * `TxGroup.replicateTo` — one replica cut per source cut, member
    * folds watermarked by source member version — and the replica is
    * read THROUGH its own group pins. The answer must equal reading the
    * source group (the same oracle): cut-by-cut replication, the move
    * transaction included, must be invisible in the final state. Like
    * the single-table gates, the timed call is the production steady
    * state: the published build carries a replica group already
    * replicated through cut 1 (the split — that sync is ingest), so
    * each call resumes `replicateTo` and folds ONLY cut 2, the atomic
    * move — one delete-diff fold, one append fold, one group publish.
    * GroupReplicationSpec pins every intermediate cut, crash-window
    * re-entry, misalignment refusal, and idle/lag syncs on constructed
    * histories. */
  def q_table_multi_replica(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, multiReplicaRoot(spark, dir), "graft_q_multi_replica") { root =>
      val src = new graft.tables.TxGroup(s"$root/src")
      val dst = new graft.tables.TxGroup(s"$root/replica")
      src.replicateTo(spark, dst, "gate-group-replica",
        Map("hot" -> "user_id", "cold" -> "user_id")) // tail: cut 2 only
      val hot = dst.read(spark, "hot", Seq("user_id")).withColumn("tbl", lit("hot"))
      val cold = dst.read(spark, "cold", Seq("user_id")).withColumn("tbl", lit("cold"))
      hot.unionByName(cold)
        .groupBy(col("tbl"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("tbl"), col("event_type"))
    }

  /** The shared two-table build + atomic move behind [[q_table_multi]]
    * (write-once published per source fingerprint). Group v1 = the
    * even/odd split; group v2 = the move transaction. */
  private def multiTableRoot(spark: SparkSession, dir: String): String = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    Tables.publishOnce(s"graft_tablemulti_$fp") { tmp =>
      val g = new graft.tables.TxGroup(tmp)
      val hot = g.table("hot", Seq("user_id"))
      val cold = g.table("cold", Seq("user_id"))
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
      val vH1 = hot.append(spark, ev.filter(col("user_id") % 2 === 0)
        .repartitionByRange(4, col("user_id")))
      val vC1 = cold.append(spark, ev.filter(col("user_id") % 2 =!= 0)
        .repartitionByRange(4, col("user_id")))
      g.commit(Map("hot" -> vH1, "cold" -> vC1)) // group v1: the split
      // the MOVE: append the band to cold FIRST (reads hot's current
      // files), then copy-on-write delete it from hot, then publish both
      // member versions in one group commit
      val moved = hot.read(spark).filter(col("user_id") >= 2 && col("user_id") <= 4)
      val vC2 = cold.append(spark, moved)
      val dH = hot.delete(spark, "user_id", 2, 4)
      g.commit(Map("hot" -> dH.version, "cold" -> vC2)) // group v2: the move
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** The group-replication gate's bounded twin of [[multiTableRoot]]
    * (same split + atomic-move shape on `user_id < 150`), laid out as
    * `src/` plus a `replica/` group already replicated through cut 1 —
    * the initial sync is ingest, published once; each gate call copies
    * the tree and resumes `replicateTo` from cut 1, folding only the
    * move cut (see [[q_table_multi_replica]]'s cost note). */
  private def multiReplicaRoot(spark: SparkSession, dir: String): String = {
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    Tables.publishOnce(s"graft_tablemultirep2_$fp") { tmp =>
      val g = new graft.tables.TxGroup(s"$tmp/src")
      val hot = g.table("hot", Seq("user_id"))
      val cold = g.table("cold", Seq("user_id"))
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .filter(col("user_id") < 150)
      val vH1 = hot.append(spark, ev.filter(col("user_id") % 2 === 0)
        .repartitionByRange(4, col("user_id")))
      val vC1 = cold.append(spark, ev.filter(col("user_id") % 2 =!= 0)
        .repartitionByRange(4, col("user_id")))
      g.commit(Map("hot" -> vH1, "cold" -> vC1)) // group v1: the split
      // replicate the split cut NOW (this is the replica's bootstrap)
      g.replicateTo(spark, new graft.tables.TxGroup(s"$tmp/replica"),
        "gate-group-replica", Map("hot" -> "user_id", "cold" -> "user_id"))
      val moved = hot.read(spark).filter(col("user_id") >= 2 && col("user_id") <= 4)
      val vC2 = cold.append(spark, moved)
      val dH = hot.delete(spark, "user_id", 2, 4)
      g.commit(Map("hot" -> dH.version, "cold" -> vC2)) // group v2: the move
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
  }

  /** The broker-shaped source's BATCH face through the gate: a
    * deterministic 6000-record topic (3 partitions, records dealt
    * round-robin, several segments each — written once by the pure-JVM
    * producer, no Spark involved) batch-read via
    * `spark.read.format(LogSource)` and aggregated. Values are exact
    * dyadics (id·0.5) so sums are order-independent without decimals,
    * and DuckDB reconstructs the records from range() — a from-thin-air
    * streaming source, hash-checked like q_source_gen. `dir` unused:
    * this table does not live in the sf directory, which is the point. */
  def q_source_log(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.publishOnce("graft_logtopic_v1") { tmp =>
      (0 until 3).foreach { p =>
        val ids = (0L until 6000L).filter(_ % 3 == p)
        ids.grouped(800).foreach { chunk =>
          graft.sources.LogSource.append(tmp, p,
            chunk.map(id => (id, 1704067200000000L + id * 1000000L, id % 97, id * 0.5)))
        }
      }
      Files.createFile(Paths.get(tmp, "_SUCCESS")); () // publishOnce marker
    }
    spark.read.format("graft.sources.LogSource").option("path", root).load()
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v_sum"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("bucket"))
  }

  /** SHALLOW CLONE through the gate ([[graft.tables.TxTable.cloneTo]]):
    * the published events table is cloned METADATA-ONLY (one manifest
    * file referencing the shared data by absolute path — zero data
    * copied, O(1) in table size), the band `user_id ∈ [2,4]` is deleted
    * ON THE CLONE (copy-on-write: rewrites land clone-locally), and both
    * tables are read back under one aggregate. The oracle pins the whole
    * story at once: the clone must show exactly the post-delete state
    * while the source — whose files the clone borrowed seconds ago —
    * still answers with every row. At 100 TB this is the experiment-
    * branch primitive: a physical copy is days of I/O, a shallow clone
    * is one metadata write. TxCloneSpec pins the ownership rules
    * (vacuum guard, divergence isolation both ways, constraint
    * carry-over). */
  def q_table_clone(spark: SparkSession, dir: String): DataFrame = {
    val src = new TxTable(eventsTableRoot(spark, dir), Seq("user_id"))
    val tmp = Files.createTempDirectory("graft_q_table_clone").toString
    try {
      val clone = src.cloneTo(s"$tmp/clone")
      clone.delete(spark, "user_id", 2, 4)
      val df = clone.read(spark).withColumn("side", lit("clone"))
        .unionByName(src.read(spark).withColumn("side", lit("src")))
        .groupBy(col("side"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("side"), col("event_type"))
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally deleteTree(tmp)
  }

  /** COLUMN RENAME through the gate ([[graft.tables.TxTable.renameColumn]],
    * Delta/Iceberg column mapping): the shared events table gets BOTH its
    * value column and its STAT column renamed — two metadata-only commits,
    * zero bytes rewritten — then a band delete runs against the renamed
    * stat column (the manifest min/max pruning must survive the rename,
    * pinned by TxRenameSpec) and the final read aggregates under the new
    * logical names. At 100 TB a rename-by-rewrite is a full-table job;
    * the mapping makes it one manifest line. The oracle pins the data
    * through the whole chain: rename → prune-by-renamed-stats → delete →
    * read must equal the plain band-filtered aggregate. */
  def q_table_rename(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, eventsTableRoot(spark, dir), "graft_q_table_rename") { root =>
      val t = new TxTable(root, Seq("user_id"))
      t.renameColumn("value", "amount")
      t.renameColumn("user_id", "uid")
      t.delete(spark, "uid", 3, 7)
      t.read(spark)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast("decimal(18,2)")).cast("double").as("v_sum"),
          countDistinct(col("uid")).as("n_users"))
        .orderBy(col("event_type"))
    }

  /** DROP COLUMN through the gate ([[graft.tables.TxTable.dropColumn]],
    * Delta column-mapping semantics): the shared events table loses its
    * `value` column by ONE metadata-only commit — zero bytes of a
    * possibly-100 TB table rewritten, the physical parquet column left
    * in place but hidden — then a band delete proves the logical
    * surface (stat pruning included) still works post-drop, and the
    * final read aggregates the SURVIVING columns. The drop itself is
    * hash-observable: `visible_cols` is a literal derived from the
    * post-drop schema, so a no-op drop (value still visible) mismatches
    * the oracle's pinned column list, not just a spec assertion.
    * TxDropColumnSpec pins the rest of the contract — resurrection
    * guard, time travel, CDC, clone carry-through, constraint gate. */
  def q_table_dropcol(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, eventsTableRoot(spark, dir), "graft_q_table_dropcol") { root =>
      val t = new TxTable(root, Seq("user_id"))
      t.dropColumn("value")
      t.delete(spark, "user_id", 3, 7)
      val df = t.read(spark)
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .withColumn("visible_cols", lit(df.columns.sorted.mkString(",")))
        .orderBy(col("event_type"))
    }

  /** DESCRIBE HISTORY through the gate ([[graft.tables.TxTable.history]],
    * Delta parity): a scripted mutation chain — band delete, metadata-only
    * column rename, constraint declaration, full-state restore — then the
    * audit log read back: per version its recorded operation name and
    * whether it was metadata-only (zero file-level footprint). The log is
    * O(versions) tiny driver-side manifest reads, zero data I/O — at
    * 100 TB "who did what when" costs nothing. The oracle pins the exact
    * op sequence and the metadata-only classification from thin air
    * (constant VALUES — the chain is deterministic), the same precedent
    * as q_source_log's reconstructed topic. TxHistorySpec pins the rest
    * (newest-first order, counts, clone tagging, vacuum bounding). */
  def q_table_history(spark: SparkSession, dir: String): DataFrame =
    mutatedAggregate(spark, eventsTableRoot(spark, dir), "graft_q_table_history") { root =>
      import spark.implicits._
      val t = new TxTable(root, Seq("user_id"))
      t.delete(spark, "user_id", 3, 7)              // v2: touches files
      t.renameColumn("value", "amount")             // v3: metadata-only
      t.addConstraint(spark, "user_id IS NOT NULL") // v4: metadata-only
      t.restore(1)                                  // v5: the band returns
      // v1 is the inherited published build (its op depends on when the
      // shared cache was written) — the scripted chain is what's under test
      t.history().filter(_.version >= 2)
        .map(i => (i.version.toLong, i.operation,
          i.addedFiles + i.removedFiles == 0))
        .toDF("version", "operation", "meta_only")
        .orderBy(col("version"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_table_history" -> q_table_history _,
    "q_table_dropcol" -> q_table_dropcol _,
    "q_table_rename" -> q_table_rename _,
    "q_table_clone" -> q_table_clone _,
    "q_table_skip" -> q_table_skip _,
    "q_table_bloomskip" -> q_table_bloomskip _,
    "q_table_replace" -> q_table_replace _,
    "q_table_cdf" -> q_table_cdf _,
    "q_table_replica" -> q_table_replica _,
    "q_table_replica_stream" -> q_table_replica_stream _,
    "q_table_merge" -> q_table_merge _,
    "q_table_merge_mor" -> q_table_merge_mor _,
    "q_table_update_mor" -> q_table_update_mor _,
    "q_table_delete" -> q_table_delete _,
    "q_table_changes" -> q_table_changes _,
    "q_table_timetravel" -> q_table_timetravel _,
    "q_table_tag" -> q_table_tag _,
    "q_table_restore" -> q_table_restore _,
    "q_table_evolve" -> q_table_evolve _,
    "q_table_multi" -> q_table_multi _,
    "q_table_multi_replica" -> q_table_multi_replica _,
    "q_table_dv" -> q_table_dv _,
    "q_table_dv_pred" -> q_table_dv_pred _,
    "q_source_log" -> q_source_log _,
  )

  lazy val oracle: Map[String, String] = oracleBase ++ Map(
    // the merge-on-read twins compute the SAME answers — they earn the
    // copy-on-write gates' oracles verbatim
    "q_table_merge_mor" -> oracleBase("q_table_merge"),
    "q_table_update_mor" -> oracleBase("q_table_replace"))

  private lazy val oracleBase: Map[String, String] = Map(
    "q_table_history" ->
      """SELECT CAST(v AS BIGINT) AS version, op AS operation, m AS meta_only
        |FROM (VALUES (2, 'delete', false),
        |             (3, 'rename-column', true), (4, 'add-constraint', true),
        |             (5, 'restore(1)', false)) AS t(v, op, m)
        |ORDER BY version""".stripMargin,
    "q_table_dropcol" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  'event_type,user_id' AS visible_cols
        |FROM events WHERE user_id NOT BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_rename" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_clone" ->
      """SELECT side, event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM (
        |  SELECT 'clone' AS side, event_type, "value", user_id FROM events
        |  WHERE user_id NOT BETWEEN 2 AND 4
        |  UNION ALL
        |  SELECT 'src' AS side, event_type, "value", user_id FROM events)
        |GROUP BY side, event_type ORDER BY side, event_type""".stripMargin,
    "q_table_skip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id BETWEEN 2 AND 4
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_cdf" ->
      """WITH ch AS (
        |  SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type, user_id, "value"
        |    FROM events WHERE user_id % 3 = 0
        |  UNION ALL SELECT 2, 'insert', user_id, "value" FROM events WHERE user_id % 3 = 1
        |  UNION ALL SELECT 3, 'insert', user_id, "value" FROM events WHERE user_id % 3 = 2
        |  UNION ALL SELECT 5, 'delete', user_id, "value" FROM events WHERE user_id BETWEEN 3 AND 7)
        |SELECT commit_version, change_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM ch GROUP BY commit_version, change_type
        |ORDER BY commit_version, change_type""".stripMargin,
    "q_table_replace" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN user_id BETWEEN 3 AND 7
        |                 THEN "value" * 2 ELSE "value" END AS DECIMAL(18,2)))
        |    AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_bloomskip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT event_id) AS n_events
        |FROM events WHERE user_id = 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, '0-MERGED' AS o_orderpriority
        |  FROM orders WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT CAST(-(r + 1) AS BIGINT), '9-INSERTED' FROM range(10) t(r)),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_table_delete" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_replica" -> // the replica of the deleted state earns the same oracle
      // (on the replica gates' user-band build)
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT BETWEEN 3 AND 7 AND user_id < 150
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_replica_stream" -> // the stream-built replica earns it too:
      // the transport must be invisible in the answer
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT BETWEEN 3 AND 7 AND user_id < 150
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_changes" ->
      """SELECT CAST(user_id % 3 + 1 AS BIGINT) AS commit_version,
        |  count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY user_id % 3 + 1 ORDER BY commit_version""".stripMargin,
    "q_table_restore" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_timetravel" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 3 IN (0, 1)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_tag" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 3 IN (0, 1)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_evolve" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE event_id >= (SELECT count(*) // 8 FROM events)
        |  AND event_id < 2 * (SELECT count(*) // 8 FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_dv" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT BETWEEN 5 AND 9
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_dv_pred" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE NOT (user_id % 3 = 1 AND user_id <= 9)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_multi" ->
      """SELECT CASE WHEN user_id % 2 = 0 AND user_id NOT BETWEEN 2 AND 4
        |            THEN 'hot' ELSE 'cold' END AS tbl,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, event_type ORDER BY tbl, event_type""".stripMargin,
    "q_table_multi_replica" -> // the replica group earns the source's oracle
      // (on the group-replication gate's user-band build)
      """SELECT CASE WHEN user_id % 2 = 0 AND user_id NOT BETWEEN 2 AND 4
        |            THEN 'hot' ELSE 'cold' END AS tbl,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id < 150
        |GROUP BY 1, event_type ORDER BY tbl, event_type""".stripMargin,
    "q_source_log" ->
      """WITH recs AS (
        |  SELECT r AS event_id, r % 97 AS user_id, CAST(r AS DOUBLE) * 0.5 AS "value"
        |  FROM range(6000) t(r))
        |SELECT user_id % 10 AS bucket, count(*) AS n, sum("value") AS v_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM recs GROUP BY user_id % 10 ORDER BY bucket""".stripMargin,
  )
}
