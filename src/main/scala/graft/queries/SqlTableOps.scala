package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The lakehouse tier driven ENTIRELY through SQL text (SURVEY §2.29) —
  * the round-8 verdict's missing #1: a SQL-only user must be able to
  * mutate and time-travel TxTables without touching the Scala API. Each
  * gate reruns an existing oracle-checked TableOps scenario with every
  * table operation expressed as a `spark.sql` statement — MERGE INTO and
  * RESTORE through [[graft.sql.GraftSqlParser]], DELETE FROM and VERSION
  * AS OF through [[graft.sources.TxTableCatalog]]'s DSv2 resolution, and
  * the batch read through `spark.read.format("txtable")`
  * ([[graft.sources.TxBatchSource]], the verdict's missing #2) — so the
  * SQL surface earns the SAME DuckDB oracles as the Scala surface: any
  * divergence between the two entry points lands on a hash mismatch.
  * The statements delegate to the spec-hardened TxTable operations; the
  * gates pin that the parse/resolution layer routes them faithfully. */
object SqlTableOps extends QueryModule {

  private def q(root: String): String = s"txtable.`$root`"

  private val eventAgg =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
      |  count(DISTINCT user_id) AS n_users
      |FROM %s
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SQL MERGE INTO — q_table_merge's scenario with the upsert written
    * as the canonical `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT *` statement; earns the same oracle. */
  def q_sql_table_merge(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("graft_sqlmerge_orders")
    val published = TableOps.mergeBaseRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_merge") { root =>
      spark.sql(
        s"""MERGE INTO ${q(root)} AS t
           |USING (SELECT o_orderkey, '0-MERGED' AS o_orderpriority
           |         FROM graft_sqlmerge_orders WHERE o_orderkey <= 300
           |       UNION ALL
           |       SELECT CAST(-(id + 1) AS BIGINT), '9-INSERTED' FROM range(10)) AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
           |FROM ${q(root)}
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }
  }

  /** COMPOSITE-KEY MERGE (round-13 verdict #1): the canonical upsert
    * keyed ON `t.user_id = s.user_id AND t.event_type = s.event_type` —
    * the first CDC shape every multi-tenant/per-day table hits, and the
    * first refusal the single-key surface produced. Matching requires
    * equality on EVERY component; candidate pruning INTERSECTS the
    * per-component interval probes, so the stat-carrying user_id
    * component prunes files here while the string event_type component
    * degrades gracefully (no interval — prunes nothing, refuses
    * nothing). The oracle replays the NOT-EXISTS-on-both-columns model
    * in DuckDB; MergeWhenSpec pins the composite dup refusal and
    * NULL-component insert routing. */
  def q_sql_table_merge_multikey(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_sqlmerge_mk_events")
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_merge_multikey") { root =>
      spark.sql(
        s"""MERGE INTO ${q(root)} AS t
           |USING (SELECT DISTINCT user_id, event_type,
           |              CAST(-1.0 AS DOUBLE) AS value
           |         FROM graft_sqlmerge_mk_events WHERE user_id <= 5
           |       UNION ALL
           |       SELECT CAST(-(id + 1) AS BIGINT), 'm-inserted',
           |              CAST(id AS DOUBLE) FROM range(3)) AS s
           |ON t.user_id = s.user_id AND t.event_type = s.event_type
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** MERGE INTO on a NON-STAT key (round-11 verdict #1): the merge key
    * is a STRING column with no declared stats — no interval is
    * derivable, so the engine degrades to the predicate-DML discipline
    * (every file a rewrite candidate, every concurrent append a
    * conflict) instead of refusing. Semantics are unchanged — this gate
    * earns a full upsert oracle — and SqlTableSpec pins the degradation
    * class (keptFiles == 0) and the stat-key/non-stat-key agreement. */
  def q_sql_table_merge_nonstat(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.ensure(spark)
    val base = Tables.orders(spark, dir)
      .select(concat(lit("o"), col("o_orderkey")).as("o_key"),
        col("o_orderkey"), col("o_orderpriority"))
    base.createOrReplaceTempView("graft_sqlmerge_ns_orders")
    val fp = Tables.sourceFingerprint(dir, "orders.parquet")
    val published = Tables.publishOnce(s"graft_tablemerge_nsbase_$fp") { tmp =>
      // stats are declared on the PAYLOAD column only — the merge key
      // o_key deliberately has none
      val t0 = new graft.tables.TxTable(tmp, Seq("o_orderkey"))
      t0.append(spark, base.repartitionByRange(8, col("o_orderkey")))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS")); ()
    }
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_merge_nonstat") { root =>
      spark.sql(
        s"""MERGE INTO ${q(root)} AS t
           |USING (SELECT concat('o', o_orderkey) AS o_key, o_orderkey,
           |              '0-MERGED' AS o_orderpriority
           |         FROM graft_sqlmerge_ns_orders WHERE o_orderkey <= 300
           |       UNION ALL
           |       SELECT concat('n', id), CAST(-(id + 1) AS BIGINT),
           |              '9-INSERTED' FROM range(10)) AS s
           |ON t.o_key = s.o_key
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           |  count(DISTINCT o_key) AS n_keys
           |FROM ${q(root)}
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }
  }

  /** `INSERT INTO … REPLACE WHERE` — q_table_replace's atomic band
    * restatement (user_id 3–7 swapped for a doubled-value recompute in
    * ONE commit) expressed as the Delta statement; earns the same
    * oracle. The backfill shape: a recomputed day swaps in atomically,
    * never exposing a half-replaced band. */
  def q_sql_table_replace(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_sqlreplace_events")
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_replace") { root =>
      spark.sql(
        s"""INSERT INTO ${q(root)} REPLACE WHERE user_id BETWEEN 3 AND 7
           |SELECT user_id, event_type, value * 2 AS value
           |FROM graft_sqlreplace_events WHERE user_id BETWEEN 3 AND 7""".stripMargin)
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** FULL-SYNC MERGE — `WHEN NOT MATCHED BY SOURCE THEN DELETE` makes
    * the table EXACTLY mirror the source in one atomic statement: upsert
    * for named keys, delete for everything the source stopped naming
    * (the replication / dimension-refresh shape). After the statement
    * the table IS the source, so the oracle is the source query itself. */
  def q_sql_table_merge_sync(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("graft_sqlmerge_sync_orders")
    val published = TableOps.mergeBaseRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_merge_sync") { root =>
      spark.sql(
        s"""MERGE INTO ${q(root)} AS t
           |USING (SELECT o_orderkey, concat('S-', o_orderpriority) AS o_orderpriority
           |         FROM graft_sqlmerge_sync_orders
           |        WHERE o_orderkey % 3 = 0) AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      spark.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
           |FROM ${q(root)}
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }
  }

  /** COPY INTO — idempotent bulk file loading: the FIRST statement loads
    * the events file, the IDENTICAL SECOND statement is a recorded
    * no-op (0 files — the loaded-file registry in the manifest), and the
    * aggregate over the table earns the plain-events oracle. The shape a
    * scheduler-retried daily ingest takes: re-running never duplicates. */
  def q_sql_table_copyinto(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_q_copyinto")
    val root = s"$work/tx"
    try {
      val stmt = s"COPY INTO ${q(root)} FROM `$dir` " +
        "PATTERN = 'events.parquet' TBLPROPERTIES('statCols'='user_id')"
      val first = spark.sql(stmt).head()
      require(first.getInt(0) == 1, s"first COPY must load the file: $first")
      val second = spark.sql(stmt).head()
      require(second.getInt(0) == 0 && second.getLong(1) == 0L,
        s"re-run COPY must be a no-op: $second")
      val df = spark.sql(eventAgg.format(q(root)))
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally TableOps.deleteTree(work.toString)
  }

  /** GENERAL-CLAUSE MERGE — the full statement surface beyond the
    * canonical upsert: conditional DELETE and conditional UPDATE on
    * match (FIRST-MATCH-WINS: a key satisfying both takes the delete),
    * carry-through for matched rows no clause claims, and a conditional
    * explicit-column INSERT for the rest of the source. One statement,
    * one commit, the same candidate pruning as the canonical path. */
  def q_sql_table_merge_clauses(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("graft_sqlmerge_cl_orders")
    val published = TableOps.mergeBaseRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_merge_clauses") { root =>
      spark.sql(
        s"""MERGE INTO ${q(root)} AS t
           |USING (SELECT o_orderkey, o_orderpriority
           |         FROM graft_sqlmerge_cl_orders WHERE o_orderkey <= 600
           |       UNION ALL
           |       SELECT CAST(-(id + 1) AS BIGINT), 'zz' FROM range(10)) AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_orderkey <= 300 THEN DELETE
           |WHEN MATCHED AND t.o_orderpriority = '5-LOW'
           |  THEN UPDATE SET o_orderpriority = concat('0-', s.o_orderpriority)
           |WHEN NOT MATCHED AND s.o_orderkey >= -5
           |  THEN INSERT (o_orderkey, o_orderpriority)
           |       VALUES (s.o_orderkey, '9-NEW')""".stripMargin)
      spark.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
           |FROM ${q(root)}
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }
  }

  /** MERGE SCHEMA EVOLUTION (round-12 verdict #1) — the first wall every
    * CDC-ingest user hits: the source carries a column the table never
    * declared (`o_score`), and the star actions (`UPDATE SET *` /
    * `INSERT *`) WIDEN the schema in the SAME commit instead of silently
    * dropping it — updated and inserted rows carry real values, every
    * untouched row reads NULL there (metadata-only backfill, zero
    * rewrites of kept files). The conditional INSERT routes this through
    * the general clause surface ([[graft.tables.TxTable#mergeWhen]]);
    * MergeWhenSpec pins evolution on both clause directions, the
    * widened declaration, and the loud refusal on a type CONFLICT. */
  def q_sql_table_merge_evolve(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("graft_sqlmerge_ev_orders")
    val published = TableOps.mergeBaseRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_merge_evolve") { root =>
      spark.sql(
        s"""MERGE INTO ${q(root)} AS t
           |USING (SELECT o_orderkey, '0-MERGED' AS o_orderpriority,
           |              CAST(o_orderkey * 10 AS BIGINT) AS o_score
           |         FROM graft_sqlmerge_ev_orders WHERE o_orderkey <= 300
           |       UNION ALL
           |       SELECT CAST(-(id + 1) AS BIGINT), '9-INSERTED',
           |              CAST(-(id + 1) * 10 AS BIGINT) FROM range(10)) AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND s.o_orderkey >= -5 THEN INSERT *""".stripMargin)
      spark.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           |  CAST(sum(coalesce(o_score, -1)) AS BIGINT) AS score_sum,
           |  CAST(sum(CASE WHEN o_score IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nullscore
           |FROM ${q(root)}
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }
  }

  /** CONVERT TO TXTABLE (round-11 verdict #3) — adopt a hive-partitioned
    * plain-parquet directory as a transactional table with ZERO data
    * rewrite: files hard-link in, footer metadata becomes per-file
    * stats, and `day=<v>` partition values become exact stats intervals
    * (partition pruning as manifest skipping). The gate converts a
    * partitioned copy of events and aggregates through the catalog read
    * — partition column included — against the plain-events oracle;
    * SqlTableSpec pins that the converted table actually PRUNES. */
  def q_sql_table_convert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.ensure(spark)
    val fp = Tables.sourceFingerprint(dir, "events.parquet")
    val raw = Tables.publishOnce(s"graft_convert_raw_$fp") { tmp =>
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          pmod(col("user_id"), lit(7L)).as("day"))
        .write.partitionBy("day").parquet(tmp)
    }
    val work = java.nio.file.Files.createTempDirectory("graft_q_convert")
    val dst = s"$work/tx"
    try {
      spark.sql(s"CONVERT TO TXTABLE ${q(dst)} FROM PARQUET `$raw` " +
        "TBLPROPERTIES('statCols'='user_id,day')")
      val df = spark.sql(
        s"""SELECT CAST(day AS BIGINT) AS day, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
           |  count(DISTINCT user_id) AS n_users
           |FROM ${q(dst)}
           |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin)
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally TableOps.deleteTree(work.toString)
  }

  /** SQL DELETE FROM — q_table_delete's band delete through Spark's own
    * DELETE resolution onto SupportsDelete; earns the same oracle. */
  def q_sql_table_delete(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_delete") { root =>
      spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 3 AND 7")
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** DML DRY RUN (round-14 verdict #6): `EXPLAIN DELETE …` previews the
    * manifest classification — candidates / metadata-only covered /
    * straddling rewrites / kept, and the prune class — WITHOUT
    * committing (the gate requires the table version unchanged), then
    * the REAL statement runs and the gate REQUIRES its result
    * accounting to equal the preview exactly: dropped == covered,
    * rewritten == straddling, kept == kept. On a 100 TB table this is
    * how an operator bounds a retention delete's cost before paying it.
    * The readback earns the standard events oracle. */
  def q_sql_table_dryrun(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_dryrun") { root =>
      val v0 = graft.tables.TxTable.open(root).currentVersion
      val dry = spark.sql(
        s"EXPLAIN DELETE FROM ${q(root)} WHERE user_id BETWEEN 3 AND 7").head()
      require(graft.tables.TxTable.open(root).currentVersion == v0,
        "a dry run must not write a version")
      val real = spark.sql(
        s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 3 AND 7").head()
      require(dry.getInt(3) == real.getInt(1) && // covered == dropped
        dry.getInt(4) == real.getInt(2) && // straddling == rewritten
        dry.getInt(5) == real.getInt(3), // kept == kept
        s"dry-run classification must equal the real run: $dry vs $real")
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SQL RESTORE — q_table_restore's bad-delete-then-undo, with both the
    * delete and the restore as statements; earns the same oracle. */
  def q_sql_table_restore(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.changesTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_restore") { root =>
      spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 3 AND 7") // v5: bad
      spark.sql(s"RESTORE TABLE ${q(root)} TO VERSION AS OF 4")          // v6: undo
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SQL time travel — q_table_timetravel's v2 read as a native
    * `VERSION AS OF` table clause; earns the same oracle. Read-only:
    * the shared published build is queried directly. */
  def q_sql_table_timetravel(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val root = TableOps.changesTableRoot(spark, dir)
    spark.sql(eventAgg.format(s"${q(root)} VERSION AS OF 2"))
  }

  /** SQL audit chain — DELETE, ALTER TABLE RENAME COLUMN, RESTORE, all
    * as statements, then DESCRIBE HISTORY read back. The op names and
    * meta-only flags must match the Scala-API chain's exactly (the
    * statements are entry points to the same commits). */
  def q_sql_table_history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_history") { root =>
      spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 3 AND 7")   // v2
      spark.sql(s"ALTER TABLE ${q(root)} RENAME COLUMN value TO amount")   // v3
      spark.sql(s"ALTER TABLE ${q(root)} ADD CONSTRAINT upos CHECK (user_id >= 0)") // v4
      spark.sql(s"RESTORE TABLE ${q(root)} TO VERSION AS OF 1")            // v5
      spark.sql(s"DESCRIBE HISTORY ${q(root)}")
        .filter(col("version") >= 2) // v1 is the inherited published build
        .selectExpr("CAST(version AS BIGINT) AS version", "operation", "meta_only")
        .orderBy("version")
    }
  }

  /** SQL INSERT INTO — new rows through Spark's own insert resolution
    * onto the DSv2 write path (V1 fallback → TxTable.append: staged
    * files, stats/bloom pass, constraints, the commit race retry). The
    * oracle is the events aggregate UNION the inserted literals. */
  def q_sql_table_insert(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_insert") { root =>
      spark.sql(
        s"""INSERT INTO ${q(root)} VALUES
           |  (CAST(9000001 AS BIGINT), 'zz-inserted', CAST(1.25 AS DOUBLE)),
           |  (CAST(9000002 AS BIGINT), 'zz-inserted', CAST(2.5 AS DOUBLE))""".stripMargin)
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SQL CREATE TABLE … AS SELECT — a new TxTable born from a SQL query
    * through the catalog's createTable + the DSv2 write path, with its
    * stat schema declared via TBLPROPERTIES and read back through the
    * catalog. The whole lifecycle (create → write → read) is SQL-only. */
  def q_sql_table_ctas(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.events(spark, dir).select("user_id", "event_type", "value")
      .createOrReplaceTempView("graft_sqlctas_events")
    val root = java.nio.file.Files.createTempDirectory("graft_q_sql_ctas").toString
    try {
      spark.sql(
        s"""CREATE TABLE ${q(root)}
           |TBLPROPERTIES ('statCols' = 'user_id')
           |AS SELECT user_id, event_type, value FROM graft_sqlctas_events
           |   WHERE user_id BETWEEN 5 AND 9""".stripMargin)
      val df = spark.sql(eventAgg.format(q(root)))
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally {
      val p = java.nio.file.Paths.get(root)
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** SQL UPDATE — Delta's third DML statement beside DELETE and MERGE:
    * `UPDATE … SET value = value * 2 WHERE user_id BETWEEN 3 AND 7`,
    * executed by [[graft.tables.TxTable.updateWhere]] (the BETWEEN
    * prunes files like any other WHERE; one conditional projection
    * applies the Catalyst SET expressions) so only band-touching files
    * are rewritten. Earns q_table_replace's oracle: the same restatement
    * computed by DuckDB set logic. */
  def q_sql_table_update(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_update") { root =>
      spark.sql(
        s"UPDATE ${q(root)} SET value = value * 2 WHERE user_id BETWEEN 3 AND 7")
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SQL DELETE with an ARBITRARY predicate (round-10 verdict missing
    * #1): a modulo conjunct no source filter can express, plus a banded
    * conjunct the manifest stats prune on — provably-disjoint files
    * carry by name, candidates rewrite copy-on-write without their
    * matching rows ([[graft.tables.TxTable.deleteWhere]]). Earns the
    * events aggregate against DuckDB evaluating the same predicate. */
  def q_sql_table_delete_pred(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_delpred") { root =>
      spark.sql(s"DELETE FROM ${q(root)} WHERE user_id % 3 = 0 AND user_id <= 7")
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SUBQUERY-PREDICATE DELETE (round-12 verdict #2) — `DELETE FROM t
    * WHERE user_id IN (SELECT …)`: the GDPR/erasure shape, where the
    * victim list IS a query result. The subquery materializes once
    * through the session SQL pipeline; candidates come from the per-key
    * manifest interval probe (merge's broadcast discipline — never one
    * global envelope), survivors from a broadcast anti-join
    * ([[graft.tables.TxTable#deleteWhereIn]]). PredicateDmlSpec extends
    * the randomized differential with subquery predicates (IN and NOT
    * IN, NULL keys included). */
  def q_sql_table_delete_subq(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_subqdel_events")
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_delete_subq") { root =>
      spark.sql(
        s"""DELETE FROM ${q(root)} WHERE user_id IN
           |  (SELECT user_id FROM graft_subqdel_events
           |   WHERE value > 0.5 AND user_id BETWEEN 2 AND 6)""".stripMargin)
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SUBQUERY-PREDICATE UPDATE — the update face of
    * [[q_sql_table_delete_subq]]: `UPDATE … SET value = value * 2 WHERE
    * user_id IN (SELECT …)`, the "flag/backfill exactly these keys"
    * shape. Same per-key candidate probe, one conditional projection
    * with pre-update-row SET semantics
    * ([[graft.tables.TxTable#updateWhereIn]]). */
  def q_sql_table_update_subq(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_subqupd_events")
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_upd_subq") { root =>
      spark.sql(
        s"""UPDATE ${q(root)} SET value = value * 2 WHERE user_id IN
           |  (SELECT user_id FROM graft_subqupd_events
           |   WHERE value > 0.5 AND user_id BETWEEN 2 AND 6)""".stripMargin)
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SQL UPDATE with an ARBITRARY predicate (round-10 verdict missing
    * #1, update half): candidates selected by the banded conjunct,
    * matching ROWS rewritten under a conditional projection with ANSI
    * pre-update-row SET semantics
    * ([[graft.tables.TxTable.updateWhere]]). */
  def q_sql_table_update_pred(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_updpred") { root =>
      spark.sql(
        s"UPDATE ${q(root)} SET value = value * 3 WHERE user_id % 2 = 0 AND user_id >= 4")
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SQL VIEWS (round-12 verdict #4) — `CREATE VIEW … AS SELECT` over a
    * TxTable, then a query THROUGH the view composed with its own
    * filter and aggregation: the stored definition expands at parse
    * time (late binding — the full Spark SQL surface works over it),
    * so the filter through the view's WHERE and the outer residual both
    * reach the manifest-pruned catalog scan. SqlTableSpec pins
    * view-over-view, TEMP shadowing, and DROP VIEW. */
  def q_sql_table_view(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val tableRoot = TableOps.eventsTableRoot(spark, dir) // read-only share
    val work = java.nio.file.Files.createTempDirectory("graft_q_sql_view")
    val v = s"$work/v"
    try {
      spark.sql(s"CREATE VIEW txtable.`$v` AS " +
        s"SELECT user_id, event_type, value FROM ${q(tableRoot)} " +
        "WHERE user_id BETWEEN 2 AND 6")
      val df = spark.sql(
        s"""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
           |  count(DISTINCT user_id) AS n_users
           |FROM txtable.`$v` WHERE user_id <> 4
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS txtable.`$v`")
      TableOps.deleteTree(work.toString)
    }
  }

  /** MATERIALIZED VIEW + CDF-INCREMENTAL REFRESH (round-12 verdict #4
    * stretch): a select/project view over an events TxTable
    * materializes as a real TxTable; an append lands on the SOURCE, and
    * `REFRESH MATERIALIZED VIEW` replays ONLY the source's row-level
    * change feed for the new versions (mode = 'incremental' — asserted
    * here, cost ∝ changed files) into the materialization through the
    * exactly-once CDC fold. The aggregate over the refreshed view earns
    * a DuckDB oracle reconstructing both eras. */
  def q_sql_table_mview(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_mview") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_mview_v")
      val mv = s"$work/mv"
      try {
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` " +
          "TBLPROPERTIES('statCols'='user_id') AS " +
          s"SELECT user_id, event_type, value FROM ${q(root)} " +
          "WHERE user_id <= 6")
        spark.sql(
          s"""INSERT INTO ${q(root)} VALUES
             |  (CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)),
             |  (CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE))""".stripMargin)
        val mode = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$mv`").head()
        require(mode.getString(0) == "incremental",
          s"select/project refresh must take the CDF path, got $mode")
        // materialize BEFORE the finally tears the MV's storage down
        val df = spark.sql(eventAgg.format(s"txtable.`$mv`"))
        spark.createDataFrame(df.collectAsList(), df.schema)
      } finally {
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$mv`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** INCREMENTAL AGGREGATE materialized view (round-13 verdict #2):
    * `SELECT g…, count(*), sum(x) … GROUP BY g…` refreshed by the
    * classic GROUP-BY delta rule — the CDC feed folds as insert →
    * +1/+x, delete → −1/−x per group, the group deltas MERGE into the
    * materialization on the COMPOSITE group key (net-count-0 groups
    * DELETE, touched groups update arithmetically, net-new groups
    * insert — one commit, watermark included), cost ∝ the CHANGED
    * files, never source or view. Sums ride exact DECIMAL arithmetic
    * (order-free), avg is the sum/count recipe. The gate ASSERTS
    * mode='incremental' — a silent full recompute fails the run — and
    * exercises both group REMOVAL (a band delete empties users 0–2)
    * and group BIRTH (an insert mints a new (user, type) pair). */
  def q_sql_table_mview_agg(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_mview_agg") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_mview_agg_v")
      val mv = s"$work/mva"
      try {
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` " +
          "TBLPROPERTIES('statCols'='user_id') AS " +
          "SELECT user_id, event_type, count(*) AS n, " +
          "sum(CAST(value AS DECIMAL(18,2))) AS v_sum " +
          s"FROM ${q(root)} WHERE user_id <= 20 GROUP BY user_id, event_type")
        spark.sql(s"INSERT INTO ${q(root)} VALUES " +
          "(CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)), " +
          "(CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE))")
        spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 0 AND 2")
        val mode = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$mv`").head()
        require(mode.getString(0) == "incremental",
          s"aggregate refresh must take the GROUP-BY delta path, got $mode")
        val df = spark.sql(
          s"""SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total,
             |  CAST(sum(v_sum) AS DOUBLE) AS v_total, count(*) AS n_groups
             |FROM txtable.`$mv`
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
        spark.createDataFrame(df.collectAsList(), df.schema)
      } finally {
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$mv`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** MIN/MAX materialized view maintenance (round-14 verdict #2):
    * insert-only deltas fold MONOTONICALLY (min' = least(min, Δmin),
    * max' = greatest(max, Δmax) — comparison, not arithmetic, so no
    * type/NULL license is needed), and a delete — which can evict the
    * stored extremum, unrepairable by any fold — re-aggregates ONLY the
    * groups the delta names (per-column IN-lists push into the manifest
    * probe; cost ∝ touched groups, never the view). The gate ASSERTS
    * both modes: 'incremental' after the append, 'incremental-recheck'
    * after a delete that both empties groups 0–2 and evicts user 4's
    * planted minimum. */
  def q_sql_table_mview_minmax(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_mview_mm") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_mview_mm_v")
      val mv = s"$work/mvm"
      try {
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` " +
          "TBLPROPERTIES('statCols'='user_id') AS " +
          "SELECT user_id, count(*) AS n, " +
          "min(CAST(value AS DECIMAL(18,2))) AS v_min, " +
          "max(CAST(value AS DECIMAL(18,2))) AS v_max " +
          s"FROM ${q(root)} WHERE user_id <= 20 GROUP BY user_id")
        spark.sql(s"INSERT INTO ${q(root)} VALUES " +
          "(CAST(4 AS BIGINT), 'zz-new', CAST(-7.25 AS DOUBLE)), " +
          "(CAST(9000001 AS BIGINT), 'zz-new', CAST(1.0 AS DOUBLE))")
        val r1 = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$mv`").head()
        require(r1.getString(0) == "incremental",
          s"insert-only min/max must fold monotonically, got $r1")
        spark.sql(s"DELETE FROM ${q(root)} WHERE user_id <= 2 OR value < 0")
        val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$mv`").head()
        require(r2.getString(0) == "incremental-recheck",
          s"a delete under min/max must recheck touched groups, got $r2")
        val df = spark.sql(
          s"""SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_total,
             |  CAST(sum(v_min) AS DOUBLE) AS min_sum,
             |  CAST(sum(v_max) AS DOUBLE) AS max_sum
             |FROM txtable.`$mv`""".stripMargin)
        spark.createDataFrame(df.collectAsList(), df.schema)
      } finally {
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$mv`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** INCREMENTAL JOIN-aggregate materialized view (round-14 verdict #1
    * — the fact⋈dim rollup, the single most materialized shape in
    * practice): `SELECT d.seg, count(*), sum(x) FROM fact f JOIN dim d
    * ON f.k = d.k WHERE p GROUP BY d.seg` refreshes by the delta-join
    * rule ΔJ = ΔA⋈B@cur ∪ A@last⋈ΔB (the ΔA⋈ΔB overlap term rides the
    * first join because B@cur already contains ΔB), folded as signed
    * group deltas and MERGEd on the group key — BOTH source watermarks
    * advance in the same commit. The gate mutates BOTH sides (fact:
    * insert + band delete; dim: member delete + new-member insert) and
    * plants the overlap: event AND dim row for user 9000001 both land
    * inside the refresh window, so their pair exists ONLY through
    * ΔA⋈ΔB. ASSERTS mode='incremental' — a silent full recompute fails
    * the run. */
  def q_sql_table_mview_join(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_mview_join") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_mview_join_v")
      val dim = s"$work/dim"
      val mv = s"$work/mvj"
      try {
        spark.sql(s"CREATE TABLE txtable.`$dim` " +
          "TBLPROPERTIES('statCols'='user_id') AS " +
          "SELECT user_id, user_id % 5 AS seg " +
          s"FROM (SELECT DISTINCT user_id FROM ${q(root)})")
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` " +
          "TBLPROPERTIES('statCols'='seg') AS " +
          "SELECT d.seg AS seg, count(*) AS n, " +
          "sum(CAST(f.value AS DECIMAL(18,2))) AS v_sum " +
          s"FROM ${q(root)} f JOIN txtable.`$dim` d ON f.user_id = d.user_id " +
          "WHERE f.user_id <= 9000001 GROUP BY d.seg")
        // fact-side deltas: a new event for an existing dim member, a
        // brand-new user's event, a band delete
        spark.sql(s"INSERT INTO ${q(root)} VALUES " +
          "(CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)), " +
          "(CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE))")
        spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 0 AND 2")
        // dim-side deltas: a member leaves; the NEW user joins — its
        // fact row pairs ONLY through the ΔA⋈ΔB overlap term
        spark.sql(s"DELETE FROM txtable.`$dim` WHERE user_id = 5")
        spark.sql(s"INSERT INTO txtable.`$dim` VALUES " +
          "(CAST(9000001 AS BIGINT), CAST(1 AS BIGINT))")
        val mode = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$mv`").head()
        require(mode.getString(0) == "incremental",
          s"join-aggregate refresh must take the delta-join path, got $mode")
        val df = spark.sql(
          s"""SELECT seg, CAST(n AS BIGINT) AS n, CAST(v_sum AS DOUBLE) AS v_sum
             |FROM txtable.`$mv` ORDER BY seg""".stripMargin)
        spark.createDataFrame(df.collectAsList(), df.schema)
      } finally {
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$mv`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** MAINTAINED AVG in aggregate mviews (round-15 stretch): `avg(e) AS
    * a` is admitted when the view ALSO carries `sum(e)` (count(*) is
    * already required) — the refresh re-derives a as newSum/newCount
    * with Spark's own divide-then-cast shape over the maintained
    * columns, so the stored avg is BIT-IDENTICAL to a recompute,
    * deletes included (avg is a ratio of maintained state; unlike
    * min/max a delete never strands it — no recheck needed). The gate
    * REQUIRES mode='incremental' AND zero drift between the maintained
    * avg column and a from-scratch recompute of the definition; the
    * oracle checks the group/count/sum surface (avg VALUES stay out of
    * the cross-engine hash — DuckDB's avg is double where Spark's is
    * DECIMAL(p+4,s+4), the documented rounding seam). */
  def q_sql_table_mview_avg(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_mview_avg") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_mview_avg_v")
      val mv = s"$work/mvavg"
      val defn = "SELECT user_id, event_type, count(*) AS n, " +
        "sum(CAST(value AS DECIMAL(18,2))) AS v_sum, " +
        "avg(CAST(value AS DECIMAL(18,2))) AS v_avg " +
        s"FROM ${q(root)} WHERE user_id <= 20 GROUP BY user_id, event_type"
      try {
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` " +
          s"TBLPROPERTIES('statCols'='user_id') AS $defn")
        spark.sql(s"INSERT INTO ${q(root)} VALUES " +
          "(CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)), " +
          "(CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE))")
        spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 0 AND 2")
        val mode = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$mv`").head()
        require(mode.getString(0) == "incremental",
          s"avg with companion sum/count must take the delta path, got $mode")
        // the maintained avg must be BIT-IDENTICAL to the recompute —
        // <=> is false on any value drift, NULL-safe on group drift
        val drift = spark.sql(
          s"""SELECT count(*) FROM (SELECT * FROM txtable.`$mv`) m
             |FULL JOIN ($defn) r
             |ON m.user_id <=> r.user_id AND m.event_type <=> r.event_type
             |WHERE NOT (m.n <=> r.n AND m.v_sum <=> r.v_sum
             |  AND m.v_avg <=> r.v_avg)""".stripMargin).head().getLong(0)
        require(drift == 0L, s"maintained avg drifted on $drift group(s)")
        val df = spark.sql(
          s"""SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total,
             |  CAST(sum(v_sum) AS DOUBLE) AS v_total, count(*) AS n_groups
             |FROM txtable.`$mv`
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
        spark.createDataFrame(df.collectAsList(), df.schema)
      } finally {
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$mv`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** MVIEW-ON-MVIEW CHAINING (round-15 stretch): a materialized view
    * whose SOURCE is another materialized view refreshes incrementally
    * through the SAME machinery — a mview IS a TxTable whose merge
    * commits produce an exact row-level CDC feed (a group's update
    * surfaces as delete(old)+insert(new), and the downstream ±x fold
    * nets them correctly), so the child replays only the parent's
    * CHANGED GROUPS, cost ∝ touched groups at every tier of the
    * pyramid. The gate builds source → parent (per-(user, type)
    * rollup) → child (per-user rollup), mutates the SOURCE, refreshes
    * parent then child, and ASSERTS both took mode='incremental' — the
    * multi-tier aggregation-pyramid shape (hourly → daily → monthly)
    * every warehouse materializes. */
  def q_sql_table_mview_chain(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_mview_chain") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_mview_chain_v")
      val parent = s"$work/mvp"
      val child = s"$work/mvc"
      try {
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$parent` " +
          "TBLPROPERTIES('statCols'='user_id') AS " +
          "SELECT user_id, event_type, count(*) AS n, " +
          "sum(CAST(value AS DECIMAL(18,2))) AS v_sum " +
          s"FROM ${q(root)} WHERE user_id <= 20 GROUP BY user_id, event_type")
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$child` " +
          "TBLPROPERTIES('statCols'='user_id') AS " +
          "SELECT user_id, count(*) AS n_types, sum(n) AS n_total, " +
          "sum(v_sum) AS v_total " +
          s"FROM txtable.`$parent` GROUP BY user_id")
        spark.sql(s"INSERT INTO ${q(root)} VALUES " +
          "(CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)), " +
          "(CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE))")
        spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 0 AND 2")
        val m1 = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$parent`").head()
        require(m1.getString(0) == "incremental",
          s"parent refresh must take the GROUP-BY delta path, got $m1")
        val m2 = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$child`").head()
        require(m2.getString(0) == "incremental",
          s"child refresh must replay the parent's CDC feed, got $m2")
        val df = spark.sql(
          s"""SELECT user_id, CAST(n_types AS BIGINT) AS n_types,
             |  CAST(n_total AS BIGINT) AS n, CAST(v_total AS DOUBLE) AS v
             |FROM txtable.`$child` ORDER BY user_id""".stripMargin)
        spark.createDataFrame(df.collectAsList(), df.schema)
      } finally {
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$child`")
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$parent`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** N-WAY JOIN-CHAIN incremental mview (round-15: the r14 delta-join
    * rule generalized to chains): a fact ⋈ dim ⋈ dim star rollup
    * refreshes by the telescoped rule ΔJ = Σᵢ A₁@last ⋈ … ⋈ ΔAᵢ ⋈ … ⋈
    * Aₙ@cur — later sources read at CUR so every cross-delta overlap
    * lands in exactly one term. The gate mutates ALL THREE sides in one
    * window and plants a pair (new user's event, whose user AND
    * event-type dim rows also land in the window) that exists only
    * through the two-dim overlap; ASSERTS mode='incremental'. */
  def q_sql_table_mview_join3(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_mview_j3") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_mview_j3_v")
      val dimU = s"$work/dimu"
      val dimT = s"$work/dimt"
      val mv = s"$work/mv3"
      try {
        spark.sql(s"CREATE TABLE txtable.`$dimU` " +
          "TBLPROPERTIES('statCols'='user_id') AS " +
          "SELECT user_id, user_id % 5 AS seg " +
          s"FROM (SELECT DISTINCT user_id FROM ${q(root)})")
        spark.sql(s"CREATE TABLE txtable.`$dimT` AS " +
          "SELECT event_type, length(event_type) % 3 AS cls " +
          s"FROM (SELECT DISTINCT event_type FROM ${q(root)})")
        spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` " +
          "TBLPROPERTIES('statCols'='seg') AS " +
          "SELECT d.seg AS seg, c.cls AS cls, count(*) AS n, " +
          "sum(CAST(f.value AS DECIMAL(18,2))) AS v_sum " +
          s"FROM ${q(root)} f JOIN txtable.`$dimU` d ON f.user_id = d.user_id " +
          s"JOIN txtable.`$dimT` c ON f.event_type = c.event_type " +
          "WHERE f.user_id <= 9000001 GROUP BY d.seg, c.cls")
        // all three sides move; the new user's 'zz-new' event pairs only
        // through BOTH dim deltas (user row AND type row land here too)
        spark.sql(s"INSERT INTO ${q(root)} VALUES " +
          "(CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)), " +
          "(CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE))")
        spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 0 AND 2")
        spark.sql(s"DELETE FROM txtable.`$dimU` WHERE user_id = 5")
        spark.sql(s"INSERT INTO txtable.`$dimU` VALUES " +
          "(CAST(9000001 AS BIGINT), CAST(1 AS BIGINT))")
        spark.sql(s"INSERT INTO txtable.`$dimT` VALUES ('zz-new', " +
          "CAST(0 AS BIGINT))")
        val mode = spark.sql(s"REFRESH MATERIALIZED VIEW txtable.`$mv`").head()
        require(mode.getString(0) == "incremental",
          s"3-way chain refresh must telescope, got $mode")
        val df = spark.sql(
          s"""SELECT seg, cls, CAST(n AS BIGINT) AS n,
             |  CAST(v_sum AS DOUBLE) AS v_sum
             |FROM txtable.`$mv` ORDER BY seg, cls""".stripMargin)
        spark.createDataFrame(df.collectAsList(), df.schema)
      } finally {
        spark.sql(s"DROP MATERIALIZED VIEW txtable.`$mv`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** DML THROUGH AN UPDATABLE VIEW (round-13 verdict #6, stretch): an
    * UPDATE whose target is a `SELECT * FROM base WHERE p` view ROUTES
    * to the base table with the view's predicate CONJOINED — the
    * statement governs exactly the rows the view exposes (here the
    * update names user_id 3..7 but the view ends at 6, so 7 stays
    * untouched). Any non-star view, and MERGE/INSERT on any view,
    * refuse with a typed message naming the base (SqlTableSpec pins all
    * four verbs). */
  def q_sql_table_view_update(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_view_upd") { root =>
      val work = java.nio.file.Files.createTempDirectory("graft_q_sql_view_upd_v")
      val v = s"$work/vu"
      try {
        spark.sql(s"CREATE VIEW txtable.`$v` AS " +
          s"SELECT * FROM ${q(root)} WHERE user_id <= 6")
        spark.sql(s"UPDATE txtable.`$v` SET value = value * 2 " +
          "WHERE user_id BETWEEN 3 AND 7")
        spark.sql(eventAgg.format(q(root)))
      } finally {
        spark.sql(s"DROP VIEW txtable.`$v`")
        TableOps.deleteTree(work.toString)
      }
    }
  }

  /** SQL OPTIMIZE + VACUUM — compaction and retention as statements on
    * the 16-file events table: OPTIMIZE bin-packs everything, VACUUM
    * drops the superseded files past a 1-version retention, and the
    * read-back must still be the COMPLETE events content (both
    * statements are content-preserving by contract — any file lost to a
    * mis-accounted rewrite or an over-eager vacuum lands on the hash). */
  def q_sql_table_optimize(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_optimize") { root =>
      spark.sql(s"OPTIMIZE ${q(root)}")
      spark.sql(s"VACUUM ${q(root)} RETAIN 1 VERSIONS")
      spark.sql(eventAgg.format(q(root)))
    }
  }

  /** SQL DESCRIBE DETAIL — the one-row operating summary (Delta parity)
    * as a statement, projected to its deterministic fields (size_bytes
    * varies with parquet encoding and is asserted >0 in SqlTableSpec
    * instead). Read-only on the shared published build. */
  def q_sql_table_detail(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.ensure(spark)
    val root = TableOps.eventsTableRoot(spark, dir)
    spark.sql(s"DESCRIBE DETAIL ${q(root)}")
      .select(col("version").cast("long").as("version"),
        col("num_files").cast("long").as("num_files"),
        col("rows"), col("stat_columns"), col("bloom_columns"),
        col("num_deletion_vectors").cast("long").as("n_dv"), col("tags"))
  }

  /** Batch DSv2 read with pushdown — q_table_skip's selective band probe
    * through `spark.read.format("txtable")`: the pushed range filter runs
    * the manifest min/max prune inside the ScanBuilder (SqlTableSpec pins
    * the file accounting; this earns q_table_skip's oracle). */
  def q_source_txtable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.ensure(spark)
    val root = TableOps.eventsTableRoot(spark, dir)
    spark.read.format("txtable").load(root)
      .filter(col("user_id") >= 2 && col("user_id") <= 4)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** SQL CREATE TABLE (no AS SELECT) → INSERT → ADD COLUMN → INSERT →
    * read, all as separate statements (SURVEY §2.31): the lifecycle that
    * only works because CREATE persists its declaration as a
    * metadata-only commit (round-10; before, a second session's INSERT
    * found "no declared schema") and ADD COLUMN is the metadata-only
    * evolution (old rows read NULL, zero files rewritten — the O(1)
    * evolution a 100 TB table demands). The oracle reconstructs both
    * eras with an explicit NULL column. */
  def q_sql_table_addcol(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q_sql_addcol").toString
    val root = s"$tmp/t"
    try {
      spark.sql(s"CREATE TABLE ${q(root)} (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('statCols' = 'k')")
      spark.sql(s"INSERT INTO ${q(root)} SELECT id, id * 2 FROM range(100)")
      spark.sql(s"ALTER TABLE ${q(root)} ADD COLUMN w BIGINT")
      spark.sql(s"INSERT INTO ${q(root)} SELECT id, id * 3, id * 5 FROM range(100, 150)")
      val df = spark.sql(
        s"""SELECT (w IS NULL) AS legacy, count(*) AS n,
           |  CAST(sum(v) AS BIGINT) AS v_sum,
           |  CAST(sum(coalesce(w, -1)) AS BIGINT) AS w_sum
           |FROM ${q(root)} GROUP BY 1 ORDER BY 1""".stripMargin)
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally TableOps.deleteTree(tmp)
  }

  /** SQL ALTER COLUMN TYPE — metadata-only type WIDENING (round-10
    * verdict missing #5): an INT column's table takes a `ALTER TABLE …
    * ALTER COLUMN v TYPE BIGINT` statement (zero files rewritten), then
    * an INSERT carries values no int32 holds; the read-back must see
    * the old narrow files WIDENED and the new wide rows verbatim. The
    * oracle reconstructs both eras with explicit casts. */
  def q_sql_table_altertype(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q_sql_altertype").toString
    val root = s"$tmp/t"
    try {
      spark.sql(s"CREATE TABLE ${q(root)} (k BIGINT, v INT) " +
        "TBLPROPERTIES ('statCols' = 'k')")
      spark.sql(s"INSERT INTO ${q(root)} SELECT id, CAST(id * 2 AS INT) FROM range(100)")
      spark.sql(s"ALTER TABLE ${q(root)} ALTER COLUMN v TYPE BIGINT")
      spark.sql(s"INSERT INTO ${q(root)} " +
        "SELECT id, 4000000000 + id FROM range(100, 150)")
      val df = spark.sql(
        s"""SELECT (v >= 4000000000) AS wide, count(*) AS n,
           |  CAST(sum(v) AS BIGINT) AS v_sum,
           |  CAST(min(v) AS BIGINT) AS v_min, CAST(max(v) AS BIGINT) AS v_max
           |FROM ${q(root)} GROUP BY 1 ORDER BY 1""".stripMargin)
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally TableOps.deleteTree(tmp)
  }

  /** SQL SHALLOW CLONE — q_table_clone's scenario (clone, diverge with a
    * band delete, aggregate both sides) with the clone created by the
    * `CREATE TABLE … SHALLOW CLONE` statement; earns the same oracle. */
  def q_sql_table_clone(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.ensure(spark)
    val srcRoot = TableOps.eventsTableRoot(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q_sql_clone").toString
    try {
      spark.sql(s"CREATE TABLE txtable.`$tmp/clone` SHALLOW CLONE ${q(srcRoot)}")
      spark.sql(s"DELETE FROM txtable.`$tmp/clone` WHERE user_id BETWEEN 2 AND 4")
      val df = spark.sql(
        s"""SELECT side, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
           |  count(DISTINCT user_id) AS n_users
           |FROM (
           |  SELECT 'clone' AS side, event_type, value, user_id FROM txtable.`$tmp/clone`
           |  UNION ALL
           |  SELECT 'src' AS side, event_type, value, user_id FROM ${q(srcRoot)})
           |GROUP BY side, event_type ORDER BY side, event_type""".stripMargin)
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally TableOps.deleteTree(tmp)
  }

  /** SQL CREATE TAG + tag-addressed time travel — q_table_tag's scenario
    * (pin the pre-delete version by name, read it back by name) with the
    * tag created by the `ALTER TABLE … CREATE TAG` statement and resolved
    * by Spark's native `VERSION AS OF '<name>'`; earns q_table_tag's
    * "full table" oracle shape on the delete-mutated build. */
  def q_sql_table_tag(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_tag") { root =>
      spark.sql(s"ALTER TABLE ${q(root)} CREATE TAG pre_delete AS OF VERSION 1")
      spark.sql(s"DELETE FROM ${q(root)} WHERE user_id BETWEEN 3 AND 7") // v2
      spark.sql(eventAgg.format(s"${q(root)} VERSION AS OF 'pre_delete'"))
    }
  }

  /** SQL unconditional DELETE (truncate): `DELETE FROM t` with no WHERE
    * drops every file in ONE metadata-only commit — zero data I/O at any
    * size — while history and time travel keep the old versions
    * readable. The gate reads the pre-truncate version and carries the
    * live row count (0) as a pinned column. */
  def q_sql_table_truncate(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val published = TableOps.eventsTableRoot(spark, dir)
    TableOps.mutatedAggregate(spark, published, "graft_q_sql_table_truncate") { root =>
      spark.sql(s"DELETE FROM ${q(root)}") // v2: truncate, metadata-only
      val live = spark.sql(s"SELECT count(*) AS n FROM ${q(root)}").head().getLong(0)
      spark.sql(
        s"""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
           |  count(DISTINCT user_id) AS n_users,
           |  CAST($live AS BIGINT) AS live_rows
           |FROM ${q(root)} VERSION AS OF 1
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }
  }

  /** GROUP history through SQL — `DESCRIBE HISTORY GROUP` over a
    * two-member transaction group built fresh each run (tiny range
    * appends, no corpus read): two atomic cuts, the second moving only
    * one member. The oracle pins the exact pins/changed strings — the
    * cross-table cut surfaced to a SQL user (round-9 verdict missing #4,
    * read-only face first). */
  def q_table_group_history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Tables.ensure(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q_group_hist").toString
    try {
      val g = new graft.tables.TxGroup(s"$tmp/grp")
      val raw = g.table("raw", Seq("k"))
      val agg = g.table("agg", Seq("k"))
      raw.append(spark, spark.range(10).toDF("k"))
      agg.append(spark, spark.range(3).toDF("k"))
      g.commit(Map("raw" -> raw.currentVersion, "agg" -> agg.currentVersion)) // cut 1
      raw.append(spark, spark.range(10, 15).toDF("k"))
      g.commit(Map("raw" -> raw.currentVersion, "agg" -> agg.currentVersion)) // cut 2
      val df = spark.sql(s"DESCRIBE HISTORY GROUP txtable.`$tmp/grp`")
        .select(col("version").cast("long").as("version"), col("pins"), col("changed"))
        .orderBy(col("version"))
      spark.createDataFrame(df.collectAsList(), df.schema)
    } finally TableOps.deleteTree(tmp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_table_addcol" -> q_sql_table_addcol _,
    "q_sql_table_altertype" -> q_sql_table_altertype _,
    "q_sql_table_clone" -> q_sql_table_clone _,
    "q_sql_table_tag" -> q_sql_table_tag _,
    "q_sql_table_truncate" -> q_sql_table_truncate _,
    "q_table_group_history" -> q_table_group_history _,
    "q_sql_table_merge" -> q_sql_table_merge _,
    "q_sql_table_merge_nonstat" -> q_sql_table_merge_nonstat _,
    "q_sql_table_merge_multikey" -> q_sql_table_merge_multikey _,
    "q_sql_table_convert" -> q_sql_table_convert _,
    "q_sql_table_merge_clauses" -> q_sql_table_merge_clauses _,
    "q_sql_table_merge_evolve" -> q_sql_table_merge_evolve _,
    "q_sql_table_copyinto" -> q_sql_table_copyinto _,
    "q_sql_table_merge_sync" -> q_sql_table_merge_sync _,
    "q_sql_table_replace" -> q_sql_table_replace _,
    "q_sql_table_delete" -> q_sql_table_delete _,
    "q_sql_table_dryrun" -> q_sql_table_dryrun _,
    "q_sql_table_restore" -> q_sql_table_restore _,
    "q_sql_table_timetravel" -> q_sql_table_timetravel _,
    "q_sql_table_history" -> q_sql_table_history _,
    "q_sql_table_insert" -> q_sql_table_insert _,
    "q_sql_table_ctas" -> q_sql_table_ctas _,
    "q_sql_table_optimize" -> q_sql_table_optimize _,
    "q_sql_table_view" -> q_sql_table_view _,
    "q_sql_table_mview" -> q_sql_table_mview _,
    "q_sql_table_mview_agg" -> q_sql_table_mview_agg _,
    "q_sql_table_mview_avg" -> q_sql_table_mview_avg _,
    "q_sql_table_mview_chain" -> q_sql_table_mview_chain _,
    "q_sql_table_mview_join" -> q_sql_table_mview_join _,
    "q_sql_table_mview_join3" -> q_sql_table_mview_join3 _,
    "q_sql_table_mview_minmax" -> q_sql_table_mview_minmax _,
    "q_sql_table_view_update" -> q_sql_table_view_update _,
    "q_sql_table_update" -> q_sql_table_update _,
    "q_sql_table_delete_pred" -> q_sql_table_delete_pred _,
    "q_sql_table_delete_subq" -> q_sql_table_delete_subq _,
    "q_sql_table_update_subq" -> q_sql_table_update_subq _,
    "q_sql_table_update_pred" -> q_sql_table_update_pred _,
    "q_sql_table_detail" -> q_sql_table_detail _,
    "q_source_txtable" -> q_source_txtable _,
  )

  val oracle: Map[String, String] = Map(
    "q_sql_table_addcol" ->
      """WITH t AS (
        |  SELECT range AS k, range * 2 AS v, CAST(NULL AS BIGINT) AS w FROM range(100)
        |  UNION ALL
        |  SELECT range, range * 3, range * 5 FROM range(100, 150))
        |SELECT (w IS NULL) AS legacy, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS v_sum,
        |  CAST(sum(coalesce(w, -1)) AS BIGINT) AS w_sum
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_table_altertype" ->
      """WITH t AS (
        |  SELECT range AS k, CAST(range * 2 AS BIGINT) AS v FROM range(100)
        |  UNION ALL
        |  SELECT range, 4000000000 + range FROM range(100, 150))
        |SELECT (v >= 4000000000) AS wide, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS v_sum,
        |  CAST(min(v) AS BIGINT) AS v_min, CAST(max(v) AS BIGINT) AS v_max
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_table_clone" ->
      """SELECT side, event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM (
        |  SELECT 'clone' AS side, event_type, "value", user_id FROM events
        |  WHERE user_id NOT BETWEEN 2 AND 4
        |  UNION ALL
        |  SELECT 'src' AS side, event_type, "value", user_id FROM events)
        |GROUP BY side, event_type ORDER BY side, event_type""".stripMargin,
    "q_sql_table_tag" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_truncate" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(0 AS BIGINT) AS live_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_table_group_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'agg=1,raw=1', 'agg:append,raw:append'),
        |  (CAST(2 AS BIGINT), 'agg=1,raw=2', 'raw:append'))
        |AS t(version, pins, changed) ORDER BY version""".stripMargin,
    // the SQL entry earns the Scala entry's oracles verbatim
    "q_sql_table_merge" ->
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
    "q_sql_table_merge_nonstat" ->
      """WITH src AS (
        |  SELECT concat('o', o_orderkey) AS o_key, o_orderkey,
        |         '0-MERGED' AS o_orderpriority
        |  FROM orders WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT concat('n', r), CAST(-(r + 1) AS BIGINT), '9-INSERTED'
        |  FROM range(10) t(r)),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT concat('o', o_orderkey), o_orderkey, o_orderpriority
        |  FROM orders
        |  WHERE concat('o', o_orderkey) NOT IN (SELECT o_key FROM src))
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  count(DISTINCT o_key) AS n_keys
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_table_view_update" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN user_id BETWEEN 3 AND 6
        |                 THEN "value" * 2 ELSE "value" END AS DECIMAL(18,2)))
        |    AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_mview_agg" ->
      """WITH m AS (
        |  SELECT user_id, event_type, count(*) AS n,
        |         sum(CAST("value" AS DECIMAL(18,2))) AS v_sum
        |  FROM (
        |    SELECT user_id, event_type, "value" FROM events
        |    WHERE user_id NOT BETWEEN 0 AND 2
        |    UNION ALL
        |    SELECT CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE))
        |  WHERE user_id <= 20
        |  GROUP BY user_id, event_type)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(v_sum) AS DOUBLE) AS v_total, count(*) AS n_groups
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_mview_avg" ->
      """WITH m AS (
        |  SELECT user_id, event_type, count(*) AS n,
        |         sum(CAST("value" AS DECIMAL(18,2))) AS v_sum
        |  FROM (
        |    SELECT user_id, event_type, "value" FROM events
        |    WHERE user_id NOT BETWEEN 0 AND 2
        |    UNION ALL
        |    SELECT CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE))
        |  WHERE user_id <= 20
        |  GROUP BY user_id, event_type)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(v_sum) AS DOUBLE) AS v_total, count(*) AS n_groups
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_mview_join3" ->
      """WITH f AS (
        |  SELECT user_id, event_type, "value" FROM events
        |  WHERE user_id NOT BETWEEN 0 AND 2
        |  UNION ALL SELECT CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE)),
        |d AS (
        |  SELECT user_id, user_id % 5 AS seg
        |  FROM (SELECT DISTINCT user_id FROM events)
        |  WHERE user_id <> 5
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), CAST(1 AS BIGINT)),
        |c AS (
        |  SELECT event_type, length(event_type) % 3 AS cls
        |  FROM (SELECT DISTINCT event_type FROM events)
        |  UNION ALL SELECT 'zz-new', CAST(0 AS BIGINT)),
        |m AS (
        |  SELECT d.seg AS seg, c.cls AS cls, count(*) AS n,
        |         sum(CAST(f."value" AS DECIMAL(18,2))) AS v_sum
        |  FROM f JOIN d ON f.user_id = d.user_id
        |  JOIN c ON f.event_type = c.event_type
        |  WHERE f.user_id <= 9000001
        |  GROUP BY d.seg, c.cls)
        |SELECT seg, cls, CAST(n AS BIGINT) AS n, CAST(v_sum AS DOUBLE) AS v_sum
        |FROM m ORDER BY seg, cls""".stripMargin,
    "q_sql_table_mview_chain" ->
      """WITH m AS (
        |  SELECT user_id, event_type, count(*) AS n,
        |         sum(CAST("value" AS DECIMAL(18,2))) AS v_sum
        |  FROM (
        |    SELECT user_id, event_type, "value" FROM events
        |    WHERE user_id NOT BETWEEN 0 AND 2
        |    UNION ALL
        |    SELECT CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE))
        |  WHERE user_id <= 20
        |  GROUP BY user_id, event_type),
        |c AS (
        |  SELECT user_id, count(*) AS n_types, sum(n) AS n_total,
        |         sum(v_sum) AS v_total
        |  FROM m GROUP BY user_id)
        |SELECT user_id, CAST(n_types AS BIGINT) AS n_types,
        |  CAST(n_total AS BIGINT) AS n, CAST(v_total AS DOUBLE) AS v
        |FROM c ORDER BY user_id""".stripMargin,
    "q_sql_table_mview_minmax" ->
      """WITH src AS (
        |  SELECT user_id, event_type, "value" FROM (
        |    SELECT user_id, event_type, "value" FROM events
        |    UNION ALL SELECT CAST(4 AS BIGINT), 'zz-new', CAST(-7.25 AS DOUBLE)
        |    UNION ALL SELECT CAST(9000001 AS BIGINT), 'zz-new', CAST(1.0 AS DOUBLE))
        |  WHERE NOT (user_id <= 2 OR "value" < 0)),
        |m AS (
        |  SELECT user_id, count(*) AS n,
        |         min(CAST("value" AS DECIMAL(18,2))) AS v_min,
        |         max(CAST("value" AS DECIMAL(18,2))) AS v_max
        |  FROM src WHERE user_id <= 20 GROUP BY user_id)
        |SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(sum(v_min) AS DOUBLE) AS min_sum,
        |  CAST(sum(v_max) AS DOUBLE) AS max_sum
        |FROM m""".stripMargin,
    "q_sql_table_mview_join" ->
      """WITH f AS (
        |  SELECT user_id, event_type, "value" FROM events
        |  WHERE user_id NOT BETWEEN 0 AND 2
        |  UNION ALL SELECT CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE)
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), 'zz-new', CAST(2.5 AS DOUBLE)),
        |d AS (
        |  SELECT user_id, user_id % 5 AS seg
        |  FROM (SELECT DISTINCT user_id FROM events)
        |  WHERE user_id <> 5
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), CAST(1 AS BIGINT)),
        |m AS (
        |  SELECT d.seg AS seg, count(*) AS n,
        |         sum(CAST(f."value" AS DECIMAL(18,2))) AS v_sum
        |  FROM f JOIN d ON f.user_id = d.user_id
        |  WHERE f.user_id <= 9000001
        |  GROUP BY d.seg)
        |SELECT seg, CAST(n AS BIGINT) AS n, CAST(v_sum AS DOUBLE) AS v_sum
        |FROM m ORDER BY seg""".stripMargin,
    "q_sql_table_merge_multikey" ->
      """WITH src AS (
        |  SELECT DISTINCT user_id, event_type, CAST(-1.0 AS DOUBLE) AS "value"
        |  FROM events WHERE user_id <= 5
        |  UNION ALL
        |  SELECT CAST(-(r + 1) AS BIGINT), 'm-inserted', CAST(r AS DOUBLE)
        |  FROM range(3) t(r)),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT user_id, event_type, "value" FROM events e
        |  WHERE NOT EXISTS (SELECT 1 FROM src s
        |    WHERE s.user_id = e.user_id AND s.event_type = e.event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_replace" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN user_id BETWEEN 3 AND 7
        |                 THEN "value" * 2 ELSE "value" END AS DECIMAL(18,2)))
        |    AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_merge_sync" ->
      """SELECT concat('S-', o_orderpriority) AS o_orderpriority,
        |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q_sql_table_copyinto" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_merge_clauses" ->
      """WITH survivors AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey <= 600 AND o_orderpriority = '5-LOW'
        |         THEN concat('0-', o_orderpriority)
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey > 300),
        |merged AS (
        |  SELECT * FROM survivors
        |  UNION ALL
        |  SELECT CAST(-(r + 1) AS BIGINT), '9-NEW' FROM range(5) t(r))
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_table_merge_evolve" ->
      """WITH src AS (
        |  SELECT o_orderkey, '0-MERGED' AS o_orderpriority,
        |         CAST(o_orderkey * 10 AS BIGINT) AS o_score
        |  FROM orders WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT CAST(-(r + 1) AS BIGINT), '9-INSERTED',
        |         CAST(-(r + 1) * 10 AS BIGINT) FROM range(10) t(r)),
        |merged AS (
        |  SELECT * FROM src WHERE o_orderkey >= 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, CAST(NULL AS BIGINT) AS o_score
        |  FROM orders WHERE o_orderkey > 300
        |  UNION ALL
        |  SELECT * FROM src WHERE o_orderkey < 0 AND o_orderkey >= -5)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(coalesce(o_score, -1)) AS BIGINT) AS score_sum,
        |  CAST(sum(CASE WHEN o_score IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nullscore
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_table_convert" ->
      """SELECT user_id % 7 AS day, event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, event_type ORDER BY day, event_type""".stripMargin,
    "q_sql_table_delete" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same restatement as q_sql_table_delete — the dry run changes
    // nothing about the final state, by construction
    "q_sql_table_dryrun" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_restore" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_timetravel" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 3 IN (0, 1)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_history" ->
      """SELECT CAST(v AS BIGINT) AS version, op AS operation, m AS meta_only
        |FROM (VALUES (2, 'delete', false), (3, 'rename-column', true),
        |             (4, 'add-constraint', true), (5, 'restore(1)', false)) AS t(v, op, m)
        |ORDER BY version""".stripMargin,
    "q_sql_table_detail" ->
      """SELECT CAST(1 AS BIGINT) AS version, CAST(16 AS BIGINT) AS num_files,
        |  (SELECT count(*) FROM events) AS rows,
        |  'user_id' AS stat_columns, '' AS bloom_columns,
        |  CAST(0 AS BIGINT) AS n_dv, '' AS tags""".stripMargin,
    "q_sql_table_update" -> // q_table_replace's oracle: the band restated
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN user_id BETWEEN 3 AND 7
        |                 THEN "value" * 2 ELSE "value" END AS DECIMAL(18,2)))
        |    AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_delete_pred" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE NOT (user_id % 3 = 0 AND user_id <= 7)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_delete_subq" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id NOT IN
        |  (SELECT user_id FROM events
        |   WHERE "value" > 0.5 AND user_id BETWEEN 2 AND 6)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_update_subq" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN user_id IN
        |      (SELECT user_id FROM events
        |       WHERE "value" > 0.5 AND user_id BETWEEN 2 AND 6)
        |    THEN "value" * 2 ELSE "value" END AS DECIMAL(18,2)))
        |    AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_update_pred" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN user_id % 2 = 0 AND user_id >= 4
        |                 THEN "value" * 3 ELSE "value" END AS DECIMAL(18,2)))
        |    AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_optimize" -> // content-preserving: the full events aggregate
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_view" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id BETWEEN 2 AND 6 AND user_id <> 4
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_mview" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM (SELECT user_id, event_type, "value" FROM events
        |      WHERE user_id <= 6
        |      UNION ALL
        |      SELECT CAST(4 AS BIGINT), 'zz-new', CAST(1.5 AS DOUBLE))
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_insert" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM (SELECT user_id, event_type, "value" FROM events
        |      UNION ALL
        |      SELECT * FROM (VALUES (9000001, 'zz-inserted', 1.25),
        |                            (9000002, 'zz-inserted', 2.5))
        |             t(user_id, event_type, "value"))
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sql_table_ctas" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id BETWEEN 5 AND 9
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_source_txtable" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id BETWEEN 2 AND 4
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
