package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxBatchSource
import graft.tables.TxTable

/** The SQL/DSv2 entry to the lakehouse tier ([[graft.sql.GraftSqlParser]],
  * [[graft.sources.TxTableCatalog]], [[graft.sources.TxBatchSource]]):
  * SELECT through the catalog (current, VERSION AS OF, tag, TIMESTAMP AS
  * OF), DELETE FROM via SupportsDelete, ALTER TABLE RENAME/DROP COLUMN
  * via alterTable, the parser statements (MERGE INTO, RESTORE, DESCRIBE
  * HISTORY, VACUUM, OPTIMIZE), format("txtable") batch reads with
  * ScanBuilder-level manifest pruning, and the loud refusals. Every
  * statement must land on the SAME TxTable state the Scala API produces —
  * the SQL surface is an entry point, never a second implementation. */
class SqlTableSpec extends AnyFunSuite with SparkFixture {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_sqltable").toString

  private def freshTable(n: Int = 40, parts: Int = 4): TxTable = {
    import spark.implicits._
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(n).toDF("k")
      .withColumn("v", col("k") * 10)
      .repartitionByRange(parts, col("k")))
    t
  }

  private def q(root: String): String = s"txtable.`$root`"

  test("SELECT through the catalog reads the current version") {
    val t = freshTable()
    val got = spark.sql(
      s"SELECT count(*) AS n, sum(v) AS s FROM ${q(t.root)}").head()
    assert(got.getLong(0) == 40)
    assert(got.getLong(1) == (0L until 40L).map(_ * 10).sum)
  }

  test("SELECT … VERSION AS OF and TIMESTAMP AS OF time-travel; a tag resolves") {
    val t = freshTable(10, 1)                        // v1
    val ts1 = System.currentTimeMillis()
    Thread.sleep(5)
    t.delete(spark, "k", 0, 4)                       // v2
    t.tag("before-delete", 1)
    assert(spark.sql(s"SELECT count(*) AS n FROM ${q(t.root)}").head().getLong(0) == 5)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM ${q(t.root)} VERSION AS OF 1").head().getLong(0) == 10)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM ${q(t.root)} VERSION AS OF 'before-delete'")
      .head().getLong(0) == 10)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM ${q(t.root)} TIMESTAMP AS OF " +
        s"'${java.time.Instant.ofEpochMilli(ts1)}'").head().getLong(0) == 10)
  }

  test("DELETE FROM … WHERE band shapes prune through manifest stats") {
    val t = freshTable()
    val r = spark.sql(s"DELETE FROM ${q(t.root)} WHERE k BETWEEN 10 AND 29").head()
    assert(t.read(spark).count() == 20)
    assert(t.history().head.operation == "delete")
    // 4 range-partitioned files of 10 rows: [10,29] covers two whole
    // files — both drop METADATA-ONLY, nothing rewrites
    assert(r.getInt(1) == 2 && r.getInt(2) == 0,
      s"expected 2 dropped / 0 rewritten, got $r")
    // equality shape: one straddler rewrite, band-pruned to one file
    val r2 = spark.sql(s"DELETE FROM ${q(t.root)} WHERE k = 5").head()
    assert(t.read(spark).count() == 19)
    assert(r2.getInt(2) == 1 && r2.getInt(3) == 1, s"got $r2")
  }

  test("DELETE FROM with an arbitrary predicate rewrites candidates copy-on-write") {
    val t = freshTable()
    // mixed predicate first, on the explicit 4-file range layout: the
    // banded conjunct prunes, the residual conjunct runs in the rewrite —
    // files outside [0, 9] are untouched BY NAME
    val r = spark.sql(
      s"DELETE FROM ${q(t.root)} WHERE k <= 9 AND v >= 50").head()
    assert(r.getInt(2) == 1 && r.getInt(3) == 3,
      s"banded conjunct must keep 3 files untouched, got $r")
    assert(t.read(spark).count() == 35) // k in [5,9] died
    // non-translatable shape (modulo): every file is a rewrite candidate
    val r2 = spark.sql(s"DELETE FROM ${q(t.root)} WHERE k % 2 = 0").head()
    assert(r2.getInt(1) == 0 && r2.getInt(2) == 4, s"got $r2")
    assert(t.read(spark).count() == 17)
    assert(t.read(spark).agg(org.apache.spark.sql.functions.sum("k"))
      .head().getLong(0) ==
      ((0L until 40L).filter(_ % 2 == 1).toSet -- Set(5L, 7L, 9L)).sum)
  }

  test("SupportsDelete (the DSv2 API face) still translates pushable filters") {
    val t = freshTable()
    val dsv2 = new graft.sources.TxSqlTable(t.root, None, None)
    import org.apache.spark.sql.sources.{GreaterThanOrEqual => SGte, LessThanOrEqual => SLte}
    // Spark splits top-level conjunctions before the SupportsDelete call
    val f = Array[org.apache.spark.sql.sources.Filter](
      SGte("k", 10L), SLte("k", 29L))
    assert(dsv2.canDeleteWhere(f))
    dsv2.deleteWhere(f)
    assert(t.read(spark).count() == 20)
  }

  test("ALTER TABLE RENAME COLUMN / DROP COLUMN route through alterTable") {
    val t = freshTable()
    spark.sql(s"ALTER TABLE ${q(t.root)} RENAME COLUMN v TO amount")
    assert(spark.sql(s"SELECT sum(amount) AS s FROM ${q(t.root)}")
      .head().getLong(0) == (0L until 40L).map(_ * 10).sum)
    spark.sql(s"ALTER TABLE ${q(t.root)} DROP COLUMN amount")
    assert(spark.table(q(t.root)).columns.toSeq == Seq("k"))
  }

  test("MERGE INTO upserts: matched keys take the source row, unmatched insert") {
    val t = freshTable(10, 1)
    spark.sql(
      s"""MERGE INTO ${q(t.root)} AS t
         |USING (SELECT id AS k, id * 1000 AS v FROM range(5)
         |       UNION ALL SELECT 100 + id, 7 FROM range(3)) AS s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = t.read(spark).orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 13)
    assert(got.take(5).toSeq == (0L until 5L).map(k => (k, k * 1000)))
    assert(got.drop(5).take(5).toSeq == (5L until 10L).map(k => (k, k * 10)))
    assert(got.drop(10).toSeq == (100L until 103L).map(k => (k, 7L)))
  }

  test("MERGE INTO with an unsupported clause form fails loudly at parse") {
    val t = freshTable()
    // conditional DELETE/UPDATE/INSERT and BY SOURCE clauses are all
    // supported since round 12 — the loud-refusal contract now pins a
    // genuinely unsupported verb
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO ${q(t.root)} USING src ON t.k = s.k " +
        "WHEN MATCHED THEN ESCALATE")
    }
    assert(e.getMessage.contains("unsupported MERGE clause") ||
      e.getMessage.contains("unsupported MERGE INTO form"), e.getMessage)
  }

  test("RESTORE TABLE … VERSION AS OF undoes a bad commit; DESCRIBE HISTORY shows the chain") {
    val t = freshTable(10, 1)                         // v1
    t.delete(spark, "k", 0, 4)                        // v2: the bad commit
    spark.sql(s"RESTORE TABLE ${q(t.root)} TO VERSION AS OF 1") // v3
    assert(t.read(spark).count() == 10)
    val h = spark.sql(s"DESCRIBE HISTORY ${q(t.root)}")
      .select("version", "operation").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(h == Seq((3, "restore(1)"), (2, "delete"), (1, "append")))
  }

  test("VACUUM and OPTIMIZE parse and run; OPTIMIZE ZORDER BY clusters") {
    val t = freshTable(64, 8)
    val r = spark.sql(s"OPTIMIZE ${q(t.root)}").head()
    assert(r.getAs[Int]("rewritten_files") == 8)
    val (files, _) = (spark.sql(s"VACUUM ${q(t.root)} RETAIN 1 VERSIONS").head() match {
      case row => (row.getInt(0), row.getInt(1))
    })
    assert(files == 8, "vacuum reclaims the pre-compaction files")
    // z-order needs two stat columns in [0, 2^16)
    import spark.implicits._
    val t2 = new TxTable(tmpRoot(), Seq("a", "b"))
    t2.append(spark, spark.range(256).select(
      (col("id") % 16).as("a"), (col("id") / 16).as("b")))
    val z = spark.sql(s"OPTIMIZE ${q(t2.root)} ZORDER BY (a, b) INTO 4 FILES").head()
    assert(z.getAs[Int]("new_files") == 4)
    assert(t2.read(spark).count() == 256)
  }

  test("format(\"txtable\") batch read: versionAsOf option + ScanBuilder manifest prune") {
    val t = freshTable(40, 4)                         // 4 files, k ranges disjoint
    t.delete(spark, "k", 0, 9)                        // v2
    // versionAsOf sees the pre-delete state
    assert(spark.read.format("txtable").option("versionAsOf", 1)
      .load(t.root).count() == 40)
    // pushed range filter prunes files inside the ScanBuilder (driver-side
    // manifest stats, before any scan is planned)
    val pruned = spark.read.format("txtable").load(t.root)
      .filter(col("k") >= 30 && col("k") <= 39)
    assert(pruned.count() == 10)
    val (kept, total) = TxBatchSource.pruneOf(t.root).get
    assert(total == 3, s"v2 has 3 live files, saw $total")
    assert(kept == 1, s"range probe must plan 1 of 3 files, planned $kept")
    // column pruning: a 1-column projection reads a 1-column schema
    val plan = spark.read.format("txtable").load(t.root).select("k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("txtable"), s"expected txtable scan in:\n$plan")
  }

  test("bloom-col equality probe prunes through the format read") {
    import spark.implicits._
    val t = new TxTable(tmpRoot(), Seq.empty, Seq("u"))
    t.append(spark, spark.range(320).select((col("id") % 16).as("u"),
      col("id").as("x")).repartition(16, col("u")))
    val n = spark.read.format("txtable").load(t.root)
      .filter(col("u") === 3).count()
    assert(n == 20)
    val live = t.snapshot().files.size // hash layout: empty partitions write no file
    val (kept, total) = TxBatchSource.pruneOf(t.root).get
    assert(total == live && kept < total,
      s"bloom probe must drop files: kept $kept of $total (live $live)")
  }

  test("INSERT INTO appends through the ACID commit path; OVERWRITE replaces") {
    val t = freshTable(10, 1)
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES (CAST(100 AS BIGINT), CAST(7 AS BIGINT))")
    assert(t.read(spark).count() == 11)
    assert(t.history().head.operation == "append")
    spark.sql(s"INSERT OVERWRITE ${q(t.root)} VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT))")
    assert(t.read(spark).count() == 1)
    assert(t.history().head.operation == "overwrite")
    // stats recorded by the SQL write keep pruning: the discovered handle
    // carries k as a stat column, so the overwrite recorded k stats
    assert(t.snapshot().files.forall(_.mins.contains("k")))
  }

  test("INSERT respects table constraints (the write is the real commit path)") {
    val t = freshTable(5, 1)
    t.addConstraint(spark, "v >= 0")
    intercept[Exception] {
      spark.sql(s"INSERT INTO ${q(t.root)} VALUES (CAST(50 AS BIGINT), CAST(-1 AS BIGINT))")
    }
    assert(t.read(spark).count() == 5, "violating insert must not commit")
  }

  test("writes to a time-traveled table are refused") {
    val t = freshTable(5, 1)
    t.delete(spark, "k", 0, 1)
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO ${q(t.root)} VERSION AS OF 1 VALUES (9L, 9L)")
    }
    assert(e != null) // Spark rejects time-travel on a write target
    assert(t.read(spark).count() == 3)
  }

  test("CREATE TABLE AS SELECT births a table; statCols property governs stats") {
    Tables.ensure(spark)
    val root = Files.createTempDirectory("graft_sqlctas_spec").toString
    spark.sql(
      s"""CREATE TABLE ${q(root)} TBLPROPERTIES ('statCols' = 'k')
         |AS SELECT id AS k, id * 2 AS v FROM range(20)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) AS n FROM ${q(root)}").head().getLong(0) == 20)
    val t = TxTable.open(root)
    assert(t.statCols == Seq("k"), s"discovered ${t.statCols}")
    assert(t.snapshot().files.forall(_.mins.contains("k")))
    // duplicate create is refused
    intercept[Exception] {
      spark.sql(s"CREATE TABLE ${q(root)} AS SELECT 1 AS x")
    }
  }

  test("DROP TABLE removes only an empty shell, never a committed table") {
    Tables.ensure(spark)
    val t = freshTable(5, 1)
    intercept[Exception] { spark.sql(s"DROP TABLE ${q(t.root)}") }
    assert(t.read(spark).count() == 5)
  }

  test("UPDATE rewrites only the band; SET runs full Catalyst expressions") {
    val t = freshTable(40, 4) // 4 files, disjoint k ranges of 10
    val r = spark.sql(
      s"UPDATE ${q(t.root)} SET v = v + k * 100 WHERE k BETWEEN 10 AND 19").head()
    // exactly one file holds the band: the others are carried by name
    assert(r.getAs[Int]("rewritten_files") + r.getAs[Int]("dropped_files") == 1,
      s"expected a 1-file band, got $r")
    assert(r.getAs[Int]("kept_files") == 3)
    val got = t.read(spark).orderBy("k").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(got.forall { case (k, v) =>
      v == (if (k >= 10 && k <= 19) k * 10 + k * 100 else k * 10) })
    // unknown SET column refuses loudly (on the general path too)
    intercept[Exception] {
      spark.sql(s"UPDATE ${q(t.root)} SET nope = 1 WHERE k BETWEEN 0 AND 1")
    }
    // a negative bound is a plain literal: the band prunes to the first
    // file, and the typed delete's BETWEEN text still earns the
    // metadata-only class (file [0, 9] lies inside [-5, 9])
    val rn = spark.sql(
      s"UPDATE ${q(t.root)} SET v = v WHERE k BETWEEN -5 AND 3").head()
    assert(rn.getAs[Int]("rewritten_files") == 1 &&
      rn.getAs[Int]("kept_files") == 3, s"expected a 1-file band, got $rn")
    val dn = t.delete(spark, "k", -5, 9)
    assert(dn.droppedFiles == 1 && dn.rewrittenFiles == 0 &&
      dn.keptFiles == 3 && dn.newFiles == 0, s"expected a metadata-only drop, got $dn")
    // SET may move rows out of the band the WHERE names, and both
    // spellings of the band give the same table
    def rows(x: TxTable) = x.read(spark).orderBy("k").collect()
      .map(y => (y.getLong(0), y.getLong(1))).toSeq
    val (tb, tc) = (freshTable(40, 4), freshTable(40, 4))
    spark.sql(s"UPDATE ${q(tb.root)} SET k = k + 1000 WHERE k BETWEEN 0 AND 9")
    spark.sql(s"UPDATE ${q(tc.root)} SET k = k + 1000 WHERE k >= 0 AND k <= 9")
    assert(rows(tb) == (10L until 40L).map(k => (k, k * 10)) ++
      (0L until 10L).map(k => (k + 1000, k * 10)))
    assert(rows(tb) == rows(tc))
    // a non-band WHERE is no longer a refusal: it takes the
    // arbitrary-predicate path (its own test below)
    spark.sql(s"UPDATE ${q(t.root)} SET v = -1 WHERE v % 2 = 1")
    assert(t.read(spark).filter(col("v") === -1).count() == 0,
      "all v are even; a no-match update must change nothing")
  }

  test("warehouse-rooted catalog resolves NAMED tables and lists them") {
    import spark.implicits._
    Tables.ensure(spark)
    val wh = Files.createTempDirectory("graft_txwh").toString
    // options are read at catalog instantiation — a fresh catalog NAME
    // guarantees first-use sees the warehouse conf
    spark.conf.set("spark.sql.catalog.txwh", "graft.sources.TxTableCatalog")
    spark.conf.set("spark.sql.catalog.txwh.warehouse", wh)
    val t = new TxTable(s"$wh/events_small", Seq("k"))
    t.append(spark, spark.range(7).toDF("k"))
    assert(spark.sql("SELECT count(*) AS n FROM txwh.events_small").head().getLong(0) == 7)
    assert(spark.sql(s"SELECT count(*) AS n FROM txwh.events_small VERSION AS OF 1")
      .head().getLong(0) == 7)
    // absolute identifiers bypass the warehouse unchanged
    assert(spark.sql(s"SELECT count(*) AS n FROM txwh.`${t.root}`").head().getLong(0) == 7)
    // SHOW TABLES enumerates only directories holding a transaction log
    Files.createDirectory(java.nio.file.Paths.get(wh, "not_a_table"))
    val listed = spark.sql("SHOW TABLES IN txwh")
      .select("tableName").collect().map(_.getString(0)).toSeq
    assert(listed == Seq("events_small"))
    // a namespace is a warehouse subdirectory: db.table resolves
    spark.sql("CREATE NAMESPACE txwh.raw")
    val t2 = new TxTable(s"$wh/raw/logs", Seq("k"))
    t2.append(spark, spark.range(4).toDF("k"))
    assert(spark.sql("SELECT count(*) AS n FROM txwh.raw.logs").head().getLong(0) == 4)
    assert(spark.sql("SHOW TABLES IN txwh.raw")
      .select("tableName").collect().map(_.getString(0)).toSeq == Seq("logs"))
  }

  test("DESCRIBE DETAIL emits the one-row operating summary") {
    val t = freshTable(10, 2)
    t.tag("audit", 1)
    val d = spark.sql(s"DESCRIBE DETAIL ${q(t.root)}").head()
    assert(d.getAs[Int]("version") == 1)
    assert(d.getAs[Int]("num_files") == 2)
    assert(d.getAs[Long]("rows") == 10)
    assert(d.getAs[Long]("size_bytes") > 0)
    assert(d.getAs[String]("stat_columns") == "k")
    assert(d.getAs[String]("tags") == "audit=1")
  }

  test("orphan GC reclaims only OLD unreferenced files; reads never change") {
    import java.nio.file.{Files => JF, Paths => JP}
    import java.nio.file.attribute.FileTime
    val t = freshTable(20, 2)
    val dataDir = JP.get(t.root, "data")
    val some = JF.list(dataDir).iterator().next()
    val old = dataDir.resolve("orphan-old.parquet")
    val young = dataDir.resolve("orphan-young.parquet")
    val staged = dataDir.resolve(".stage-fake")
    JF.copy(some, old); JF.copy(some, young); JF.copy(some, staged)
    // a writer's in-flight stage directory holds parquet too
    val stageDir = JF.createDirectory(dataDir.resolve("stage-fake"))
    JF.copy(some, stageDir.resolve("part-0.parquet"))
    JF.setLastModifiedTime(old, FileTime.fromMillis(0L))
    assert(t.orphanFiles() == Seq("orphan-old.parquet", "orphan-young.parquet"),
      "hidden staging files must never be reported")
    assert(t.gcOrphans(graceMs = 3600000L) == 1, "only the old orphan reclaims")
    assert(t.orphanFiles() == Seq("orphan-young.parquet"))
    assert(!JF.exists(old) && JF.exists(young) && JF.exists(staged) &&
      JF.exists(stageDir.resolve("part-0.parquet")))
    assert(t.read(spark).count() == 20, "referenced files untouched")
  }

  test("readStream.format(\"txtable\") streams versions through the one format string") {
    import spark.implicits._
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(5).toDF("k"))   // v1
    t.append(spark, spark.range(5, 8).toDF("k")) // v2
    val ckpt = Files.createTempDirectory("graft_sqlstream_ckpt").toString
    val q = spark.readStream.format("txtable")
      .option("path", t.root).load()
      .writeStream.format("memory").queryName("sql_stream_tx")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("sql_stream_tx").count() == 8)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT route to validated CHECK constraints") {
    val t = freshTable(10, 1)
    spark.sql(s"ALTER TABLE ${q(t.root)} ADD CONSTRAINT vpos CHECK (v >= 0)")
    assert(t.snapshot().constraints == Seq("v >= 0"))
    // the constraint ENFORCES: a violating SQL insert is refused
    intercept[Exception] {
      spark.sql(s"INSERT INTO ${q(t.root)} VALUES (CAST(90 AS BIGINT), CAST(-5 AS BIGINT))")
    }
    // declaring a constraint existing data violates is refused
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${q(t.root)} ADD CONSTRAINT vhi CHECK (v > 1000)")
    }
    // drop is predicate-keyed: the exact text, backticked
    spark.sql(s"ALTER TABLE ${q(t.root)} DROP CONSTRAINT `v >= 0`")
    assert(t.snapshot().constraints.isEmpty)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${q(t.root)} DROP CONSTRAINT nope")
    }
    spark.sql(s"ALTER TABLE ${q(t.root)} DROP CONSTRAINT IF EXISTS nope") // no-op
  }

  test("catalog refuses a missing table; parser leaves non-txtable SQL alone") {
    Tables.ensure(spark)
    intercept[Exception] {
      spark.sql("SELECT * FROM txtable.`/no/such/table`").collect()
    }
    // ordinary SQL still parses through the delegate
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
  }

  test("UPDATE SET evaluates every rhs against the PRE-update row (a = b, b = a swaps)") {
    import spark.implicits._
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(10).toDF("k")
      .withColumn("a", col("k") * 10).withColumn("b", col("k") * 100))
    spark.sql(s"UPDATE ${q(t.root)} SET a = b, b = a WHERE k BETWEEN 0 AND 9")
    val got = t.read(spark).orderBy("k").collect()
      .map(x => (x.getAs[Long]("a"), x.getAs[Long]("b")))
    // old (a, b) = (10i, 100i) must SWAP — sequential withColumn would
    // have produced b = 100i (already-updated a) instead of old a = 10i
    assert(got.toSeq == (0L until 10L).map(i => (i * 100, i * 10)))
    // assigning the same column twice is ambiguous under simultaneous
    // semantics — refused, not last-write-wins
    intercept[Exception] {
      spark.sql(s"UPDATE ${q(t.root)} SET a = 1, a = 2 WHERE k BETWEEN 0 AND 9")
    }
  }

  test("MERGE USING a parenthesized subquery containing its own JOIN … ON parses") {
    import spark.implicits._
    val t = freshTable(10, 1)
    Seq((5L, 1L), (90L, 2L)).toDF("k", "bump").createOrReplaceTempView("m_bumps")
    Seq((1L, 7000L), (2L, 9000L)).toDF("bump", "v").createOrReplaceTempView("m_vals")
    // the inner JOIN … ON must NOT be mistaken for the merge condition
    spark.sql(
      s"""MERGE INTO ${q(t.root)} AS t USING
         |(SELECT b.k, x.v FROM m_bumps b JOIN m_vals x ON b.bump = x.bump)
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = t.read(spark).orderBy("k").collect()
      .map(x => (x.getAs[Long]("k"), x.getAs[Long]("v"))).toMap
    assert(got(5L) == 7000L && got(90L) == 9000L && got(4L) == 40L)
    // no top-level ON at all → the targeted error, not a regex mis-split
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO ${q(t.root)} AS t USING (SELECT 1 AS k) " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("top-level ON"))
  }

  test("CREATE TABLE (no AS SELECT) persists schema + stat/bloom declaration in the log") {
    Tables.ensure(spark)
    val root = Files.createTempDirectory("graft_sqlcreate_spec").toString
    spark.sql(s"CREATE TABLE ${q(root)} (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCols' = 'k', 'bloomCols' = 'v')")
    // a LATER session's open() (fresh handle, nothing in memory) must see
    // the declared schema and pruning columns — pre-round-10 this threw
    // "carries no declared schema"
    val reopened = TxTable.open(root)
    assert(reopened.statCols == Seq("k") && reopened.bloomCols == Seq("v"))
    assert(spark.sql(s"SELECT * FROM ${q(root)}").columns.toSeq == Seq("k", "v"))
    assert(spark.sql(s"SELECT * FROM ${q(root)}").count() == 0)
    spark.sql(s"INSERT INTO ${q(root)} SELECT id, id * 2 FROM range(12)")
    assert(spark.sql(s"SELECT sum(v) AS s FROM ${q(root)}").head().getLong(0) == 132)
    // the declared stat/bloom promise governed the insert's stats pass
    val s = TxTable.open(root).snapshot()
    assert(s.files.forall(f => f.mins.contains("k") && f.blooms.contains("v")))
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; old rows read NULL; appends carry it") {
    import spark.implicits._
    val t = freshTable(6, 1) // k, v
    val filesBefore = t.snapshot().files.map(_.path).toSet
    spark.sql(s"ALTER TABLE ${q(t.root)} ADD COLUMN note STRING")
    assert(t.snapshot().files.map(_.path).toSet == filesBefore,
      "ADD COLUMN must rewrite nothing")
    val afterAdd = spark.sql(s"SELECT k, v, note FROM ${q(t.root)}").collect()
    assert(afterAdd.length == 6 && afterAdd.forall(_.isNullAt(2)),
      "pre-evolution rows must read NULL in the added column")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES (CAST(50 AS BIGINT), CAST(500 AS BIGINT), 'x')")
    val byK = spark.sql(s"SELECT k, note FROM ${q(t.root)}").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(byK(50L).contains("x") && byK(0L).isEmpty)
    // duplicate add and positioned add refuse loudly
    intercept[Exception] { spark.sql(s"ALTER TABLE ${q(t.root)} ADD COLUMN note STRING") }
    intercept[Exception] { spark.sql(s"ALTER TABLE ${q(t.root)} ADD COLUMN z BIGINT FIRST") }
  }

  test("DELETE FROM without WHERE truncates metadata-only; history survives") {
    val t = freshTable(30, 3)
    spark.sql(s"DELETE FROM ${q(t.root)}")
    assert(spark.sql(s"SELECT count(*) AS n FROM ${q(t.root)}").head().getLong(0) == 0)
    assert(t.snapshot().files.isEmpty)
    assert(t.history().head.operation == "delete")
    // time travel still reads the pre-truncate version
    assert(t.read(spark, Some(1)).count() == 30)
  }

  test("DELETE on a non-stat column degrades soundly: every file a candidate, content exact") {
    val t = freshTable() // statCols = k only; v is unstatted
    val r = spark.sql(s"DELETE FROM ${q(t.root)} WHERE v = 10").head()
    assert(t.read(spark).count() == 39)
    assert(t.read(spark).filter(col("v") === 10).count() == 0)
    // no interval derivable on v → zero metadata drops, all 4 files rewritten
    assert(r.getInt(1) == 0 && r.getInt(2) == 4 && r.getInt(3) == 0, s"got $r")
  }

  test("UPDATE with an arbitrary predicate: conditional rewrite, pre-update-row SET") {
    val t = freshTable()
    // swap semantics under a residual predicate: both rhs read PRE-update
    val r = spark.sql(
      s"UPDATE ${q(t.root)} SET k = v, v = k WHERE k % 10 = 3 AND k >= 20").head()
    // banded conjunct k >= 20 keeps the first two files untouched by name
    assert(r.getInt(2) == 2 && r.getInt(3) == 2, s"got $r")
    val got = t.read(spark).select(col("k"), col("v"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got(230L) == 23L && got(330L) == 33L, "matched rows must swap")
    assert(got(3L) == 30L && got(13L) == 130L,
      "rows failing the banded conjunct must carry unchanged")
    assert(t.read(spark).count() == 40)
  }

  test("batch readChangeFeed: the row-level change feed through the format string") {
    import spark.implicits._
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(5).toDF("k").withColumn("v", col("k") * 10))  // v1
    t.append(spark, spark.range(5, 8).toDF("k").withColumn("v", col("k") * 10)) // v2
    t.delete(spark, "k", 0, 1)                                               // v3
    val feed = spark.read.format("txtable")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .load(t.root)
    val byVt = feed.groupBy(col("_commit_version"), col("_change_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byVt((1L, "insert")) == 5 && byVt((2L, "insert")) == 3)
    assert(byVt((3L, "delete")) == 2)
    // startingVersion is INCLUSIVE and bounds the feed
    val v2on = spark.read.format("txtable")
      .option("readChangeFeed", "true")
      .option("startingVersion", 2).option("endingVersion", 2)
      .load(t.root)
    assert(v2on.count() == 3)
    // filters compose on the feed (residual evaluation)
    assert(feed.filter(col("_change_type") === "delete").count() == 2)
  }

  test("CREATE TABLE … SHALLOW CLONE and CREATE/DROP TAG statements") {
    val t = freshTable(10, 1)                                   // v1
    t.delete(spark, "k", 0, 4)                                  // v2
    // tag the pre-delete version through SQL; resolve it via VERSION AS OF
    val tagRow = spark.sql(
      s"ALTER TABLE ${q(t.root)} CREATE TAG audit AS OF VERSION 1").head()
    assert(tagRow.getString(0) == "audit" && tagRow.getInt(1) == 1)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM ${q(t.root)} VERSION AS OF 'audit'")
      .head().getLong(0) == 10)
    // defaulted tag pins the CURRENT version
    assert(spark.sql(s"ALTER TABLE ${q(t.root)} CREATE TAG live").head().getInt(1) == 2)
    // tags are immutable: re-pointing refuses
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${q(t.root)} CREATE TAG audit AS OF VERSION 2")
    }
    assert(spark.sql(s"ALTER TABLE ${q(t.root)} DROP TAG live").head().getBoolean(0))
    assert(!spark.sql(s"ALTER TABLE ${q(t.root)} DROP TAG live").head().getBoolean(0))
    // SHALLOW CLONE: metadata-only birth, same content, divergence isolated
    val dst = tmpRoot() + "/clone"
    val cloneRow = spark.sql(
      s"CREATE TABLE txtable.`$dst` SHALLOW CLONE ${q(t.root)}").head()
    assert(cloneRow.getInt(0) == 2 && cloneRow.getInt(1) == t.snapshot().files.size)
    assert(spark.sql(s"SELECT count(*) AS n FROM txtable.`$dst`").head().getLong(0) == 5)
    spark.sql(s"INSERT INTO txtable.`$dst` VALUES (CAST(90 AS BIGINT), CAST(900 AS BIGINT))")
    assert(spark.sql(s"SELECT count(*) AS n FROM txtable.`$dst`").head().getLong(0) == 6)
    assert(t.read(spark).count() == 5, "clone writes must not touch the source")
  }

  test("declared metadata survives checkpoint reconstruction (10+ commits)") {
    Tables.ensure(spark)
    val root = Files.createTempDirectory("graft_sqlmeta_ckpt").toString + "/t"
    spark.sql(s"CREATE TABLE ${q(root)} (k BIGINT, v BIGINT, w BIGINT) " +
      "TBLPROPERTIES ('statCols' = 'k,w')") // v1: meta-only commit
    // 10 inserts carrying only (k, v) — w never materializes, so its
    // stat declaration lives ONLY in the meta record; commit 11 crosses
    // the checkpoint interval, so reconstruction must read meta from the
    // CHECKPOINT render/parse path, not just the delta chain
    (0 until 10).foreach { i =>
      spark.sql(s"INSERT INTO ${q(root)} (k, v) SELECT id + ${i * 10}, id FROM range(10)")
    }
    val reopened = TxTable.open(root)
    assert(reopened.currentVersion == 11)
    assert(reopened.statCols == Seq("k", "w"),
      s"declared stat column w lost across the checkpoint: ${reopened.statCols}")
    val row = spark.sql(s"SELECT count(*) AS n, sum(v) AS s, " +
      s"count(w) AS wn FROM ${q(root)}").head()
    assert(row.getLong(0) == 100 && row.getLong(2) == 0,
      "declared-but-unmaterialized column must read NULL after checkpointed commits")
  }

  test("DESCRIBE HISTORY GROUP surfaces the multi-table atomic cuts") {
    import spark.implicits._
    Tables.ensure(spark)
    val root = Files.createTempDirectory("graft_sqlgroup").toString
    val g = new graft.tables.TxGroup(root)
    val a = g.table("raw", Seq("k"))
    val b = g.table("agg", Seq("k"))
    a.append(spark, spark.range(5).toDF("k"))
    b.append(spark, spark.range(2).toDF("k"))
    g.commit(Map("raw" -> a.currentVersion, "agg" -> b.currentVersion)) // cut 1
    a.append(spark, spark.range(5, 9).toDF("k"))
    g.commit(Map("raw" -> a.currentVersion, "agg" -> b.currentVersion)) // cut 2: raw moved
    val h = spark.sql(s"DESCRIBE HISTORY GROUP txtable.`$root`").collect()
    assert(h.length == 2 && h.head.getInt(0) == 2)
    assert(h.head.getString(2) == "agg=1,raw=2")
    assert(h.head.getString(3).startsWith("raw:"), s"changed = ${h.head.getString(3)}")
    assert(h(1).getString(2) == "agg=1,raw=1")
    // RESTORE GROUP rewinds every member to its pin at the cut and
    // republishes atomically: raw's second append becomes invisible
    spark.sql(s"RESTORE GROUP txtable.`$root` TO VERSION AS OF 1")
    assert(g.read(spark, "raw", Seq("k")).count() == 5,
      "raw must rewind to its cut-1 content")
    assert(g.read(spark, "agg", Seq("k")).count() == 2)
  }

  test("RESTORE … TIMESTAMP AS OF resolves via the commit clock; VACUUM DRY RUN touches nothing") {
    val t = freshTable(20, 2)                                     // v1
    Thread.sleep(10) // the next commit must land strictly after ts
    val ts = System.currentTimeMillis
    Thread.sleep(10)
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE k BETWEEN 0 AND 9") // v2
    assert(t.read(spark).count() == 10)
    spark.sql(s"RESTORE TABLE ${q(t.root)} TO TIMESTAMP AS OF " +
      s"'${java.time.Instant.ofEpochMilli(ts)}'")                  // v3 = v1 state
    assert(t.read(spark).count() == 20)
    // DRY RUN reports exactly what a real vacuum would reclaim — and
    // reclaims nothing (v2 stays readable)
    val dry = spark.sql(s"VACUUM ${q(t.root)} RETAIN 1 VERSIONS DRY RUN").head()
    assert(dry.getInt(1) == 2, s"v1 and v2 must be reported expired, got $dry")
    assert(t.read(spark, Some(2)).count() == 10, "dry run must not delete")
    val real = spark.sql(s"VACUUM ${q(t.root)} RETAIN 1 VERSIONS").head()
    assert(real.getInt(0) == dry.getInt(0) && real.getInt(1) == dry.getInt(1),
      s"the real run must reclaim exactly the dry run's promise: $dry vs $real")
    intercept[Exception] { t.snapshot(Some(1)) }
  }

  test("OPTIMIZE ZORDER BY three columns: every dimension prunes after the rewrite") {
    import spark.implicits._
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("x", "y", "w"))
    // 16³ grid ingested clustered by x only — y/w probes scan everything
    val grid = spark.range(0, 4096).toDF("id")
      .select((col("id") % 16).as("x"), expr("(id DIV 16) % 16").as("y"),
        expr("id DIV 256").as("w"), (col("id") * 7).as("payload"))
    t.append(spark, grid.repartitionByRange(8, col("x")))
    assert(t.readWhere(spark, "y", 0, 7).filesScanned == 8)
    spark.sql(s"OPTIMIZE ${q(t.root)} ZORDER BY (x, y, w) INTO 8 FILES")
    // locality is strongest for LATER-listed columns (each bit level
    // interleaves first-to-last from least to most significant) and the
    // sampled range boundaries make pruning statistical, not exact —
    // the same trade Delta's OPTIMIZE ZORDER makes. Bounds reflect the
    // OBSERVED sampling spread (x, the least-significant dimension,
    // reads 5–7 of 8 across runs — the strict < filesTotal is the real
    // contract there; y/w keep tight bounds)
    for ((c, bound) <- Seq(("x", 7), ("y", 5), ("w", 4))) {
      val r = t.readWhere(spark, c, 0, 3)
      assert(r.filesScanned < r.filesTotal && r.filesScanned <= bound,
        s"$c-probe must prune after 3-d z-order (${r.filesScanned}/${r.filesTotal})")
    }
    // content survives the rewrite exactly
    assert(t.read(spark).agg(org.apache.spark.sql.functions.sum("payload"))
      .head().getLong(0) == (0L until 4096L).map(_ * 7).sum)
  }

  test("CREATE GROUP / ADD TABLE / COMMIT GROUP: a two-member atomic cut purely through SQL") {
    Tables.ensure(spark)
    val root = Files.createTempDirectory("graft_sqlgroup_ddl").toString + "/g"
    spark.sql(s"CREATE GROUP ${q(root)}")
    spark.sql(s"ALTER GROUP ${q(root)} ADD TABLE raw (k BIGINT) " +
      "TBLPROPERTIES ('statCols' = 'k')")
    spark.sql(s"ALTER GROUP ${q(root)} ADD TABLE agg (k BIGINT)")
    spark.sql(s"INSERT INTO txtable.`$root/tables/raw` SELECT id FROM range(5)")
    spark.sql(s"INSERT INTO txtable.`$root/tables/agg` SELECT id FROM range(2)")
    val cut1 = spark.sql(s"COMMIT GROUP ${q(root)}").head()
    assert(cut1.getInt(0) == 1, s"got $cut1")
    // a member commit AFTER the cut is invisible at the group snapshot
    spark.sql(s"INSERT INTO txtable.`$root/tables/raw` SELECT id FROM range(5, 9)")
    val g = new graft.tables.TxGroup(root)
    assert(g.read(spark, "raw", Seq("k")).count() == 5,
      "group read must see the CUT, not the member's newer commit")
    spark.sql(s"COMMIT GROUP ${q(root)}")
    assert(g.read(spark, "raw", Seq("k")).count() == 9)
    assert(spark.sql(s"DESCRIBE HISTORY GROUP ${q(root)}").count() == 2)
    // the declared stat column governed the member's stats pass
    assert(graft.tables.TxTable.open(s"$root/tables/raw")
      .snapshot().files.forall(_.mins.contains("k")))
    // duplicate member refuses loudly
    intercept[Exception] {
      spark.sql(s"ALTER GROUP ${q(root)} ADD TABLE raw (k BIGINT)")
    }
  }

  test("general MERGE clauses: conditional delete/update first-match-wins, conditional insert") {
    import spark.implicits._
    val t = freshTable(20, 2) // k 0..19, v = k*10
    spark.sql(
      s"""MERGE INTO ${q(t.root)} AS t
         |USING (SELECT id AS k, id * 100 AS v FROM range(0, 25)) AS s
         |ON t.k = s.k
         |WHEN MATCHED AND t.k < 5 THEN DELETE
         |WHEN MATCHED AND t.k < 10 THEN UPDATE SET v = s.v + t.v
         |WHEN NOT MATCHED AND s.k < 23 THEN INSERT (k, v) VALUES (s.k, -1)""".stripMargin)
    val got = t.read(spark).select(col("k"), col("v"))
      .as[(Long, Long)].collect().toMap
    // k 0..4: matched BOTH clauses — the DELETE is first, so they are
    // GONE (first-match-wins, not clause stacking)
    assert((0L until 5L).forall(!got.contains(_)), s"deleted keys resurface: $got")
    // k 5..9: conditional update, rhs reads both sides (s.v + t.v = 110k)
    assert((5L until 10L).forall(k => got(k) == k * 110), s"update wrong: $got")
    // k 10..19: matched, no clause fires — carry unchanged
    assert((10L until 20L).forall(k => got(k) == k * 10))
    // k 20..22: insert fires; 23..24 fail the insert condition
    assert((20L until 23L).forall(k => got(k) == -1L))
    assert(!got.contains(23L) && !got.contains(24L))
    assert(got.size == 18)
  }

  test("general MERGE refuses duplicate source keys among matches (nondeterministic first-match)") {
    val t = freshTable(10, 1)
    val ex = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO ${q(t.root)} AS t
           |USING (SELECT CAST(1 AS BIGINT) AS k, CAST(7 AS BIGINT) AS v
           |       UNION ALL
           |       SELECT CAST(1 AS BIGINT), CAST(8 AS BIGINT)) AS s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(ex.getMessage != null && ex.getMessage.contains("multiple rows"),
      s"expected the multiple-matches refusal, got: ${ex.getMessage}")
  }

  test("CONVERT TO TXTABLE: zero rewrite, footer + partition stats prune, partition column reads") {
    import spark.implicits._
    Tables.ensure(spark)
    // a hive-partitioned plain-parquet directory: day = k / 25 (4
    // partitions), k tightly clustered per partition file
    val src = tmpRoot()
    spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 10)
      .withColumn("day", (col("k") / 25).cast("long"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("day").parquet(src)
    val dst = s"${tmpRoot()}/tx"
    val res = spark.sql(s"CONVERT TO TXTABLE txtable.`$dst` FROM PARQUET " +
      s"`$src` TBLPROPERTIES('statCols'='k,day')").head()
    assert(res.getInt(0) == 1 && res.getLong(2) == 100L, s"got $res")
    val t = TxTable.open(dst)
    // zero data rewrite: every adopted file is a hard link (same inode),
    // and nothing else landed under data/
    assert(t.snapshot().files.size == 4)
    // footer stats: k intervals are per-partition tight; partition-value
    // stats: day = exact single-value intervals with full non-null counts
    val f0 = t.snapshot().files.find(_.mins.get("day").contains(0L)).get
    assert(f0.mins("k") == 0L && f0.maxs("k") == 24L && f0.nonNull("k") == f0.rows)
    assert(f0.maxs("day") == 0L && f0.nonNull("day") == f0.rows)
    // manifest skipping on BOTH the footer-stat column and the partition
    // column: one file each
    val prK = t.readWhere(spark, "k", 30, 40)
    assert(prK.filesScanned == 1 && prK.filesTotal == 4, s"k prune: $prK")
    val prD = t.readWhere(spark, "day", 2, 2)
    assert(prD.filesScanned == 1, s"day prune: $prD")
    // the partition column is a REAL column on read (basePath discovery)
    val got = t.read(spark).select(col("k"), col("day"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 100 && (0L until 100L).forall(k => got(k) == k / 25))
    // and the catalog read agrees
    assert(spark.sql(s"SELECT sum(k + day) FROM txtable.`$dst`").head().getLong(0) ==
      (0L until 100L).map(k => k + k / 25).sum)
    // DML composes: a banded delete on the partition column drops its
    // file METADATA-ONLY — the footer pass recorded the zero-null
    // witness, so the retention-delete story works on ADOPTED data too
    val del = t.delete(spark, "day", 3, 3)
    assert(del.droppedFiles == 1 && del.rewrittenFiles == 0 && del.keptFiles == 3,
      s"partition-band delete on a converted table must be metadata-only: $del")
    assert(t.read(spark).count() == 75)
  }

  test("views: persistence, view-over-view, TEMP shadowing, DROP") {
    val t = freshTable(40, 4) // (k, v = k*10)
    val v1 = s"${tmpRoot()}/v1"
    val v2 = s"${tmpRoot()}/v2"
    spark.sql(s"CREATE VIEW ${q(v1)} AS SELECT k, v FROM ${q(t.root)} WHERE k < 20")
    assert(spark.sql(s"SELECT count(*) FROM ${q(v1)}").head().getLong(0) == 20)
    // view-over-view: composes and stays LATE-BOUND
    spark.sql(s"CREATE VIEW ${q(v2)} AS SELECT k, v FROM ${q(v1)} WHERE k % 2 = 0")
    assert(spark.sql(s"SELECT count(*) FROM ${q(v2)}").head().getLong(0) == 10)
    // redefining the INNER view is visible through the outer one
    spark.sql(s"CREATE OR REPLACE VIEW ${q(v1)} AS " +
      s"SELECT k, v FROM ${q(t.root)} WHERE k < 10")
    assert(spark.sql(s"SELECT count(*) FROM ${q(v2)}").head().getLong(0) == 5,
      "view expansion must be late-bound")
    // the underlying table's DML is visible through the views
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE k BETWEEN 0 AND 3")
    assert(spark.sql(s"SELECT count(*) FROM ${q(v2)}").head().getLong(0) == 3)
    // TEMP shadows the persisted definition while present
    spark.sql(s"CREATE OR REPLACE TEMP VIEW ${q(v1)} AS " +
      s"SELECT k, v FROM ${q(t.root)} WHERE k >= 30")
    assert(spark.sql(s"SELECT min(k) FROM ${q(v1)}").head().getLong(0) == 30)
    spark.sql(s"DROP VIEW ${q(v1)}") // drops the temp layer first
    assert(spark.sql(s"SELECT max(k) FROM ${q(v1)}").head().getLong(0) == 9,
      "dropping the temp view must unshadow the persisted one")
    spark.sql(s"DROP VIEW ${q(v1)}")
    intercept[Exception] { spark.sql(s"SELECT * FROM ${q(v1)}").collect() }
    spark.sql(s"DROP VIEW IF EXISTS ${q(v1)}") // no-op, no refusal
    intercept[Exception] { spark.sql(s"DROP VIEW ${q(v1)}") }
    // CREATE without OR REPLACE refuses over an existing definition
    intercept[Exception] {
      spark.sql(s"CREATE VIEW ${q(v2)} AS SELECT 1 AS x")
    }
    // a view must not shadow a real table
    intercept[Exception] {
      spark.sql(s"CREATE VIEW ${q(t.root)} AS SELECT 1 AS x")
    }
  }

  test("view definitions ending in a semicolon expand cleanly") {
    val t = freshTable(10, 1)
    val v = s"${tmpRoot()}/vsemi"
    // the stored text must shed the trailing `;` — a parenthesized
    // expansion of `(SELECT …;)` is a parse error
    spark.sql(s"CREATE VIEW ${q(v)} AS SELECT k, v FROM ${q(t.root)} WHERE k < 5;")
    assert(spark.sql(s"SELECT count(*) FROM ${q(v)}").head().getLong(0) == 5)
  }

  test("a view's WHERE reaches the underlying scan's manifest prune") {
    // expansion is pure text, so the view's predicate must flow into the
    // catalog scan like any inline filter — at 100 TB a view over a
    // banded table prunes files, it never re-scans the world
    val t = freshTable(80, 16) // 16 range files over k 0..79
    val v = s"${tmpRoot()}/vp"
    spark.sql(s"CREATE VIEW ${q(v)} AS " +
      s"SELECT k, v FROM ${q(t.root)} WHERE k BETWEEN 10 AND 14")
    val n = spark.sql(s"SELECT count(*) FROM ${q(v)} WHERE k <> 12").head().getLong(0)
    assert(n == 4)
    val (kept, total) = graft.sources.TxBatchSource.pruneOf(t.root).get
    assert(total == 16 && kept <= 3,
      s"the view's band must prune the manifest, scanned $kept/$total files")
  }

  test("a materialized view must not overwrite an existing TxTable") {
    // createMview materializes via overwriteTagged — without the guard a
    // CREATE MATERIALIZED VIEW aimed at a table path silently replaces
    // that table's content (ADVICE r13)
    val t = freshTable(10, 1)
    val e = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW ${q(t.root)} AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("TxTable"), e.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM ${q(t.root)}").head().getLong(0) == 10,
      "the table's rows must be untouched")
  }

  test("materialized view: CDF-incremental refresh applies only the delta") {
    val t = freshTable(40, 4)
    val mv = s"${tmpRoot()}/mv"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} " +
      s"TBLPROPERTIES('statCols'='k') AS " +
      s"SELECT k, v FROM ${q(t.root)} WHERE k < 30")
    assert(spark.sql(s"SELECT count(*) FROM ${q(mv)}").head().getLong(0) == 30)
    // idle refresh: recognized no-op
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head().getString(0) == "noop")
    // source mutations: an insert inside the view band, one outside it,
    // and a delete — the refresh must net exactly the in-band changes
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES (CAST(100 AS BIGINT), CAST(1 AS BIGINT))," +
      " (CAST(25 AS BIGINT), CAST(-1 AS BIGINT))")
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE k BETWEEN 0 AND 4")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r.getString(0) == "incremental", s"got $r")
    val got = spark.sql(s"SELECT k FROM ${q(mv)} ORDER BY k").collect().map(_.getLong(0))
    assert(got.toSeq == ((5L until 30L) :+ 25L).sorted,
      s"delta fold wrong: ${got.mkString(",")}")
    // the fold is the exactly-once CDC apply: audit trail says so
    val ops = graft.tables.TxTable.open(mv).history().map(_.operation)
    assert(ops.contains("CDC apply"), s"ops: $ops")
    // an aggregate definition falls back to FULL recompute, loudly
    val mv2 = s"${tmpRoot()}/mv2"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv2)} " +
      s"TBLPROPERTIES('statCols'='n') AS " +
      s"SELECT count(*) AS n FROM ${q(t.root)}")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES (CAST(101 AS BIGINT), CAST(1 AS BIGINT))")
    val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv2)}").head()
    assert(r2.getString(0) == "full", s"aggregates must take the full path: $r2")
    // 40 base + 2 inserts − 5 deletes + 1 insert = 38 source rows
    assert(spark.sql(s"SELECT n FROM ${q(mv2)}").head().getLong(0) == 38)
  }

  test("DML through views: star views route UPDATE/DELETE; all else refuses typed") {
    val t = freshTable(40, 4) // k 0..39, v = k*10
    val v = s"${tmpRoot()}/vproj"
    spark.sql(s"CREATE VIEW ${q(v)} AS SELECT k, v FROM ${q(t.root)} WHERE k < 20")
    // a PROJECTED view is not updatable: all four verbs refuse, typed,
    // naming the base table
    val stmts = Seq(
      s"UPDATE ${q(v)} SET v = 0 WHERE k BETWEEN 1 AND 2",
      s"UPDATE ${q(v)} SET v = 0 WHERE k % 7 = 1",
      s"DELETE FROM ${q(v)} WHERE k = 1",
      s"DELETE FROM ${q(v)} WHERE k IN (SELECT 1)",
      s"MERGE INTO ${q(v)} AS t USING (SELECT CAST(1 AS BIGINT) AS k, " +
        "CAST(2 AS BIGINT) AS v) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      s"INSERT INTO ${q(v)} VALUES (CAST(100 AS BIGINT), CAST(0 AS BIGINT))")
    stmts.foreach { stmt =>
      val e = intercept[Exception] { spark.sql(stmt) }
      assert(e.getMessage.contains("VIEW") && e.getMessage.contains(t.root),
        s"$stmt must refuse typed, naming the base; got: ${e.getMessage}")
    }
    assert(spark.sql(s"SELECT count(*) FROM ${q(t.root)}").head().getLong(0) == 40)
    // a SELECT * view routes UPDATE/DELETE with its predicate CONJOINED
    val vs = s"${tmpRoot()}/vstar"
    spark.sql(s"CREATE VIEW ${q(vs)} AS SELECT * FROM ${q(t.root)} WHERE k < 20")
    spark.sql(s"UPDATE ${q(vs)} SET v = v + 1 WHERE k >= 15") // 15..19 only
    spark.sql(s"DELETE FROM ${q(vs)} WHERE k >= 18")          // 18, 19 only
    val got = spark.sql(s"SELECT k, v FROM ${q(t.root)}").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 38 && !got.contains(18L) && !got.contains(19L),
      s"the view DELETE must govern only exposed rows: ${got.size}")
    assert(got(15L) == 151 && got(17L) == 171,
      "the view UPDATE must hit the exposed band")
    assert(got(25L) == 250 && got(39L) == 390,
      "rows OUTSIDE the view must never be touched")
    // even a star view refuses MERGE — no sound predicate rewrite exists
    val e2 = intercept[Exception] {
      spark.sql(s"MERGE INTO ${q(vs)} AS t USING (SELECT CAST(1 AS BIGINT) " +
        "AS k, CAST(2 AS BIGINT) AS v) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e2.getMessage.contains("VIEW"), e2.getMessage)
    // a materialized view refuses with the refresh recipe
    val mv = s"${tmpRoot()}/vmat"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} AS " +
      s"SELECT k, v FROM ${q(t.root)} WHERE k < 5")
    val e3 = intercept[Exception] {
      spark.sql(s"DELETE FROM ${q(mv)} WHERE k = 1")
    }
    assert(e3.getMessage.contains("MATERIALIZED VIEW") &&
      e3.getMessage.contains("REFRESH"), e3.getMessage)
  }

  test("SHOW VIEWS lists all three kinds under a prefix; DESCRIBE DETAIL reports them") {
    val dirRoot = tmpRoot()
    val t = freshTable(10, 1)
    spark.sql(s"CREATE VIEW txtable.`$dirRoot/a/v1` AS SELECT * FROM ${q(t.root)}")
    spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$dirRoot/b/mv1` AS " +
      s"SELECT k, v FROM ${q(t.root)} WHERE k < 5")
    spark.sql(s"CREATE TEMP VIEW txtable.`$dirRoot/c/tv1` AS SELECT 1 AS x")
    try {
      val rows = spark.sql(s"SHOW VIEWS IN txtable.`$dirRoot`").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(
        (s"$dirRoot/a/v1", "VIEW"),
        (s"$dirRoot/b/mv1", "MATERIALIZED VIEW"),
        (s"$dirRoot/c/tv1", "TEMP VIEW")), rows.toString)
      val d1 = spark.sql(s"DESCRIBE DETAIL txtable.`$dirRoot/a/v1`").head()
      assert(d1.getString(0) == "VIEW" &&
        d1.getString(1).toUpperCase.contains("SELECT"))
      val d2 = spark.sql(s"DESCRIBE DETAIL txtable.`$dirRoot/b/mv1`").head()
      assert(d2.getString(0) == "MATERIALIZED VIEW" && d2.getInt(2) >= 1,
        "an mview DESCRIBE must report its applied-through version")
      val d3 = spark.sql(s"DESCRIBE DETAIL txtable.`$dirRoot/c/tv1`").head()
      assert(d3.getString(0) == "TEMP VIEW")
    } finally {
      spark.sql(s"DROP VIEW txtable.`$dirRoot/c/tv1`"); ()
    }
  }

  test("aggregate mview: delta fold, group death & birth, avg recipe, NULL degrade") {
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(40).toDF("k")
      .withColumn("g", col("k") % 4)
      .withColumn("x", col("k") * 1L)
      .repartitionByRange(4, col("k")))
    val mv = s"${tmpRoot()}/mva"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} TBLPROPERTIES('statCols'='g') AS " +
      s"SELECT g, count(*) AS n, sum(x) AS sx FROM ${q(t.root)} GROUP BY g")
    assert(spark.sql(s"SELECT count(*) FROM ${q(mv)}").head().getLong(0) == 4)
    // kill group 3 entirely, mint group 9 — one refresh folds both
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE k % 4 = 3")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(9 AS BIGINT), CAST(5 AS BIGINT)), " +
      "(CAST(101 AS BIGINT), CAST(9 AS BIGINT), CAST(7 AS BIGINT))")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r.getString(0) == "incremental", s"got $r")
    val got = spark.sql(s"SELECT g, n, sx FROM ${q(mv)} ORDER BY g").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    def gsum(g: Long) = (g until 40L by 4).sum
    assert(got == Seq((0L, 10L, gsum(0)), (1L, 10L, gsum(1)),
      (2L, 10L, gsum(2)), (9L, 2L, 12L)),
      s"net-to-zero group must DROP, net-new group must INSERT: $got")
    // avg is the sum/count recipe over the maintained pair
    assert(spark.sql(s"SELECT CAST(sx AS DOUBLE) / n AS a FROM ${q(mv)} " +
      "WHERE g = 9").head().getDouble(0) == 6.0)
    // a NULL summed value ARRIVING in the delta degrades to full — and
    // the full recompute REVOKES the delta license while NULLs persist
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(102 AS BIGINT), CAST(9 AS BIGINT), CAST(NULL AS BIGINT))")
    val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r2.getString(0) == "full", s"a NULL sum value must degrade: $r2")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(103 AS BIGINT), CAST(9 AS BIGINT), CAST(1 AS BIGINT))")
    val r3 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r3.getString(0) == "full", s"the revoked license must stick: $r3")
    val g9 = spark.sql(s"SELECT n, sx FROM ${q(mv)} WHERE g = 9").head()
    assert(g9.getLong(0) == 4L && g9.getLong(1) == 13L,
      "sum semantics must stay exact through the degrade (NULL ignored)")
    // min/max fold MONOTONICALLY on an insert-only delta (r14 verdict
    // #2): mx' = greatest(mx, Δmx), no recompute, mode=incremental —
    // and NULL extremum values need no license (least/greatest skip
    // NULLs exactly like min()/max() do)
    val mv2 = s"${tmpRoot()}/mvmx"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv2)} TBLPROPERTIES('statCols'='g') AS " +
      s"SELECT g, count(*) AS n, max(x) AS mx FROM ${q(t.root)} GROUP BY g")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(104 AS BIGINT), CAST(9 AS BIGINT), CAST(50 AS BIGINT))")
    val r4 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv2)}").head()
    assert(r4.getString(0) == "incremental",
      s"insert-only max must fold monotonically: $r4")
    assert(spark.sql(s"SELECT mx FROM ${q(mv2)} WHERE g = 9").head().getLong(0) == 50L)
    // a delete that evicts the extremum forces the TOUCHED-GROUP
    // recheck: only the groups the delta names re-aggregate (mode says
    // so), untouched groups never move
    val before0 = spark.sql(s"SELECT n, mx FROM ${q(mv2)} WHERE g = 0").head()
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE k = 104")
    val r5 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv2)}").head()
    assert(r5.getString(0) == "incremental-recheck",
      s"a delete under max must recheck the touched groups: $r5")
    val g9b = spark.sql(s"SELECT n, mx FROM ${q(mv2)} WHERE g = 9").head()
    assert(g9b.getLong(0) == 4L && g9b.getLong(1) == 7L,
      s"the evicted max must restore to the runner-up: $g9b")
    assert(spark.sql(s"SELECT n, mx FROM ${q(mv2)} WHERE g = 0").head() == before0)
    // a recheck that KILLS a touched group deletes it from the view
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE g = 9")
    val r6 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv2)}").head()
    assert(r6.getString(0) == "incremental-recheck", s"got $r6")
    assert(spark.sql(s"SELECT count(*) FROM ${q(mv2)} WHERE g = 9")
      .head().getLong(0) == 0L, "a vanished touched group must DELETE")
  }

  test("EXPLAIN DML dry run: classification == the real run, zero commits") {
    // r14 verdict #6: the preview must come from the SAME probes the
    // real statement uses — assert count-for-count equality against
    // the real run's accounting, and that the dry run writes nothing
    val t = freshTable() // 40 rows, 4 range-partitioned files on k
    val v0 = t.currentVersion
    val mergeTail = s"USING (SELECT CAST(5 AS BIGINT) AS k, " +
      s"CAST(-1 AS BIGINT) AS v) AS s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    val dm = spark.sql(s"EXPLAIN MERGE INTO ${q(t.root)} AS t $mergeTail").head()
    assert(t.currentVersion == v0, "a dry run must not commit")
    assert(dm.getString(0) == "merge" && dm.getInt(1) == 4 &&
      dm.getInt(2) == 1 && dm.getInt(5) == 3 &&
      dm.getString(6).startsWith("interval-intersect"),
      s"one of four range files admits k=5: $dm")
    val rm = spark.sql(s"MERGE INTO ${q(t.root)} AS t $mergeTail").head()
    assert(dm.getInt(4) == rm.getInt(1) && dm.getInt(5) == rm.getInt(2),
      s"dry-run straddling/kept must equal the real rewrite/kept: $dm vs $rm")
    // UPDATE: every touched file rewrites (an update drops nothing
    // metadata-only), however the band is spelled
    Seq("k BETWEEN 0 AND 9", "k >= 0 AND k <= 9").foreach { where =>
      val du = spark.sql(s"EXPLAIN UPDATE ${q(t.root)} SET v = v + 1 " +
        s"WHERE $where").head()
      val ru = spark.sql(s"UPDATE ${q(t.root)} SET v = v + 1 " +
        s"WHERE $where").head()
      assert(du.getString(0) == "update" && du.getInt(3) == ru.getInt(1) &&
        du.getInt(4) == ru.getInt(2) && du.getInt(5) == ru.getInt(3),
        s"$where: got $du vs $ru")
    }
    // predicate DELETE with a residual conjunct: no covered class
    val dd = spark.sql(s"EXPLAIN DELETE FROM ${q(t.root)} " +
      "WHERE k BETWEEN 0 AND 9 AND v % 2 = 0").head()
    assert(dd.getInt(3) == 0 && dd.getString(6).endsWith("+residual"),
      s"a residual conjunct must disqualify metadata-only drops: $dd")
    val rd = spark.sql(s"DELETE FROM ${q(t.root)} " +
      "WHERE k BETWEEN 0 AND 9 AND v % 2 = 0").head()
    assert(dd.getInt(4) == rd.getInt(2) && dd.getInt(5) == rd.getInt(3),
      s"got $dd vs $rd")
    // Spark's own EXPLAIN is untouched
    assert(spark.sql("EXPLAIN SELECT 1").collect().nonEmpty)
    // unsupported dry-run forms refuse loudly
    val e = intercept[Exception](spark.sql(
      s"EXPLAIN DELETE FROM ${q(t.root)} WHERE k IN (SELECT 1)"))
    assert(e.getMessage.contains("EXPLAIN (dry run) supports"))
  }

  test("join-agg mview: both-side deltas, ΔA⋈ΔB overlap, outer/non-equi/float full") {
    // r14 verdict #1: ΔJ = ΔA⋈B@cur ∪ A@last⋈ΔB. This drives BOTH
    // sides in one window — fact insert + fact band delete + dim member
    // delete + dim insert — and plants the overlap pair (fact row AND
    // dim row for k=100 both land inside the window, so it exists only
    // through ΔA⋈ΔB, which rides the first term because B@cur already
    // contains ΔB).
    Tables.ensure(spark)
    val fa = new TxTable(tmpRoot(), Seq("k"))
    fa.append(spark, spark.range(40).toDF("k")
      .withColumn("x", col("k") * 1L).repartitionByRange(4, col("k")))
    val db = new TxTable(tmpRoot(), Seq("k"))
    db.append(spark, spark.range(40).toDF("k")
      .withColumn("g", col("k") % 4).repartitionByRange(2, col("k")))
    val mv = s"${tmpRoot()}/mvj"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} TBLPROPERTIES('statCols'='g') AS " +
      s"SELECT d.g AS g, count(*) AS n, sum(f.x) AS sx " +
      s"FROM ${q(fa.root)} f JOIN ${q(db.root)} d ON f.k = d.k GROUP BY d.g")
    assert(spark.sql(s"SELECT count(*) FROM ${q(mv)}").head().getLong(0) == 4)
    spark.sql(s"INSERT INTO ${q(fa.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(5 AS BIGINT))")
    spark.sql(s"DELETE FROM ${q(fa.root)} WHERE k < 4")
    spark.sql(s"DELETE FROM ${q(db.root)} WHERE k BETWEEN 4 AND 7")
    spark.sql(s"INSERT INTO ${q(db.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(9 AS BIGINT))")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r.getString(0) == "incremental", s"got $r")
    val got = spark.sql(s"SELECT g, n, sx FROM ${q(mv)} ORDER BY g").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // surviving pairs: k ∈ {8..39} (fact lost 0..3, dim lost 4..7) plus
    // the overlap pair (100, g=9, x=5)
    def gOf(g: Long) = (8L until 40L).filter(_ % 4 == g)
    val want = (0L to 3L).map(g => (g, gOf(g).size.toLong, gOf(g).sum)) :+
      ((9L, 1L, 5L))
    assert(got == want, s"got $got")
    // an idle window is a recognized noop
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
      .getString(0) == "noop")
    // DESCRIBE DETAIL reports the version the last REFRESH reported
    val detail = spark.sql(s"DESCRIBE DETAIL ${q(mv)}").head()
    assert(detail.getInt(2) == r.getInt(1),
      s"applied_through must match REFRESH's source_version: $detail vs $r")
    // outer join: never the delta path — always-sound full
    val mv2 = s"${tmpRoot()}/mvjo"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv2)} AS " +
      s"SELECT d.g AS g, count(*) AS n " +
      s"FROM ${q(fa.root)} LEFT JOIN ${q(db.root)} d ON x = d.k GROUP BY d.g")
    spark.sql(s"INSERT INTO ${q(fa.root)} VALUES " +
      "(CAST(101 AS BIGINT), CAST(1 AS BIGINT))")
    val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv2)}").head()
    assert(r2.getString(0) == "full", s"outer join must full-recompute: $r2")
    // non-equi ON: refused to full
    val mv3 = s"${tmpRoot()}/mvjr"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv3)} AS " +
      s"SELECT d.g AS g, count(*) AS n " +
      s"FROM ${q(fa.root)} f JOIN ${q(db.root)} d ON f.k >= d.k GROUP BY d.g")
    spark.sql(s"INSERT INTO ${q(fa.root)} VALUES " +
      "(CAST(102 AS BIGINT), CAST(1 AS BIGINT))")
    val r3 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv3)}").head()
    assert(r3.getString(0) == "full", s"non-equi ON must full-recompute: $r3")
    // a float sum never earns the license (±x folding drifts): full
    val mv4 = s"${tmpRoot()}/mvjf"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv4)} AS " +
      s"SELECT d.g AS g, count(*) AS n, sum(CAST(f.x AS DOUBLE)) AS sx " +
      s"FROM ${q(fa.root)} f JOIN ${q(db.root)} d ON f.k = d.k GROUP BY d.g")
    spark.sql(s"INSERT INTO ${q(fa.root)} VALUES " +
      "(CAST(103 AS BIGINT), CAST(1 AS BIGINT))")
    val r4 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv4)}").head()
    assert(r4.getString(0) == "full", s"a DOUBLE sum must full-recompute: $r4")
  }

  test("mview-on-mview chain: child replays the parent's merge CDC incrementally") {
    // r15 stretch: a mview IS a TxTable whose merge commits emit exact
    // row-level CDC (update = delete(old)+insert(new)), so a child
    // aggregate over it folds touched groups only. Pins: child-before-
    // parent refresh is a recognized noop (the parent hasn't moved);
    // after the parent's incremental merge the child is incremental too
    // and equals the from-scratch recompute, including a group the
    // parent DELETED (net-zero) and a group it BIRTHED.
    Tables.ensure(spark)
    val src = new TxTable(tmpRoot(), Seq("k"))
    src.append(spark, spark.range(30).toDF("k")
      .withColumn("t", col("k") % 3).withColumn("x", col("k") * 2L)
      .repartitionByRange(4, col("k")))
    val parent = s"${tmpRoot()}/mvp"
    val child = s"${tmpRoot()}/mvc"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(parent)} TBLPROPERTIES('statCols'='k') AS " +
      s"SELECT k, t, count(*) AS n, sum(x) AS sx FROM ${q(src.root)} " +
      "WHERE k <= 40 GROUP BY k, t")
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(child)} TBLPROPERTIES('statCols'='t') AS " +
      s"SELECT t, count(*) AS nk, sum(n) AS n_total, sum(sx) AS x_total " +
      s"FROM ${q(parent)} GROUP BY t")
    // child refresh with an idle parent: noop, not a spurious replay
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(child)}").head()
      .getString(0) == "noop")
    // mutate the SOURCE: delete kills parent groups k∈{0,1}, the insert
    // births k=35 and fattens k=5
    spark.sql(s"DELETE FROM ${q(src.root)} WHERE k <= 1")
    spark.sql(s"INSERT INTO ${q(src.root)} VALUES " +
      "(CAST(35 AS BIGINT), CAST(2 AS BIGINT), CAST(70 AS BIGINT)), " +
      "(CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(11 AS BIGINT))")
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(parent)}").head()
      .getString(0) == "incremental")
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(child)}").head()
      .getString(0) == "incremental")
    val got = spark.sql(
      s"SELECT t, nk, n_total, x_total FROM ${q(child)} ORDER BY t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = spark.sql(
      s"""SELECT t, count(*) AS nk, sum(n) AS n_total, sum(sx) AS x_total
         |FROM (SELECT k, t, count(*) AS n, sum(x) AS sx
         |      FROM ${q(src.root)} WHERE k <= 40 GROUP BY k, t)
         |GROUP BY t ORDER BY t""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"chain drifted from recompute: $got vs $want")
  }

  test("3-way join chain mview: per-source deltas telescope, all watermarks advance") {
    // r15: ΔJ = Σᵢ A₁@last ⋈ … ⋈ ΔAᵢ ⋈ … ⋈ Aₙ@cur over a fact ⋈ dim ⋈
    // dim star chain. All three sources mutate in ONE window — the
    // refresh must fold every term (including the cross-delta overlaps
    // riding the @cur tails) and still equal the recompute.
    Tables.ensure(spark)
    val fact = new TxTable(tmpRoot(), Seq("k"))
    fact.append(spark, spark.range(60).toDF("k")
      .withColumn("u", col("k") % 10).withColumn("p", col("k") % 7)
      .withColumn("x", col("k") * 3 % 31).repartitionByRange(4, col("k")))
    val users = new TxTable(tmpRoot(), Seq("u"))
    users.append(spark, spark.range(10).toDF("u")
      .withColumn("seg", col("u") % 3).repartitionByRange(2, col("u")))
    val prods = new TxTable(tmpRoot(), Seq("p"))
    prods.append(spark, spark.range(7).toDF("p")
      .withColumn("cat", col("p") % 2).repartitionByRange(2, col("p")))
    val mv = s"${tmpRoot()}/mv3"
    val defn = s"SELECT d.seg AS seg, c.cat AS cat, count(*) AS n, " +
      s"sum(f.x) AS sx, avg(f.x) AS ax " +
      s"FROM ${q(fact.root)} f JOIN ${q(users.root)} d ON f.u = d.u " +
      s"JOIN ${q(prods.root)} c ON f.p = c.p " +
      s"WHERE f.k <= 1000 GROUP BY d.seg, c.cat"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} " +
      s"TBLPROPERTIES('statCols'='seg') AS $defn")
    // all three sides move: fact insert (new user 100 AND new product
    // 100 — pairs exist only through cross-delta overlap terms), fact
    // band delete, a dim member leaves, both dims gain the new member
    spark.sql(s"DELETE FROM ${q(fact.root)} WHERE k < 5")
    spark.sql(s"INSERT INTO ${q(fact.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(100 AS BIGINT), CAST(100 AS BIGINT), " +
      "CAST(9 AS BIGINT))")
    spark.sql(s"DELETE FROM ${q(users.root)} WHERE u = 3")
    spark.sql(s"INSERT INTO ${q(users.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(1 AS BIGINT))")
    spark.sql(s"INSERT INTO ${q(prods.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(0 AS BIGINT))")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r.getString(0) == "incremental", s"3-way chain must telescope: $r")
    val got = spark.sql(s"SELECT seg, cat, n, sx, ax FROM ${q(mv)} " +
      "ORDER BY seg, cat").collect().toSeq
    val want = spark.sql(s"$defn ORDER BY seg, cat").collect().toSeq
    assert(got == want, s"3-way chain drifted:\n$got\n$want")
    // idle window: noop; a dim insert matching NO facts nets an empty
    // delta — the honest mode is noop (with the watermark advanced);
    // a dim delete that evicts real pairs is incremental
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
      .getString(0) == "noop")
    spark.sql(s"INSERT INTO ${q(prods.root)} VALUES " +
      "(CAST(101 AS BIGINT), CAST(1 AS BIGINT))")
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
      .getString(0) == "noop")
    spark.sql(s"DELETE FROM ${q(prods.root)} WHERE p = 2")
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
      .getString(0) == "incremental")
    val got2 = spark.sql(s"SELECT seg, cat, n, sx, ax FROM ${q(mv)} " +
      "ORDER BY seg, cat").collect().toSeq
    val want2 = spark.sql(s"$defn ORDER BY seg, cat").collect().toSeq
    assert(got2 == want2)
  }

  test("chain semi-join reduction: readIn prunes the pinned source to touched files") {
    // the fact⋈Δdim term's scan shape: 16 range-partitioned files, a
    // delta naming keys inside ONE band — the pinned read must plan
    // over the admitting files only, with the isin residual exact
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(160).toDF("k")
      .withColumn("x", col("k") * 2).repartitionByRange(16, col("k")))
    val pr = t.readIn(spark, "k", Seq(51L, 53L, 57L))
    assert(pr.filesTotal == 16, s"layout drifted: ${pr.filesTotal} files")
    assert(pr.filesScanned <= 2,
      s"one key band must prune to ~1 file, scanned ${pr.filesScanned}")
    assert(pr.df.select(sum(col("x"))).head().getLong(0) == (51 + 53 + 57) * 2)
    // spread keys hit every band — nothing prunable, still exact
    val spread = t.readIn(spark, "k", (0L until 160L by 10).toSeq)
    assert(spread.df.count() == 16)
  }

  test("join-agg mview: maintained avg rides the companion sum") {
    Tables.ensure(spark)
    val fa = new TxTable(tmpRoot(), Seq("k"))
    fa.append(spark, spark.range(40).toDF("k")
      .withColumn("x", col("k") * 3 % 17).repartitionByRange(4, col("k")))
    val db = new TxTable(tmpRoot(), Seq("k"))
    db.append(spark, spark.range(40).toDF("k")
      .withColumn("g", col("k") % 4).repartitionByRange(2, col("k")))
    val mv = s"${tmpRoot()}/mvja"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} TBLPROPERTIES('statCols'='g') AS " +
      s"SELECT d.g AS g, count(*) AS n, sum(f.x) AS sx, avg(f.x) AS ax " +
      s"FROM ${q(fa.root)} f JOIN ${q(db.root)} d ON f.k = d.k GROUP BY d.g")
    spark.sql(s"DELETE FROM ${q(fa.root)} WHERE k < 6")
    spark.sql(s"INSERT INTO ${q(fa.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(5 AS BIGINT))")
    spark.sql(s"INSERT INTO ${q(db.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(2 AS BIGINT))")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r.getString(0) == "incremental", s"got $r")
    val got = spark.sql(s"SELECT g, n, sx, ax FROM ${q(mv)} ORDER BY g")
      .collect().toSeq
    val want = spark.sql(
      s"""SELECT d.g AS g, count(*) AS n, sum(f.x) AS sx, avg(f.x) AS ax
         |FROM ${q(fa.root)} f JOIN ${q(db.root)} d ON f.k = d.k
         |GROUP BY d.g ORDER BY g""".stripMargin).collect().toSeq
    assert(got == want, s"join avg drifted:\n$got\n$want")
  }

  test("aggregate mview spellings: each refresh takes its pinned mode and equals the recompute") {
    // one spelling per row: created over the same fact ⋈ dim pair, fed
    // one fact insert, refreshed. The mode pins which spellings the
    // delta path admits (a one-member chain is any single-source view,
    // aliased or not; min/max only over one source); every view must
    // equal its recompute whichever path it took.
    Tables.ensure(spark)
    val fact = new TxTable(tmpRoot(), Seq("k"))
    fact.append(spark, spark.range(40).toDF("k")
      .withColumn("g", col("k") % 4).withColumn("x", col("k") * 3 % 17)
      .withColumn("dk", col("k") % 8).repartitionByRange(2, col("k")))
    val dim = new TxTable(tmpRoot(), Seq("dk"))
    dim.append(spark, spark.range(8).toDF("dk")
      .withColumn("h", col("dk") % 3).repartitionByRange(1, col("dk")))
    val f = q(fact.root)
    val d = q(dim.root)
    val join = s"FROM $f f JOIN $d d ON f.dk = d.dk"
    // (label, definition, the view's stat column, expected refresh mode)
    val shapes = Seq(
      ("bare group", s"SELECT g, count(*) AS n, sum(x) AS sx FROM $f GROUP BY g",
        "g", "incremental"),
      ("renamed group", s"SELECT g AS gg, count(*) AS n, sum(x) AS sx FROM $f GROUP BY g",
        "gg", "incremental"),
      ("WHERE", s"SELECT g, count(*) AS n, sum(x) AS sx FROM $f WHERE x >= 2 GROUP BY g",
        "g", "incremental"),
      ("join, qualified group",
        s"SELECT d.h AS h, count(*) AS n, sum(f.x) AS sx $join GROUP BY d.h",
        "h", "incremental"),
      ("join, bare group", s"SELECT h, count(*) AS n, sum(x) AS sx $join GROUP BY h",
        "h", "incremental"),
      ("aliased single source",
        s"SELECT s.g, count(*) AS n, sum(s.x) AS sx FROM $f s GROUP BY s.g",
        "g", "incremental"),
      ("self-join",
        s"SELECT a.g AS g, count(*) AS n FROM $f a JOIN $f b ON a.k = b.k GROUP BY a.g",
        "g", "full"),
      ("join + min", s"SELECT d.h AS h, count(*) AS n, min(f.x) AS mx $join GROUP BY d.h",
        "h", "full"),
      ("avg without its sum", s"SELECT g, count(*) AS n, avg(x) AS ax FROM $f GROUP BY g",
        "g", "full"),
      ("sum(DISTINCT)", s"SELECT g, count(*) AS n, sum(DISTINCT x) AS sx FROM $f GROUP BY g",
        "g", "full"),
      ("sum + sum", s"SELECT g, count(*) AS n, sum(x) + sum(k) AS s2 FROM $f GROUP BY g",
        "g", "full"),
      ("no count(*)", s"SELECT g, sum(x) AS sx FROM $f GROUP BY g", "g", "full"))
    val views = shapes.map { case (label, defn, statCol, _) =>
      val mv = s"${tmpRoot()}/mv"
      spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} " +
        s"TBLPROPERTIES('statCols'='$statCol') AS $defn")
      label -> mv
    }.toMap
    spark.sql(s"INSERT INTO $f VALUES (CAST(100 AS BIGINT), CAST(1 AS BIGINT), " +
      "CAST(5 AS BIGINT), CAST(3 AS BIGINT))")
    // every row is checked before the assertion, so one run names them all
    val faults = shapes.flatMap { case (label, defn, _, mode) =>
      val mv = views(label)
      val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
      val got = spark.sql(s"SELECT * FROM ${q(mv)}").collect().map(_.toString).sorted
      val want = spark.sql(defn).collect().map(_.toString).sorted
      (if (r.getString(0) == mode) Nil
       else Seq(s"$label: expected $mode, got $r")) ++
        (if (got.toSeq == want.toSeq) Nil
         else Seq(s"$label drifted:\n${got.toSeq}\n${want.toSeq}"))
    }
    assert(faults.isEmpty, faults.mkString("\n"))
  }

  test("mview avg maintenance: companion derivation == recompute, no-sum avg falls to full") {
    // r15: avg(e) is admitted when the view also carries sum(e) (and
    // count(*), already required) — the refresh re-derives it as
    // newSum/newCount with Spark's own divide-then-cast shape, so the
    // maintained value is BIT-IDENTICAL to a recompute, deletes
    // included (avg is a ratio of maintained columns; unlike min/max a
    // delete never strands it). An avg without its companion sum cannot
    // be maintained and falls loudly to full.
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(40).toDF("k")
      .withColumn("g", col("k") % 4)
      .withColumn("x", col("k") * 7 % 23)
      .repartitionByRange(4, col("k")))
    val mv = s"${tmpRoot()}/mva"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} TBLPROPERTIES('statCols'='g') AS " +
      "SELECT g, count(*) AS n, sum(CAST(x AS DECIMAL(18,2))) AS sx, " +
      "avg(CAST(x AS DECIMAL(18,2))) AS ax, sum(k) AS sk, avg(k) AS ak " +
      s"FROM ${q(t.root)} GROUP BY g")
    // a delete AND inserts in one window: group birth (g inherits no
    // min/max so this stays the pure delta path), update, and death
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE g = 2") // group death
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(9 AS BIGINT), CAST(5 AS BIGINT)), " +
      "(CAST(104 AS BIGINT), CAST(9 AS BIGINT), CAST(8 AS BIGINT)), " +
      "(CAST(101 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT))")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r.getString(0) == "incremental", s"avg with companions must fold: $r")
    val got = spark.sql(
      s"SELECT g, n, sx, ax, sk, ak FROM ${q(mv)} ORDER BY g").collect().toSeq
    val want = spark.sql(
      s"""SELECT g, count(*) AS n, sum(CAST(x AS DECIMAL(18,2))) AS sx,
         |  avg(CAST(x AS DECIMAL(18,2))) AS ax, sum(k) AS sk, avg(k) AS ak
         |FROM ${q(t.root)} GROUP BY g ORDER BY g""".stripMargin).collect().toSeq
    assert(got == want, s"maintained avg drifted from recompute:\n$got\n$want")
    // avg + min/max: a delete takes the touched-group recheck and the
    // avg recomputes exactly alongside the extrema
    val mv2 = s"${tmpRoot()}/mvam"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv2)} TBLPROPERTIES('statCols'='g') AS " +
      "SELECT g, count(*) AS n, sum(k) AS sk, avg(k) AS ak, max(k) AS mk " +
      s"FROM ${q(t.root)} GROUP BY g")
    spark.sql(s"DELETE FROM ${q(t.root)} WHERE k >= 100") // evicts g=9's max
    val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv2)}").head()
    assert(r2.getString(0) == "incremental-recheck", s"got $r2")
    val got2 = spark.sql(s"SELECT g, n, sk, ak, mk FROM ${q(mv2)} ORDER BY g")
      .collect().toSeq
    val want2 = spark.sql(
      s"""SELECT g, count(*) AS n, sum(k) AS sk, avg(k) AS ak, max(k) AS mk
         |FROM ${q(t.root)} GROUP BY g ORDER BY g""".stripMargin).collect().toSeq
    assert(got2 == want2, s"recheck avg drifted:\n$got2\n$want2")
    // an avg whose expression the view does not sum: full, always sound
    val mv3 = s"${tmpRoot()}/mvax"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv3)} AS " +
      s"SELECT g, count(*) AS n, avg(x) AS ax FROM ${q(t.root)} GROUP BY g")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(105 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT))")
    val r3 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv3)}").head()
    assert(r3.getString(0) == "full", s"avg without companion sum must full: $r3")
  }

  test("a COLUMN literally named `max` doesn't force mview full recompute") {
    // round-13 watch item: the blocker scan treated any aggregate NAME
    // as blocking; aggregates now block only as CALLS (`max(`), so a
    // plain column named like one stays on the incremental path
    val t = new TxTable(tmpRoot(), Seq("k"))
    t.append(spark, spark.range(30).toDF("k")
      .withColumn("max", col("k") * 2).repartitionByRange(2, col("k")))
    val mv = s"${tmpRoot()}/mvmaxcol"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv)} TBLPROPERTIES('statCols'='k') " +
      s"AS SELECT k, max FROM ${q(t.root)} WHERE k < 20")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(100 AS BIGINT), CAST(7 AS BIGINT)), " +
      "(CAST(5 AS BIGINT), CAST(-1 AS BIGINT))")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv)}").head()
    assert(r.getString(0) == "incremental",
      s"a COLUMN named max must not block the CDF path: $r")
    assert(spark.sql(s"SELECT count(*) FROM ${q(mv)}").head().getLong(0) == 21)
    assert(spark.sql(s"SELECT sum(max) FROM ${q(mv)}").head().getLong(0) ==
      (0L until 30L).filter(_ < 20).map(_ * 2).sum - 1)
    // a real max(...) CALL still blocks — always-sound full recompute
    val mv2 = s"${tmpRoot()}/mvmaxcall"
    spark.sql(s"CREATE MATERIALIZED VIEW ${q(mv2)} AS " +
      s"SELECT max(k) AS mk FROM ${q(t.root)}")
    spark.sql(s"INSERT INTO ${q(t.root)} VALUES " +
      "(CAST(200 AS BIGINT), CAST(0 AS BIGINT))")
    val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW ${q(mv2)}").head()
    assert(r2.getString(0) == "full", s"max( must still block: $r2")
    assert(spark.sql(s"SELECT mk FROM ${q(mv2)}").head().getLong(0) == 200L)
  }

  test("converted tables read mixed partitioned + flat layouts after a rewrite") {
    // round-12 ADVICE (high): a rewrite on a CONVERTed table lands FLAT
    // files in data/ while kept files stay under k=v partition dirs —
    // one basePath read over the mix let partition discovery silently
    // drop the flat files. The read path now splits the groups and
    // unions by name; this pins full-row survival through merge, the
    // positional-delete victim scan, and a predicate UPDATE.
    import spark.implicits._
    Tables.ensure(spark)
    val src = tmpRoot()
    spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 10)
      .withColumn("day", (col("k") / 25).cast("long"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("day").parquet(src)
    val dst = s"${tmpRoot()}/tx"
    spark.sql(s"CONVERT TO TXTABLE txtable.`$dst` FROM PARQUET `$src` " +
      "TBLPROPERTIES('statCols'='k,day')")
    val t = TxTable.open(dst)
    // the merge rewrites day=1's file (k 25..49) into FLAT files; the
    // other three partitions carry BY NAME inside their partition dirs
    t.merge(spark, Seq((30L, -1L, 1L)).toDF("k", "v", "day"), "k")
    val all = t.read(spark).select(col("k"), col("v"), col("day"))
      .as[(Long, Long, Long)].collect()
    assert(all.length == 100, s"mixed-layout read lost rows: ${all.length}")
    val got = all.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(30L) == ((-1L, 1L)), s"merged row wrong: ${got(30L)}")
    assert(got(26L) == ((260L, 1L)) && got(70L) == ((700L, 2L)),
      "carried rows must keep data AND partition values on both layouts")
    // the DV victim scan (readWithPositions) sees both layouts too
    t.deletePositionalWhere(spark, "k % 10 = 5")
    assert(t.read(spark).count() == 90,
      "positional delete over the mixed layout must hit exactly the victims")
    // predicate UPDATE over a partition band composes on top of the DVs
    t.updateWhere(spark, "day = 0", Seq("v" -> "v + 1"))
    assert(t.read(spark).count() == 90)
    assert(t.read(spark).filter(col("k") === 3).head().getAs[Long]("v") == 31L,
      "banded update must apply on the partition-dir file")
  }

  test("OPTIMIZE WHERE: band-scoped compaction rewrites only the band's small files") {
    import spark.implicits._
    Tables.ensure(spark)
    val t = new TxTable(tmpRoot(), Seq("k"))
    // 8 small range files over k 0..79 (10 rows each)
    t.append(spark, spark.range(80).toDF("k").withColumn("v", col("k") * 2)
      .repartitionByRange(8, col("k")))
    val before = t.snapshot().files.map(f => f.path -> f).toMap
    val res = spark.sql(
      s"OPTIMIZE ${q(t.root)} WHERE k BETWEEN 0 AND 39 SMALLER THAN 1000").head()
    // exactly the 4 band files compacted into 1; the other 4 carry BY NAME
    assert(res.getInt(1) == 4 && res.getInt(2) == 4, s"got $res")
    val after = t.snapshot().files
    val carried = after.map(_.path).filter(before.contains)
    assert(carried.size == 4 &&
      carried.forall(p => before(p).mins("k") >= 40L),
      "only files OUTSIDE the band may carry by name")
    assert(t.read(spark).count() == 80, "compaction is content-preserving")
    // WHERE + ZORDER in one statement refuses loudly
    intercept[Exception] {
      spark.sql(s"OPTIMIZE ${q(t.root)} WHERE k BETWEEN 0 AND 9 ZORDER BY (k, v)")
    }
  }

  test("VACUUM GROUP: retained cuts stay readable, DRY RUN touches nothing") {
    import graft.tables.TxGroup
    val root = tmpRoot()
    val g = new TxGroup(root)
    val a = g.table("a", Seq("k"))
    def cut(lo: Long, hi: Long): Int = {
      import spark.implicits._
      val v = a.append(spark,
        spark.range(lo, hi).toDF("k").withColumn("v", col("k")).repartition(1))
      g.commit(Map("a" -> v))
    }
    cut(0, 10); cut(10, 20); cut(20, 30) // group v1..v3, member v1..v3
    val dry = spark.sql(s"VACUUM GROUP ${q(root)} RETAIN 2 VERSIONS DRY RUN").head()
    assert(dry.getInt(1) == 1, s"dry run must REPORT the expired cut: $dry")
    // …but touch nothing: v1 still readable in full
    assert(g.read(spark, "a", Seq("k"), Some(1)).count() == 10)
    val real = spark.sql(s"VACUUM GROUP ${q(root)} RETAIN 2 VERSIONS").head()
    assert(real.getInt(1) == 1, s"got $real")
    // the RETAINED cut (v2) survives with its full member state…
    assert(g.read(spark, "a", Seq("k"), Some(2)).count() == 20)
    // …and the expired group version is gone
    intercept[Exception] { g.read(spark, "a", Seq("k"), Some(1)).count() }
  }

  test("catalog-resolved txtable scans report manifest stats: small side broadcasts unhinted") {
    import spark.implicits._
    val small = freshTable(8, 1)
    val big = freshTable(4000, 4)
    val plan = spark.sql(
      s"SELECT b.k, b.v, s.v AS sv FROM ${q(big.root)} b " +
        s"JOIN ${q(small.root)} s ON b.k = s.k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"8-row txtable side should plan broadcast from manifest stats:\n$plan")
  }
}
