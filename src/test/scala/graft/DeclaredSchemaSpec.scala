package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** First-write schema declaration + the snapshot memo (round 15): every
  * table BORN through append/overwrite carries its schema in the
  * manifest from commit 1 — the lakehouse contract that lets every read
  * plan under the declaration instead of firing a footer-inference job
  * (at manifest scale: one log line vs a million parquet footers), and
  * lets later appends evolve through the same add/widen rules with
  * conflicts refused at WRITE time. Pins: the declaration exists and
  * matches, a read schedules NO inference job, append-to-append
  * evolution still widens/NULL-backfills (the old mergeSchema-at-read
  * outcome, now by declaration), a conflicting type refuses loudly, and
  * the process-wide snapshot memo can never serve a deleted-and-
  * re-created table's old state (the (size, mtime) stamp guard). */
class DeclaredSchemaSpec extends AnyFunSuite with SparkFixture {

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).toDF("user_id").withColumn("v", col("user_id") * 3 % 50)

  test("an append-born table declares the frame's schema at commit 1") {
    val t = new TxTable(Files.createTempDirectory("graft_decl1").toString, Seq("user_id"))
    t.append(spark, rows(0, 20))
    val meta = t.snapshot().meta
    assert(meta.nonEmpty, "first append must declare the schema")
    assert(meta.get.schema.fieldNames.toSeq == Seq("user_id", "v"))
  }

  test("a declared-schema read schedules no footer-inference job") {
    val t = new TxTable(Files.createTempDirectory("graft_decl2").toString, Seq("user_id"))
    t.append(spark, rows(0, 50).repartition(4))
    t.read(spark).count() // settle the session's first-use jobs
    val (n, jobs) = JobMeter.measure(spark)(t.read(spark).count())
    assert(n == 50)
    // a mergeSchema read schedules a footer-merge job whose call site
    // is the `.parquet(...)` line inside TxTable — the declared read
    // must go straight to the count job(s)
    val snap = jobs.flatMap(_.stages)
    assert(snap.nonEmpty, "listener saw no jobs")
    assert(!snap.exists(_.startsWith("parquet at Tx")),
      s"declared read must plan from the manifest schema, saw: $snap")
  }

  test("append-to-append evolution: new column NULL-backfills, conflict refuses") {
    val t = new TxTable(Files.createTempDirectory("graft_decl3").toString, Seq("user_id"))
    t.append(spark, rows(0, 10))
    t.append(spark, rows(10, 15).withColumn("extra", lit("x")))
    val df = t.read(spark)
    assert(df.columns.toSeq == Seq("user_id", "v", "extra"))
    assert(df.filter(col("extra").isNull).count() == 10, "old rows NULL-backfill")
    assert(df.filter(col("extra") === "x").count() == 5)
    assert(t.snapshot().meta.get.schema.fieldNames.contains("extra"),
      "the evolved declaration rides the append commit")
    val bad = rows(20, 22).withColumn("extra", lit(7.5)) // string vs double
    val e = intercept[IllegalArgumentException](t.append(spark, bad))
    assert(e.getMessage.contains("extra"),
      s"type conflict must refuse naming the column, got: ${e.getMessage}")
  }

  test("the snapshot memo never serves a deleted-and-re-created table's old state") {
    val root = Files.createTempDirectory("graft_decl4").toString
    val t1 = new TxTable(root, Seq("user_id"))
    t1.append(spark, rows(0, 30))
    assert(t1.snapshot().files.nonEmpty) // populate the memo
    assert(t1.read(spark).count() == 30)
    // wipe and re-create AT THE SAME PATH with different content
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(root))
    val t2 = new TxTable(root, Seq("user_id"))
    t2.append(spark, rows(100, 105))
    assert(t2.snapshot().files.nonEmpty)
    assert(t2.read(spark).count() == 5,
      "the re-created table must read its own content, not the memoized old state")
    assert(t2.read(spark).agg(min(col("user_id"))).head().getLong(0) == 100)
  }
}
