package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** File-level conflict detection on copy-on-write commits
  * ([[graft.tables.TxTable]] commitCow, with the fresh-file guard the
  * DML's one WHERE classification derives): a merge/delete/compact that
  * loses the publish race REBASES across concurrent commits proven
  * disjoint (none of the files it read were touched, nothing landed
  * inside its key range) instead of aborting on the version counter —
  * the Delta/Iceberg optimistic-concurrency shape, and at scale the
  * difference between background maintenance that coexists with
  * streaming ingest and one that livelocks against every micro-batch.
  * Abort-on-real-conflict stays pinned in TxTableSpec; this spec pins
  * the rebase side: disjoint commits land, their files carry forward BY
  * NAME, and every row from both writers survives. */
class TxRebaseSpec extends AnyFunSuite with SparkFixture {

  private def fresh(): TxTable = {
    val root = Files.createTempDirectory("graft_rebase").toString
    new TxTable(root, Seq("k"))
  }

  /** rows keyed [lo, hi), v = k * 10, range-partitioned into `parts`
    * files (TxTableSpec's fixture shape). */
  private def keyed(lo: Long, hi: Long, parts: Int) = {
    import spark.implicits._
    spark.range(lo, hi).toDF("k")
      .withColumn("v", col("k") * 10)
      .repartitionByRange(parts, col("k"))
  }

  test("merge rebases across a disjoint concurrent append; nothing is lost") {
    val t = fresh()
    t.append(spark, keyed(0, 100, 2))
    import spark.implicits._
    val src = spark.range(0, 5).toDF("k").withColumn("v", lit(-1L))
    val stale = t.snapshot()
    t.append(spark, keyed(500, 510, 1)) // v2: keys disjoint from src [0,4]
    val appended = t.snapshot().files.map(_.path).toSet -- stale.files.map(_.path).toSet
    val res = t.mergeFrom(spark, stale, src, "k") // must NOT abort
    assert(res.version == 3, s"rebase should publish v3, got ${res.version}")
    // the concurrent append's file is carried into the manifest BY NAME
    assert(appended.subsetOf(t.snapshot().files.map(_.path).toSet),
      "the disjoint append's file must survive the rebased merge by name")
    val got = t.read(spark).select(col("k"), col("v"))
      .as[(Long, Long)](spark.implicits.newProductEncoder).collect().toMap
    assert(got.size == 110, "both writers' rows must be present")
    assert((0L until 5L).forall(got(_) == -1L), "merged updates applied")
    assert((5L until 100L).forall(k => got(k) == k * 10))
    assert((500L until 510L).forall(k => got(k) == k * 10),
      "concurrent append's rows survive")
  }

  test("merge rebases across TWO interleaved disjoint commits") {
    val t = fresh()
    t.append(spark, keyed(0, 100, 2))
    import spark.implicits._
    val src = spark.range(0, 5).toDF("k").withColumn("v", lit(-1L))
    val stale = t.snapshot()
    t.append(spark, keyed(500, 510, 1)) // v2
    t.append(spark, keyed(600, 610, 1)) // v3
    val res = t.mergeFrom(spark, stale, src, "k")
    assert(res.version == 4)
    assert(t.read(spark).count() == 120)
  }

  test("merge aborts when a concurrent commit rewrote a file it read") {
    val t = fresh()
    t.append(spark, keyed(0, 100, 2))
    import spark.implicits._
    val src = spark.range(0, 5).toDF("k").withColumn("v", lit(-1L))
    val stale = t.snapshot()
    // concurrent merge of the SAME keys lands first and rewrites the
    // candidate file the stale merge's staged output was derived from
    t.merge(spark, spark.range(2, 4).toDF("k").withColumn("v", lit(-7L)), "k")
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.mergeFrom(spark, stale, src, "k")
    }
    assert(ex.getMessage.contains("rewritten"))
    // and the winner's update is still there
    val got = t.read(spark).filter(col("k") === 2)
      .select(col("v")).as[Long](spark.implicits.newLongEncoder).collect()
    assert(got.toSeq == Seq(-7L))
  }

  test("merge aborts when a candidate file was position-deleted concurrently") {
    val t = fresh()
    t.append(spark, keyed(0, 100, 2))
    import spark.implicits._
    val src = spark.range(0, 5).toDF("k").withColumn("v", lit(-1L))
    val stale = t.snapshot()
    // DV lands on the candidate file: same path, new (path, dv) identity —
    // the stale merge's rewrite would resurrect the deleted row
    t.deletePositional(spark, "k", 7, 7)
    intercept[java.util.ConcurrentModificationException] {
      t.mergeFrom(spark, stale, src, "k")
    }
    assert(t.read(spark).filter(col("k") === 7).count() == 0,
      "the concurrent positional delete must not be resurrected")
  }

  test("merge aborts when the constraint set changed concurrently") {
    val t = fresh()
    t.append(spark, keyed(0, 100, 2))
    import spark.implicits._
    val src = spark.range(200, 205).toDF("k").withColumn("v", lit(1L))
    val stale = t.snapshot()
    t.addConstraint(spark, "v >= 0") // v2: metadata-only, touches no file
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.mergeFrom(spark, stale, src, "k")
    }
    assert(ex.getMessage.contains("constraint"))
  }

  test("an evolving merge aborts when the declared schema changed concurrently") {
    // a metadata-only addColumn adds no files, so the fresh-file guard
    // can't see it — re-committing an evolution derived from the stale
    // declaration would silently clobber the concurrent ADD COLUMN
    val t = fresh()
    import spark.implicits._
    t.append(spark, keyed(0, 100, 2))
    t.declareMeta(t.read(spark).schema)
    val stale = t.snapshot()
    t.addColumn(spark, "note", org.apache.spark.sql.types.LongType) // no files
    val src = spark.range(200, 205).toDF("k")
      .withColumn("v", lit(1L)).withColumn("w", lit(2L)) // forces evolution
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.mergeFrom(spark, stale, src, "k")
    }
    assert(ex.getMessage.contains("schema"), ex.getMessage)
    assert(t.snapshot().meta.exists(_.schema.fieldNames.contains("note")),
      "the concurrent ADD COLUMN must survive")
    // a NON-evolving merge (meta = None) still rebases straight through
    val stale2 = t.snapshot()
    t.addColumn(spark, "note2", org.apache.spark.sql.types.LongType)
    val r = t.mergeFrom(spark, stale2,
      spark.range(300, 305).toDF("k").withColumn("v", lit(1L)), "k")
    assert(r.version > 0)
    assert(t.snapshot().meta.exists(_.schema.fieldNames.contains("note2")))
  }

  test("delete rebases across a disjoint concurrent append") {
    val t = fresh()
    t.append(spark, keyed(0, 100, 2))
    val base = t.snapshot()
    t.append(spark, keyed(500, 510, 1)) // outside the delete range
    val res = t.deleteWhereFrom(spark, base, "k BETWEEN 0 AND 49")
    assert(res.version == 3)
    import spark.implicits._
    val got = t.read(spark).select(col("k"))
      .as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq
    assert(got == ((50L until 100L) ++ (500L until 510L)),
      "victims gone, survivors and the concurrent append intact")
  }

  test("compaction rebases across a concurrent append and never drops it") {
    val t = fresh()
    (0 until 4).foreach(i => t.append(spark, keyed(i * 10L, i * 10L + 10L, 1)))
    val base = t.snapshot() // v4: four 10-row files, all "small"
    t.append(spark, keyed(900, 910, 1)) // v5 lands mid-compaction
    val freshPaths = t.snapshot().files.map(_.path).toSet -- base.files.map(_.path).toSet
    val res = t.compactFrom(spark, base, smallRows = 100)
    assert(res.version == 6)
    assert(res.rewrittenFiles == 4, "only the base's small files were packed")
    // the concurrent micro-batch file is carried by name, uncompacted —
    // a background optimizer must never abort against (or swallow) live
    // ingest it didn't read
    assert(freshPaths.subsetOf(t.snapshot().files.map(_.path).toSet))
    import spark.implicits._
    val got = t.read(spark).select(col("k"))
      .as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq
    assert(got == ((0L until 40L) ++ (900L until 910L)))
  }

  test("non-stat merge key: all files are candidates, result matches the stat-keyed path") {
    // the same data merged twice — once on the stat column k, once on a
    // duplicate column k2 with NO stats. The non-stat path must degrade
    // (every file a rewrite candidate, keptFiles == 0), never refuse,
    // and produce identical content.
    import spark.implicits._
    def data = spark.range(0, 100).toDF("k")
      .withColumn("k2", col("k")).withColumn("v", col("k") * 10)
      .repartitionByRange(4, col("k"))
    val a = fresh(); a.append(spark, data)
    val b = fresh(); b.append(spark, data)
    val src = spark.range(0, 5).toDF("k")
      .withColumn("k2", col("k")).withColumn("v", lit(-1L))
    val ra = a.merge(spark, src, "k")   // stat-pruned: 3 of 4 files kept
    val rb = b.merge(spark, src, "k2")  // degraded: every file rewritten
    assert(ra.keptFiles == 3 && ra.rewrittenFiles == 1, s"stat path: $ra")
    assert(rb.keptFiles == 0 && rb.rewrittenFiles == 4,
      s"non-stat key must class EVERY file a candidate, got $rb")
    assert(a.read(spark).collect().toSet == b.read(spark).collect().toSet,
      "degraded and pruned merges must agree on content")
  }

  test("non-stat merge key: every concurrent append conflicts (no interval, no rebase)") {
    import spark.implicits._
    val t = fresh()
    t.append(spark, spark.range(0, 100).toDF("k")
      .withColumn("k2", col("k")).withColumn("v", col("k") * 10)
      .repartitionByRange(2, col("k")))
    val src = spark.range(0, 5).toDF("k")
      .withColumn("k2", col("k")).withColumn("v", lit(-1L))
    val stale = t.snapshot()
    // concurrent append with keys FAR from the source's — still conflicts:
    // k2 carries no stats, nothing proves the fresh file disjoint
    t.append(spark, spark.range(900, 910).toDF("k")
      .withColumn("k2", col("k")).withColumn("v", col("k") * 10))
    intercept[java.util.ConcurrentModificationException] {
      t.mergeFrom(spark, stale, src, "k2")
    }
  }

  test("statless concurrent files conservatively conflict with a keyed rewrite") {
    // a concurrent append with NO stats for the merge key proves nothing
    // about its key range — the rebase must refuse, not guess
    val root = Files.createTempDirectory("graft_rebase").toString
    val t = new TxTable(root, Seq("k"))
    t.append(spark, keyed(0, 100, 2))
    import spark.implicits._
    val src = spark.range(0, 5).toDF("k").withColumn("v", lit(-1L))
    val stale = t.snapshot()
    new TxTable(root, Nil).append(spark, keyed(500, 510, 1)) // statless writer
    intercept[java.util.ConcurrentModificationException] {
      t.mergeFrom(spark, stale, src, "k")
    }
  }
}
