package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** Merge-on-read DELETION VECTORS ([[TxTable.deletePositional]], SURVEY
  * §2.17): positional deletes that rewrite nothing — victims recorded as
  * (file, row position) and anti-joined out at read time — plus the
  * maintenance path that folds the vectors back in. Pins the file
  * accounting (zero rewrites), content exactness across stacked deletes,
  * no-resurrection through merge/compact/materialize, snapshot
  * isolation, CDC refusal, and vacuum reclamation of dead vectors. */
class DvSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): TxTable =
    new TxTable(Files.createTempDirectory("graft_dv").toString, Seq("k"))

  private def keyed(lo: Long, hi: Long, parts: Int) = {
    import spark.implicits._
    spark.range(lo, hi).toDF("k")
      .withColumn("v", col("k") * 10)
      .repartitionByRange(parts, col("k"))
  }

  private def keysOf(t: TxTable, v: Option[Int] = None): Seq[Long] =
    t.read(spark, v).select(col("k"))
      .as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq

  test("positional delete rewrites nothing: dropped/dv/kept accounting and exact content") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10)) // 10 disjoint range files
    val before = t.snapshot().files.map(_.path).toSet
    val r = t.deletePositional(spark, "k", 35, 54)
    // file [30,39] straddles, [40,49] covered, [50,59] straddles
    assert(r.droppedFiles == 1 && r.dvFiles == 2 && r.keptFiles == 7)
    val after = t.snapshot().files
    assert(after.map(_.path).toSet.subsetOf(before), "a positional delete must write no data file")
    assert(after.count(_.dv.nonEmpty) == 2)
    assert(keysOf(t) == ((0L to 34L) ++ (55L until 100L)))
    // snapshot isolation: the pre-delete version still reads everything
    assert(keysOf(t, Some(1)) == (0L until 100L))
  }

  test("stacked positional deletes union their vectors; nothing resurrects") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10))
    t.deletePositional(spark, "k", 35, 54)
    val r2 = t.deletePositional(spark, "k", 30, 32) // same straddler again
    assert(r2.dvFiles == 1 && r2.droppedFiles == 0)
    assert(keysOf(t) == ((0L to 29L) ++ Seq(33L, 34L) ++ (55L until 100L)))
    // merge through the DV'd file: update a survivor, victims stay gone
    import spark.implicits._
    val src = Seq((33L, 999L)).toDF("k", "v")
    t.merge(spark, src, "k")
    val got = t.read(spark).filter(col("k") === 33)
      .select(col("v")).as[Long](spark.implicits.newLongEncoder).collect().toSeq
    assert(got == Seq(999L))
    assert(keysOf(t) == ((0L to 29L) ++ Seq(33L, 34L) ++ (55L until 100L)),
      "the merge rewrite resurrected deleted rows")
  }

  test("materializeDeletes rewrites only DV'd entries; vacuum reclaims dead vectors") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10))
    t.deletePositional(spark, "k", 35, 54)
    val expect = (0L to 34L) ++ (55L until 100L)
    val m = t.materializeDeletes(spark)
    assert(m.rewrittenFiles == 2 && m.keptFiles == 7)
    assert(t.snapshot().files.forall(_.dv.isEmpty), "vectors must be folded in")
    assert(keysOf(t) == expect)
    // a second materialize is a no-op
    assert(t.materializeDeletes(spark).rewrittenFiles == 0)
    // vacuum past the DV history: dead data files AND dead vectors go
    val dataFiles = Option(java.nio.file.Paths.get(t.root, "data").toFile.listFiles()).get
    assert(dataFiles.exists(_.getName.startsWith("dv-")), "the vector file exists pre-vacuum")
    val (deleted, _) = t.vacuum(retainVersions = 1)
    assert(deleted >= 3, s"expected old straddlers + covered + vector reclaimed, got $deleted")
    val left = Option(java.nio.file.Paths.get(t.root, "data").toFile.listFiles()).get
    assert(!left.exists(_.getName.startsWith("dv-")), "dead vector survived vacuum")
    assert(keysOf(t) == expect)
  }

  test("compaction folds vectors in while packing") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10)) // 10 files of 10 rows
    t.deletePositional(spark, "k", 35, 54)
    val m = t.compact(spark, smallRows = 1000) // everything is "small"
    assert(m.rewrittenFiles == 9, "all surviving files pack (the covered one is gone)")
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    assert(keysOf(t) == ((0L to 34L) ++ (55L until 100L)))
  }

  test("CDC refuses a positional-delete version by default and skips it under skipChangeCommits") {
    val t = freshTable()
    t.append(spark, keyed(0, 50, 5))    // v1
    t.deletePositional(spark, "k", 12, 17) // v2: entry changed in place
    t.append(spark, keyed(100, 110, 1)) // v3
    val e = intercept[IllegalStateException] { t.changesBetween(spark, 0, 3) }
    assert(e.getMessage.contains("rewrote files"))
    val tagged = t.changesBetween(spark, 0, 3, skipChangeCommits = true)
      .select(col("k"), col("_commit_version"))
      .as[(Long, Long)](spark.implicits.newProductEncoder).collect().toSeq.sorted
    assert(tagged == ((0L until 50L).map(_ -> 1L) ++ (100L until 110L).map(_ -> 3L)),
      "CDC must carry the appends and skip the positional delete whole")
  }

  test("predicate positional delete: metadata drops + vectors, never a rewrite; NULL-safe") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10)) // 10 disjoint range files
    val dataBefore = t.snapshot().files.map(_.path).toSet
    // banded conjunct prunes to [30..59]'s three files; [40,49] is fully
    // covered by the band BUT the modulo residual blocks the metadata
    // drop — all three become vectors
    val r = t.deletePositionalWhere(spark, "k % 2 = 0 AND k BETWEEN 35 AND 54")
    assert(r.droppedFiles == 0 && r.dvFiles == 3 && r.keptFiles == 7, s"got $r")
    assert(t.snapshot().files.map(_.path).toSet == dataBefore,
      "positional delete must not write or drop a data file")
    assert(keysOf(t) == (0L until 100L).filterNot(k => k % 2 == 0 && k >= 35 && k <= 54))
    // a pure band predicate still earns the metadata-only drop class
    val r2 = t.deletePositionalWhere(spark, "k BETWEEN 70 AND 79")
    assert(r2.droppedFiles == 1 && r2.dvFiles == 0, s"got $r2")
    assert(keysOf(t) == (0L until 100L)
      .filterNot(k => k % 2 == 0 && k >= 35 && k <= 54).filterNot(k => k >= 70 && k <= 79))
    // stacking onto already-DV'd files never resurrects
    val r3 = t.deletePositionalWhere(spark, "k % 10 = 7 AND k <= 59")
    assert(r3.dvFiles >= 1 && r3.droppedFiles == 0, s"got $r3")
    assert(keysOf(t) == (0L until 100L)
      .filterNot(k => k % 2 == 0 && k >= 35 && k <= 54)
      .filterNot(k => k >= 70 && k <= 79)
      .filterNot(k => k % 10 == 7 && k <= 59))
  }

  test("q_table_dv's gate query deletes without rewriting a single data file") {
    val (r, _) = graft.queries.TableOps.dvApplied(spark, "/root/testdata/sf0.001")
    // the build is time-partitioned, the delete is user-level: every
    // file straddles — copy-on-write would rewrite the whole table here
    assert(r.dvFiles >= 8, s"the perpendicular delete should DV most files, got $r")
    assert(r.droppedFiles + r.dvFiles + r.keptFiles >= 8, s"expected a many-file table, got $r")
    assert(r.droppedFiles == 0, s"no file is fully covered by a user band in this layout, got $r")
  }

  test("merge-on-read upsert equals copy-on-write merge; zero rewrites; compaction folds") {
    import spark.implicits._
    val cow = freshTable(); val mor = freshTable()
    cow.append(spark, keyed(0, 100, 10))
    mor.append(spark, keyed(0, 100, 10))
    // upsert: replace v for k 20..39, insert k 200..204
    val src = ((20L until 40L) ++ (200L until 205L))
      .map(k => (k, k * 1000)).toDF("k", "v")
    cow.merge(spark, src, "k")
    val r = mor.mergePositional(spark, src, "k")
    assert(r.rewrittenFiles == 0, s"merge-on-read must rewrite nothing: $r")
    val a = cow.read(spark).collect().map(_.toSeq).toSet
    val b = mor.read(spark).collect().map(_.toSeq).toSet
    assert(a == b, "CoW and MoR merges must agree row-for-row")
    // the candidate files carry vectors; untouched files carry clean
    val snap = mor.snapshot()
    assert(snap.files.count(_.dv.isDefined) == 2,
      s"exactly the two key-range candidate files get vectors: " +
        snap.files.filter(_.dv.isDefined).map(_.path))
    // folding the debt flat preserves content
    mor.materializeDeletes(spark)
    assert(mor.read(spark).collect().map(_.toSeq).toSet == a)
    assert(mor.snapshot().files.forall(_.dv.isEmpty))
  }

  // round-14 (verdict #3): DISTRIBUTED per-file deletion vectors — no
  // shared vector, no one-task write funnel, and the SQL fold surface.

  test("per-file vectors: no two files share a vector; untouched candidates stay clean") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10))
    val r = t.deletePositional(spark, "k", 35, 54) // straddlers [30,39] + [50,59]
    assert(r.dvFiles == 2)
    val dvs = t.snapshot().files.flatMap(_.dv)
    assert(dvs.size == 2 && dvs.distinct.size == 2,
      s"each straddler must carry ITS OWN vector, got $dvs")
    // each vector holds ONLY its file's positions (the read-side
    // anti-join never scans other files' victims)
    dvs.foreach { d =>
      val files = spark.read.parquet(s"${t.root}/data/$d")
        .select(col("file")).distinct().collect().map(_.getString(0)).toSeq
      assert(files.size == 1, s"vector $d spans files $files")
    }
    // a later touch stamps only the file it actually hits
    val r2 = t.deletePositionalWhere(spark, "k = 61")
    assert(r2.dvFiles == 1, s"got $r2")
    assert(t.snapshot().files.count(_.dv.nonEmpty) == 3)
    assert(keysOf(t) == (0L until 100L)
      .filterNot(k => k >= 35 && k <= 54).filterNot(_ == 61L))
  }

  test("the vector write fans out one task per candidate file — never a funnel") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10))
    // a perpendicular predicate: every one of the 10 files straddles
    val (_, jobs) = JobMeter.measure(spark)(t.deletePositionalWhere(spark, "k % 10 = 3"))
    val stages = jobs.flatMap(_.tasks).toSet
    assert(stages.contains(10),
      s"the dv write must run one task per candidate file (10), saw stages $stages")
    assert(t.snapshot().files.flatMap(_.dv).distinct.size == 10)
    assert(keysOf(t) == (0L until 100L).filterNot(_ % 10 == 3))
  }

  test("OPTIMIZE MATERIALIZE DELETES folds debt; THRESHOLD folds only heavy files") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 10))
    t.deletePositional(spark, "k", 12, 17) // [10,19]: 6/10 vectored — heavy
    t.deletePositional(spark, "k", 35, 36) // [30,39]: 2/10 vectored — light
    val expect = (0L until 100L)
      .filterNot(k => k >= 12 && k <= 17).filterNot(k => k >= 35 && k <= 36)
    val r = spark.sql(
      s"OPTIMIZE txtable.`${t.root}` MATERIALIZE DELETES THRESHOLD 0.5").head()
    assert(r.getInt(1) == 1, s"only the >50%-vectored file folds: $r")
    assert(t.snapshot().files.count(_.dv.nonEmpty) == 1)
    assert(keysOf(t) == expect)
    val r2 = spark.sql(
      s"OPTIMIZE txtable.`${t.root}` MATERIALIZE DELETES").head()
    assert(r2.getInt(1) == 1, s"the bare statement folds the rest: $r2")
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    assert(keysOf(t) == expect)
  }

  test("plain OPTIMIZE auto-folds a LARGE file past the DV debt threshold") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 2)) // two 50-row files, both "large"
    t.deletePositional(spark, "k", 0, 30) // [0,49]: 31/50 = 62% vectored
    val m = t.compact(spark, smallRows = 10) // size alone nominates nothing
    assert(m.rewrittenFiles == 1,
      s"the dv-heavy file must fold regardless of size: $m")
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    assert(keysOf(t) == (31L until 100L))
  }

  test("merge-on-read update equals copy-on-write update; stacked updates compose") {
    import spark.implicits._
    val cow = freshTable(); val mor = freshTable()
    cow.append(spark, keyed(0, 100, 10))
    mor.append(spark, keyed(0, 100, 10))
    cow.updateWhere(spark, "k BETWEEN 15 AND 24", Seq("v" -> "v + 7"))
    val r = mor.updatePositionalWhere(spark, "k BETWEEN 15 AND 24", Seq("v" -> "v + 7"))
    assert(r.dvFiles == 2 && r.droppedFiles == 0, s"got $r")
    assert(cow.read(spark).collect().map(_.toSeq).toSet ==
      mor.read(spark).collect().map(_.toSeq).toSet,
      "CoW and MoR updates must agree row-for-row")
    // a SECOND MoR update over the same band must see the first's
    // images (not the tombstoned originals) and never resurrect
    mor.updatePositionalWhere(spark, "k BETWEEN 20 AND 29", Seq("v" -> "v * 2"))
    val got = mor.read(spark).select(col("k"), col("v")).collect()
      .map(rr => rr.getLong(0) -> rr.getLong(1)).toMap
    assert(got.size == 100, s"row count drifted: ${got.size}")
    assert(got(15L) == 157 && got(20L) == (207 * 2) && got(25L) == 500 && got(30L) == 300,
      s"stacked MoR updates composed wrong: 15->${got(15L)} 20->${got(20L)} 25->${got(25L)}")
  }
}
