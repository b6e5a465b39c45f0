package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** The transactional table layer's ACID/skipping contract
  * ([[graft.tables.TxTable]], SURVEY §2.16):
  * append/read equality, crash invisibility (data files without a
  * manifest do not exist), optimistic-concurrency appends under a real
  * race, time travel, copy-on-write merge that provably keeps untouched
  * files, and manifest min/max skipping that provably drops files while
  * returning the exact filtered answer. */
class TxTableSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(statCols: Seq[String] = Seq("k")): TxTable = {
    val root = Files.createTempDirectory("graft_txtable").toString
    new TxTable(root, statCols)
  }

  /** n rows keyed [lo, hi), value = k * 10, range-partitioned into
    * `parts` files so per-file key ranges are disjoint. */
  private def keyed(lo: Long, hi: Long, parts: Int) = {
    import spark.implicits._
    spark.range(lo, hi).toDF("k")
      .withColumn("v", col("k") * 10)
      .repartitionByRange(parts, col("k"))
  }

  test("append then read returns exactly the committed rows; versions advance") {
    val t = freshTable()
    assert(t.currentVersion == 0)
    assert(t.append(spark, keyed(0, 100, 2)) == 1)
    assert(t.append(spark, keyed(100, 150, 1)) == 2)
    val got = t.read(spark).select(col("k"), col("v"))
      .as[(Long, Long)](spark.implicits.newProductEncoder).collect().sorted
    assert(got.toSeq == (0L until 150L).map(k => (k, k * 10)))
  }

  test("data files without a manifest are invisible (crashed writer leaves no trace)") {
    val t = freshTable()
    t.append(spark, keyed(0, 50, 1))
    // simulate a writer that died after staging data but before commit:
    // drop a well-formed parquet file straight into data/
    val orphanDir = Files.createTempDirectory("graft_orphan").resolve("out").toString
    keyed(900, 950, 1).write.parquet(orphanDir)
    val orphan = Option(Paths.get(orphanDir).toFile.listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.move(orphan.toPath,
      Paths.get(t.root, "data", "deadbeef-orphan.parquet"))
    assert(t.read(spark).count() == 50) // snapshot unchanged
    assert(t.currentVersion == 1)
  }

  test("concurrent appends both commit via retry; result is the union") {
    val t = freshTable()
    t.append(spark, keyed(0, 10, 1))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def racer(lo: Long): java.util.concurrent.Future[Int] =
      pool.submit { () =>
        gate.await(10, TimeUnit.SECONDS)
        t.append(spark, keyed(lo, lo + 10, 1))
      }
    val (a, b) = (racer(100), racer(200))
    gate.countDown()
    val versions = Set(a.get(120, TimeUnit.SECONDS), b.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions == Set(2, 3), "both racers must land distinct versions")
    val keys = t.read(spark).select(col("k"))
      .as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq
    assert(keys == ((0L until 10L) ++ (100L until 110L) ++ (200L until 210L)))
  }

  test("time travel: versionAsOf reads the historical snapshot unchanged by later commits") {
    val t = freshTable()
    t.append(spark, keyed(0, 20, 1))
    t.overwrite(spark, keyed(50, 60, 1))
    assert(t.read(spark).count() == 10)
    val v1 = t.read(spark, versionAsOf = Some(1))
      .select(col("k")).as[Long](spark.implicits.newLongEncoder).collect().sorted
    assert(v1.toSeq == (0L until 20L))
  }

  test("merge is copy-on-write: untouched files survive by name, result is the exact upsert") {
    val t = freshTable()
    t.append(spark, keyed(0, 400, 4)) // 4 disjoint key-range files
    val before = t.snapshot().files.map(_.path).toSet
    // updates hit only keys [0, 50); inserts land above the max key
    import spark.implicits._
    val src = spark.range(0, 50).toDF("k")
      .withColumn("v", lit(-1L))
      .unionByName(spark.range(1000, 1010).toDF("k").withColumn("v", lit(-2L)))
    val res = t.merge(spark, src, "k")
    assert(res.rewrittenFiles < 4, "merge must not rewrite every file")
    assert(res.keptFiles + res.rewrittenFiles == 4)
    val after = t.snapshot().files.map(_.path).toSet
    assert((before & after).size == res.keptFiles,
      "kept files must be carried into the new manifest by name")
    val got = t.read(spark).select(col("k"), col("v"))
      .as[(Long, Long)](spark.implicits.newProductEncoder).collect().toMap
    assert(got.size == 410)
    assert((0L until 50L).forall(got(_) == -1L))
    assert((50L until 400L).forall(k => got(k) == k * 10))
    assert((1000L until 1010L).forall(got(_) == -2L))
  }

  test("merge that loses the race to an OVERLAPPING commit aborts instead of clobbering") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 2))
    import spark.implicits._
    val src = spark.range(0, 5).toDF("k").withColumn("v", lit(-1L))
    // deterministic interleaving via the mergeFrom seam: read the base
    // snapshot, let a competing append land rows INSIDE the source's key
    // range, then try to publish the merge against the now-stale base —
    // conflict detection must abort (the merge would have matched the
    // concurrent rows and its staged rewrite never saw them). Disjoint
    // interleavings rebase instead — TxRebaseSpec.
    val stale = t.snapshot()
    assert(stale.version == 1)
    t.append(spark, keyed(3, 8, 1)) // version 2 lands first, keys overlap src
    intercept[java.util.ConcurrentModificationException] {
      t.mergeFrom(spark, stale, src, "k")
    }
    // the table is untouched by the failed merge and still mergeable
    assert(t.currentVersion == 2)
    val ok = t.merge(spark, src, "k")
    assert(ok.version == 3)
    val got = t.read(spark).filter(col("k") < 5)
      .select(col("v")).as[Long](spark.implicits.newLongEncoder).collect()
    // the re-run merge saw BOTH copies of the raced keys (base + the
    // concurrent append's 3,4) and collapsed each matched KEY to its
    // single source row — exactly the rows the aborted merge would
    // have missed
    assert(got.length == 5 && got.forall(_ == -1L))
  }

  test("min/max skipping prunes files and still returns the exact filtered answer") {
    val t = freshTable()
    t.append(spark, keyed(0, 1000, 10)) // 10 disjoint key-range files
    val pr = t.readWhere(spark, "k", 250, 349)
    assert(pr.filesTotal == 10)
    assert(pr.filesScanned <= 2, s"expected <=2 files, scanned ${pr.filesScanned}")
    val viaSkip = pr.df.select(col("k"), col("v"))
      .as[(Long, Long)](spark.implicits.newProductEncoder).collect().sorted.toSeq
    val viaFull = t.read(spark).filter(col("k") >= 250 && col("k") <= 349)
      .select(col("k"), col("v"))
      .as[(Long, Long)](spark.implicits.newProductEncoder).collect().sorted.toSeq
    assert(viaSkip == viaFull)
    assert(viaSkip.size == 100)
    // an empty-range probe scans zero files but still answers
    val none = t.readWhere(spark, "k", 5000, 6000)
    assert(none.filesScanned == 0 && none.df.count() == 0)
  }

  test("delete drops covered files metadata-only, rewrites straddlers, keeps the rest by name") {
    val t = freshTable()
    t.append(spark, keyed(0, 1000, 10)) // files of 100 keys: [0,100), [100,200), ...
    val before = t.snapshot().files.map(_.path).toSet
    // [150, 449]: straddles the [100,200) and [400,500) files, fully
    // covers [200,300) and [300,400)
    val r = t.delete(spark, "k", 150, 449)
    assert(r.droppedFiles == 2, s"expected 2 metadata-only drops, got $r")
    assert(r.rewrittenFiles == 2, s"expected 2 straddler rewrites, got $r")
    assert(r.keptFiles == 6, s"expected 6 untouched files, got $r")
    val after = t.snapshot()
    assert(after.version == 2)
    // kept files are carried BY NAME — never copied
    assert(after.files.map(_.path).toSet.intersect(before).size == 6)
    val got = t.read(spark).select(col("k"))
      .as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq
    assert(got == ((0L until 150L) ++ (450L until 1000L)),
      "survivors must be exactly the rows outside the delete range")
    // time travel still sees the pre-delete content
    assert(t.read(spark, versionAsOf = Some(1)).count() == 1000)
    // a delete whose range is provably absent is a no-op commit: all kept
    // (6 carried + 1 rewrite — the optimized write coalesces the two
    // tiny straddler rewrites into one file)
    val r2 = t.delete(spark, "k", 5000, 6000)
    assert(r2.droppedFiles == 0 && r2.rewrittenFiles == 0 && r2.keptFiles == 7)
  }

  test("delete that loses the race to an overlapping commit aborts instead of clobbering") {
    val t = freshTable()
    t.append(spark, keyed(0, 100, 2))
    // competing append lands rows INSIDE the delete range between our
    // snapshot read and publish: those rows would be silent survivors —
    // conflict detection must surface the race (disjoint appends
    // rebase — TxRebaseSpec)
    val base = t.snapshot()
    t.append(spark, keyed(10, 20, 1))
    intercept[java.util.ConcurrentModificationException] {
      t.deleteWhereFrom(spark, base, "k BETWEEN 0 AND 49")
    }
    // the failed delete left the table intact (its staged rewrite is
    // invisible garbage, the competing append's rows all present)
    assert(t.read(spark).count() == 110)
  }

  test("q_table_skip's gate query really skips files, not just rows") {
    val pr = graft.queries.TableOps.skipPruned(spark, "/root/testdata/sf0.001")
    assert(pr.filesTotal >= 8, s"expected a many-file table, got ${pr.filesTotal}")
    assert(pr.filesScanned < pr.filesTotal,
      s"no files were skipped (${pr.filesScanned}/${pr.filesTotal})")
    assert(pr.filesScanned <= 6,
      s"user_id in [2,4] should hit a handful of range files, not ${pr.filesScanned}")
  }

  test("q_table_delete's gate query classifies files from stats, not a full rewrite") {
    val (r, _) = graft.queries.TableOps.deleteApplied(spark, "/root/testdata/sf0.001")
    val total = r.droppedFiles + r.rewrittenFiles + r.keptFiles
    assert(total >= 8, s"expected a many-file table, got $r")
    assert(r.keptFiles >= 1, s"disjoint files must be carried by name, got $r")
    assert(r.droppedFiles + r.rewrittenFiles < total,
      s"a 5-user delete must not touch every file, got $r")
    assert(r.droppedFiles >= 1,
      s"range files fully inside [3,7] should leave metadata-only, got $r")
  }

  /** One file per append; `j` is banded per append (the ingest-order
    * column nobody declared stats on), `k` scattered. */
  private def banded(lo: Long, hi: Long) = {
    import spark.implicits._
    spark.range(lo, hi).toDF("j")
      .withColumn("k", col("j") % 7)
      .repartition(1)
  }

  test("evolveStats is manifest-only: files kept by name, new-column pruning enabled, history intact") {
    val t = freshTable(Seq("k"))
    (0 until 4).foreach(b => t.append(spark, banded(b * 100L, b * 100L + 100L)))
    val before = t.snapshot()
    val wide = new TxTable(t.root, Seq("k", "j"))
    // pre-evolution: no file carries j stats, so a j probe must
    // conservatively scan everything — and still answer exactly
    val pre = wide.readWhere(spark, "j", 150, 249)
    assert(pre.filesScanned == pre.filesTotal && pre.filesTotal == 4)
    assert(pre.df.count() == 100)
    assert(wide.evolveStats(spark, Seq("j")) == before.version + 1)
    val after = wide.snapshot()
    assert(after.files.map(_.path).sorted == before.files.map(_.path).sorted,
      "evolution must not rewrite or rename a single data file")
    // the same probe now prunes to the two bands it intersects
    val post = wide.readWhere(spark, "j", 150, 249)
    assert(post.filesScanned == 2 && post.filesTotal == 4)
    assert(post.df.select(col("j")).as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq == (150L to 249L))
    // pre-evolution snapshot still time-travels
    assert(wide.read(spark, Some(before.version)).count() == 400)
  }

  test("files appended after evolution by a narrow writer are conservatively scanned; delete/merge stay sound") {
    val narrow = freshTable(Seq("k"))
    narrow.append(spark, banded(0, 100))
    val wide = new TxTable(narrow.root, Seq("k", "j"))
    wide.evolveStats(spark, Seq("j"))
    narrow.append(spark, banded(100, 200)) // carries NO j stats
    // probe disjoint from the evolved file's j range: that file is
    // pruned, the stat-less file must be scanned (no stats = no proof)
    val pr = wide.readWhere(spark, "j", 150, 199)
    assert(pr.filesScanned == 1 && pr.filesTotal == 2)
    assert(pr.df.count() == 50)
    // delete in the stat-less file's range: evolved file provably kept,
    // stat-less file lands in the rewrite class (never metadata-dropped)
    val d = wide.delete(spark, "j", 150, 199)
    assert(d.keptFiles == 1 && d.droppedFiles == 0 && d.rewrittenFiles == 1)
    assert(wide.read(spark).count() == 150)
    // merge keyed on j: the remaining stat-less rewrite output has stats
    // (written by the wide instance)... rebuild the mixed state first
    narrow.append(spark, banded(200, 300)) // stat-less again
    import spark.implicits._
    val src = Seq((250L, 999L)).toDF("j", "k")
    val m = wide.merge(spark, src, "j")
    assert(m.rewrittenFiles >= 1, "the stat-less file must be a merge candidate")
    val got = wide.read(spark).filter(col("j") === 250)
      .select(col("k")).as[Long](spark.implicits.newLongEncoder).collect().toSeq
    assert(got == Seq(999L))
  }

  test("clusterZorder quantizes columns outside [0, 2^16) content-preservingly") {
    // round-13: the former loud refusal became a 16-bit rescale from
    // the manifest's own min/max (monotone, so raw-value pruning
    // survives — TxStreamSinkSpec pins that); negative domains included
    val t = freshTable(Seq("k", "v"))
    t.append(spark, keyed(-50, 50, 2)) // v = k*10 spans [-500, 490]
    val before = t.read(spark).collect().map(_.toSeq).toSet
    val r = t.clusterZorder(spark, "k", "v", 2)
    assert(r.newFiles == 2)
    assert(t.read(spark).collect().map(_.toSeq).toSet == before,
      "quantized z-order must preserve content bit-exactly")
    // missing stats still refuse: quantization needs the interval
    val t2 = freshTable(Seq("k"))
    t2.append(spark, keyed(0, 50, 1))
    val e = intercept[IllegalArgumentException] {
      t2.clusterZorder(spark, "k", "v", 2) // v is not a stat column
    }
    assert(e.getMessage.contains("stat columns"))
  }

  test("CHECK constraints: declared once, enforced by every writer, violations leave the table whole") {
    val t = freshTable()
    t.append(spark, keyed(0, 50, 1))
    t.addConstraint(spark, "k >= 0 AND v = k * 10")
    // a fresh writer on the same root inherits the constraint from the
    // manifest — no out-of-band coordination
    val w2 = new TxTable(t.root, Seq("k"))
    w2.append(spark, keyed(50, 60, 1)) // valid rows pass
    val vBefore = t.currentVersion
    val bad = spark.range(0, 5).toDF("k").withColumn("v", lit(7L))
    val e = intercept[IllegalArgumentException] { w2.append(spark, bad) }
    assert(e.getMessage.contains("CHECK"))
    assert(t.currentVersion == vBefore, "a rejected write must commit nothing")
    assert(t.read(spark).count() == 60)
    // the rejected write's staged data was reclaimed, not stranded
    assert(Option(Paths.get(t.root, "data").toFile.listFiles()).get
      .forall(f => !f.getName.startsWith("stage-")))
  }

  test("a constraint the existing data violates cannot be declared") {
    val t = freshTable()
    t.append(spark, keyed(-5, 5, 1))
    val e = intercept[IllegalArgumentException] { t.addConstraint(spark, "k >= 0") }
    assert(e.getMessage.contains("existing data violates"))
    assert(t.snapshot().constraints.isEmpty)
  }

  test("merge is held to constraints: a schema-evolved source that would land NULLs aborts whole") {
    import spark.implicits._
    val t = freshTable()
    t.append(spark, keyed(0, 20, 2))
    t.addConstraint(spark, "v IS NOT NULL")
    // source misses v entirely: its matched rows would land v = NULL
    val src = Seq(5L).toDF("k")
    intercept[IllegalArgumentException] { t.merge(spark, src, "k") }
    val got = t.read(spark).filter(col("k") === 5)
      .select(col("v")).as[Long](spark.implicits.newLongEncoder).collect().toSeq
    assert(got == Seq(50L), "the aborted merge must leave the old row intact")
  }

  test("q_table_evolve's gate query prunes on the evolved column, not just rows") {
    val pr = graft.queries.TableOps.evolvePruned(spark, "/root/testdata/sf0.001")
    assert(pr.filesTotal >= 8, s"expected a many-file table, got ${pr.filesTotal}")
    assert(pr.filesScanned < pr.filesTotal,
      s"evolution enabled no skipping (${pr.filesScanned}/${pr.filesTotal})")
    assert(pr.filesScanned <= 4,
      s"one event_id band should hit one append's files, not ${pr.filesScanned}")
  }
}
