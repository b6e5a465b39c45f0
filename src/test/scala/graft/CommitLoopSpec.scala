package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** The one commit loop every txtable write publishes through, driven by
  * REAL races: the `"publish"` fault seam fires just before a writer's
  * manifest link, and there a second handle on the same root commits a
  * txn-only version, so the link loses put-if-absent exactly as it would
  * to a concurrent process. Per verb: 11 lost races exhaust the loop
  * with a ConcurrentModificationException and leave the before-state;
  * 10 lost races converge to the state a serial run reaches; the two
  * writers that promise it (stream sink, COPY INTO) leave no staged
  * orphan behind. The `"linked"` seam fails a post-link step: a commit
  * whose checkpoint could not be written is still a commit. */
class CommitLoopSpec extends AnyFunSuite with SparkFixture {

  private def fresh(): TxTable = {
    val root = Files.createTempDirectory("graft_commitloop").toString
    new TxTable(root, Seq("k"))
  }

  /** rows keyed [lo, hi), v = k * 10 (TxTableSpec's fixture shape). */
  private def keyed(lo: Long, hi: Long, parts: Int = 1): DataFrame =
    spark.range(lo, hi).toDF("k")
      .withColumn("v", col("k") * 10)
      .repartitionByRange(parts, col("k"))

  /** The next `n` publishes of `t` lose their race to a rival handle. */
  private def race(t: TxTable, n: Int): Unit = {
    val rival = new TxTable(t.root, Seq("k"))
    var left = n
    t.fault = { step =>
      if (step == "publish" && left > 0) {
        left -= 1
        rival.commitTxns(Map("rival" -> (n - left).toLong))
      }
    }
  }

  /** What a reader can observe: the rows and the non-rival watermarks. */
  private def state(t: TxTable): (Seq[String], Map[String, Long]) = {
    val s = t.snapshot()
    val rows =
      if (s.files.isEmpty) Nil
      else t.read(spark).collect().toSeq.map(_.toSeq.mkString("|")).sorted
    (rows, s.txns - "rival")
  }

  private lazy val copySrc: String = {
    val dir = Files.createTempDirectory("graft_commitloop_src").toString
    keyed(700, 710).write.parquet(s"$dir/batch")
    dir
  }

  /** name → (extra setup on top of one 100-row append, the verb). */
  private val verbs: Seq[(String, TxTable => Unit, TxTable => Unit)] = Seq(
    ("append", _ => (), t => { t.append(spark, keyed(100, 110)); () }),
    ("overwrite", _ => (), t => { t.overwrite(spark, keyed(200, 210)); () }),
    ("overwriteTagged", _ => (),
      t => { t.overwriteTagged(spark, keyed(300, 310), Map("mv" -> 3L)); () }),
    ("truncate", _ => (), t => { t.truncateAll(); () }),
    ("merge", _ => (), t => {
      t.merge(spark, keyed(95, 105).withColumn("v", lit(-1L)), "k"); () }),
    ("updateWhere", _ => (),
      t => { t.updateWhere(spark, "k < 10", Seq("v" -> "-v")); () }),
    ("deleteWhere", _ => (),
      t => { t.deleteWhere(spark, "k BETWEEN 20 AND 29"); () }),
    ("restore", t => { t.append(spark, keyed(100, 120)); () },
      t => { t.restore(1); () }),
    ("commitTxns", _ => (), t => { t.commitTxns(Map("app" -> 5L)); () }),
    ("appendBatch", _ => (),
      t => assert(t.appendBatch(spark, keyed(500, 510), "stream", 4L))),
    ("copyInto", _ => (),
      t => assert(t.copyInto(spark, copySrc) == (1, 10L))))

  test("every looping verb: 11 lost races throw and keep the before-state, 10 converge") {
    verbs.foreach { case (name, prep, verb) =>
      val serial = fresh()
      serial.append(spark, keyed(0, 100, 2))
      prep(serial)
      verb(serial)

      val t = fresh()
      t.append(spark, keyed(0, 100, 2))
      prep(t)
      val before = state(t)
      val beforeFiles = t.snapshot().files

      race(t, 11)
      val ex = intercept[java.util.ConcurrentModificationException](verb(t))
      assert(ex.getMessage.contains(t.root), s"$name: ${ex.getMessage}")
      assert(state(t) == before, s"$name: 11 lost races changed the table")
      assert(t.snapshot().files == beforeFiles, s"$name: file list moved")
      if (name == "appendBatch" || name == "copyInto")
        assert(t.orphanFiles().isEmpty, s"$name left staged files behind")

      race(t, 10)
      verb(t)
      t.fault = _ => ()
      assert(state(t) == state(serial), s"$name: 10 lost races did not converge")
    }
  }

  test("a metadata-only verb (retries = 0) aborts on its first lost race") {
    val t = fresh()
    t.append(spark, keyed(0, 10))
    val before = t.snapshot().meta
    race(t, 1)
    intercept[java.util.ConcurrentModificationException] {
      t.addColumn(spark, "note", org.apache.spark.sql.types.LongType)
    }
    t.fault = _ => ()
    assert(t.snapshot().meta == before)
    t.addColumn(spark, "note", org.apache.spark.sql.types.LongType)
    assert(t.snapshot().meta.exists(_.schema.fieldNames.contains("note")))
  }

  test("a checkpoint that fails after the link: the stream batch is committed, readable and exactly-once") {
    val t = fresh()
    t.append(spark, keyed(0, 100, 2))
    (2 to 9).foreach(i => t.commitTxns(Map("pad" -> i.toLong)))
    assert(t.currentVersion == 9) // the batch lands on checkpoint version 10
    t.fault = { step =>
      if (step == "linked" && t.currentVersion % 10 == 0)
        throw new java.io.IOException("No space left on device")
    }
    try {
      assert(t.appendBatch(spark, keyed(500, 510), "stream", 0L))
      assert(t.currentVersion == 10)
      assert(t.read(spark).count() == 110)
      assert(!t.appendBatch(spark, keyed(500, 510), "stream", 0L),
        "the re-delivered batch must be refused")
    } finally t.fault = _ => ()
    val missing = t.snapshot().files.filterNot(f =>
      Files.exists(Paths.get(t.root, "data", f.path)))
    assert(missing.isEmpty, s"referenced files deleted: $missing")
    assert(t.read(spark).filter(col("k") >= 500).count() == 10)
  }
}
