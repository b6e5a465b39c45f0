package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** Randomized differential contract for the arbitrary-predicate DML
  * tier (round 11: [[TxTable.deleteWhere]], [[TxTable.updateWhere]],
  * [[TxTable.deletePositionalWhere]]): every trial draws a predicate
  * from a grammar that mixes PRUNABLE band atoms (on the stat column)
  * with RESIDUAL atoms (modulo, non-stat column), each rendered BOTH as
  * SQL text for the engine and as a Scala closure for the model — so
  * interval extraction, prune-class selection, NULL semantics, and the
  * rewrite/vector write paths are all checked against a ground truth
  * that shares none of their code. The RandomizedDifferentialSpec
  * discipline, applied to mutations. */
class PredicateDmlSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private case class Pred(sql: String, f: (Long, Long, Long) => Boolean)

  private def atom(rnd: scala.util.Random): Pred = rnd.nextInt(7) match {
    case 6 =>
      val vs = Seq.fill(2 + rnd.nextInt(3))(rnd.nextInt(100).toLong).distinct
      Pred(s"k IN (${vs.mkString(", ")})", (k, _, _) => vs.contains(k))
    case 0 =>
      val lo = rnd.nextInt(80).toLong; val hi = lo + rnd.nextInt(40)
      Pred(s"k BETWEEN $lo AND $hi", (k, _, _) => k >= lo && k <= hi)
    case 1 =>
      val c = rnd.nextInt(100).toLong
      Pred(s"k >= $c", (k, _, _) => k >= c)
    case 2 =>
      val c = rnd.nextInt(100).toLong
      Pred(s"k < $c", (k, _, _) => k < c)
    case 3 =>
      val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
      Pred(s"k % $m = $r", (k, _, _) => k % m == r)
    case 4 =>
      val c = rnd.nextInt(1000).toLong
      Pred(s"v >= $c", (_, v, _) => v >= c) // non-stat column: residual
    case 5 =>
      val c = rnd.nextInt(10).toLong
      Pred(s"s = $c", (_, _, s) => s == c) // non-stat column: residual
  }

  private def pred(rnd: scala.util.Random): Pred = {
    val n = 1 + rnd.nextInt(3)
    val atoms = Seq.fill(n)(atom(rnd))
    Pred(atoms.map(_.sql).mkString(" AND "),
      (k, v, s) => atoms.forall(_.f(k, v, s)))
  }

  private def fresh(rnd: scala.util.Random): (TxTable, Seq[(Long, Long, Long)]) = {
    val rows = (0L until 100L).map(k => (k, (k * 13) % 1000, k % 10))
    val t = new TxTable(
      Files.createTempDirectory("graft_preddml").toString, Seq("k"))
    t.append(spark, rows.toDF("k", "v", "s")
      .repartitionByRange(4, col("k"))) // 4 files so pruning has classes
    (t, rows)
  }

  private def content(t: TxTable): Set[(Long, Long, Long)] =
    t.read(spark).select(col("k"), col("v"), col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("randomized deleteWhere equals the filter model (copy-on-write)") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 6) {
      val (t, rows) = fresh(rnd)
      val p = pred(rnd)
      val r = t.deleteWhere(spark, p.sql)
      val want = rows.filterNot(x => p.f(x._1, x._2, x._3)).toSet
      assert(content(t) == want, s"trial $trial predicate `${p.sql}` ($r)")
      // accounting invariant: every class accounted, none negative
      assert(r.droppedFiles >= 0 && r.rewrittenFiles >= 0 && r.keptFiles >= 0)
      assert(r.droppedFiles + r.rewrittenFiles + r.keptFiles == 4,
        s"4 input files must be classified exhaustively, got $r")
    }
  }

  test("randomized deletePositionalWhere equals the filter model (merge-on-read)") {
    val rnd = new scala.util.Random(99887766L)
    for (trial <- 1 to 6) {
      val (t, rows) = fresh(rnd)
      val before = t.snapshot().files.map(_.path).toSet
      val p = pred(rnd)
      t.deletePositionalWhere(spark, p.sql)
      val want = rows.filterNot(x => p.f(x._1, x._2, x._3)).toSet
      assert(content(t) == want, s"trial $trial predicate `${p.sql}`")
      assert(t.snapshot().files.map(_.path).toSet.subsetOf(before),
        "positional delete must never write a data file")
    }
  }

  test("randomized updateWhere equals the conditional-projection model") {
    val rnd = new scala.util.Random(31337L)
    for (trial <- 1 to 6) {
      val (t, rows) = fresh(rnd)
      val p = pred(rnd)
      t.updateWhere(spark, p.sql, Seq("v" -> "v + k", "s" -> "v % 7"))
      // ANSI pre-update-row SET: both rhs read the ORIGINAL row
      val want = rows.map { case (k, v, s) =>
        if (p.f(k, v, s)) (k, v + k, v % 7) else (k, v, s)
      }.toSet
      assert(content(t) == want, s"trial $trial predicate `${p.sql}`")
      assert(t.read(spark).count() == 100, "update must not change cardinality")
    }
  }

  test("IN prunes by its envelope but never earns the metadata-drop class") {
    val rnd = new scala.util.Random(7L)
    val (t, rows) = fresh(rnd) // 4 range files of 25 keys
    // envelope [30, 40] lies inside file [25,49] — prune must keep the
    // other 3 files by name; the one candidate must REWRITE (gaps!),
    // never drop metadata-only, or k=35 would vanish
    val r = t.deleteWhere(spark, "k IN (30, 40)")
    assert(r.keptFiles == 3 && r.droppedFiles == 0 && r.rewrittenFiles == 1,
      s"IN must band-prune without full-coverage drops, got $r")
    assert(content(t) == rows.filterNot(x => x._1 == 30 || x._1 == 40).toSet)
  }

  /** Two files, one holding NULLs in the stat column: file A = k in
    * [10, 19] plus 3 NULL-k rows (non-null range INSIDE the band), file
    * B = k in [50, 59] (disjoint). min/max alone would class A fully
    * covered and silently delete the NULL rows a TRUE-only ANSI DELETE
    * must keep — the round-11 advisory's high finding. */
  private def nullFixture(): (TxTable, Long) = {
    val t = new TxTable(
      Files.createTempDirectory("graft_preddml_null").toString, Seq("k"))
    val a = (10L to 19L).map(k => (Some(k), k * 2)) ++
      Seq((None, 1000L), (None, 1001L), (None, 1002L))
    val b = (50L to 59L).map(k => (Some(k), k * 2))
    t.append(spark, a.toDF("k", "v").coalesce(1))
    t.append(spark, b.toDF("k", "v").coalesce(1))
    (t, 3L)
  }

  test("NULL-stat rows survive deleteWhere: no metadata-only drop of a NULL-holding file") {
    val (t, nNull) = nullFixture()
    val r = t.deleteWhere(spark, "k BETWEEN 0 AND 30")
    // file A's non-null range [10,19] is inside the band, but its NULL
    // rows make full coverage unprovable: it must REWRITE, not drop
    assert(r.droppedFiles == 0 && r.rewrittenFiles == 1 && r.keptFiles == 1,
      s"NULL-holding file must take the rewrite path, got $r")
    val left = t.read(spark)
    assert(left.filter(col("k").isNull).count() == nNull,
      "rows where the predicate evaluates NULL must survive an ANSI DELETE")
    assert(left.count() == nNull + 10)
  }

  test("NULL-stat rows survive the banded delete and deletePositionalWhere") {
    val (t1, nNull) = nullFixture()
    t1.delete(spark, "k", 0L, 30L)
    assert(t1.read(spark).filter(col("k").isNull).count() == nNull,
      "banded delete rewrite must keep NULL-band rows (coalesce, not bare NOT)")
    val (t2, _) = nullFixture()
    val r2 = t2.deletePositionalWhere(spark, "k BETWEEN 0 AND 30")
    assert(r2.droppedFiles == 0,
      s"positional delete must not metadata-drop the NULL-holding file, got $r2")
    assert(t2.read(spark).collect().toSet ==
      t1.read(spark).collect().toSet, "CoW and MoR must agree under NULLs")
  }

  test("zero-null files still earn the metadata-only drop (non-null witness)") {
    val (t, _) = fresh(new scala.util.Random(5L)) // 4 range files, no NULLs
    val r = t.deleteWhere(spark, "k BETWEEN 0 AND 49")
    assert(r.droppedFiles == 2 && r.rewrittenFiles == 0 && r.keptFiles == 2,
      s"recorded nonNull == rows must keep the zero-I/O drop class, got $r")
    // a residual conjunct every row of the first file satisfies: that
    // straddler rewrites to zero survivors and commits no new file
    val (t2, rows) = fresh(new scala.util.Random(5L))
    val hi = t2.snapshot().files.map(_.maxs("k")).min
    val r2 = t2.deleteWhere(spark, s"k BETWEEN 0 AND $hi AND v >= 0")
    assert(r2.droppedFiles == 0 && r2.rewrittenFiles == 1 &&
      r2.keptFiles == 3 && r2.newFiles == 0,
      s"an all-victims straddler must write no file, got $r2")
    assert(content(t2) == rows.filter(_._1 > hi).toSet)
  }

  test("randomized subquery deletes (deleteWhereIn) equal the set model") {
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 6) {
      val (t, rows) = fresh(rnd)
      // key frame: a random subset of [0, 120) — some keys miss the
      // table entirely — plus sometimes a NULL (the ANSI NOT IN trap)
      val ks = Seq.fill(5 + rnd.nextInt(20))(rnd.nextInt(120).toLong).distinct
      val withNull = rnd.nextBoolean()
      val keyDf =
        if (!withNull) ks.toDF("u")
        else ks.toDF("u").unionByName(spark.sql("SELECT CAST(NULL AS BIGINT) AS u"))
      val negate = rnd.nextBoolean()
      t.deleteWhereIn(spark, "k", keyDf, negate)
      val want =
        if (!negate) rows.filterNot(x => ks.contains(x._1)).toSet
        else if (withNull) rows.toSet // NOT IN with a NULL key is never TRUE
        else rows.filter(x => ks.contains(x._1)).toSet
      assert(content(t) == want,
        s"trial $trial negate=$negate withNull=$withNull keys=$ks")
    }
  }

  test("IN-subquery candidates prune per key; NULL-column rows survive") {
    // keys inside one range file's band: the other three carry BY NAME
    val (t, _) = fresh(new scala.util.Random(7L))
    val r = t.deleteWhereIn(spark, "k", Seq(3L, 7L).toDF("u"))
    assert(r.rewrittenFiles == 1 && r.keptFiles == 3,
      s"per-key interval probe must prune disjoint files, got $r")
    assert(t.read(spark).count() == 98)
    // NULL column values: never IN anything, always survive; NOT IN
    // deletes only non-NULL non-matches
    val tn = new TxTable(
      Files.createTempDirectory("graft_subqnull").toString, Seq("k"))
    tn.append(spark, spark.sql(
      "SELECT CAST(id AS BIGINT) AS k, id AS v, id AS s FROM range(10) " +
        "UNION ALL SELECT CAST(NULL AS BIGINT), CAST(99 AS BIGINT), CAST(0 AS BIGINT)"))
    tn.deleteWhereIn(spark, "k", Seq(1L, 2L).toDF("u"))
    assert(tn.read(spark).count() == 9, "NULL k must survive an IN delete")
    tn.deleteWhereIn(spark, "k", Seq(0L, 3L).toDF("u"), negate = true)
    val left = tn.read(spark).select(col("k")).collect()
      .map(r0 => Option(r0.get(0))).toSet
    assert(left == Set(Some(0L), Some(3L), None),
      s"NOT IN must keep NULLs and matches only, got $left")
  }

  test("empty subquery: IN deletes nothing, NOT IN deletes EVERYTHING (NULLs too)") {
    // `c NOT IN (empty)` is the quantified comparison over zero elements
    // — TRUE for every row, NULL c included (ANSI and Spark agree); the
    // randomized trials always draw 5+ keys, so this edge is pinned here
    val empty = spark.sql("SELECT CAST(NULL AS BIGINT) AS u WHERE 1 = 0")
    val (t1, rows) = fresh(new scala.util.Random(91L))
    val r1 = t1.deleteWhereIn(spark, "k", empty)
    assert(r1.rewrittenFiles == 0 && content(t1) == rows.toSet,
      "IN (empty) must be a zero-I/O no-op")
    val tn = new TxTable(
      Files.createTempDirectory("graft_subqempty").toString, Seq("k"))
    tn.append(spark, spark.sql(
      "SELECT CAST(id AS BIGINT) AS k, id AS v, id AS s FROM range(10) " +
        "UNION ALL SELECT CAST(NULL AS BIGINT), CAST(99 AS BIGINT), CAST(0 AS BIGINT)"))
    tn.deleteWhereIn(spark, "k", empty, negate = true)
    assert(tn.snapshot().files.map(_.rows).sum == 0L,
      "NOT IN (empty) must delete every row, NULL-k rows included")
    // the update face: NOT IN (empty) updates every row, NULLs included
    val (t2, rows2) = fresh(new scala.util.Random(92L))
    t2.updateWhereIn(spark, "k", empty, Seq("v" -> "v + 1000"), negate = true)
    assert(content(t2) == rows2.map { case (k, v, s) => (k, v + 1000, s) }.toSet)
    val r3 = t2.updateWhereIn(spark, "k", empty, Seq("v" -> "v + 1"))
    assert(r3.rewrittenFiles == 0, "IN (empty) update must be a zero-I/O no-op")
  }

  test("randomized subquery updates (updateWhereIn) equal the projection model") {
    val rnd = new scala.util.Random(31337L)
    for (trial <- 1 to 5) {
      val (t, rows) = fresh(rnd)
      val ks = Seq.fill(5 + rnd.nextInt(20))(rnd.nextInt(120).toLong).distinct
      val withNull = rnd.nextBoolean()
      val keyDf =
        if (!withNull) ks.toDF("u")
        else ks.toDF("u").unionByName(spark.sql("SELECT CAST(NULL AS BIGINT) AS u"))
      val negate = rnd.nextBoolean()
      t.updateWhereIn(spark, "k", keyDf, Seq("v" -> "v + 1000", "s" -> "0 - s"), negate)
      def hit(k: Long): Boolean =
        if (!negate) ks.contains(k)
        else if (withNull) false // NOT IN with a NULL key is never TRUE
        else !ks.contains(k)
      val want = rows.map { case (k, v, s) =>
        if (hit(k)) (k, v + 1000, -s) else (k, v, s)
      }.toSet
      assert(content(t) == want,
        s"trial $trial negate=$negate withNull=$withNull keys=$ks")
    }
  }

  test("SQL UPDATE ... WHERE k IN (SELECT ...) routes through the subquery path") {
    val (t, rows) = fresh(new scala.util.Random(21L))
    spark.sql(s"UPDATE txtable.`${t.root}` SET v = v + 1 " +
      "WHERE k IN (SELECT id * 10 FROM range(5))")
    val want = rows.map { case (k, v, s) =>
      if (k % 10 == 0 && k < 50) (k, v + 1, s) else (k, v, s)
    }.toSet
    assert(content(t) == want)
    // per-key candidate pruning holds on the update face too
    val (t2, _) = fresh(new scala.util.Random(22L))
    val r2 = t2.updateWhereIn(spark, "k", Seq(3L, 7L).toDF("u"), Seq("v" -> "0"))
    assert(r2.rewrittenFiles == 1 && r2.keptFiles == 3,
      s"update-IN must prune disjoint files, got $r2")
  }

  test("SQL DELETE ... WHERE k IN (SELECT ...) routes through the subquery path") {
    val (t, rows) = fresh(new scala.util.Random(11L))
    spark.sql(
      s"DELETE FROM txtable.`${t.root}` WHERE k IN (SELECT id * 10 FROM range(5))")
    val want = rows.filterNot(x => x._1 % 10 == 0 && x._1 < 50).toSet
    assert(content(t) == want, "statement must delete exactly the subquery keys")
    // NOT IN form through SQL too
    val (t2, rows2) = fresh(new scala.util.Random(12L))
    spark.sql(
      s"DELETE FROM txtable.`${t2.root}` WHERE k NOT IN (SELECT id FROM range(90))")
    assert(content(t2) == rows2.filter(_._1 < 90).toSet)
  }

  test("the three mutation flavors agree with each other on the same predicate") {
    val rnd = new scala.util.Random(424242L)
    for (_ <- 1 to 3) {
      val p = pred(rnd)
      val (a, _) = fresh(rnd)
      val (b, _) = fresh(rnd)
      a.deleteWhere(spark, p.sql)
      b.deletePositionalWhere(spark, p.sql)
      assert(content(a) == content(b),
        s"copy-on-write and merge-on-read disagree on `${p.sql}`")
    }
  }
}
