package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable
import graft.tables.TxTable.{MergeDelete, MergeInsert, MergeMatched, MergeUpdate}

/** Randomized differential for the GENERAL MERGE ([[TxTable#mergeWhen]]):
  * every trial draws a random clause set — conditional matched
  * UPDATE/DELETE (first-match-wins), an optional conditional INSERT, an
  * optional NOT-MATCHED-BY-SOURCE clause — with each condition rendered
  * BOTH as SQL for the engine and as a Scala closure for the model, so
  * the aliased-join projection, the action chain, the delete filter, and
  * the insert anti-join are all checked against a ground truth sharing
  * none of their code (the PredicateDmlSpec discipline, applied to the
  * merge surface). */
class MergeWhenSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private case class Row3(k: Long, v: Long, s: Long)

  // a condition = SQL text over t/s aliases + the equivalent closure
  // over (target row, matched source row — None when evaluating insert
  // conditions is impossible: insert conds only reference s)
  private case class Cond(sql: String, f: (Row3, Option[Row3]) => Boolean)

  private def matchedCond(rnd: scala.util.Random): Option[Cond] =
    rnd.nextInt(4) match {
      case 0 => None // unconditional
      case 1 => Some(Cond("t.v % 2 = 0", (t, _) => t.v % 2 == 0))
      case 2 => Some(Cond("s.v > t.v", (t, s) => s.exists(_.v > t.v)))
      case 3 => Some(Cond("t.s = 3", (t, _) => t.s == 3))
    }

  private def bySourceCond(rnd: scala.util.Random): Option[Cond] =
    rnd.nextInt(3) match {
      case 0 => None
      case 1 => Some(Cond("t.k >= 40", (t, _) => t.k >= 40))
      case 2 => Some(Cond("t.v % 3 = 1", (t, _) => t.v % 3 == 1))
    }

  private def fresh(): (TxTable, Seq[Row3]) = {
    val rows = (0L until 60L).map(k => Row3(k, k * 3 % 17, k % 5))
    val t = new TxTable(
      Files.createTempDirectory("graft_mergewhen").toString, Seq("k"))
    t.append(spark, rows.map(r => (r.k, r.v, r.s)).toDF("k", "v", "s").repartitionByRange(3, col("k")))
    (t, rows)
  }

  private def content(t: TxTable): Set[Row3] =
    t.read(spark).select(col("k"), col("v"), col("s"))
      .collect().map(r => Row3(r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("randomized clause sets equal the closure model") {
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 8) {
      val (t, rows) = fresh()
      // source: every 4th key in [20, 100) — overlaps and extends the
      // target's [0, 60) key domain
      val srcRows = (20L until 100L by 4L).map(k => Row3(k, k * 7 % 23, k % 4))
      val srcByK = srcRows.map(r => r.k -> r).toMap

      // matched clauses: 0–2 drawn from {conditional update, delete}
      val nM = rnd.nextInt(3)
      val matchedSpec: Seq[(MergeMatched, (Row3, Option[Row3]) => Boolean, String)] =
        (0 until nM).map { _ =>
          val c = matchedCond(rnd)
          if (rnd.nextBoolean()) {
            val upd: MergeMatched =
              if (rnd.nextBoolean()) MergeUpdate(c.map(_.sql), None) // SET *
              else MergeUpdate(c.map(_.sql), Some(Seq("v" -> "s.v + t.v")))
            (upd, c.map(_.f).getOrElse((_: Row3, _: Option[Row3]) => true),
              if (upd.asInstanceOf[MergeUpdate].sets.isEmpty) "star" else "expr")
          } else {
            (MergeDelete(c.map(_.sql)): MergeMatched,
              c.map(_.f).getOrElse((_: Row3, _: Option[Row3]) => true), "del")
          }
        }
      // by-source clause: 0–1 delete or update
      val bySpec: Seq[(MergeMatched, (Row3, Option[Row3]) => Boolean, String)] =
        if (!rnd.nextBoolean()) Nil
        else {
          val c = bySourceCond(rnd)
          val cf = c.map(_.f).getOrElse((_: Row3, _: Option[Row3]) => true)
          if (rnd.nextBoolean())
            Seq((MergeDelete(c.map(_.sql)), cf, "del"))
          else
            Seq((MergeUpdate(c.map(_.sql), Some(Seq("v" -> "0 - t.k"))), cf, "neg"))
        }
      // insert clause: 0–1, conditional on the source row
      val insertCond = rnd.nextInt(3) match {
        case 0 => None
        case 1 => Some(Cond("s.k % 2 = 1", (_, s) => s.exists(_.k % 2 == 1)))
        case 2 => Some(Cond("s.v > 10", (_, s) => s.exists(_.v > 10)))
      }
      val notMatched =
        // an all-empty draw would (correctly) be refused by the engine —
        // keep at least one clause in play
        if (rnd.nextBoolean() || (matchedSpec.isEmpty && bySpec.isEmpty))
          Seq(MergeInsert(insertCond.map(_.sql), None, None)) // INSERT *
        else Nil

      t.mergeWhen(spark, srcRows.map(r => (r.k, r.v, r.s)).toDF("k", "v", "s"), "k",
        matchedSpec.map(_._1), notMatched, bySpec.map(_._1))

      // ----- the closure model -----
      val survived = rows.flatMap { r =>
        val m = srcByK.get(r.k)
        val pool = if (m.isDefined) matchedSpec else bySpec
        pool.find(_._2(r, m)) match {
          case None => Some(r) // no clause fires: carry
          case Some((_, _, "del")) => None
          case Some((_, _, "star")) => m // SET * replaces with the source row
          case Some((_, _, "expr")) => Some(r.copy(v = m.get.v + r.v))
          case Some((_, _, "neg")) => Some(r.copy(v = -r.k))
          case Some((_, _, x)) => throw new IllegalStateException(x)
        }
      }
      val inserted =
        if (notMatched.isEmpty) Nil
        else srcRows.filter(sr => !rows.exists(_.k == sr.k))
          .filter(sr => insertCond.forall(_.f(sr, Some(sr))))
      val want = (survived ++ inserted).toSet
      assert(content(t) == want,
        s"trial $trial matched=$matchedSpec bySource=$bySpec insert=$notMatched")
    }
  }

  test("SQL-rendered clause sets parse to the API path's exact results") {
    // the regex clause parser is the most fragile layer of the general
    // MERGE: render random clause sets as statement TEXT and pin the
    // statement's outcome row-identical to the API call on a twin table
    val rnd = new scala.util.Random(777L)
    def render(m: MergeMatched): String = m match {
      case MergeUpdate(c, None) =>
        s"WHEN MATCHED${c.map(" AND " + _).getOrElse("")} THEN UPDATE SET *"
      case MergeUpdate(c, Some(ss)) =>
        s"WHEN MATCHED${c.map(" AND " + _).getOrElse("")} THEN UPDATE SET " +
          ss.map { case (n, e) => s"$n = $e" }.mkString(", ")
      case MergeDelete(c) =>
        s"WHEN MATCHED${c.map(" AND " + _).getOrElse("")} THEN DELETE"
    }
    def renderBySource(m: MergeMatched): String =
      render(m).replace("WHEN MATCHED", "WHEN NOT MATCHED BY SOURCE")
    for (trial <- 1 to 5) {
      val (ta, _) = fresh()
      val (tb, _) = fresh()
      val matched: Seq[MergeMatched] = Seq(
        MergeUpdate(Some("t.v % 2 = 0"), Some(Seq("v" -> "s.v + t.v"))),
        MergeDelete(Some("t.s = 3")),
        MergeUpdate(None, None)).take(1 + rnd.nextInt(3))
      val inserts = Seq(
        MergeInsert(Some("s.k % 2 = 1"), Some(Seq("k", "v")), Some(Seq("s.k", "-7"))),
        MergeInsert(None, None, None)).take(rnd.nextInt(3))
      val bySource: Seq[MergeMatched] =
        if (rnd.nextBoolean()) Seq(MergeDelete(Some("t.k >= 50"))) else Nil
      val srcSql = "(SELECT id AS k, id * 7 % 23 AS v, id % 4 AS s " +
        "FROM range(20, 100, 4))"
      val stmt = (Seq(s"MERGE INTO txtable.`${ta.root}` AS t USING $srcSql AS s",
        "ON t.k = s.k") ++ matched.map(render) ++
        inserts.map(i => i match {
          case MergeInsert(c, None, None) =>
            s"WHEN NOT MATCHED${c.map(" AND " + _).getOrElse("")} THEN INSERT *"
          case MergeInsert(c, Some(cs), Some(vs)) =>
            s"WHEN NOT MATCHED${c.map(" AND " + _).getOrElse("")} THEN INSERT " +
              s"(${cs.mkString(", ")}) VALUES (${vs.mkString(", ")})"
          case _ => throw new IllegalStateException
        }) ++ bySource.map(renderBySource)).mkString("\n")
      if (matched.nonEmpty || inserts.nonEmpty || bySource.nonEmpty) {
        spark.sql(stmt)
        val src = spark.sql(s"SELECT * FROM $srcSql")
        tb.mergeWhen(spark, src, "k", matched, inserts, bySource)
        val a = ta.read(spark).collect().map(_.toSeq).toSet
        val b = tb.read(spark).collect().map(_.toSeq).toSet
        assert(a == b, s"trial $trial SQL vs API diverge for:\n$stmt")
      }
    }
  }

  test("multiple insert clauses: first-match-wins, unclaimed source rows drop") {
    val (t, _) = fresh() // keys 0..59
    // source keys 60..69; clause 1 claims evens with v = -1, clause 2
    // claims k < 66 with v = -2; 60,62,64 → -1 (clause 1 first), 61,63,65
    // → -2, 66,68 → -1, 67,69 → unclaimed (dropped)
    val src = (60L until 70L).map(k => (k, k, 0L))
    t.mergeWhen(spark, src.toDF("k", "v", "s"), "k",
      Nil, Seq(
        MergeInsert(Some("s.k % 2 = 0"), Some(Seq("k", "v")),
          Some(Seq("s.k", "-1"))),
        MergeInsert(Some("s.k < 66"), Some(Seq("k", "v")),
          Some(Seq("s.k", "-2")))), Nil)
    // inserted rows carry NULL s (unnamed column): read k/v only
    val got = t.read(spark).filter(col("k") >= 60)
      .select(col("k"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(60L -> -1L, 62L -> -1L, 64L -> -1L, 66L -> -1L,
      68L -> -1L, 61L -> -2L, 63L -> -2L, 65L -> -2L), s"got $got")
    assert(t.read(spark).filter(col("k") >= 60 && col("s").isNull).count() == 8)
  }

  test("full-sync shape: upsert + BY SOURCE DELETE makes the table mirror the source") {
    val (t, _) = fresh()
    val src = (0L until 90L by 3L).map(k => Row3(k, k + 1000, 9))
    t.mergeWhen(spark, src.map(r => (r.k, r.v, r.s)).toDF("k", "v", "s"), "k",
      Seq(MergeUpdate(None, None)), Seq(MergeInsert(None, None, None)),
      Seq(MergeDelete(None)))
    assert(content(t) == src.toSet, "table must exactly mirror the source")
  }

  test("schema evolution: star actions widen the schema; old rows NULL-backfill") {
    val (t, _) = fresh() // k 0..59, columns (k, v, s)
    val src = Seq((10L, 1L, 0L, 111L), (100L, 2L, 0L, 222L))
      .toDF("k", "v", "s", "w") // w: a column the table never declared
    t.mergeWhen(spark, src, "k",
      Seq(MergeUpdate(None, None)), Seq(MergeInsert(None, None, None)), Nil)
    val df = t.read(spark)
    assert(df.columns.contains("w"), "the new source column must survive the merge")
    val byK = df.select(col("k"), col("w")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(byK(10L).contains(111L), "UPDATE SET * carries the new column")
    assert(byK(100L).contains(222L), "INSERT * carries the new column")
    assert(byK(0L).isEmpty && byK(59L).isEmpty,
      "untouched rows NULL-backfill the evolved column")
    // the widened schema is DECLARED in the SAME commit (the CDC-ingest
    // atomicity promise: schema + data land together)
    assert(t.snapshot().meta.exists(_.schema.fieldNames.contains("w")),
      "the evolved schema must be declared in the merge commit")
  }

  test("schema evolution matches column names case-insensitively (no phantom columns)") {
    // Spark's resolver treats `V` and `v` as one column; the evolution
    // check must agree or it declares a duplicate no file ever carries
    val t = new TxTable(
      Files.createTempDirectory("graft_mw_case").toString, Seq("k"))
    t.append(spark, Seq((1L, 10L)).toDF("k", "v"))
    t.declareMeta(t.read(spark).schema)
    t.merge(spark, Seq((2L, 20L)).toDF("K", "V"), "k")
    val cols = t.read(spark).columns.toSeq
    assert(cols.map(_.toLowerCase).sorted == Seq("k", "v"),
      s"case-variant source names must not mint phantom columns: $cols")
    assert(t.read(spark).count() == 2)
  }

  test("schema evolution honors dropped-name reservations case-insensitively") {
    // the resolver matches columns case-insensitively, so a source
    // column differing only in case from a dropped physical IS that
    // name to every read — the never-resurrect rule must see it too
    val t = new TxTable(
      Files.createTempDirectory("graft_mw_caseres").toString, Seq("k"))
    t.append(spark, Seq((1L, 10L, 5L)).toDF("k", "v", "note"))
    t.dropColumn("note")
    // declared AFTER the drop: the schema lacks `note`, so a case-variant
    // source column is a NEW column — the reservation check's territory
    t.declareMeta(t.read(spark).schema)
    val e = intercept[IllegalArgumentException] {
      t.merge(spark, Seq((2L, 20L, 9L)).toDF("k", "v", "NOTE"), "k")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("merge-on-read upsert declares evolved schemas like its CoW twin") {
    val t = new TxTable(
      Files.createTempDirectory("graft_mw_morevo").toString, Seq("k"))
    t.append(spark, Seq((1L, 10L)).toDF("k", "v"))
    t.declareMeta(t.read(spark).schema)
    t.mergePositional(spark, Seq((1L, 11L, 7L)).toDF("k", "v", "w"), "k")
    assert(t.snapshot().meta.exists(_.schema.fieldNames.contains("w")),
      "MoR merge must declare the widened schema in its commit")
    val byK = t.read(spark).select(col("k"), col("w")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(byK(1L).contains(7L))
  }

  test("schema evolution refuses a non-widening type conflict loudly") {
    val (t, _) = fresh()
    val src = Seq((10L, "bad", 0L)).toDF("k", "v", "s") // v: STRING vs BIGINT
    val e = intercept[IllegalArgumentException] {
      t.mergeWhen(spark, src, "k", Seq(MergeUpdate(None, None)), Nil, Nil)
    }
    assert(e.getMessage.contains("schema conflict"), e.getMessage)
  }

  test("explicit-assignment clauses never widen implicitly") {
    val (t, _) = fresh()
    val src = Seq((10L, 5L, 0L, 7L)).toDF("k", "v", "s", "w")
    t.mergeWhen(spark, src, "k",
      Seq(MergeUpdate(None, Some(Seq("v" -> "s.v")))), Nil, Nil)
    assert(!t.read(spark).columns.contains("w"),
      "a non-star clause set must ignore undeclared source columns")
  }

  test("duplicate TARGET keys are legal; duplicate SOURCE matches refuse") {
    val t = new TxTable(
      Files.createTempDirectory("graft_mw_dupt").toString, Seq("k"))
    t.append(spark,
      Seq((1L, 10L, 0L), (1L, 11L, 0L), (2L, 20L, 0L)).toDF("k", "v", "s"))
    // one source row, two same-key target rows: each target row takes
    // the same source update deterministically — NOT a multiple-matches
    // violation (only SOURCE-side duplicates are nondeterministic)
    t.mergeWhen(spark, Seq((1L, 100L, 9L)).toDF("k", "v", "s"), "k",
      Seq(MergeUpdate(None, None)), Nil, Nil)
    val got = t.read(spark).select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((1L, 100L), (1L, 100L), (2L, 20L)), s"got $got")
    val e = intercept[IllegalArgumentException] {
      t.mergeWhen(spark, Seq((2L, 1L, 0L), (2L, 2L, 0L)).toDF("k", "v", "s"),
        "k", Seq(MergeUpdate(None, None)), Nil, Nil)
    }
    assert(e.getMessage.contains("multiple rows"), e.getMessage)
  }

  test("NULL-key source rows fall through to the insert clauses") {
    val (t, _) = fresh()
    // a NULL-key TARGET row too: ON-equality must not pair the two NULLs
    t.append(spark, spark.sql(
      "SELECT CAST(NULL AS BIGINT) AS k, CAST(888 AS BIGINT) AS v, CAST(0 AS BIGINT) AS s"))
    val src = spark.sql(
      "SELECT CAST(10 AS BIGINT) AS k, CAST(100 AS BIGINT) AS v, CAST(0 AS BIGINT) AS s " +
        "UNION ALL " +
        "SELECT CAST(NULL AS BIGINT), CAST(777 AS BIGINT), CAST(0 AS BIGINT)")
    t.mergeWhen(spark, src, "k",
      Seq(MergeUpdate(None, None)), Seq(MergeInsert(None, None, None)), Nil)
    val nullVs = t.read(spark).filter(col("k").isNull)
      .select(col("v")).collect().map(_.getLong(0)).toSet
    assert(nullVs == Set(888L, 777L),
      s"the NULL-key source row must INSERT (and never erase the NULL-key target row): $nullVs")
    assert(t.read(spark).count() == 62) // 60 base + null target + null insert
  }

  test("BY SOURCE conditions band-prune candidates; band-less clauses force every file") {
    // 3 range files over k 0..59. A BY SOURCE DELETE conditioned on
    // `t.k >= 55` governs only the third file's band; the key probe for
    // source key 0 adds the first — the middle file must carry BY NAME.
    val (t, _) = fresh()
    val r = t.mergeWhen(spark, Seq((0L, 0L, 0L)).toDF("k", "v", "s"), "k",
      Nil, Nil, Seq(MergeDelete(Some("t.k >= 55"))))
    assert(r.rewrittenFiles == 2 && r.keptFiles == 1,
      s"banded BY SOURCE must prune the disjoint file, got $r")
    assert(t.read(spark).count() == 55) // k 55..59 deleted; k=0 matched, carried
    // a condition on a NON-stat column derives no band: every file
    val (t2, _) = fresh()
    val r2 = t2.mergeWhen(spark, Seq((0L, 0L, 0L)).toDF("k", "v", "s"), "k",
      Nil, Nil, Seq(MergeDelete(Some("t.v % 3 = 1"))))
    assert(r2.rewrittenFiles == 3 && r2.keptFiles == 0,
      s"band-less BY SOURCE must class every file a candidate, got $r2")
  }

  // ------------------------------------------------------ composite keys
  // round-13 verdict #1: merge keyed on MULTIPLE columns — matching
  // requires equality on EVERY component, NULL in any component routes
  // to insert, dup refusal counts distinct source rows per FULL key,
  // and candidate pruning intersects the per-component probes.

  test("randomized COMPOSITE-key clause sets equal the closure model") {
    // the single-key randomized differential, rerun with a target whose
    // k is DUPLICATED across s values — so a match requires BOTH
    // components and any single-component shortcut shows up as a diff
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 1 to 6) {
      val rows = (for { k <- 0L until 30L; s <- 0L to 1L }
        yield Row3(k, (k * 7 + s * 3) % 19, s)).toSeq
      val t = new TxTable(
        Files.createTempDirectory("graft_mwmk").toString, Seq("k"))
      t.append(spark, rows.map(r => (r.k, r.v, r.s)).toDF("k", "v", "s")
        .repartitionByRange(3, col("k")))
      // source: every 3rd k in [10, 50), s drawn from {0, 1, 2} — some
      // rows match (k, s), some share only k (must NOT match), some are
      // entirely fresh
      val srcRows = (10L until 50L by 3L).map(k =>
        Row3(k, (k * 11) % 23, rnd.nextInt(3).toLong))
      val srcByKey = srcRows.map(r => (r.k, r.s) -> r).toMap
      val matchedSpec: Seq[(MergeMatched, (Row3, Option[Row3]) => Boolean, String)] =
        (0 until rnd.nextInt(3)).map { _ =>
          val c = matchedCond(rnd)
          val cf = c.map(_.f).getOrElse((_: Row3, _: Option[Row3]) => true)
          if (rnd.nextBoolean()) {
            val upd: MergeMatched =
              if (rnd.nextBoolean()) MergeUpdate(c.map(_.sql), None) // SET *
              else MergeUpdate(c.map(_.sql), Some(Seq("v" -> "s.v + t.v")))
            (upd, cf,
              if (upd.asInstanceOf[MergeUpdate].sets.isEmpty) "star" else "expr")
          } else (MergeDelete(c.map(_.sql)): MergeMatched, cf, "del")
        }
      val insertCond =
        if (rnd.nextBoolean()) None
        else Some(Cond("s.v > 10", (_, s) => s.exists(_.v > 10)))
      val notMatched =
        if (rnd.nextBoolean() || matchedSpec.isEmpty)
          Seq(MergeInsert(insertCond.map(_.sql), None, None))
        else Nil
      t.mergeWhen(spark, srcRows.map(r => (r.k, r.v, r.s)).toDF("k", "v", "s"),
        Seq("k", "s"), matchedSpec.map(_._1), notMatched, Nil, Map.empty,
        sourceKeyDistinct = false)
      val survived = rows.flatMap { r =>
        val m = srcByKey.get((r.k, r.s))
        val pool = if (m.isDefined) matchedSpec else Nil
        pool.find(_._2(r, m)) match {
          case None => Some(r)
          case Some((_, _, "del")) => None
          case Some((_, _, "star")) => m
          case Some((_, _, "expr")) => Some(r.copy(v = m.get.v + r.v))
          case Some((_, _, x)) => throw new IllegalStateException(x)
        }
      }
      val inserted =
        if (notMatched.isEmpty) Nil
        else srcRows
          .filter(sr => !rows.exists(x => x.k == sr.k && x.s == sr.s))
          .filter(sr => insertCond.forall(_.f(sr, Some(sr))))
      assert(content(t) == (survived ++ inserted).toSet,
        s"trial $trial matched=$matchedSpec insert=$notMatched")
    }
  }

  test("composite-key probe: ONE job at 3 stat components; per-component reference set") {
    // r14 verdict #6: the candidate probe must answer EVERY key
    // component in a single Spark job (the old per-component loop was k
    // sequential jobs + k collects per merge — per MICRO-BATCH latency
    // in the streaming upsert path). Differential: the returned hit set
    // must equal the intersection of per-component interval probes
    // recomputed here from the manifest, over randomized sources.
    val rnd = new scala.util.Random(20260818L)
    val rows = (for { k <- 0L until 40L; s <- 0L to 1L }
      yield Row3(k, (k * 7 + s * 3) % 19, s)).toSeq
    val t = new TxTable(
      Files.createTempDirectory("graft_mk1job").toString, Seq("k", "v", "s"))
    t.append(spark, rows.map(r => (r.k, r.v, r.s)).toDF("k", "v", "s")
      .repartitionByRange(4, col("k")))
    val base = t.snapshot()
    for (trial <- 1 to 4) {
      val srcRows = (1 to 6).map(_ =>
        (rnd.nextLong(60L), rnd.nextLong(25L), rnd.nextLong(4L)))
      val src = srcRows.toDF("k", "v", "s")
      val (got, jobs) = JobMeter.measure(spark)(
        t.multiKeyHitPaths(spark, base, src, Seq("k", "v", "s")).get)
      assert(jobs.size == 1,
        s"trial $trial: 3-component probe must run ONE job, ran ${jobs.size}")
      // reference: intersection of per-component interval hits (files
      // statless on a component count as hits there)
      val want = Seq("k", "v", "s").map { c =>
        base.files.filter(f => f.mins.get(c) match {
          case None => true
          case Some(mn) => srcRows.map {
            case (k, v, s) => Map("k" -> k, "v" -> v, "s" -> s)(c)
          }.exists(x => x >= mn && x <= f.maxs(c))
        }).map(_.path).toSet
      }.reduce(_ intersect _)
      assert(got == want, s"trial $trial: probe hit set diverged")
    }
  }

  test("composite-key canonical merge: all-component equality; NULL component inserts") {
    val (t, rows) = fresh() // (k, v, s) with s = k % 5; keyed on (k, s)
    val src = spark.sql(
      "SELECT CAST(0 AS BIGINT) k, CAST(-1 AS BIGINT) v, CAST(0 AS BIGINT) s " +
        "UNION ALL SELECT 1, -2, 4 " +    // k=1 exists but s=1 ≠ 4 → INSERT
        "UNION ALL SELECT 200, -3, 2 " +  // fresh k → INSERT
        "UNION ALL SELECT NULL, -4, 0")   // NULL component → INSERT
    val r = t.merge(spark, src, Seq("k", "s"))
    // per-component probe: k-intervals admit only the first range file
    // (k 0..19; 200 and NULL hit nothing); s carries no stats — prunes
    // nothing, refuses nothing. Intersection = 1 candidate of 3.
    assert(r.rewrittenFiles == 1 && r.keptFiles == 2,
      s"per-component interval probes must intersect, got $r")
    val got = t.read(spark).select(col("k"), col("v"), col("s")).collect()
      .map(x => (Option(x.get(0)).map(_.asInstanceOf[Long]),
        x.getLong(1), x.getLong(2))).toSet
    val want = rows.filterNot(_.k == 0L)
      .map(x => (Option(x.k), x.v, x.s)).toSet ++
      Set((Option(0L), -1L, 0L), (Option(1L), -2L, 4L),
        (Option(200L), -3L, 2L), (Option.empty[Long], -4L, 0L))
    assert(got == want)
  }

  test("composite-key mergeWhen: dup refusal counts distinct source rows per FULL key") {
    val (t, _) = fresh()
    // two source rows sharing k but differing in s: NOT duplicates —
    // (2, 2) matches target k=2 (s = 2), (2, 3) matches nothing
    t.mergeWhen(spark, Seq((2L, -1L, 2L), (2L, -2L, 3L)).toDF("k", "v", "s"),
      Seq("k", "s"), Seq(MergeUpdate(None, None)), Nil, Nil, Map.empty,
        sourceKeyDistinct = false)
    assert(content(t).contains(Row3(2L, -1L, 2L)))
    // two source rows agreeing on the FULL composite key: refused
    val e = intercept[IllegalArgumentException] {
      t.mergeWhen(spark, Seq((3L, -1L, 3L), (3L, -9L, 3L)).toDF("k", "v", "s"),
        Seq("k", "s"), Seq(MergeUpdate(None, None)), Nil, Nil, Map.empty,
        sourceKeyDistinct = false)
    }
    assert(e.getMessage.contains("multiple rows"), e.getMessage)
  }

  test("composite-key mergeWhen: NULL component falls through to insert clauses") {
    val (t, _) = fresh()
    val src = spark.sql(
      "SELECT CAST(2 AS BIGINT) k, CAST(-5 AS BIGINT) v, CAST(NULL AS BIGINT) s")
    t.mergeWhen(spark, src, Seq("k", "s"),
      Seq(MergeUpdate(None, None)), Seq(MergeInsert(None, None, None)), Nil,
      Map.empty, sourceKeyDistinct = false)
    // target row (2, 6, 2) untouched; the NULL-s source row inserted
    assert(t.read(spark).filter(col("k") === 2 && col("s") === 2)
      .select(col("v")).head().getLong(0) == 2L * 3 % 17)
    val inserted = t.read(spark).filter(col("s").isNull)
      .select(col("v")).collect().map(_.getLong(0)).toSet
    assert(inserted == Set(-5L))
  }

  test("composite-key evolution: star actions widen the schema") {
    val (t, _) = fresh()
    t.declareMeta(t.read(spark).schema)
    t.mergeWhen(spark, Seq((2L, -1L, 2L, 7L)).toDF("k", "v", "s", "w"),
      Seq("k", "s"), Seq(MergeUpdate(None, None)),
      Seq(MergeInsert(None, None, None)), Nil, Map.empty,
      sourceKeyDistinct = false)
    assert(t.snapshot().meta.exists(_.schema.fieldNames.contains("w")),
      "the composite-key merge must declare the widened schema")
    val got = t.read(spark).filter(col("k") === 2 && col("s") === 2)
      .select(col("v"), col("w")).head()
    assert(got.getLong(0) == -1L && got.getLong(1) == 7L)
  }

  test("composite keys survive a column RENAME: logical match, physical-stat prune") {
    // the key components arrive as LOGICAL names; the interval probe
    // must reach the PHYSICAL stats recorded under the pre-rename name
    val (t, _) = fresh()
    t.renameColumn("k", "id")
    val r = t.merge(spark, Seq((0L, -1L, 0L)).toDF("id", "v", "s"),
      Seq("id", "s"))
    assert(r.rewrittenFiles == 1 && r.keptFiles == 2,
      s"the renamed component must still prune via its physical stats: $r")
    val got = t.read(spark).filter(col("id") === 0 && col("s") === 0)
      .select(col("v")).head().getLong(0)
    assert(got == -1L)
  }

  test("composite-key merge-on-read agrees with the CoW twin; zero rewrites") {
    val (t1, _) = fresh()
    val (t2, _) = fresh()
    val src = Seq((0L, -1L, 0L), (200L, -3L, 2L)).toDF("k", "v", "s")
    t1.merge(spark, src, Seq("k", "s"))
    val r2 = t2.mergePositional(spark, src, Seq("k", "s"))
    assert(r2.rewrittenFiles == 0, s"MoR must rewrite nothing, got $r2")
    assert(content(t1) == content(t2),
      "merge-on-read and copy-on-write must produce identical content")
  }
}
