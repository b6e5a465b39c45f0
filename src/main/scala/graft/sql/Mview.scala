package graft.sql

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{avg, coalesce, col, count, expr, lit, max, min, sum, when}
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType,
  ShortType, StructField, StructType}

import graft.tables.TxTable

import GraftSqlParser.{OnEq, splitTopLevel, topLevelAll, topLevelCall, topLevelKeyword}

/** Materialized-view execution: what `CREATE MATERIALIZED VIEW` and
  * `REFRESH MATERIALIZED VIEW` run. The definition text is stored by
  * [[ViewStore]]; the rows are an ordinary TxTable whose txn map records
  * how far each source has been applied ([[watermarks]]) next to the
  * NULL-sum license ([[NullsafeKey]]), in the same commit as the rows.
  *
  * REFRESH takes one of three paths and names it in its `mode` column:
  *  - a single-source select/project view replays the source's row-level
  *    change feed through its predicate and select list (`incremental`);
  *  - an aggregate view over a chain of one or more txtable sources
  *    (a lone source, or an inner equi-join chain) folds signed
  *    per-group deltas of the changed sources into the materialization
  *    (`incremental`, or `incremental-recheck` when a delete may evict a
  *    min/max);
  *  - every other shape, and every obstacle on the two delta paths,
  *    recomputes in full (`full`).
  * A refresh with nothing to apply is a `noop`.
  *
  * Kept in package `sql` rather than `tables`: the shape recognizers run
  * on the definition text with the parser's top-level scanners. */
object Mview {

  /** Txn-map key for the aggregate-view NULL-sum safety flag: 1 = the
    * materialized source slice held NO NULL summed value (verified at
    * create/full-recompute time), so the GROUP-BY delta arithmetic is
    * exact; 0/absent = unknown or unsafe — refreshes full-recompute.
    * NULLs ARRIVING later ride change rows, which the incremental path
    * inspects per refresh, so the invariant holds inductively. */
  private[sql] val NullsafeKey = "mview:nullsafe"

  /** Per-source watermark txn key of a view over two or more sources
    * (`mview:src:<i>` by position in the definition's reference order). */
  private def srcKey(i: Int): String = s"mview:src:$i"

  /** The txn entries recording that a view has applied its sources
    * (definition reference order) through `pins` — the one writer of
    * the watermark keys. One source: its version under
    * [[ViewStore.MviewAppId]]. Two or more: each under [[srcKey]], with
    * MviewAppId held at 0. No source: MviewAppId 0. */
  private def watermarks(pins: Seq[Int]): Map[String, Long] =
    if (pins.size == 1) Map(ViewStore.MviewAppId -> pins.head.toLong)
    else Map(ViewStore.MviewAppId -> 0L) ++
      pins.zipWithIndex.map { case (v, i) => srcKey(i) -> v.toLong }

  /** The applied-through version a view reports — CREATE's and REFRESH's
    * `source_version`, DESCRIBE DETAIL's `applied_through`: the first
    * source's watermark, under whichever key [[watermarks]] wrote it. */
  private[sql] def appliedThrough(txns: Map[String, Long]): Int =
    txns.getOrElse(srcKey(0), txns.getOrElse(ViewStore.MviewAppId, 0L)).toInt

  /** Each of `n` sources' applied-through version, read back from the
    * keys [[watermarks]] wrote. */
  private def sourceWatermarks(txns: Map[String, Long], n: Int): Seq[Int] =
    if (n == 1) Seq(appliedThrough(txns))
    else (0 until n).map(i => txns.getOrElse(srcKey(i), 0L).toInt)

  // ------------------------------------------------------------ grammar

  /** `SELECT <list> FROM <chain> [WHERE p] GROUP BY <keys>` — the
    * aggregate shape the delta path maintains. The FROM capture is
    * re-split by [[parseJoinChain]]. */
  private val AggSelect = ("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM\\s+" +
    "(txtable\\s*\\.\\s*`[^`]+`.*?)(?:\\s+WHERE\\s+(.+?))?" +
    "\\s+GROUP\\s+BY\\s+(.+?)\\s*;?\\s*$").r

  private val CountStar = "(?is)^count\\s*\\(\\s*\\*\\s*\\)\\s+AS\\s+(\\w+)$".r
  private val SumAs = "(?is)^sum\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r
  private val MinAs = "(?is)^min\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r
  private val MaxAs = "(?is)^max\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r
  private val AvgAs = "(?is)^avg\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r
  /** A group item, `[q.]c [AS a]` (a GROUP BY item takes no AS). */
  private val GroupItem = "(?is)^(?:(\\w+)\\s*\\.\\s*)?(\\w+)(?:\\s+AS\\s+(\\w+))?$".r

  /** The parsed select list of a maintainable aggregate view: group
    * items as (column over the FROM, output name), the `count(*)`
    * liveness alias, and the sum/min/max/avg items as (expression,
    * output alias). An avg is admitted only with COMPANION columns — the
    * view must also carry `sum(<same expr>)` (and count(*) is already
    * required), because avg alone is not delta-foldable: the refresh
    * re-derives it from the maintained sum and count with Spark's own
    * divide-then-cast semantics, so the maintained value is
    * bit-identical to a recompute. `avgs` records (expression, sum alias
    * it rides on, output alias). */
  private case class AggView(groups: Seq[(String, String)], countAlias: String,
      sums: Seq[(String, String)], mins: Seq[(String, String)],
      maxs: Seq[(String, String)], avgs: Seq[(String, String, String)])

  /** Whether a `sum(<body>)` body extracted by the GREEDY [[SumAs]]
    * regex is a delta-foldable scalar. A compound select item
    * (`sum(a) + sum(b) AS c`) extracts a paren-UNBALANCED slice, and
    * `sum(DISTINCT x)` / an aggregate-bearing body are not foldable as
    * ±x arithmetic — all must fall to the always-sound full recompute
    * instead of reaching the delta (or the NULL-probe) SQL, where they
    * used to throw AnalysisException mid-statement. */
  private def sumBodyFoldable(e: String): Boolean = {
    var depth = 0
    var balanced = true
    var quote: Char = 0
    e.foreach { ch =>
      if (quote != 0) { if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' | '`' => quote = ch
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth < 0) balanced = false
        case _ => ()
      }
    }
    balanced && depth == 0 && quote == 0 &&
      !e.trim.matches("(?is)^DISTINCT[\\s(].*") &&
      !Seq("COUNT", "SUM", "MIN", "MAX", "AVG").exists(topLevelCall(e, _))
  }

  /** Parse an aggregate view's select list against its GROUP BY and its
    * FROM chain into an [[AggView]] — the shape whose refresh folds as
    * pure GROUP-BY delta arithmetic (insert → +1/+x, delete → −1/−x,
    * drop at net count 0). Requires: every GROUP BY item a column, bare
    * or qualified by a chain alias, projected exactly once as `[q.]c
    * [AS a]`; a `count(*) AS n` (the group liveness witness); and only
    * `sum/min/max/avg(<expr>) AS a` beyond that. min/max fold
    * monotonically on insert-only deltas (least/greatest) and force a
    * TOUCHED-GROUP recheck under deletes, which re-aggregates one source
    * — so they are admitted over a one-member chain only. An avg without
    * its companion sum, like every other shape, gives None ⇒ the
    * always-sound full recompute. */
  private def parseAggView(selectList: String, groupBy: String,
      chain: Seq[JoinSrc]): Option[AggView] = {
    val aliases = chain.flatMap(_.alias).toSet
    // a group column as the chain reads it; None for a foreign qualifier
    def column(q: String, c: String): Option[String] =
      if (q == null) Some(c) else if (aliases(q)) Some(s"$q.$c") else None
    val groupCols = splitTopLevel(groupBy).map(_.trim).map {
      case GroupItem(q, c, null) => column(q, c).getOrElse(return None)
      case _ => return None
    }
    val lone = chain.size == 1
    var countAlias: Option[String] = None
    val groups = ArrayBuffer.empty[(String, String)]
    val sums = ArrayBuffer.empty[(String, String)]
    val mins = ArrayBuffer.empty[(String, String)]
    val maxs = ArrayBuffer.empty[(String, String)]
    val avgExprs = ArrayBuffer.empty[(String, String)]
    splitTopLevel(selectList).map(_.trim).foreach {
      case GroupItem(q, c, as) if column(q, c).exists(groupCols.contains) =>
        groups += ((column(q, c).get, Option(as).getOrElse(c))); ()
      case CountStar(a) if countAlias.isEmpty => countAlias = Some(a)
      case AvgAs(e, a) if sumBodyFoldable(e) => avgExprs += ((e, a)); ()
      case SumAs(e, a) if sumBodyFoldable(e) => sums += ((e, a)); ()
      case MinAs(e, a) if lone && sumBodyFoldable(e) => mins += ((e, a)); ()
      case MaxAs(e, a) if lone && sumBodyFoldable(e) => maxs += ((e, a)); ()
      case _ => return None
    }
    // an avg is maintainable only from companion columns: resolve each
    // avg's body to the sum over the SAME expression (whitespace-
    // normalized); a view averaging something it doesn't sum falls to
    // the always-sound full recompute
    def norm(e: String) = e.replaceAll("\\s+", " ").trim.toLowerCase
    val avgs = avgExprs.map { case (e, a) =>
      sums.find(s => norm(s._1) == norm(e)) match {
        case Some((_, sumAlias)) => (e, sumAlias, a)
        case None => return None
      }
    }
    val outputs = groups.map(_._2) ++ countAlias.toSeq ++
      (sums ++ mins ++ maxs ++ avgExprs).map(_._2)
    if (countAlias.isEmpty || groups.map(_._1).sorted.toSeq != groupCols.sorted ||
      outputs.map(_.toLowerCase).distinct.size != outputs.size) None
    else Some(AggView(groups.toSeq, countAlias.get,
      sums.toSeq, mins.toSeq, maxs.toSeq, avgs.toSeq))
  }

  /** Join-type words that mark a non-inner join (or would shadow an
    * alias slot) — any of these in the chain refuses the parse. */
  private val JoinWords =
    Set("LEFT", "RIGHT", "FULL", "OUTER", "CROSS", "SEMI", "ANTI", "NATURAL")

  /** One member of a FROM chain: txtable root, alias, and — for every
    * member after the first — the ON that joins it to the chain built
    * so far. */
  private case class JoinSrc(root: String, alias: Option[String], on: Option[String])

  /** The top-level AND conjuncts of a condition. */
  private def conjuncts(on: String): Seq[String] = {
    val cuts = topLevelAll(on, "AND")
    (0 +: cuts.map(_ + 3)).zip(cuts :+ on.length).map {
      case (b, e) => on.substring(b, e).trim
    }
  }

  /** The both-sides-qualified equi conjuncts of an ON condition, as
    * (qual1, col1, qual2, col2) — the link map the semi-join reduction
    * in the incremental chain refresh prunes through. Non-conforming
    * conjuncts are simply skipped (the chain parser has already
    * validated the condition's overall shape). */
  private def onEqConjuncts(on: String): Seq[(String, String, String, String)] =
    conjuncts(on).collect {
      case OnEq(q1, c1, q2, c2) if q1 != null && q2 != null => (q1, c1, q2, c2)
    }

  /** Parse the FROM chain: one `txtable.\`r\` [[AS] alias]`, or members
    * joined by `[INNER] JOIN`. Every member after the first must be
    * `txtable.\`r\` [AS] alias ON <equi>` whose top-level conjuncts each
    * equate a column of THIS alias with a column of an EARLIER alias
    * (both sides qualified) — so only a lone member may go unaliased.
    * Outer-join words, non-equi conditions, alias reuse, and a root
    * appearing twice (self-join — per-source watermarks key by position
    * against the deduped ref list) all return None → the always-sound
    * full recompute. */
  private def parseJoinChain(from: String): Option[Seq[JoinSrc]] = {
    val cuts = topLevelAll(from, "JOIN")
    val segs = (0 +: cuts.map(_ + 4)).zip(cuts :+ from.length).map {
      case (b, e) => from.substring(b, e).trim
    }
    // a segment BEFORE a JOIN may end in INNER (stripped); any other
    // join word there marks an outer join — refuse
    val JoinWordTail = "(?is)^(.*?)\\s+(\\w+)$".r
    val parts = segs.zipWithIndex.map { case (s0, i) =>
      if (i == segs.length - 1) Some(s0)
      else s0 match {
        case JoinWordTail(body, w) if w.equalsIgnoreCase("INNER") =>
          Some(body.trim)
        case JoinWordTail(_, w) if JoinWords.contains(w.toUpperCase) => None
        case s => Some(s)
      }
    }
    if (parts.exists(_.isEmpty)) return None
    val First = "(?is)^txtable\\s*\\.\\s*`([^`]+)`(?:(?:\\s+AS)?\\s+(\\w+))?$".r
    val Later = "(?is)^txtable\\s*\\.\\s*`([^`]+)`(?:\\s+AS)?\\s+(\\w+)\\s+ON\\s+(.+)$".r
    val chain = ArrayBuffer.empty[JoinSrc]
    parts.flatten.zipWithIndex.foreach {
      case (First(r, a), 0) => chain += JoinSrc(r, Option(a), None); ()
      case (Later(r, a, on), i) if i > 0 =>
        chain += JoinSrc(r, Some(a), Some(on.trim)); ()
      case _ => return None
    }
    val aliases = chain.flatMap(_.alias)
    if (aliases.map(_.toLowerCase).distinct.size != aliases.size ||
      aliases.exists(a => JoinWords.contains(a.toUpperCase)) ||
      chain.map(_.root).distinct.size != chain.size) return None
    chain.zipWithIndex.drop(1).foreach { case (src, i) =>
      val earlier = chain.take(i).flatMap(_.alias).toSet
      val cs = conjuncts(src.on.get)
      val ok = cs.nonEmpty && cs.forall {
        case OnEq(q1, _, q2, _) =>
          val qs = Seq(Option(q1), Option(q2)).flatten
          val others = qs.filterNot(q => src.alias.contains(q))
          qs.size == 2 && others.size == 1 && earlier.contains(others.head)
        case _ => false
      }
      if (!ok) return None
    }
    Some(chain.toSeq)
  }

  /** A definition the aggregate delta path maintains: its text parts,
    * its FROM chain and its parsed select list. */
  private case class AggShape(selectList: String, from: String, pred: String,
      groupBy: String, chain: Seq[JoinSrc], view: AggView)

  /** The one shape classifier for aggregate views — None for any
    * definition whose chain is not exactly the live sources `srcs`. */
  private def aggShape(defn: String, srcs: Seq[String]): Option[AggShape] =
    defn match {
      case AggSelect(selectList, from, pred, groupBy) =>
        for {
          chain <- parseJoinChain(from) if chain.map(_.root) == srcs
          view <- parseAggView(selectList, groupBy, chain)
        } yield AggShape(selectList, from, pred, groupBy, chain, view)
      case _ => None
    }

  /** Whether every field is a type whose `sum` folds EXACTLY as ±x
    * arithmetic: integral (wrap-stable, associative) or decimal
    * (exact). float/double sums are non-associative — a +x/−x replay
    * drifts from the full recompute — so they never earn the
    * incremental license. */
  private def deltaFoldableTypes(fields: Seq[StructField]): Boolean =
    fields.forall(_.dataType match {
      case _: DecimalType => true
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  /** The joined frame of a parsed chain — member `i` read as
    * `frameOf(i)` under its alias, the ON conditions applied in chain
    * order, the WHERE conjoined NULL-safely. */
  private def chainFrame(chain: Seq[JoinSrc], pred: String,
      frameOf: Int => DataFrame): DataFrame = {
    val frames = chain.zipWithIndex.map { case (src, i) =>
      val f = frameOf(i)
      src.alias.fold(f)(f.as(_))
    }
    val joined = chain.indices.drop(1).foldLeft(frames.head)((acc, i) =>
      acc.join(frames(i), expr(chain(i).on.get), "inner"))
    Option(pred)
      .map(p => joined.filter(coalesce(expr(p), lit(false))))
      .getOrElse(joined)
  }

  // ------------------------------------------------------------- create

  /** Materialize a view definition at the given pins AND derive its
    * commit txn map (watermarks + NULL-sum license) from the SAME scan.
    *
    * For the aggregate shape the pinned definition text gets per-sum
    * NULL-counter aggregates appended (`sum(CASE WHEN (e) IS NULL THEN 1
    * ELSE 0 END)` — extra aggregates never change the grouping or the
    * other columns), the fused frame is checkpointed, the license read
    * from the tiny counter columns, and the counters DROPPED before the
    * write — one source scan plus a view-sized probe instead of a
    * separate license pass over the source. Group-level counter > 0
    * anywhere ⇔ some row's summed expression was NULL; exact-type
    * licensing checks the sum output fields. Any mishap in the fused
    * construction degrades the LICENSE (0L — every later refresh
    * full-recomputes, always sound), never the statement. Other shapes
    * and sum-free views keep the single plain materialization pass. */
  private def materialize(spark: SparkSession, defn: String,
      srcs: Seq[String], pins: Map[String, Int]): (DataFrame, Map[String, Long]) = {
    val wm = watermarks(srcs.map(pins))
    def plain = spark.sql(ViewStore.expand(ViewStore.pinVersions(defn, pins)))
    aggShape(defn, srcs) match {
      case None => (plain, wm) // no license entry: not an aggregate shape
      case Some(s) if s.view.sums.isEmpty =>
        (plain, wm ++ Map(NullsafeKey -> 1L)) // nothing summed: licensed
      case Some(s) =>
        val sums = s.view.sums
        try {
          val counters = sums.zipWithIndex.map { case ((e, _), i) =>
            s"sum(CASE WHEN ($e) IS NULL THEN 1 ELSE 0 END) AS `__lic_nc_$i`"
          }
          val fusedText = s"SELECT ${s.selectList}, ${counters.mkString(", ")} " +
            s"FROM ${s.from}" +
            Option(s.pred).map(p => s" WHERE $p").getOrElse("") +
            s" GROUP BY ${s.groupBy}"
          val fused = spark.sql(
            ViewStore.expand(ViewStore.pinVersions(fusedText, pins)))
            .localCheckpoint(eager = true)
          val sumFields = sums.map { case (_, a) => fused.schema(a) }
          val lic =
            if (!deltaFoldableTypes(sumFields)) 0L
            else {
              val anyNull = fused.agg(max(when(
                sums.indices.map(i => col(s"__lic_nc_$i") > 0L)
                  .reduce(_ || _), lit(1L)).otherwise(lit(0L)))).head()
              if (!anyNull.isNullAt(0) && anyNull.getLong(0) == 1L) 0L else 1L
            }
          val df = fused.drop(sums.indices.map(i => s"__lic_nc_$i"): _*)
          (df, wm ++ Map(NullsafeKey -> lic))
        } catch {
          // a fused-construction mishap degrades the LICENSE, never the
          // CREATE/REFRESH statement it rides
          case NonFatal(_) => (plain, wm ++ Map(NullsafeKey -> 0L))
        }
    }
  }

  /** Best-effort recursive delete — the failed-CREATE cleanup path
    * (never data-plane; the tree is this statement's own staging). */
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** CREATE: materialize the definition pinned at every source's
    * current version, with the watermarks and license in the same
    * commit; one row (source_version, rows). */
  def create(spark: SparkSession, root: String, defnSql: String,
      statCols: Seq[String], bloomCols: Seq[String]): Seq[Row] = {
    // pre-checks BEFORE any work; registration only AFTER the
    // materialization succeeds — a definition Spark refuses must not
    // leave a half-created view whose path refuses retries
    ViewStore.requireMviewCreatable(root)
    val srcs = ViewStore.txtableRefs(defnSql).filter(TxTable.exists)
    val pins = srcs.map(s => s -> TxTable.open(s).currentVersion).toMap
    val t = new TxTable(root, statCols, bloomCols)
    val wm =
      try {
        val (df, txns) = materialize(spark, defnSql, srcs, pins)
        t.overwriteTagged(spark, df, txns)
        appliedThrough(txns)
      } catch {
        case e: Throwable =>
          // un-create the table artifacts this attempt staged (the
          // pre-check proved the path held nothing) so a corrected
          // CREATE retry is not refused
          deleteRecursively(java.nio.file.Paths.get(root, "_txlog"))
          deleteRecursively(java.nio.file.Paths.get(root, "data"))
          throw e
      }
    ViewStore.registerMview(root, defnSql)
    Seq(Row(wm, t.snapshot().files.map(_.rows).sum))
  }

  // ------------------------------------------------------------ refresh

  private val SimpleSelect = ("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM\\s+" +
    "txtable\\s*\\.\\s*`([^`]+)`(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$").r
  // structural keywords block per-row maintenance as bare WORDS;
  // aggregate names block only as CALLS (`max(`) — a COLUMN named `max`
  // is just a column, and forcing it to full recompute would be sound
  // but wasteful
  private val Blockers =
    Seq("GROUP", "JOIN", "DISTINCT", "UNION", "ORDER", "LIMIT", "HAVING",
      "OVER", "EXCEPT", "INTERSECT")
  private val AggBlockers = Seq("COUNT", "SUM", "MIN", "MAX", "AVG")

  /** REFRESH: one row (mode, source_version). */
  def refresh(spark: SparkSession, root: String): Seq[Row] = {
    val defn = ViewStore.mviewDefinition(root).getOrElse(
      throw new IllegalArgumentException(s"no materialized view at txtable.`$root`"))
    val t = TxTable.open(root)
    val srcs = ViewStore.txtableRefs(defn).filter(TxTable.exists)
    // the watermark is the version the recompute ACTUALLY pinned — a
    // source commit racing between an earlier currentVersion read and
    // the pin read here is materialized AND covered, so the next
    // incremental refresh never replays it
    def full(): Seq[Row] = {
      val pins = srcs.map(s => s -> TxTable.open(s).currentVersion).toMap
      // re-establish (or revoke) watermark(s) + the NULL-sum safety
      // license against the slice(s) actually pinned — license derived
      // from the materialization scan itself, not a second source pass
      val (df, txns) = materialize(spark, defn, srcs, pins)
      t.overwriteTagged(spark, df, txns)
      Seq(Row("full", appliedThrough(txns)))
    }
    if (srcs.isEmpty) return full()
    val txns = t.snapshot().txns
    val tabs = srcs.map(s => TxTable.open(s))
    val last = sourceWatermarks(txns, srcs.size)
    val cur = tabs.map(_.currentVersion)
    if (srcs.size == 1 && cur.head <= last.head) return Seq(Row("noop", last.head))
    val rows =
      if (srcs.size == 1)
        incrementalRows(spark, t, defn, srcs.head, tabs.head, last.head, cur.head)
      else None
    rows.orElse(incrementalAgg(spark, t, txns, defn, srcs, tabs, last, cur))
      .getOrElse(full())
  }

  /** The single-source select/project view (`SELECT <list> FROM
    * txtable.\`src\` [WHERE …]`, no aggregate/join/distinct) whose output
    * carries the view's lead stat column: replay the source's row-level
    * change feed for exactly (last, srcV] — cost proportional to the
    * CHANGED files — through the view's predicate and select list, and
    * fold it in via the exactly-once CDC apply (one commit: rows +
    * watermark; an UPDATE whose new image leaves the view's WHERE band
    * nets to a pure delete, and vice versa). */
  private def incrementalRows(spark: SparkSession, t: TxTable, defn: String,
      srcRoot: String, src: TxTable, last: Int, srcV: Int): Option[Seq[Row]] =
    defn match {
      case SimpleSelect(selectList, root, pred)
          if root == srcRoot && last > 0 &&
            !Blockers.exists(b => topLevelKeyword(defn, b) >= 0) &&
            !AggBlockers.exists(topLevelCall(defn, _)) &&
            t.statCols.nonEmpty =>
        val key = t.statCols.head
        try {
          val ch = src.rowChangesBetween(spark, last, srcV)
          val filtered = Option(pred)
            .map(p => ch.filter(coalesce(expr(p), lit(false))))
            .getOrElse(ch)
          val projected =
            if (selectList.trim == "*") filtered
            else filtered.selectExpr(splitTopLevel(selectList) ++
              Seq("_change_type", "_commit_version"): _*)
          if (!projected.columns.contains(key)) None
          else {
            t.applyChangeRows(spark, projected, ViewStore.MviewAppId,
              srcV.toLong, key)
            Some(Seq(Row("incremental", srcV)))
          }
        } catch {
          // a vacuumed-away range (or an unexpected shape) degrades to
          // the always-sound full recompute, reported as such
          case NonFatal(_) => None
        }
      case _ => None
    }

  /** The aggregate delta path over a chain of n ≥ 1 sources — the
    * classic delta-join rule, telescoped: ΔJ = Σᵢ A₁@last ⋈ … ⋈
    * Aᵢ₋₁@last ⋈ ΔAᵢ ⋈ Aᵢ₊₁@cur ⋈ … ⋈ Aₙ@cur (signs ride the delta
    * source; every cross-delta overlap term lands in exactly one summand
    * because the LATER sources are read at CUR — the telescoping that
    * keeps n terms exact for n deltas). For n = 1 that is the source's
    * change feed under the WHERE. Idle sources contribute no term; each
    * term joins a changed-files-sized delta against pinned snapshots.
    * The signed group deltas fold as insert → +1/+x, delete → −1/−x and
    * MERGE on the composite group key (DELETE at net count 0, arithmetic
    * UPDATE, conditional INSERT) with ALL advanced watermarks in the
    * same commit; avg re-derives from its sum and count; min/max fold
    * monotonically on insert-only deltas and recheck the touched groups
    * under deletes. Sum maintenance is licensed by the NULL-safety flag
    * the create/full paths verify. Any obstacle — unparseable shape,
    * outer join, self-join, missing/revoked license, NULL group key or
    * summed value in a delta, non-foldable sum type, decimal overflow,
    * vacuumed change range, restored (rewound) source — returns None →
    * the always-sound full recompute, reported in `mode`. */
  private def incrementalAgg(spark: SparkSession, t: TxTable,
      txns: Map[String, Long], defn: String, srcs: Seq[String],
      tabs: Seq[TxTable], last: Seq[Int], cur: Seq[Int]): Option[Seq[Row]] =
    aggShape(defn, srcs).flatMap { shape =>
      val AggView(groups, countAlias, sums, mins, maxs, avgs) = shape.view
      val chain = shape.chain
      val n = chain.size
      val extrema = mins.nonEmpty || maxs.nonEmpty
      val nullsafe = sums.isEmpty || txns.get(NullsafeKey).contains(1L)
      if (last.exists(_ <= 0) || !nullsafe) None
      else if ((0 until n).exists(i => cur(i) < last(i))) None // rewound
      else if ((0 until n).forall(i => cur(i) == last(i)))
        Some(Seq(Row("noop", last.head)))
      else try {
        val groupAliases = groups.map(_._2)
        val sumAliases = sums.map(_._2)
        val projCols = groups.map { case (g, a) => expr(g).as(a) } ++
          (sums ++ mins ++ maxs).map { case (e, a) => expr(e).as(s"__v_$a") }
        // direct equi links between chain members, as
        // (deltaIdx, otherIdx) -> (deltaCol, otherCol): a pinned source
        // joining a delta only matches rows whose link-key value appears
        // in the delta, so its scan can be SEMI-JOIN REDUCED — manifest-
        // pruned to the files whose stats admit one of the delta's
        // (≤10k, integral) key values. Cost ∝ touched files, not the
        // source.
        val aliasIdx = chain.zipWithIndex
          .flatMap { case (c, i) => c.alias.map(_ -> i) }.toMap
        val links = scala.collection.mutable.Map.empty[(Int, Int), (String, String)]
        chain.drop(1).foreach { src =>
          onEqConjuncts(src.on.get).foreach { case (qa, ca, qb, cb) =>
            for (ia <- aliasIdx.get(qa); ib <- aliasIdx.get(qb)) {
              if (!links.contains((ia, ib))) links((ia, ib)) = (ca, cb)
              if (!links.contains((ib, ia))) links((ib, ia)) = (cb, ca)
            }
          }
        }
        val changed = (0 until n).filter(i => cur(i) > last(i))
        val cdc = changed.map(i =>
          i -> tabs(i).rowChangesBetween(spark, last(i), cur(i))).toMap
        // every link-key probe the delta terms will need, collected in
        // ONE action: each branch keeps its own per-key distinct + 10001
        // limit, the branches union, and the single collect is split
        // driver-side. A branch that hits the limit loses its pruning
        // (None → full pinned read).
        val needed: Seq[(Int, String)] = changed.flatMap { i =>
          (0 until n).filter(_ != i).flatMap(j =>
            links.get((i, j)).map { case (dc, _) => (i, dc) })
        }.distinct.filter { case (i, c) =>
          cdc(i).schema.fields.find(_.name == c)
            .exists(f => f.dataType == LongType || f.dataType == IntegerType)
        }
        // a probed slice has two consumers (its probe and its delta
        // term): persist it once instead of re-reading the change range
        // per consumer; an unprobed slice is read once, by its term
        val probed = needed.map(_._1).distinct
        probed.foreach(i => cdc(i).persist())
        try {
          val keySets: Map[(Int, String), Option[Seq[Long]]] =
            if (needed.isEmpty) Map.empty
            else {
              val branches = needed.map { case (i, c) =>
                val keys = cdc(i).select(lit(i).as("__i"), lit(c).as("__c"),
                    col(c).cast("long").as("__v"))
                  .na.drop(Seq("__v"))
                // a slice the MANIFEST proves small (zero jobs to know)
                // dedups in one task — coalesce(1) makes the distinct
                // exchange-free (SinglePartition satisfies the grouping
                // requirement), so the whole batched probe runs as ONE
                // job with no AQE stage round-trips; bigger slices keep
                // the distributed distinct (the bound is data-derived,
                // not a core-count constant)
                val small = tabs(i).changeRowsUpperBound(last(i), cur(i)) <= 262144L
                (if (small) keys.coalesce(1) else keys).distinct().limit(10001)
              }
              val rows = branches.reduce(_ unionAll _).collect()
              val grouped = rows.groupBy(r => (r.getInt(0), r.getString(1)))
              needed.map { k =>
                val vs = grouped.getOrElse(k, Array.empty[Row]).map(_.getLong(2)).toSeq
                k -> (if (vs.size > 10000) None else Some(vs))
              }.toMap
            }
          def term(i: Int): DataFrame = {
            val changeType = chain(i).alias.fold("_change_type")(a => s"$a._change_type")
            val sign = when(col(changeType) === "insert", lit(1L)).otherwise(lit(-1L))
            val frame = chainFrame(chain, shape.pred, j =>
              if (j == i) cdc(j)
              else {
                val ver = if (j < i) last(j) else cur(j)
                links.get((i, j))
                  .flatMap { case (dc, oc) =>
                    keySets.getOrElse((i, dc), None).map(vs =>
                      tabs(j).readIn(spark, oc, vs, Some(ver)).df)
                  }
                  .getOrElse(tabs(j).read(spark, Some(ver)))
              })
            frame.select(projCols :+ sign.as("__sign"): _*)
          }
          val joined = changed.map(term).reduce(_ unionByName _)
          // ONE pass over the delta union computes the signed group
          // deltas AND every safety witness: per-sum NULL counters
          // (`__nc_` — sum() skips NULLs, so row-level NULLs are
          // invisible post-agg without them), and for min/max views the
          // delta extrema and the delete-presence flag (`__del`). Every
          // later check probes the group-count-sized delta instead of
          // re-reading the change feed
          val aggCols = sum(col("__sign")).as("__dn") +:
            (sumAliases.map(a =>
              sum(col(s"__v_$a") * col("__sign")).as(s"__d_$a")) ++
              sumAliases.map(a =>
                sum(when(col(s"__v_$a").isNull, lit(1L))
                  .otherwise(lit(0L))).as(s"__nc_$a")) ++
              mins.map { case (_, a) => min(col(s"__v_$a")).as(s"__mn_$a") } ++
              maxs.map { case (_, a) => max(col(s"__v_$a")).as(s"__mx_$a") } ++
              (if (!extrema) Nil
               else Seq(max(when(col("__sign") < 0L, lit(1L))
                 .otherwise(lit(0L))).as("__del"))))
          // EAGER localCheckpoint, not persist: the delta union's lineage
          // would otherwise be re-ANALYZED by every downstream action
          // (measured: ~60% of refresh wall time was driver-side
          // planning between jobs) — the checkpoint truncates every
          // later plan to a scan of the group-count-sized delta; the
          // per-query unpersist sweep in Bench/Verify reclaims the blocks
          val delta0 = joined.groupBy(groupAliases.map(col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
            .localCheckpoint(eager = true)
          try {
            // NULL group key ⇒ NULL-keyed delta row; NULL summed value ⇒
            // positive `__nc_` counter. ONE aggregate action answers
            // every control probe — unsafe? any delete? empty? would a
            // decimal sum overflow? When a decimal sum exists the delta
            // left-joins the group-count-sized materialization and the
            // overflow witness ((t.a + Δa) IS NULL on non-NULL operands)
            // aggregates in the SAME pass. View group keys are unique by
            // construction (a groupBy output maintained by keyed MERGE),
            // so the join preserves the delta's row count and the max()
            // witnesses are duplicate-blind anyway.
            val dFields = delta0.schema.fields.filter(_.name.startsWith("__d_"))
            val hasDecimalSum = dFields.exists(_.dataType.isInstanceOf[DecimalType])
            val sd = delta0.as("s")
            val probeSrc =
              if (!hasDecimalSum) sd
              else sd.join(t.read(spark).as("t"),
                groupAliases.map(g => col(s"s.`$g`") <=> col(s"t.`$g`"))
                  .reduce(_ && _), "left")
            val unsafe = groupAliases.map(g => col(s"s.`$g`").isNull) ++
              sumAliases.map(a => col(s"s.`__nc_$a`") > 0L)
            val ovfWitness =
              if (!hasDecimalSum) lit(false)
              else sumAliases.map { a =>
                col(s"t.`$a`").isNotNull && col(s"s.`__d_$a`").isNotNull &&
                  (col(s"t.`$a`") + col(s"s.`__d_$a`")).isNull
              }.reduce(_ || _)
            val probe = probeSrc.agg(
              count(lit(1)).as("__n"),
              Seq(max(when(unsafe.reduce(_ || _), lit(1L)).otherwise(lit(0L))).as("__u"),
                max(when(ovfWitness, lit(1L)).otherwise(lit(0L))).as("__ov")) ++
                (if (extrema) Seq(max(col("s.`__del`")).as("__dl")) else Nil): _*).head()
            def flag(i: Int) = !probe.isNullAt(i) && probe.getLong(i) == 1L
            val nGroups = probe.getLong(0)
            val wm = watermarks(cur)
            if (flag(1)) None // a NULL group key or summed value arrived
            // a delete can evict the current extremum — min/max views
            // recheck exactly the groups the delta names, cost ∝ touched
            // groups, never the view (delta0's group keys ARE the
            // distinct touched groups)
            else if (extrema && flag(3))
              recheckTouchedGroups(spark, t, chain.head, tabs.head, cur.head,
                delta0, groups, countAlias, sums, mins, maxs, shape.pred, avgs)
            // the delta's own sum types must be exactly foldable too (a
            // widening evolution could drift them past the licensed
            // create-time types) — schema-only, no job
            else if (!deltaFoldableTypes(dFields.toSeq)) None
            else if (nGroups == 0L) {
              // all source changes fell outside the view — commit the
              // watermarks txn-only or every later refresh re-reads
              // this same change range forever
              t.commitTxns(wm, "mview-watermark")
              Some(Seq(Row("noop", cur.head)))
            }
            // decimal sums can overflow to NULL under non-ANSI
            // arithmetic; under the license that is a FAULT —
            // full-recompute instead of papering over it
            else if (flag(2)) None
            else {
              // plain addition, NO coalesce: under the license t.sum and
              // s.__d are provably non-NULL, and a NULL arithmetic result
              // is a fault the overflow witness catches
              val delta = delta0.drop(
                sumAliases.map(a => s"__nc_$a") ++ (if (extrema) Seq("__del") else Nil): _*)
              mergeGroupDelta(spark, t, delta, groupAliases, countAlias,
                sumAliases, wm, mins.map(_._2), maxs.map(_._2),
                avgs.map { case (_, s, a) => (s, a) })
              Some(Seq(Row("incremental", cur.head)))
            }
          } finally { delta0.unpersist(blocking = false); () }
        } finally probed.foreach(i => cdc(i).unpersist(blocking = false))
      } catch {
        case NonFatal(_) => None
      }
    }

  /** MERGE a signed GROUP-BY delta frame (`__dn` + `__d_<alias>`
    * columns alongside the group keys) into the materialization on the
    * composite group key: net-count-0 groups DELETE, touched groups
    * update arithmetically (plain addition — the license guarantees
    * non-NULL operands; the decimal-overflow fault witness rides the
    * refresh's fused control probe), net-new groups INSERT; `txns` (the
    * watermarks) ride the SAME commit. */
  private def mergeGroupDelta(spark: SparkSession,
      t: TxTable, delta: DataFrame,
      groups: Seq[String], countAlias: String, sumAliases: Seq[String],
      txns: Map[String, Long], minAliases: Seq[String],
      maxAliases: Seq[String], avgAliases: Seq[(String, String)]): Unit = {
    import graft.tables.TxTable.{MergeDelete, MergeInsert, MergeUpdate}
    // min/max sets only arrive on INSERT-ONLY deltas (the monotone
    // fold: least/greatest against the delta's own extrema — both skip
    // NULL operands, so an all-NULL delta extremum keeps the stored
    // value and a NULL stored value adopts the delta's, exactly the
    // min()-ignores-NULLs recompute semantics); deltas carrying deletes
    // take the touched-group recheck instead.
    // avgs ((sumAlias, avgAlias) pairs) re-derive from the maintained
    // sum and count with Spark's own divide-then-cast shape: the stored
    // sum column has exactly Average's buffer type, so CAST(newSum /
    // newCount AS <declared avg type>) is the identical computation a
    // recompute would run — deletes included (an avg is a RATIO of
    // maintained columns, so unlike min/max a delete never strands it)
    val schema = if (avgAliases.isEmpty) null else t.read(spark).schema
    def typOf(a: String) = schema(a).dataType.sql
    val avgUpd = avgAliases.map { case (s, a) =>
      a -> (s"CAST((t.`$s` + s.`__d_$s`) / (t.`$countAlias` + s.`__dn`) " +
        s"AS ${typOf(a)})")
    }
    val avgIns = avgAliases.map { case (s, a) =>
      s"CAST(CAST(s.`__d_$s` AS ${typOf(s)}) / s.`__dn` AS ${typOf(a)})"
    }
    val matched = Seq(
      MergeDelete(Some(s"t.`$countAlias` + s.`__dn` = 0")),
      MergeUpdate(None, Some(
        (countAlias -> s"t.`$countAlias` + s.`__dn`") +:
          (sumAliases.map(a => a -> s"t.`$a` + s.`__d_$a`") ++
            minAliases.map(a => a -> s"least(t.`$a`, s.`__mn_$a`)") ++
            maxAliases.map(a => a -> s"greatest(t.`$a`, s.`__mx_$a`)") ++
            avgUpd))))
    val insCols = groups ++ Seq(countAlias) ++ sumAliases ++
      minAliases ++ maxAliases ++ avgAliases.map(_._2)
    val insVals = groups.map(g => s"s.`$g`") ++
      Seq("s.`__dn`") ++ sumAliases.map(a => s"s.`__d_$a`") ++
      minAliases.map(a => s"s.`__mn_$a`") ++ maxAliases.map(a => s"s.`__mx_$a`") ++
      avgIns
    val notMatched = Seq(MergeInsert(Some("s.`__dn` > 0"),
      Some(insCols), Some(insVals)))
    // delta is a groupBy output keyed on the merge key: key-distinct by
    // construction, so the duplicate-source-match probe job is skipped
    t.mergeWhen(spark, delta, groups, matched, notMatched, Nil, txns,
      sourceKeyDistinct = true)
    ()
  }

  /** TOUCHED-GROUP RECHECK: a delete can evict a group's current
    * min/max, which no ±x arithmetic can repair — but only for the
    * groups the delta NAMES. Re-aggregate exactly those groups from the
    * pinned source (a one-member chain: min/max views have one source)
    * and MERGE: a recomputed group updates to its exact values, a
    * vanished group deletes, a group born in this very delta inserts.
    * Cost ∝ touched groups — never the view, never the source. Over ~10k
    * touched tuples the IN-list (and the driver-side tuple set) stops
    * being cheap: full recompute. */
  private def recheckTouchedGroups(spark: SparkSession, t: TxTable,
      src: JoinSrc, srcTable: TxTable, srcV: Int,
      // the group-delta frame — one row per touched group (a groupBy
      // output), so its key projection needs no distinct pass
      groupDelta: DataFrame, groups: Seq[(String, String)],
      countAlias: String, sums: Seq[(String, String)],
      mins: Seq[(String, String)], maxs: Seq[(String, String)],
      pred: String, avgs: Seq[(String, String, String)]): Option[Seq[Row]] = {
    import graft.tables.TxTable.{MergeDelete, MergeInsert, MergeUpdate}
    val groupAliases = groups.map(_._2)
    val touched = groupDelta.select(groupAliases.map(col): _*)
      .limit(10001).collect()
    if (touched.length > 10000) return None
    // EXACT semi-join file pruning: the SQL-path source read only folds
    // an IN-list to a [min,max] envelope band, which prunes nothing when
    // the touched keys straddle the domain (a {0..2, 9000001}
    // delete+insert shape spans every file's range). readIn tests each
    // file's [min,max] against the MEMBER SET by binary search — exact
    // per-file membership, cost ∝ touched files — and already applies
    // that column's isin residual. Non-integral first keys keep the SQL
    // read (envelope bands at best, residual filters keep it exact).
    val exactPruned: Option[DataFrame] =
      groups.zipWithIndex.collectFirst {
        case ((g, a), i) if {
          val dt = groupDelta.schema(a).dataType
          dt == LongType || dt == IntegerType
        } =>
          val vs = touched.map(r => r.get(i)).filter(_ != null)
            .map { case n: Number => n.longValue }.distinct.toSeq
          // the source column under an optional chain-alias qualifier
          srcTable.readIn(spark, g.substring(g.lastIndexOf('.') + 1), vs,
            Some(srcV)).df
      }
    val base = exactPruned.getOrElse(
      spark.sql(s"SELECT * FROM txtable.`${src.root}` VERSION AS OF $srcV"))
    val aliased = src.alias.fold(base)(base.as(_))
    val withPred = Option(pred)
      .map(p => aliased.filter(coalesce(expr(p), lit(false)))).getOrElse(aliased)
    val inCols = groups.zipWithIndex.map { case ((g, _), i) =>
      expr(g).isin(touched.map(_.get(i)).distinct.toSeq: _*)
    }
    val aggCols = (count(lit(1)).as(countAlias) +:
      sums.map { case (e, a) => sum(expr(e)).as(a) }) ++
      mins.map { case (e, a) => min(expr(e)).as(a) } ++
      maxs.map { case (e, a) => max(expr(e)).as(a) } ++
      avgs.map { case (e, _, a) => avg(expr(e)).as(a) }
    val recomputed = withPred.filter(inCols.reduce(_ && _))
      .groupBy(groups.map { case (g, a) => expr(g).as(a) }: _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val touchedDf = spark.createDataFrame(
      java.util.Arrays.asList(touched: _*),
      StructType(groupAliases.map(a => groupDelta.schema(a))))
    // NULL countAlias after the left join ⇔ the touched group vanished
    val mergeSource = touchedDf.join(recomputed, groupAliases, "left")
    val aggAliases = Seq(countAlias) ++ (sums ++ mins ++ maxs).map(_._2) ++
      avgs.map(_._3)
    val matched = Seq(
      MergeDelete(Some(s"s.`$countAlias` IS NULL")),
      MergeUpdate(None, Some(aggAliases.map(a => a -> s"s.`$a`"))))
    val notMatched = Seq(MergeInsert(Some(s"s.`$countAlias` IS NOT NULL"),
      Some(groupAliases ++ aggAliases),
      Some((groupAliases ++ aggAliases).map(a => s"s.`$a`"))))
    // touchedDf is a collected DISTINCT key set left-joined to a groupBy
    // output on the same key: key-distinct by construction
    t.mergeWhen(spark, mergeSource, groupAliases, matched, notMatched, Nil,
      watermarks(Seq(srcV)), sourceKeyDistinct = true)
    Some(Seq(Row("incremental-recheck", srcV)))
  }
}
