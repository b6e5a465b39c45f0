package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType}

import graft.tables.TxTable

/** SQL DML/DDL entry for the lakehouse tier (round-8 verdict #1): a
  * parser extension (`SparkSessionExtensions.injectParser`, registered by
  * [[graft.functions.GraftExtensions]]) that recognizes the table-format
  * statements ANSI SQL has no grammar for and Spark's own parser either
  * rejects (RESTORE, DESCRIBE HISTORY, VACUUM, OPTIMIZE) or can only
  * route into DSv2 row-level-operation machinery the format doesn't need
  * (MERGE INTO with the canonical upsert clauses). Everything else —
  * including SELECT with `VERSION AS OF`, DELETE FROM, and ALTER TABLE
  * RENAME/DROP COLUMN, which Spark parses natively and resolves through
  * [[graft.sources.TxTableCatalog]] — is delegated verbatim to the
  * session parser, so the extension is invisible outside `txtable.`
  * statements.
  *
  * Supported statements (target is always ``txtable.`<root>` ``):
  * {{{
  *   MERGE INTO txtable.`/p` [AS t] USING <source> ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  *   MERGE INTO … ON t.k = s.k                      -- general clauses:
  *     [WHEN MATCHED [AND <cond>] THEN UPDATE SET a = expr, … | UPDATE SET * | DELETE]…
  *     [WHEN NOT MATCHED [AND <cond>] THEN INSERT * | INSERT (cols) VALUES (exprs)]
  *     [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET … | DELETE]…
  *   CONVERT TO TXTABLE txtable.`/dst` FROM PARQUET `/src`
  *     [TBLPROPERTIES('statCols'='a,b'[, 'bloomCols'='c'])]
  *   ANALYZE TABLE txtable.`/p` [COMPUTE STATISTICS] [FOR COLUMNS c1, c2]
  *   COPY INTO txtable.`/p` FROM `/dir` [FILEFORMAT = PARQUET]
  *     [PATTERN = '<glob>'] [TBLPROPERTIES('statCols'='a,b')]
  *   INSERT INTO txtable.`/p` REPLACE WHERE c BETWEEN lo AND hi <select>
  *   VACUUM GROUP txtable.`/g` [RETAIN <n> VERSIONS] [DRY RUN]
  *   RESTORE TABLE txtable.`/p` [TO] VERSION AS OF <n> | [TO] TIMESTAMP AS OF '<ts>' 
  *   DESCRIBE HISTORY txtable.`/p`
  *   DESCRIBE HISTORY GROUP txtable.`/group-root`
  *   RESTORE GROUP txtable.`/group-root` [TO] VERSION AS OF <n>
  *   VACUUM txtable.`/p` [RETAIN <n> VERSIONS] [DRY RUN]
  *   OPTIMIZE txtable.`/p` [WHERE c BETWEEN lo AND hi] [SMALLER THAN <rows>]
  *     [ZORDER BY (c1, c2[, c3]) [INTO <n> FILES]]   -- WHERE and ZORDER exclusive
  *   DELETE FROM txtable.`/p` WHERE c [NOT] IN (SELECT …)
  *   CREATE [OR REPLACE] [TEMP] VIEW txtable.`/v` AS <query>
  *   DROP VIEW [IF EXISTS] txtable.`/v`
  *   CREATE MATERIALIZED VIEW txtable.`/mv`
  *     [TBLPROPERTIES('statCols'='…')] AS <query>
  *   REFRESH MATERIALIZED VIEW txtable.`/mv`; DROP MATERIALIZED VIEW …
  *   CREATE GROUP txtable.`/g`; ALTER GROUP … ADD TABLE …; COMMIT GROUP …
  *   CREATE TABLE txtable.`/dst` SHALLOW CLONE txtable.`/src`
  *   ALTER TABLE txtable.`/p` CREATE TAG <name> [AS OF VERSION <n>]
  *   ALTER TABLE txtable.`/p` DROP TAG <name>
  * }}}
  *
  * Each parses to a [[LeafRunnableCommand]] delegating to the
  * spec-hardened [[graft.tables.TxTable]] operation — the SQL surface
  * adds an entry point, never a second implementation. A statement that
  * names a `txtable.` target but doesn't fit the supported form FAILS
  * loudly at parse time with the supported grammar in the message
  * (silent delegation would surface as Spark's unrelated
  * "row-level operations" analysis error). */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // view EXPANSION happens here, before delegation: every txtable.`/p`
  // reference whose path stores a VIEW definition becomes the
  // parenthesized stored query (recursively — views compose; non-view
  // references pass through to the catalog untouched). Graft statements
  // are matched FIRST so view DDL is never self-expanded.
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseGraft(sqlText)
      .getOrElse(delegate.parsePlan(ViewStore.expand(sqlText)))

  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    GraftSqlParser.parseGraft(sqlText)
      .getOrElse(delegate.parsePlanWithParameters(ViewStore.expand(sqlText), ctx))

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  // `txtable.`<root>`` — the backticked root may hold any path character
  private val Target = "txtable\\s*\\.\\s*`([^`]+)`"

  private val MergeRe = (
    "(?is)^\\s*MERGE\\s+INTO\\s+" + Target +
    "(?:\\s+AS\\s+(\\w+)|\\s+(\\w+))?" +
    "\\s+USING\\s+(.+?)" +
    "\\s+WHEN\\s+MATCHED\\s+THEN\\s+UPDATE\\s+SET\\s+\\*" +
    "\\s+WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s+\\*\\s*;?\\s*$").r
  private val MergeProbe = ("(?is)^\\s*MERGE\\s+INTO\\s+" + Target + ".*").r
  private[sql] val OnEq =
    "(?s)^\\s*(?:(\\w+)\\s*\\.\\s*)?(\\w+)\\s*=\\s*(?:(\\w+)\\s*\\.\\s*)?(\\w+)\\s*$".r

  // `UPDATE t SET … WHERE c [NOT] IN (SELECT …)` — the update face of
  // the subquery-predicate DML; matched before the general form
  private val UpdateInSubqRe = (
    "(?is)^\\s*UPDATE\\s+" + Target +
    "\\s+SET\\s+(.+?)" +
    "\\s+WHERE\\s+(\\w+)\\s+(NOT\\s+)?IN\\s*\\(\\s*(SELECT\\b.+)\\)\\s*;?\\s*$").r

  // every other WHERE — any predicate text, BETWEEN bands included —
  // runs TxTable.updateWhere, which prunes files from the predicate
  private val UpdateWhereRe = (
    "(?is)^\\s*UPDATE\\s+" + Target +
    "\\s+SET\\s+(.+?)" +
    "\\s+WHERE\\s+(.+?)\\s*;?\\s*$").r
  private val UpdateProbe = ("(?is)^\\s*UPDATE\\s+" + Target + ".*").r
  private val Assign = "(?s)^\\s*(\\w+)\\s*=\\s*(.+?)\\s*$".r

  /** `a = expr, b = expr` (top-level commas only) as (column, rhs) pairs. */
  private def assignmentsOf(sets: String, verb: String): Seq[(String, String)] =
    splitTopLevel(sets).map {
      case Assign(name, rhs) => (name, rhs)
      case other => throw new IllegalArgumentException(
        s"bad $verb assignment: $other")
    }

  // `DELETE FROM t WHERE c [NOT] IN (SELECT …)` — the subquery-predicate
  // DML form (round-12 verdict #2); matched BEFORE the general WHERE so
  // the subquery is materialized once through the session SQL pipeline
  // instead of failing inside a Dataset-filter expression
  private val DeleteInSubqRe = (
    "(?is)^\\s*DELETE\\s+FROM\\s+" + Target +
    "\\s+WHERE\\s+(\\w+)\\s+(NOT\\s+)?IN\\s*\\(\\s*(SELECT\\b.+)\\)\\s*;?\\s*$").r

  // WHERE-ful DELETE takes the arbitrary-predicate copy-on-write path
  // (TxTable.deleteWhere); DELETE without WHERE stays with the DSv2
  // truncate, and non-txtable DELETEs pass through to the delegate
  private val DeleteWhereRe = (
    "(?is)^\\s*DELETE\\s+FROM\\s+" + Target +
    "\\s+WHERE\\s+(.+?)\\s*;?\\s*$").r

  private val RestoreRe = (
    "(?is)^\\s*RESTORE\\s+TABLE\\s+" + Target +
    "\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$").r
  private val RestoreTsRe = (
    "(?is)^\\s*RESTORE\\s+TABLE\\s+" + Target +
    "\\s+(?:TO\\s+)?TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*$").r
  private val RestoreProbe = ("(?is)^\\s*RESTORE\\s+TABLE\\s+" + Target + ".*").r

  private val HistoryRe =
    ("(?is)^\\s*(?:DESCRIBE|DESC)\\s+HISTORY\\s+" + Target + "\\s*;?\\s*$").r

  private val GroupHistoryRe =
    ("(?is)^\\s*(?:DESCRIBE|DESC)\\s+HISTORY\\s+GROUP\\s+" + Target + "\\s*;?\\s*$").r

  private val GroupRestoreRe = (
    "(?is)^\\s*RESTORE\\s+GROUP\\s+" + Target +
    "\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$").r

  // group DDL (round-10 verdict missing #4): CREATE GROUP births the
  // group log, ADD TABLE declares a member (schema + stat/bloom
  // properties, the CREATE TABLE shape), COMMIT GROUP cuts one atomic
  // multi-table version pinning every member's current version
  private val GroupCreateRe =
    ("(?is)^\\s*CREATE\\s+GROUP\\s+" + Target + "\\s*;?\\s*$").r
  private val GroupAddTableRe = (
    "(?is)^\\s*ALTER\\s+GROUP\\s+" + Target +
    "\\s+ADD\\s+TABLE\\s+(\\w+)\\s*\\(([^)]*)\\)" +
    "(?:\\s+TBLPROPERTIES\\s*\\((.*?)\\))?\\s*;?\\s*$").r
  private val GroupCommitRe =
    ("(?is)^\\s*COMMIT\\s+GROUP\\s+" + Target + "\\s*;?\\s*$").r

  private val CloneRe = (
    "(?is)^\\s*CREATE\\s+TABLE\\s+" + Target +
    "\\s+SHALLOW\\s+CLONE\\s+" + Target + "\\s*;?\\s*$").r

  private val TagName = "([A-Za-z0-9][A-Za-z0-9._-]*)"

  private val TagCreateRe = (
    "(?is)^\\s*ALTER\\s+TABLE\\s+" + Target +
    "\\s+CREATE\\s+TAG\\s+" + TagName +
    "(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?\\s*;?\\s*$").r

  private val TagDropRe = (
    "(?is)^\\s*ALTER\\s+TABLE\\s+" + Target +
    "\\s+DROP\\s+TAG\\s+" + TagName + "\\s*;?\\s*$").r

  private val DetailRe =
    ("(?is)^\\s*(?:DESCRIBE|DESC)\\s+DETAIL\\s+" + Target + "\\s*;?\\s*$").r

  private val VacuumRe = (
    "(?is)^\\s*VACUUM\\s+" + Target +
    "(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS)?(\\s+DRY\\s+RUN)?\\s*;?\\s*$").r

  private val ConvertRe = (
    "(?is)^\\s*CONVERT\\s+TO\\s+TXTABLE\\s+" + Target +
    "\\s+FROM\\s+PARQUET\\s+`([^`]+)`" +
    "(?:\\s+TBLPROPERTIES\\s*\\((.*?)\\))?\\s*;?\\s*$").r

  private val AnalyzeRe = (
    "(?is)^\\s*ANALYZE\\s+TABLE\\s+" + Target +
    "(?:\\s+COMPUTE\\s+STATISTICS)?" +
    "(?:\\s+FOR\\s+COLUMNS\\s+(\\w+(?:\\s*,\\s*\\w+)*))?\\s*;?\\s*$").r

  // Delta's `INSERT INTO … REPLACE WHERE`: atomic band overwrite — the
  // backfill statement. Only the BETWEEN band form is accepted (the
  // band is what makes the swap validated and metadata-prunable); plain
  // INSERT INTO txtable falls through to the DSv2 insert path.
  private val InsertReplaceRe = (
    "(?is)^\\s*INSERT\\s+INTO\\s+" + Target +
    "\\s+REPLACE\\s+WHERE\\s+(\\w+)\\s+BETWEEN\\s+(-?\\d+)\\s+AND\\s+(-?\\d+)" +
    "\\s+(SELECT.+)$").r

  private val CopyIntoRe = (
    "(?is)^\\s*COPY\\s+INTO\\s+" + Target +
    "\\s+FROM\\s+`([^`]+)`" +
    "(?:\\s+FILEFORMAT\\s*=\\s*PARQUET)?" +
    "(?:\\s+PATTERN\\s*=\\s*'([^']+)')?" +
    "(?:\\s+TBLPROPERTIES\\s*\\((.*?)\\))?\\s*;?\\s*$").r

  private val GroupVacuumRe = (
    "(?is)^\\s*VACUUM\\s+GROUP\\s+" + Target +
    "(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS)?(\\s+DRY\\s+RUN)?\\s*;?\\s*$").r

  // VIEWS (round-12 verdict #4): CREATE [OR REPLACE] [TEMP] VIEW /
  // DROP VIEW [IF EXISTS] over path-named definitions; MATERIALIZED
  // VIEW + REFRESH with CDF-incremental maintenance. Matched before
  // the clone/CTAS forms never see them (distinct keywords).
  private val ViewCreateRe = (
    "(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(TEMP(?:ORARY)?\\s+)?VIEW\\s+" +
    Target + "\\s+AS\\s+(SELECT\\b.+)$").r
  private val ViewDropRe = (
    "(?is)^\\s*DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?" + Target + "\\s*;?\\s*$").r
  private val MviewCreateRe = (
    "(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+" + Target +
    "(?:\\s+TBLPROPERTIES\\s*\\((.*?)\\))?" +
    "\\s+AS\\s+(SELECT\\b.+)$").r
  private val MviewRefreshRe = (
    "(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+" + Target + "\\s*;?\\s*$").r
  private val MviewDropRe = (
    "(?is)^\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+" + Target + "\\s*;?\\s*$").r

  private val OptimizeRe = (
    "(?is)^\\s*OPTIMIZE\\s+" + Target +
    "(?:\\s+WHERE\\s+(\\w+)\\s+BETWEEN\\s+(-?\\d+)\\s+AND\\s+(-?\\d+))?" +
    "(?:\\s+SMALLER\\s+THAN\\s+(\\d+))?" +
    "(?:\\s+ZORDER\\s+BY\\s+\\(?\\s*(\\w+(?:\\s*,\\s*\\w+){1,2})\\s*\\)?" +
    "(?:\\s+INTO\\s+(\\d+)\\s+FILES)?)?\\s*;?\\s*$").r
  // OPTIMIZE … MATERIALIZE DELETES [THRESHOLD f] — fold deletion-vector
  // debt back into plain files (all vectors, or only files past a
  // vectored-row fraction)
  private val OptimizeMatDelRe = (
    "(?is)^\\s*OPTIMIZE\\s+" + Target +
    "\\s+MATERIALIZE\\s+DELETES(?:\\s+THRESHOLD\\s+(0?\\.\\d+|0|1))?\\s*;?\\s*$").r
  private val OptimizeProbe = ("(?is)^\\s*OPTIMIZE\\s+" + Target + ".*").r
  // INSERT resolves through the catalog AFTER view expansion — which
  // would garble a view target into a subquery; probe it here so a
  // view/mview target refuses TYPED before expansion runs
  private val InsertProbe =
    ("(?is)^\\s*INSERT\\s+(?:INTO|OVERWRITE)\\s+(?:TABLE\\s+)?" +
      Target + ".*").r
  private val ShowViewsRe =
    ("(?is)^\\s*SHOW\\s+VIEWS\\s+IN\\s+" + Target + "\\s*;?\\s*$").r

  private val ExplainDmlRe =
    "(?is)^\\s*EXPLAIN\\s+((?:MERGE|UPDATE|DELETE)\\s+.+)$".r

  /** The graft statement in `sqlText`, if it targets a txtable root. */
  def parseGraft(sqlText: String): Option[LogicalPlan] = sqlText match {
    // DML DRY RUN (r14 verdict #6): `EXPLAIN MERGE/UPDATE/DELETE …` on a
    // txtable target returns the manifest classification the real
    // statement would act on — candidates/covered/straddling/kept and
    // the prune class — committing NOTHING. A non-txtable target parses
    // to None here and falls through to Spark's own EXPLAIN.
    case ExplainDmlRe(inner) =>
      parseGraft(inner).map {
        case TxMergeCommand(root, sourceSql, keys) =>
          TxDryRunCommand(root, "merge", Some(sourceSql), keys, None)
        case TxMergeWhenCommand(root, sourceSql, keys, _, _, _) =>
          TxDryRunCommand(root, "merge", Some(sourceSql), keys, None)
        case TxUpdateWhereCommand(root, _, pred) =>
          TxDryRunCommand(root, "update", None, Nil, Some(pred))
        case TxDeleteWhereCommand(root, pred) =>
          TxDryRunCommand(root, "delete", None, Nil, Some(pred))
        case other => throw new IllegalArgumentException(
          "EXPLAIN (dry run) supports MERGE INTO, UPDATE … WHERE, and " +
            s"DELETE FROM … WHERE on txtable targets; got ${other.getClass.getSimpleName}")
      }
    case MergeRe(root, _, _, usingAndOn) =>
      // the merge condition starts at the first TOP-LEVEL ` ON ` — an ON
      // inside a parenthesized USING subquery (a JOIN … ON inside the
      // source) belongs to the source, so a regex split at the first ON
      // would mis-blame the merge condition; scan outside parens/quotes
      val onIdx = topLevelKeyword(usingAndOn, "ON")
      if (onIdx < 0) throw new IllegalArgumentException(
        "MERGE INTO txtable USING needs a top-level ON condition — a " +
          "source containing its own JOIN … ON must be parenthesized: " +
          "USING (SELECT … FROM a JOIN b ON …) ON t.k = s.k")
      val using = usingAndOn.substring(0, onIdx).trim
      val on = usingAndOn.substring(onIdx + 2).trim
      Some(TxMergeCommand(root, using, selfKeysOf(on)))
    case MergeProbe(root) =>
      // not the canonical upsert: try the GENERAL clause surface
      Some(parseMergeWhen(sqlText).getOrElse(throw new IllegalArgumentException(
        s"unsupported MERGE INTO form for txtable.`$root` — supported: " +
          "MERGE INTO txtable.`root` [AS t] USING <src> ON t.k = s.k " +
          "followed by WHEN MATCHED [AND <cond>] THEN " +
          "UPDATE SET * | UPDATE SET a = expr, … | DELETE, " +
          "WHEN NOT MATCHED [AND <cond>] THEN INSERT * | " +
          "INSERT (cols) VALUES (exprs), and/or " +
          "WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET … | DELETE")))
    case UpdateInSubqRe(root, sets, column, not, sub) =>
      Some(TxUpdateSubqCommand(root, assignmentsOf(sets, "UPDATE"), column,
        sub.trim, negated = not != null))
    case UpdateWhereRe(root, sets, pred) =>
      Some(TxUpdateWhereCommand(root, assignmentsOf(sets, "UPDATE"), pred))
    case UpdateProbe(root) => throw new IllegalArgumentException(
      s"unsupported UPDATE form for txtable.`$root` — supported: " +
        "UPDATE txtable.`root` SET col = <expr>[, …] WHERE <predicate>")
    case DeleteInSubqRe(root, column, not, sub) =>
      Some(TxDeleteSubqCommand(root, column, sub.trim, negated = not != null))
    case DeleteWhereRe(root, pred) => Some(TxDeleteWhereCommand(root, pred))
    case RestoreRe(root, v) => Some(TxRestoreCommand(root, v.toInt))
    case RestoreTsRe(root, ts) => Some(TxRestoreTimestampCommand(root, ts))
    case RestoreProbe(root) => throw new IllegalArgumentException(
      s"unsupported RESTORE form for txtable.`$root` — supported: " +
        "RESTORE TABLE txtable.`root` [TO] VERSION AS OF <n> | " +
        "[TO] TIMESTAMP AS OF '<ts>'")
    case GroupHistoryRe(root) => Some(TxGroupHistoryCommand(root))
    case GroupRestoreRe(root, v) => Some(TxGroupRestoreCommand(root, v.toInt))
    case GroupCreateRe(root) => Some(TxCreateGroupCommand(root))
    case GroupAddTableRe(root, name, schema, props) =>
      val kv = Option(props).map { p =>
        "'(\\w+)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(p)
          .map(m => m.group(1) -> m.group(2)).toMap
      }.getOrElse(Map.empty[String, String])
      def cols(key: String): Seq[String] = kv.get(key)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      Some(TxGroupAddTableCommand(root, name, schema.trim,
        cols("statCols"), cols("bloomCols")))
    case GroupCommitRe(root) => Some(TxCommitGroupCommand(root))
    case MviewCreateRe(root, props, defn) =>
      val kv = Option(props).map { p =>
        "'(\\w+)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(p)
          .map(m => m.group(1) -> m.group(2)).toMap
      }.getOrElse(Map.empty[String, String])
      def cols(key: String): Seq[String] = kv.get(key)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      Some(TxCreateMviewCommand(root, stripStatementTail(defn),
        cols("statCols"), cols("bloomCols")))
    case MviewRefreshRe(root) => Some(TxRefreshMviewCommand(root))
    case MviewDropRe(root) => Some(TxDropMviewCommand(root))
    case ViewCreateRe(orReplace, temp, root, defn) =>
      Some(TxCreateViewCommand(root, stripStatementTail(defn),
        replace = orReplace != null, temp = temp != null))
    case ViewDropRe(ifExists, root) =>
      Some(TxDropViewCommand(root, ifExists = ifExists != null))
    case HistoryRe(root) => Some(TxDescribeHistoryCommand(root))
    case DetailRe(root) if ViewStore.definition(root).isDefined ||
        ViewStore.mviewDefinition(root).isDefined =>
      Some(TxDescribeViewCommand(root))
    case DetailRe(root) => Some(TxDescribeDetailCommand(root))
    case ShowViewsRe(prefix) => Some(TxShowViewsCommand(prefix))
    case CloneRe(dst, src) => Some(TxCloneCommand(src, dst))
    case TagCreateRe(root, name, v) =>
      Some(TxCreateTagCommand(root, name, Option(v).map(_.toInt)))
    case TagDropRe(root, name) => Some(TxDropTagCommand(root, name))
    case ConvertRe(dst, src, props) =>
      val kv = Option(props).map { p =>
        "'(\\w+)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(p)
          .map(m => m.group(1) -> m.group(2)).toMap
      }.getOrElse(Map.empty[String, String])
      def cols(key: String): Seq[String] = kv.get(key)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      Some(TxConvertCommand(dst, src, cols("statCols"), cols("bloomCols")))
    case InsertReplaceRe(root, c, lo, hi, select) =>
      Some(TxReplaceWhereCommand(root, c, lo.toLong, hi.toLong, select.trim))
    case InsertProbe(root) if ViewStore.definition(root).isDefined ||
        ViewStore.mviewDefinition(root).isDefined =>
      viewDmlTarget(root, "INSERT", routable = false); None // always throws
    case CopyIntoRe(root, src, pattern, props) =>
      val kv = Option(props).map { p =>
        "'(\\w+)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(p)
          .map(m => m.group(1) -> m.group(2)).toMap
      }.getOrElse(Map.empty[String, String])
      def cols(key: String): Seq[String] = kv.get(key)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      Some(TxCopyIntoCommand(root, src, Option(pattern),
        cols("statCols"), cols("bloomCols")))
    case AnalyzeRe(root, colList) =>
      Some(TxAnalyzeCommand(root,
        Option(colList).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)))
    case GroupVacuumRe(root, retain, dry) =>
      Some(TxGroupVacuumCommand(root,
        Option(retain).map(_.toInt).getOrElse(2), dryRun = dry != null))
    case VacuumRe(root, retain, dry) =>
      Some(TxVacuumCommand(root, Option(retain).map(_.toInt).getOrElse(2),
        dryRun = dry != null))
    case OptimizeMatDelRe(root, threshold) =>
      Some(TxMaterializeDeletesCommand(root,
        Option(threshold).map(_.toDouble).getOrElse(0.0)))
    case OptimizeRe(root, wcol, wlo, whi, smallRows, zcols, zFiles) =>
      val band = Option(wcol).map(c => (c, wlo.toLong, whi.toLong))
      require(band.isEmpty || zcols == null,
        "OPTIMIZE WHERE (band-scoped compaction) and ZORDER BY are separate " +
          "maintenance ops — run them as two statements")
      Some(TxOptimizeCommand(root,
        Option(smallRows).map(_.toLong),
        Option(zcols).map(cs => (cs.split(",").map(_.trim).toSeq,
          Option(zFiles).map(_.toInt).getOrElse(8))), band))
    case OptimizeProbe(root) => throw new IllegalArgumentException(
      s"unsupported OPTIMIZE form for txtable.`$root` — supported: " +
        "OPTIMIZE txtable.`root` [WHERE c BETWEEN lo AND hi] " +
        "[SMALLER THAN <rows>] [ZORDER BY (c1, c2) [INTO <n> FILES]] " +
        "(WHERE and ZORDER BY are exclusive), or " +
        "OPTIMIZE txtable.`root` MATERIALIZE DELETES [THRESHOLD <f>]")
    case _ => None
  }

  private[sql] def attr(name: String, dt: DataType): AttributeReference =
    AttributeReference(name, dt, nullable = false)()

  /** Split `a = f(x, y), b = 2` on TOP-LEVEL commas only (commas inside
    * parentheses or quotes belong to the expression). */
  private[sql] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { ch =>
      if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' => quote = ch; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case c => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.filter(_.trim.nonEmpty)
  }

  /** Trailing `;`/whitespace off a captured statement TAIL: the view
    * regexes capture to end-of-text, and a stored definition ending in
    * a semicolon would break every later parenthesized EXPANSION
    * (`(SELECT …;)` is a parse error even though `SELECT …;` is not). */
  private[sql] def stripStatementTail(s: String): String =
    s.replaceAll("[;\\s]+$", "").trim

  /** DML-THROUGH-VIEW contract (round-13 verdict #6): a view path used
    * as a DML target either ROUTES to its base table — the classic
    * updatable-view rule, restricted to `SELECT * FROM base [WHERE p]`
    * views (every base column visible; the caller conjoins `p` so the
    * statement governs exactly the rows the view exposes) — or REFUSES
    * with a typed message naming the base table(s). Returns None when
    * `root` holds a real table (the ordinary path), Some((base,
    * viewPredicate)) when the statement should route. `routable =
    * false` (MERGE, INSERT, subquery DML — shapes with no sound
    * predicate-conjoin rewrite) always refuses on a view. */
  private[sql] def viewDmlTarget(root: String, verb: String,
      routable: Boolean): Option[(String, Option[String])] = {
    def bases(defn: String): String = {
      val bs = ViewStore.txtableRefs(defn)
      if (bs.isEmpty) "its base query"
      else bs.map(b => s"txtable.`$b`").mkString(", ")
    }
    ViewStore.mviewDefinition(root).foreach { defn =>
      throw new IllegalArgumentException(
        s"$verb targets MATERIALIZED VIEW txtable.`$root` — mutate its " +
          s"base (${bases(defn)}) and run REFRESH MATERIALIZED VIEW instead")
    }
    ViewStore.definition(root).map { defn =>
      val Star = ("(?is)^\\s*SELECT\\s+\\*\\s+FROM\\s+" +
        "txtable\\s*\\.\\s*`([^`]+)`(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$").r
      defn match {
        case Star(base, pred) if routable &&
            ViewStore.definition(base).isEmpty &&
            ViewStore.mviewDefinition(base).isEmpty &&
            graft.tables.TxTable.exists(base) =>
          (base, Option(pred))
        case _ =>
          val why =
            if (routable)
              "which is not updatable (only `SELECT * FROM base " +
                "[WHERE …]` views route UPDATE/DELETE to their base)"
            else s"and this statement form never routes through a view"
          throw new IllegalArgumentException(
            s"$verb targets VIEW txtable.`$root`, $why — run the $verb " +
              s"against ${bases(defn)}")
      }
    }
  }

  /** Whether `kw` appears top-level in `s` AS A FUNCTION CALL — the
    * word followed (spaces allowed) by an open paren. */
  private[sql] def topLevelCall(s: String, kw: String): Boolean =
    topLevelAll(s, kw).exists { i =>
      var j = i + kw.length
      while (j < s.length && s.charAt(j).isWhitespace) j += 1
      j < s.length && s.charAt(j) == '('
    }

  /** The self-equi-key COMPONENTS a MERGE ON condition names —
    * `t.k = s.k` → Seq(k), `t.a = s.a AND t.b = s.b` → Seq(a, b) — or a
    * loud refusal: row matching is BY (composite) KEY in this engine,
    * so every top-level conjunct must be an equi-key self-condition. */
  private[sql] def selfKeysOf(on: String): Seq[String] = {
    val cuts = topLevelAll(on, "AND")
    val conjuncts = (0 +: cuts.map(_ + 3)).zip(cuts :+ on.length).map {
      case (b, e) => on.substring(b, e).trim
    }
    val keys = conjuncts.map {
      case OnEq(q1, c1, q2, c2) =>
        require(c1.equalsIgnoreCase(c2),
          s"MERGE INTO txtable ON must be equi-key self-conditions " +
            s"(t.k = s.k [AND t.k2 = s.k2] …); got $c1 = $c2")
        // qualifiers (if both present) must name two DIFFERENT sides
        require(Option(q1).isEmpty || Option(q2).isEmpty || q1 != q2,
          s"MERGE ON qualifies both sides with '$q1'")
        c1
      case other => throw new IllegalArgumentException(
        s"MERGE INTO txtable ON must be `t.key = s.key [AND …]`; got: $other")
    }
    require(keys.map(_.toLowerCase).distinct.length == keys.length,
      s"MERGE ON repeats a key column: ${keys.mkString(", ")}")
    keys
  }

  private val MergeAnyRe = (
    "(?is)^\\s*MERGE\\s+INTO\\s+" + Target +
    "(?:\\s+AS\\s+(\\w+)|\\s+(\\w+))?" +
    "\\s+USING\\s+(.+?)\\s*;?\\s*$").r
  private val MatchedUpdStarRe =
    "(?is)^MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+UPDATE\\s+SET\\s+\\*\\s*$".r
  private val MatchedUpdRe =
    "(?is)^MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+UPDATE\\s+SET\\s+(.+)$".r
  private val MatchedDelRe =
    "(?is)^MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+DELETE\\s*$".r
  private val BySourceUpdRe =
    ("(?is)^NOT\\s+MATCHED\\s+BY\\s+SOURCE(?:\\s+AND\\s+(.+?))?" +
      "\\s+THEN\\s+UPDATE\\s+SET\\s+(.+)$").r
  private val BySourceDelRe =
    "(?is)^NOT\\s+MATCHED\\s+BY\\s+SOURCE(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+DELETE\\s*$".r
  private val NotMatchedStarRe =
    "(?is)^NOT\\s+MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+INSERT\\s+\\*\\s*$".r
  private val NotMatchedInsRe =
    ("(?is)^NOT\\s+MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+INSERT\\s*" +
      "\\(([^)]*)\\)\\s*VALUES\\s*\\((.+)\\)\\s*$").r

  /** The GENERAL MERGE surface → [[TxMergeWhenCommand]]: clauses are cut
    * at top-level `WHEN` keywords (so a CASE WHEN inside a parenthesized
    * condition never splits a clause) and each parsed against the five
    * supported shapes. Returns None when the text is not a MERGE with a
    * clause tail — the caller owns the loud grammar error. */
  private[sql] def parseMergeWhen(sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case MergeAnyRe(root, _, _, tail) =>
        val onIdx = topLevelKeyword(tail, "ON")
        if (onIdx < 0) return None
        val using = tail.substring(0, onIdx).trim
        val afterOn = tail.substring(onIdx + 2)
        val whens = topLevelAll(afterOn, "WHEN")
        if (whens.isEmpty) return None
        val keys = selfKeysOf(afterOn.substring(0, whens.head).trim)
        val bounds = whens :+ afterOn.length
        val clauses = whens.indices.map(i =>
          afterOn.substring(whens(i) + 4, bounds(i + 1)).trim)
        import graft.tables.TxTable.{MergeDelete, MergeInsert, MergeMatched, MergeUpdate}
        val matched = scala.collection.mutable.ArrayBuffer.empty[MergeMatched]
        val bySource = scala.collection.mutable.ArrayBuffer.empty[MergeMatched]
        val notMatched = scala.collection.mutable.ArrayBuffer.empty[MergeInsert]
        clauses.foreach {
          case MatchedUpdStarRe(cond) =>
            matched += MergeUpdate(Option(cond).map(_.trim), None)
          case MatchedDelRe(cond) =>
            matched += MergeDelete(Option(cond).map(_.trim))
          case BySourceDelRe(cond) =>
            bySource += MergeDelete(Option(cond).map(_.trim))
          case BySourceUpdRe(cond, sets) =>
            bySource += MergeUpdate(Option(cond).map(_.trim),
              Some(assignmentsOf(sets, "MERGE UPDATE")))
          case NotMatchedStarRe(cond) =>
            notMatched += MergeInsert(Option(cond).map(_.trim), None, None)
          case NotMatchedInsRe(cond, cols, vals) =>
            notMatched += MergeInsert(Option(cond).map(_.trim),
              Some(cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
              Some(splitTopLevel(vals).map(_.trim)))
          case MatchedUpdRe(cond, sets) => // AFTER the star form (it matches `*` too)
            matched += MergeUpdate(Option(cond).map(_.trim),
              Some(assignmentsOf(sets, "MERGE UPDATE")))
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE clause: WHEN $other")
        }
        Some(TxMergeWhenCommand(root, using, keys, matched.toSeq,
          notMatched.toSeq, bySource.toSeq))
      case _ => None
    }

  /** Every TOP-LEVEL whole-word index of `kw` in `s` — the multi-hit
    * sibling of [[topLevelKeyword]], one scan. */
  private[sql] def topLevelAll(s: String, kw: String): Seq[Int] = {
    def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' | '`' => quote = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + kw.length >= s.length || !wordChar(s.charAt(i + kw.length))))
            out += i
      }
      i += 1
    }
    out.toSeq
  }

  /** Index of the first TOP-LEVEL (outside parentheses, quotes, and
    * backticks) whole-word, case-insensitive occurrence of `kw` in `s`,
    * or -1 — the same scanner discipline as [[splitTopLevel]], used to
    * find the MERGE condition's ON without being fooled by a JOIN … ON
    * inside a parenthesized USING subquery. */
  private[sql] def topLevelKeyword(s: String, kw: String): Int = {
    def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' | '`' => quote = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + kw.length >= s.length || !wordChar(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }
}

/** `EXPLAIN MERGE/UPDATE/DELETE …` → the DRY-RUN manifest
  * classification (r14 verdict #6): one row of accounting — what the
  * real statement would drop metadata-only, rewrite, and keep, plus the
  * prune class that decided — computed from the SAME factored probes
  * the real run uses ([[graft.tables.TxTable#dryRunMerge]] for MERGE,
  * [[graft.tables.TxTable#dryRunWhere]] — the one WHERE classification
  * — for UPDATE and DELETE) and committing NOTHING (SqlTableSpec pins
  * version-before == version-after and dry-run counts == the
  * subsequent real run's result counts). */
case class TxDryRunCommand(root: String, kind: String,
    sourceSql: Option[String], keys: Seq[String], pred: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("operation", StringType), attr("files_total", IntegerType),
    attr("candidates", IntegerType), attr("covered", IntegerType),
    attr("straddling", IntegerType), attr("kept", IntegerType),
    attr("prune_class", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.viewDmlTarget(root, "EXPLAIN (dry run)", routable = false)
    val t = TxTable.open(root)
    val d = (sourceSql, pred) match {
      case (Some(src), _) =>
        t.dryRunMerge(spark, spark.sql(s"SELECT * FROM $src"), keys)
      case (_, Some(p)) => t.dryRunWhere(spark, kind, p)
      case _ => throw new IllegalStateException("empty dry-run spec")
    }
    Seq(Row(d.operation, d.filesTotal, d.candidates, d.covered,
      d.straddling, d.kept, d.pruneClass))
  }
}

/** `MERGE INTO txtable.\`root\` USING <src> ON t.k = s.k WHEN MATCHED
  * THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — the canonical
  * upsert, delegated to [[TxTable.merge]] (copy-on-write, manifest-
  * interval candidate pruning, file-level conflict detection). The
  * source clause is any table reference or parenthesized subquery;
  * it is evaluated through the full session SQL pipeline. */
case class TxMergeCommand(root: String, sourceSql: String, keys: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("rewritten_files", IntegerType),
    attr("kept_files", IntegerType), attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.viewDmlTarget(root, "MERGE", routable = false)
    val src = spark.sql(s"SELECT * FROM $sourceSql")
    val r = TxTable.open(root).merge(spark, src, keys)
    Seq(Row(r.version, r.rewrittenFiles, r.keptFiles, r.newFiles))
  }
}

/** `UPDATE txtable.\`root\` SET col = <expr>[, …] WHERE <predicate>` —
  * the Delta-style UPDATE ([[TxTable.updateWhere]]) for every WHERE
  * spelling, BETWEEN bands included: manifest stats prune candidate
  * files through the predicate's conjunct intervals, candidates
  * rewrite copy-on-write under a conditional projection with ANSI
  * pre-update-row SET semantics. SET may move rows out of the band the
  * WHERE names (`SET k = k + 1000 WHERE k BETWEEN 0 AND 9`). */
case class TxUpdateWhereCommand(root: String, sets: Seq[(String, String)],
    predicateSql: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("dropped_files", IntegerType),
    attr("rewritten_files", IntegerType), attr("kept_files", IntegerType),
    attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    // updatable-view routing: conjoin the view's own predicate so the
    // UPDATE governs exactly the rows the view exposes
    val (target, pred) =
      GraftSqlParser.viewDmlTarget(root, "UPDATE", routable = true) match {
        case Some((b, vp)) =>
          (b, vp.map(p => s"($predicateSql) AND ($p)").getOrElse(predicateSql))
        case None => (root, predicateSql)
      }
    val r = TxTable.open(target).updateWhere(spark, pred, sets)
    Seq(Row(r.version, r.droppedFiles, r.rewrittenFiles, r.keptFiles, r.newFiles))
  }
}

/** `DELETE FROM txtable.\`root\` WHERE <predicate>` — the GENERAL
  * copy-on-write delete ([[TxTable.deleteWhere]]): provably-disjoint
  * files carry by name, provably-fully-covered files drop
  * metadata-only, the rest rewrite without their matching rows. */
case class TxDeleteWhereCommand(root: String, predicateSql: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("dropped_files", IntegerType),
    attr("rewritten_files", IntegerType), attr("kept_files", IntegerType),
    attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (target, pred) =
      GraftSqlParser.viewDmlTarget(root, "DELETE", routable = true) match {
        case Some((b, vp)) =>
          (b, vp.map(p => s"($predicateSql) AND ($p)").getOrElse(predicateSql))
        case None => (root, predicateSql)
      }
    val r = TxTable.open(target).deleteWhere(spark, pred)
    Seq(Row(r.version, r.droppedFiles, r.rewrittenFiles, r.keptFiles, r.newFiles))
  }
}

/** `DELETE FROM txtable.\`root\` WHERE c [NOT] IN (SELECT …)` — the
  * subquery-predicate DML form: the subquery is materialized ONCE
  * through the full session SQL pipeline (views, joins, aggregates —
  * anything `spark.sql` resolves), then [[TxTable#deleteWhereIn]]
  * applies the predicate-DML rewrite discipline: per-key manifest
  * interval probe for candidate files, broadcast anti/semi-join
  * survivors, ANSI NULL semantics (`NOT IN` with a NULL key deletes
  * nothing, NULL-column rows always survive). An equality-correlated
  * `EXISTS (SELECT 1 FROM x WHERE x.a = t.c)` is the same statement
  * as `c IN (SELECT a FROM x)` — write it in the IN form. */
case class TxDeleteSubqCommand(root: String, column: String,
    subquerySql: String, negated: Boolean) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("dropped_files", IntegerType),
    attr("rewritten_files", IntegerType), attr("kept_files", IntegerType),
    attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.viewDmlTarget(root, "DELETE", routable = false)
    val keys = spark.sql(subquerySql)
    val r = TxTable.open(root).deleteWhereIn(spark, column, keys, negated)
    Seq(Row(r.version, r.droppedFiles, r.rewrittenFiles, r.keptFiles,
      r.newFiles))
  }
}

/** `UPDATE txtable.\`root\` SET … WHERE c [NOT] IN (SELECT …)` — the
  * update face of subquery-predicate DML ([[TxTable#updateWhereIn]]):
  * subquery materialized once, per-key manifest interval probe for
  * candidates, one conditional projection with ANSI pre-update-row SET
  * semantics, ANSI NULL rules (`NOT IN` with a NULL key updates
  * nothing; NULL-column rows carry unchanged). */
case class TxUpdateSubqCommand(root: String, sets: Seq[(String, String)],
    column: String, subquerySql: String, negated: Boolean)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("dropped_files", IntegerType),
    attr("rewritten_files", IntegerType), attr("kept_files", IntegerType),
    attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.viewDmlTarget(root, "UPDATE", routable = false)
    val keys = spark.sql(subquerySql)
    val r = TxTable.open(root).updateWhereIn(spark, column, keys, sets, negated)
    Seq(Row(r.version, r.droppedFiles, r.rewrittenFiles, r.keptFiles,
      r.newFiles))
  }
}

/** `RESTORE TABLE txtable.\`root\` [TO] VERSION AS OF n` → [[TxTable.restore]]. */
case class TxRestoreCommand(root: String, version: Int) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("restored_to_version", IntegerType),
    attr("committed_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val v = TxTable.open(root).restore(version)
    Seq(Row(version, v))
  }
}

/** `DESCRIBE HISTORY txtable.\`root\`` → [[TxTable.history]], newest first. */
case class TxDescribeHistoryCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("timestamp_ms", LongType),
    attr("operation", StringType), attr("added_files", IntegerType),
    attr("removed_files", IntegerType), attr("meta_only", BooleanType))
  override def run(spark: SparkSession): Seq[Row] =
    TxTable.open(root).history().map(i =>
      Row(i.version, i.timestampMs, i.operation, i.addedFiles, i.removedFiles,
        i.addedFiles + i.removedFiles == 0))
}

/** `DESCRIBE DETAIL txtable.\`root\`` → [[TxTable.detail]]: the one-row
  * operating summary (Delta's DESCRIBE DETAIL). Variable-width members
  * (column lists, constraints, tag map) are emitted as canonical sorted
  * comma-joined strings so the row is stable and comparable. */
case class TxDescribeDetailCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("num_files", IntegerType),
    attr("rows", LongType), attr("size_bytes", LongType),
    attr("stat_columns", StringType), attr("bloom_columns", StringType),
    attr("constraints", StringType), attr("renamed_columns", StringType),
    attr("dropped_columns", StringType), attr("num_deletion_vectors", IntegerType),
    attr("tags", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val d = TxTable.open(root).detail()
    Seq(Row(d.version, d.numFiles, d.rows, d.sizeBytes,
      d.statColumns.sorted.mkString(","), d.bloomColumns.sorted.mkString(","),
      d.constraints.sorted.mkString(";"),
      d.renamedColumns.toSeq.sorted.map { case (l, p) => s"$l<-$p" }.mkString(","),
      d.droppedColumns.toSeq.sorted.mkString(","),
      d.numDeletionVectors,
      d.tags.toSeq.sorted.map { case (n, v) => s"$n=$v" }.mkString(",")))
  }
}

/** `VACUUM txtable.\`root\` [RETAIN n VERSIONS]` → [[TxTable.vacuum]]. */
/** The general-clause MERGE ([[GraftSqlParser.parseMergeWhen]]) →
  * [[TxTable#mergeWhen]]: conditional UPDATE/DELETE on match
  * (first-match-wins), conditional INSERT on no-match, conditions and
  * expressions resolving under the `t`/`s` aliases. */
case class TxMergeWhenCommand(root: String, sourceSql: String,
    keys: Seq[String],
    matched: Seq[graft.tables.TxTable.MergeMatched],
    notMatched: Seq[graft.tables.TxTable.MergeInsert],
    bySource: Seq[graft.tables.TxTable.MergeMatched] = Nil)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("rewritten_files", IntegerType),
    attr("kept_files", IntegerType), attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.viewDmlTarget(root, "MERGE", routable = false)
    val src = spark.sql(s"SELECT * FROM $sourceSql")
    val r = TxTable.open(root)
      .mergeWhen(spark, src, keys, matched, notMatched, bySource, Map.empty,
        sourceKeyDistinct = false)
    Seq(Row(r.version, r.rewrittenFiles, r.keptFiles, r.newFiles))
  }
}

/** `CONVERT TO TXTABLE txtable.\`dst\` FROM PARQUET \`src\`
  * [TBLPROPERTIES('statCols'='a,b'[, 'bloomCols'='c'])]` →
  * [[TxTable.convert]]: adopt an existing (optionally hive-partitioned)
  * parquet directory — hard-linked files, footer-derived per-file stats,
  * partition values as exact intervals, zero data rewrite. */
case class TxConvertCommand(dst: String, src: String,
    statCols: Seq[String], bloomCols: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("files", IntegerType),
    attr("rows", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = TxTable.convert(spark, src, dst, statCols, bloomCols)
    val s = t.snapshot()
    Seq(Row(s.version, s.files.size, s.files.map(_.rows).sum))
  }
}

/** `INSERT INTO txtable.\`root\` REPLACE WHERE c BETWEEN lo AND hi
  * <select>` → [[TxTable#overwriteWhere]]: in ONE commit, band rows are
  * replaced by the query's result — readers see the old band or the new
  * band, never a mix; replacement rows escaping the declared band (or
  * carrying NULL keys) refuse before anything becomes visible. */
case class TxReplaceWhereCommand(root: String, statCol: String,
    lo: Long, hi: Long, selectSql: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("dropped_files", IntegerType),
    attr("rewritten_files", IntegerType), attr("kept_files", IntegerType),
    attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.viewDmlTarget(root, "INSERT", routable = false)
    val df = spark.sql(selectSql)
    val r = TxTable.open(root).overwriteWhere(spark, statCol, lo, hi, df)
    Seq(Row(r.version, r.droppedFiles, r.rewrittenFiles, r.keptFiles,
      r.newFiles))
  }
}

/** `COPY INTO txtable.\`root\` FROM \`dir\` [FILEFORMAT = PARQUET]
  * [PATTERN = '<glob>'] [TBLPROPERTIES('statCols'='…')]` →
  * [[TxTable#copyInto]]: idempotent bulk load — only files the table has
  * not loaded yet land, in one commit carrying the loaded-file registry.
  * A missing table is created with the declared stat/bloom columns (the
  * bootstrap-day shape). */
case class TxCopyIntoCommand(root: String, src: String,
    pattern: Option[String], statCols: Seq[String], bloomCols: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("files_loaded", IntegerType), attr("rows_loaded", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.viewDmlTarget(root, "COPY INTO", routable = false)
    val t =
      if (TxTable.exists(root)) TxTable.open(root)
      else new TxTable(root, statCols, bloomCols)
    val (files, rows) = t.copyInto(spark, src, pattern)
    Seq(Row(files, rows))
  }
}

/** `ANALYZE TABLE txtable.\`root\` [COMPUTE STATISTICS]
  * [FOR COLUMNS c1, c2…]` — stats hygiene as a statement: FOR COLUMNS
  * routes to [[TxTable.evolveStats]] (one distributed read, zero bytes
  * rewritten) and re-declares the widened stat-column set in the table
  * metadata so FUTURE writers keep recording them; the column-less form
  * is a no-op returning current coverage (row counts live in the
  * manifest already — the table-level half of ANALYZE is intrinsic).
  * After the statement, manifest-derived CBO estimates (row count,
  * bounds, the min(rows, max−min+1) ndv) cover the named columns, so
  * join reorder fires on tables created WITHOUT declared statCols. */
case class TxAnalyzeCommand(root: String, cols: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("files", IntegerType),
    attr("stat_columns", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t0 = TxTable.open(root)
    // stats pass + widened stat-set declaration in ONE commit
    if (cols.nonEmpty) t0.analyzeColumns(spark, cols)
    val t = TxTable.open(root)
    val s = t.snapshot()
    Seq(Row(s.version, s.files.size, t.statCols.mkString(",")))
  }
}

/** `VACUUM GROUP txtable.\`root\` [RETAIN n VERSIONS] [DRY RUN]` →
  * [[graft.tables.TxGroup.vacuum]]: group-aware retention that never
  * breaks a retained multi-table cut (members vacuum back only to the
  * oldest version a retained group manifest pins). */
case class TxGroupVacuumCommand(root: String, retainVersions: Int,
    dryRun: Boolean = false) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("reclaimed_data_files", IntegerType),
    attr("dropped_group_versions", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (files, versions) =
      new graft.tables.TxGroup(root).vacuum(retainVersions, dryRun)
    Seq(Row(files, versions))
  }
}

case class TxVacuumCommand(root: String, retainVersions: Int,
    dryRun: Boolean = false) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("reclaimed_data_files", IntegerType),
    attr("reclaimed_manifests", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (files, manifests) = TxTable.open(root).vacuum(retainVersions, dryRun)
    Seq(Row(files, manifests))
  }
}

/** `RESTORE TABLE txtable.\`root\` [TO] TIMESTAMP AS OF '<ts>'` — the
  * wall-clock twin of the version form: resolve through the same
  * monotonic-envelope [[TxTable.versionAt]] that read-side time travel
  * uses, then the ordinary full-state restore. */
case class TxRestoreTimestampCommand(root: String, ts: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("restored_to_version", IntegerType),
    attr("committed_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = TxTable.open(root)
    val target = t.versionAt(graft.sources.TxSqlTable.parseTimestampMs(ts))
    Seq(Row(target, t.restore(target)))
  }
}

/** `CREATE TABLE txtable.\`dst\` SHALLOW CLONE txtable.\`src\`` →
  * [[TxTable.cloneTo]]: a new table whose v1 manifest REFERENCES the
  * source's current files by absolute path — one metadata file, zero
  * data copied, O(1) at any table size (the dev-sandbox / experiment-
  * branch primitive Delta ships under the same syntax). */
case class TxCloneCommand(srcRoot: String, dstRoot: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("source_version", IntegerType), attr("files_referenced", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val src = TxTable.open(srcRoot)
    val clone = src.cloneTo(dstRoot)
    Seq(Row(src.currentVersion, clone.snapshot().files.size))
  }
}

/** `ALTER TABLE txtable.\`root\` CREATE TAG name [AS OF VERSION n]` →
  * [[TxTable.tag]] (immutable named ref, vacuum-protected; defaults to
  * the current version). `DROP TAG name` → [[TxTable.deleteTag]]. */
case class TxCreateTagCommand(root: String, tagName: String,
    version: Option[Int]) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("tag", StringType), attr("version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = TxTable.open(root)
    val v = version.getOrElse(t.currentVersion)
    t.tag(tagName, v)
    Seq(Row(tagName, v))
  }
}

case class TxDropTagCommand(root: String, tagName: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("dropped", BooleanType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxTable.open(root).deleteTag(tagName)))
}

/** `DESCRIBE HISTORY GROUP txtable.\`root\`` → [[graft.tables.TxGroup]]
  * history, newest first: each multi-table atomic cut's member pins and
  * which members' pins moved (with the member operation that moved
  * them) — the read-only SQL face of the group tier. Variable-width
  * members render as canonical sorted comma-joined strings. */
case class TxGroupHistoryCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("timestamp_ms", LongType),
    attr("pins", StringType), attr("changed", StringType))
  override def run(spark: SparkSession): Seq[Row] =
    new graft.tables.TxGroup(root).history().map(g =>
      Row(g.version, g.timestampMs,
        g.pins.toSeq.sorted.map { case (n, v) => s"$n=$v" }.mkString(","),
        g.changed.toSeq.sorted.map { case (n, op) => s"$n:$op" }.mkString(",")))
}

/** `RESTORE GROUP txtable.\`root\` [TO] VERSION AS OF n` →
  * [[graft.tables.TxGroup.restoreTo]]: every member table restores to
  * its pin at group cut n, then ONE group commit republishes the cut —
  * a cross-table rewind a reader can never observe half-done. */
case class TxGroupRestoreCommand(root: String, version: Int)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("restored_to_version", IntegerType),
    attr("committed_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val v = new graft.tables.TxGroup(root).restoreTo(version)
    Seq(Row(version, v))
  }
}

/** `CREATE GROUP txtable.\`root\`` — births the group transaction log
  * ([[graft.tables.TxGroup]]): an empty group at version 0, members
  * declared by ALTER GROUP ADD TABLE, cuts published by COMMIT GROUP. */
case class TxCreateGroupCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("group_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val g = new graft.tables.TxGroup(root)
    Seq(Row(g.currentVersion))
  }
}

/** `ALTER GROUP txtable.\`root\` ADD TABLE name (schema)
  * [TBLPROPERTIES ('statCols' = '…'[, 'bloomCols' = '…'])]` — declares
  * a member table under the group root (the CREATE TABLE shape: the
  * schema and pruning declaration persist as the member's metadata-only
  * `create` commit, so a later session's INSERT resolves it). */
case class TxGroupAddTableCommand(root: String, name: String,
    schemaDdl: String, statCols: Seq[String], bloomCols: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("member", StringType), attr("member_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val g = new graft.tables.TxGroup(root)
    require(!g.members.contains(name), s"group member '$name' already exists")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    val t = new TxTable(
      java.nio.file.Paths.get(root, "tables", name).toString, statCols, bloomCols)
    val v = t.declareMeta(schema)
    Seq(Row(name, v))
  }
}

/** `COMMIT GROUP txtable.\`root\`` — cut ONE atomic multi-table version:
  * every member pinned at its own current version. Readers see whole
  * cuts or nothing ([[graft.tables.TxGroup.commit]] — a lost race
  * aborts rather than interleave two transactions' pins). */
case class TxCommitGroupCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("group_version", IntegerType), attr("pins", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val g = new graft.tables.TxGroup(root)
    val pins = g.members.map { n =>
      n -> TxTable.open(
        java.nio.file.Paths.get(root, "tables", n).toString).currentVersion
    }.toMap
    require(pins.nonEmpty, s"group at $root has no members to pin")
    val v = g.commit(pins)
    Seq(Row(v, pins.toSeq.sorted.map { case (n, mv) => s"$n=$mv" }.mkString(",")))
  }
}

/** `CREATE [OR REPLACE] [TEMP] VIEW txtable.\`root\` AS <query>` —
  * path-named SQL views over the lakehouse tier ([[ViewStore]]):
  * persisted definitions live at `<root>/_view/definition.sql` (any
  * later session resolves them), TEMP definitions in process memory
  * (shadowing, Spark's temp-view precedence). The definition is
  * ANALYZED before it is stored — a view that cannot resolve today
  * must not be creatable — but resolution stays LATE-BOUND: the stored
  * text re-expands at every read, so redefining an inner view or
  * evolving the underlying table is visible immediately. */
case class TxCreateViewCommand(root: String, viewSql: String,
    replace: Boolean, temp: Boolean) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("view", StringType), attr("temp", BooleanType))
  override def run(spark: SparkSession): Seq[Row] = {
    // validation = one analysis pass (no job): parse + resolve the
    // EXPANDED definition against the current catalog
    spark.sql(ViewStore.expand(viewSql)).schema
    ViewStore.create(root, viewSql, replace, temp)
    Seq(Row(root, temp))
  }
}

/** `DROP VIEW [IF EXISTS] txtable.\`root\`` → [[ViewStore.drop]]. */
case class TxDropViewCommand(root: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("dropped", BooleanType))
  override def run(spark: SparkSession): Seq[Row] = {
    val existed = ViewStore.drop(root)
    require(existed || ifExists, s"no view at txtable.`$root`")
    Seq(Row(existed))
  }
}

/** `CREATE MATERIALIZED VIEW txtable.\`root\`
  * [TBLPROPERTIES('statCols'='…')] AS <query>` → [[Mview.create]]: the
  * definition is stored, the query's result materialized into an
  * ordinary TxTable at `root` (stats/bloom pass, constraints — it prunes
  * like any table), and the applied-through versions of the query's
  * TxTable sources ride the SAME commit as the rows (txn watermarks, one
  * per source). Source references are PINNED (`VERSION AS OF`) to the
  * recorded watermarks, so a racing source commit lands in the next
  * refresh, never lost or doubled. Aggregate views also record the
  * NULL-sum license their delta refreshes need, derived from the same
  * scan. Returns the applied-through version and the row count. */
case class TxCreateMviewCommand(root: String, defnSql: String,
    statCols: Seq[String], bloomCols: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("source_version", IntegerType), attr("rows", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Mview.create(spark, root, defnSql, statCols, bloomCols)
}

/** `REFRESH MATERIALIZED VIEW txtable.\`root\`` → [[Mview.refresh]]:
  * brings the view up to its sources' current versions by the cheapest
  * sound path, named in the `mode` column:
  *  - `incremental` for a single-source select/project view: the
  *    source's row-level change feed since the watermark, filtered and
  *    projected by the view, folded in by the exactly-once CDC apply;
  *  - `incremental` for a `GROUP BY` view over one txtable source or an
  *    inner equi-join chain of them (count(*), sum, avg beside its sum,
  *    and min/max over one source): signed per-group deltas of the
  *    changed sources MERGEd into the rows;
  *  - `incremental-recheck` when a delete under min/max re-aggregates
  *    the touched groups;
  *  - `noop` when there is nothing to apply (the watermark still
  *    advances past changes outside the view);
  *  - `full` for every other shape and every obstacle (missing license,
  *    NULLs or overflow in a delta, vacuumed change range): a recompute
  *    pinned at the current source versions.
  * `source_version` is the applied-through version after the refresh. */
case class TxRefreshMviewCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("mode", StringType), attr("source_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = Mview.refresh(spark, root)
}

/** `DROP MATERIALIZED VIEW txtable.\`root\`` — removes the definition;
  * the materialized TxTable (data + history) stays on disk for the
  * operator to vacuum or delete, like dropping an external table. */
case class TxDropMviewCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("dropped", BooleanType))
  override def run(spark: SparkSession): Seq[Row] = {
    require(ViewStore.mviewDefinition(root).isDefined,
      s"no materialized view at txtable.`$root`")
    val p = java.nio.file.Paths.get(root, "_view", "mview.sql")
    java.nio.file.Files.deleteIfExists(p)
    Seq(Row(true))
  }
}

/** `DESCRIBE DETAIL` on a VIEW or MATERIALIZED VIEW path (round-13
  * verdict #7): reports the object KIND (TEMP VIEW / VIEW /
  * MATERIALIZED VIEW), the stored definition text, and — for a
  * materialized view — the applied-through version its last refresh
  * recorded, the same figure REFRESH reports as `source_version`. Keeps
  * the catalog surface honest now that three object kinds share the path
  * namespace. */
case class TxDescribeViewCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("kind", StringType), attr("definition", StringType),
    attr("applied_through", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    ViewStore.mviewDefinition(root) match {
      case Some(defn) =>
        Seq(Row("MATERIALIZED VIEW", defn,
          Mview.appliedThrough(TxTable.open(root).snapshot().txns)))
      case None =>
        val defn = ViewStore.definition(root).getOrElse(
          throw new IllegalArgumentException(s"no view at txtable.`$root`"))
        val kind = if (ViewStore.isTemp(root)) "TEMP VIEW" else "VIEW"
        Seq(Row(kind, defn, null))
    }
  }
}

/** `SHOW VIEWS IN txtable.\`prefix\`` — every persisted view and
  * materialized view stored UNDER the prefix directory (filesystem
  * walk for `_view/definition.sql` / `_view/mview.sql` markers — the
  * same convention resolution uses) plus this process's TEMP views
  * whose path starts with the prefix; sorted by path. */
case class TxShowViewsCommand(prefix: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("path", StringType), attr("kind", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(prefix)
    val persisted: Seq[(String, String)] =
      if (!java.nio.file.Files.isDirectory(p)) Nil
      else {
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.flatMap { f =>
          val n = f.getFileName.toString
          if (!java.nio.file.Files.isRegularFile(f) ||
              f.getParent == null ||
              f.getParent.getFileName.toString != "_view") None
          else if (n == "definition.sql")
            Some(f.getParent.getParent.toString -> "VIEW")
          else if (n == "mview.sql")
            Some(f.getParent.getParent.toString -> "MATERIALIZED VIEW")
          else None
        }.toVector
        finally walk.close()
      }
    // path-segment prefix: /a matches /a/x but never /ab/x
    val temps = ViewStore.tempPaths
      .filter(t => t == prefix || t.startsWith(prefix + "/"))
      .map(_ -> "TEMP VIEW")
    (persisted ++ temps).sortBy(x => (x._1, x._2))
      .map { case (path, kind) => Row(path, kind) }
  }
}

/** `OPTIMIZE txtable.\`root\` MATERIALIZE DELETES [THRESHOLD f]` →
  * [[TxTable.materializeDeletes]]: fold deletion-vector debt back into
  * plain files — every vectored file by default, or only those whose
  * vectored-row fraction strictly exceeds the threshold. Plain
  * `OPTIMIZE` (compaction) also auto-folds any file past
  * [[TxTable.DvFoldThreshold]] regardless of size. */
case class TxMaterializeDeletesCommand(root: String, threshold: Double)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("rewritten_files", IntegerType),
    attr("kept_files", IntegerType), attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = TxTable.open(root).materializeDeletes(spark, threshold)
    Seq(Row(r.version, r.rewrittenFiles, r.keptFiles, r.newFiles))
  }
}

/** `OPTIMIZE txtable.\`root\` [SMALLER THAN rows] [ZORDER BY (c1, c2)
  * [INTO n FILES]]` → [[TxTable.compact]] (bin-pack small files) or
  * [[TxTable.clusterZorder]] (Morton-curve rewrite). */
case class TxOptimizeCommand(root: String, smallRows: Option[Long],
    zorder: Option[(Seq[String], Int)],
    band: Option[(String, Long, Long)] = None) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("rewritten_files", IntegerType),
    attr("kept_files", IntegerType), attr("new_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = TxTable.open(root)
    val r = (zorder, band) match {
      case (Some((cols, files)), _) => t.clusterZorder(spark, cols, files)
      case (None, Some((c, lo, hi))) =>
        t.compactWhere(spark, c, lo, hi, smallRows.getOrElse(Long.MaxValue))
      case (None, None) => t.compact(spark, smallRows.getOrElse(Long.MaxValue))
    }
    Seq(Row(r.version, r.rewrittenFiles, r.keptFiles, r.newFiles))
  }
}
