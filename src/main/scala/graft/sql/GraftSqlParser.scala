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
  private val OnEq =
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

  /** Best-effort recursive delete — the failed-CREATE cleanup path
    * (never data-plane; the tree is this statement's own staging). */
  private[sql] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
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

  /** Txn-map key for the aggregate-mview NULL-sum safety flag: 1 = the
    * materialized source slice held NO NULL summed value (verified at
    * create/full-recompute time), so the GROUP-BY delta arithmetic is
    * exact; 0/absent = unknown or unsafe — refreshes full-recompute.
    * NULLs ARRIVING later ride change rows, which the incremental path
    * inspects per refresh, so the invariant holds inductively. */
  private[sql] val MviewNullsafeKey = "mview:nullsafe"

  /** `SELECT <list> FROM txtable.\`src\` [WHERE p] GROUP BY <keys>` —
    * the incrementally maintainable aggregate-view shape. */
  private[sql] val MviewAggSelect = ("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM\\s+" +
    "txtable\\s*\\.\\s*`([^`]+)`(?:\\s+WHERE\\s+(.+?))?" +
    "\\s+GROUP\\s+BY\\s+(.+?)\\s*;?\\s*$").r

  private val MviewCountStar = "(?is)^count\\s*\\(\\s*\\*\\s*\\)\\s+AS\\s+(\\w+)$".r
  private val MviewSumAs = "(?is)^sum\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r
  private val MviewMinAs = "(?is)^min\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r
  private val MviewMaxAs = "(?is)^max\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r
  private val MviewAvgAs = "(?is)^avg\\s*\\((.+)\\)\\s+AS\\s+(\\w+)$".r

  /** The parsed shape of a maintainable GROUP-BY aggregate view:
    * group columns, the `count(*)` liveness alias, and the
    * sum/min/max/avg items as (expression, output alias). An avg is
    * admitted only with COMPANION columns — the view must also carry
    * `sum(<same expr>)` (and count(*) is already required), because avg
    * alone is not delta-foldable: the refresh re-derives it from the
    * maintained sum and count with Spark's own divide-then-cast
    * semantics, so the maintained value is bit-identical to a
    * recompute. `avgs` records (expression, sum alias it rides on,
    * output alias). */
  private[sql] case class AggView(groups: Seq[String], countAlias: String,
      sums: Seq[(String, String)], mins: Seq[(String, String)],
      maxs: Seq[(String, String)], avgs: Seq[(String, String, String)] = Nil)

  /** Whether `kw` appears top-level in `s` AS A FUNCTION CALL — the
    * word followed (spaces allowed) by an open paren. */
  private[sql] def topLevelCall(s: String, kw: String): Boolean =
    topLevelAll(s, kw).exists { i =>
      var j = i + kw.length
      while (j < s.length && s.charAt(j).isWhitespace) j += 1
      j < s.length && s.charAt(j) == '('
    }

  /** Whether a `sum(<body>)` body extracted by the GREEDY [[MviewSumAs]]
    * regex is a delta-foldable scalar. A compound select item
    * (`sum(a) + sum(b) AS c`) extracts a paren-UNBALANCED slice, and
    * `sum(DISTINCT x)` / an aggregate-bearing body are not foldable as
    * ±x arithmetic — all must fall to the always-sound full recompute
    * instead of reaching the delta (or the NULL-probe) SQL, where they
    * used to throw AnalysisException mid-statement (ADVICE r14). */
  private[sql] def sumBodyFoldable(e: String): Boolean = {
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

  /** Parse an aggregate view's select list against its GROUP BY into an
    * [[AggView]] — the shape whose refresh folds as pure GROUP-BY delta
    * arithmetic (insert → +1/+x, delete → −1/−x, drop at net count 0).
    * Requires: simple-name group columns all projected, a `count(*) AS
    * n` (the group liveness witness), and only `sum/min/max/avg(<expr>)
    * AS a` beyond that. min/max fold monotonically on insert-only
    * deltas (least/greatest) and force a TOUCHED-GROUP recheck under
    * deletes (r14 verdict #2). avg (r15) is admitted when the view ALSO
    * sums the same expression — the refresh re-derives it as
    * newSum/newCount with Spark's own divide-then-cast shape, deletes
    * included; an avg without its companion sum falls to full.
    * None ⇒ the always-sound full recompute. */
  private[sql] def parseAggView(selectList: String, groupBy: String)
      : Option[AggView] = {
    val groups = splitTopLevel(groupBy).map(_.trim)
    if (groups.isEmpty || !groups.forall(_.matches("\\w+"))) return None
    var countAlias: Option[String] = None
    val sums = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val mins = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val maxs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val avgExprs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val seenGroups = scala.collection.mutable.ArrayBuffer.empty[String]
    splitTopLevel(selectList).map(_.trim).foreach {
      case g if g.matches("\\w+") && groups.contains(g) => seenGroups += g; ()
      case MviewCountStar(a) if countAlias.isEmpty => countAlias = Some(a)
      case MviewAvgAs(e, a) if sumBodyFoldable(e) => avgExprs += ((e, a)); ()
      case MviewSumAs(e, a) if sumBodyFoldable(e) => sums += ((e, a)); ()
      case MviewMinAs(e, a) if sumBodyFoldable(e) => mins += ((e, a)); ()
      case MviewMaxAs(e, a) if sumBodyFoldable(e) => maxs += ((e, a)); ()
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
    val aliases = seenGroups ++ countAlias.toSeq ++
      (sums ++ mins ++ maxs ++ avgExprs).map(_._2)
    if (countAlias.isEmpty || seenGroups.sorted.toSeq != groups.sorted ||
      aliases.map(_.toLowerCase).distinct.size != aliases.size) None
    else Some(AggView(seenGroups.toSeq, countAlias.get,
      sums.toSeq, mins.toSeq, maxs.toSeq, avgs.toSeq))
  }

  /** The NULL-sum safety txn entry a create/full materialization should
    * carry: verifies (one count job over the PINNED source slice) that
    * no summed expression is NULL anywhere under the view's predicate —
    * the license for later delta-arithmetic refreshes. Empty map when
    * the definition is not the aggregate shape. */
  /** Whether every field is a type whose `sum` folds EXACTLY as ±x
    * arithmetic: integral (wrap-stable, associative) or decimal
    * (exact). float/double sums are non-associative — a +x/−x replay
    * drifts from the full recompute — so they never earn the
    * incremental license (ADVICE r14). */
  private[sql] def deltaFoldableTypes(
      fields: Seq[org.apache.spark.sql.types.StructField]): Boolean = {
    import org.apache.spark.sql.types._
    fields.forall(_.dataType match {
      case _: DecimalType => true
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
  }

  private[sql] def mviewNullsafeTxn(spark: SparkSession, defn: String,
      src: String, ver: Int): Map[String, Long] =
    (defn match {
      case MviewAggSelect(selectList, srcRoot, pred, groupBy) if srcRoot == src =>
        parseAggView(selectList, groupBy).map { case AggView(_, _, sums, _, _, _) =>
          if (sums.isEmpty) 1L
          else try {
            val w = Option(pred).map(p => s" WHERE $p").getOrElse("")
            // license only EXACT sum result types (integral/decimal):
            // float/double ±x folding is non-associative and drifts
            // from the recompute (schema-only probe, no job)
            val typed = spark.sql(
              sums.map { case (e, a) => s"sum($e) AS `$a`" }
                .mkString("SELECT ", ", ", "") +
                s" FROM (SELECT * FROM txtable.`$src` VERSION AS OF $ver$w)")
            if (!deltaFoldableTypes(typed.schema.fields.toSeq)) 0L
            else {
              val cond = sums.map { case (e, _) => s"($e) IS NULL" }.mkString(" OR ")
              val bad = spark.sql(
                s"SELECT count(*) FROM (SELECT * FROM txtable.`$src` " +
                  s"VERSION AS OF $ver$w) WHERE $cond").head().getLong(0)
              if (bad == 0L) 1L else 0L
            }
          } catch {
            // a probe mishap (an expression this parser admitted but
            // Spark refuses) must degrade the LICENSE, never fail the
            // CREATE/REFRESH statement it rides (ADVICE r14)
            case scala.util.control.NonFatal(_) => 0L
          }
        }
      case _ => None
    }).map(v => Map(MviewNullsafeKey -> v)).getOrElse(Map.empty)

  /** `SELECT <list> FROM <join chain> [WHERE p] GROUP BY <keys>` where
    * the chain is `txtable.\`r1\` [AS] a1 ([INNER] JOIN txtable.\`ri\`
    * [AS] ai ON <equi>)+` — the incrementally maintainable N-way
    * JOIN-aggregate shape (r14 verdict #1 generalized in r15: the
    * fact⋈dim rollup and the fact⋈dim⋈dim star rollup alike). The FROM
    * capture is re-split by [[parseJoinChain]], which refuses anything
    * but an inner equi chain — outer joins full-recompute. */
  private[sql] val MviewChainAggSelect = ("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM\\s+" +
    "(txtable\\s*\\.\\s*`[^`]+`\\s+.+?JOIN.+?)" +
    "(?:\\s+WHERE\\s+(.+?))?\\s+GROUP\\s+BY\\s+(.+?)\\s*;?\\s*$").r

  /** Join-type words that mark a non-inner join (or would shadow an
    * alias slot) — any of these in the chain refuses the parse. */
  private val JoinWords =
    Set("LEFT", "RIGHT", "FULL", "OUTER", "CROSS", "SEMI", "ANTI", "NATURAL")

  /** One source in a FROM join chain: txtable root, alias, and — for
    * every source after the first — the ON that joins it to the chain
    * built so far. */
  private[sql] case class JoinSrc(root: String, alias: String, on: Option[String])

  /** The both-sides-qualified equi conjuncts of an ON condition, as
    * (qual1, col1, qual2, col2) — the link map the semi-join reduction
    * in the incremental chain refresh prunes through. Non-conforming
    * conjuncts are simply skipped (the chain parser has already
    * validated the condition's overall shape). */
  private[sql] def onEqConjuncts(on: String): Seq[(String, String, String, String)] = {
    val cuts = topLevelAll(on, "AND")
    (0 +: cuts.map(_ + 3)).zip(cuts :+ on.length).flatMap { case (b, e) =>
      on.substring(b, e).trim match {
        case OnEq(q1, c1, q2, c2) if q1 != null && q2 != null =>
          Some((q1, c1, q2, c2))
        case _ => None
      }
    }
  }

  /** Parse the FROM join chain. Every segment must be `txtable.\`r\`
    * [AS] alias`, each non-first carrying `ON <equi>` whose top-level
    * conjuncts each equate a column of THIS alias with a column of an
    * EARLIER alias (both sides qualified). Outer-join words, non-equi
    * conditions, alias reuse, and a root appearing twice (self-join —
    * per-source watermarks key by position against the deduped ref
    * list) all return None → the always-sound full recompute. */
  private[sql] def parseJoinChain(from: String): Option[Seq[JoinSrc]] = {
    val cuts = topLevelAll(from, "JOIN")
    if (cuts.isEmpty) return None
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
    val First = "(?is)^txtable\\s*\\.\\s*`([^`]+)`(?:\\s+AS)?\\s+(\\w+)$".r
    val Later = "(?is)^txtable\\s*\\.\\s*`([^`]+)`(?:\\s+AS)?\\s+(\\w+)\\s+ON\\s+(.+)$".r
    val chain = scala.collection.mutable.ArrayBuffer.empty[JoinSrc]
    parts.flatten.zipWithIndex.foreach {
      case (First(r, a), 0) => chain += JoinSrc(r, a, None); ()
      case (Later(r, a, on), i) if i > 0 =>
        chain += JoinSrc(r, a, Some(on.trim)); ()
      case _ => return None
    }
    val aliases = chain.map(_.alias)
    if (aliases.map(_.toLowerCase).distinct.size != aliases.size ||
      aliases.exists(a => JoinWords.contains(a.toUpperCase)) ||
      chain.map(_.root).distinct.size != chain.size) return None
    chain.zipWithIndex.drop(1).foreach { case (src, i) =>
      val earlier = chain.take(i).map(_.alias).toSet
      val on = src.on.get
      val andCuts = topLevelAll(on, "AND")
      val conjuncts = (0 +: andCuts.map(_ + 3)).zip(andCuts :+ on.length).map {
        case (b, e) => on.substring(b, e).trim
      }
      val ok = conjuncts.nonEmpty && conjuncts.forall {
        case OnEq(q1, _, q2, _) =>
          val qs = Seq(Option(q1), Option(q2)).flatten
          val others = qs.filterNot(_ == src.alias)
          qs.size == 2 && others.size == 1 && earlier.contains(others.head)
        case _ => false
      }
      if (!ok) return None
    }
    Some(chain.toSeq)
  }

  /** Parse a join-aggregate view's select list against its GROUP BY:
    * group select items must be `alias.col [AS name]` (alias from the
    * chain) matching the GROUP BY list, plus `count(*) AS n` and only
    * foldable `sum(e) AS a` — and `avg(e) AS a` riding a companion
    * `sum(e)` (the single-source recipe lifted to the join shape) —
    * beyond that. Returns (groups as (qualified expr, output name),
    * countAlias, sums as (expr, alias), avgs as (expr, sum alias,
    * output alias)). */
  private[sql] def parseJoinAggView(selectList: String,
      groupBy: String, aliases: Seq[String])
      : Option[(Seq[(String, String)], String, Seq[(String, String)],
        Seq[(String, String, String)])] = {
    val aliasSet = aliases.toSet
    val QualGroup = "(?is)^(\\w+)\\s*\\.\\s*(\\w+)(?:\\s+AS\\s+(\\w+))?$".r
    val groupRefs = splitTopLevel(groupBy).map(_.trim).map {
      case QualGroup(q, c, null) if aliasSet.contains(q) => s"$q.$c"
      case _ => return None
    }
    var countAlias: Option[String] = None
    val sums = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val avgExprs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val groups = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    splitTopLevel(selectList).map(_.trim).foreach {
      case QualGroup(q, c, as) if aliasSet.contains(q) &&
          groupRefs.contains(s"$q.$c") =>
        groups += ((s"$q.$c", Option(as).getOrElse(c))); ()
      case MviewCountStar(a) if countAlias.isEmpty => countAlias = Some(a)
      case MviewAvgAs(e, a) if sumBodyFoldable(e) => avgExprs += ((e, a)); ()
      case MviewSumAs(e, a) if sumBodyFoldable(e) => sums += ((e, a)); ()
      case _ => return None
    }
    def norm(e: String) = e.replaceAll("\\s+", " ").trim.toLowerCase
    val avgs = avgExprs.map { case (e, a) =>
      sums.find(s => norm(s._1) == norm(e)) match {
        case Some((_, sumAlias)) => (e, sumAlias, a)
        case None => return None
      }
    }
    val outAliases = groups.map(_._2) ++ countAlias.toSeq ++
      (sums ++ avgExprs).map(_._2)
    if (countAlias.isEmpty ||
      groups.map(_._1).sorted.toSeq != groupRefs.sorted ||
      outAliases.map(_.toLowerCase).distinct.size != outAliases.size) None
    else Some((groups.toSeq, countAlias.get, sums.toSeq, avgs.toSeq))
  }

  /** Per-source watermark txn key for MULTI-source materialized views
    * (`mview:src:<i>` by position in the definition's reference order);
    * single-source views keep the plain [[ViewStore.MviewAppId]]. */
  private[sql] def mviewSrcKey(i: Int): String = s"mview:src:$i"

  /** The PINNED joined frame of a parsed chain — each source read at
    * its pinned version under its alias, the ON conditions applied in
    * chain order, the WHERE conjoined NULL-safely. */
  private[sql] def chainFrame(spark: SparkSession, chain: Seq[JoinSrc],
      pred: String, frameOf: Int => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val joined = chain.zipWithIndex.map { case (src, i) =>
      (src, frameOf(i).as(src.alias))
    }.reduceLeft[(JoinSrc, org.apache.spark.sql.DataFrame)] {
      case ((_, acc), (src, frame)) =>
        (src, acc.join(frame, expr(src.on.get), "inner"))
    }._2
    Option(pred)
      .map(p => joined.filter(coalesce(expr(p), lit(false))))
      .getOrElse(joined)
  }

  /** NULL-sum safety + exact-type license for a JOIN-aggregate view,
    * verified over the PINNED joined slice (the [[mviewNullsafeTxn]]
    * contract lifted to N sources). Empty map when the definition is
    * not the join-aggregate shape. */
  private[sql] def mviewJoinNullsafeTxn(spark: SparkSession, defn: String,
      srcs: Seq[String], pins: Map[String, Int]): Map[String, Long] =
    (defn match {
      case MviewChainAggSelect(selectList, fromChain, pred, groupBy) =>
        parseJoinChain(fromChain)
          .filter(c => c.map(_.root) == srcs)
          .flatMap(chain =>
            parseJoinAggView(selectList, groupBy, chain.map(_.alias))
              .map(v => (chain, v)))
          .map { case (chain, (_, _, sums, _)) =>
            if (sums.isEmpty) 1L
            else try {
              import org.apache.spark.sql.functions.{expr, sum}
              val j = chainFrame(spark, chain, pred, i =>
                graft.tables.TxTable.open(chain(i).root)
                  .read(spark, Some(pins(chain(i).root))))
              val typed = j.groupBy()
                .agg(sum(expr(sums.head._1)).as(sums.head._2),
                  sums.tail.map { case (e, al) => sum(expr(e)).as(al) }: _*)
              if (!deltaFoldableTypes(typed.schema.fields.toSeq)) 0L
              else {
                val bad = j.filter(
                  sums.map { case (e, _) => expr(e).isNull }.reduce(_ || _))
                  .limit(1).count()
                if (bad == 0L) 1L else 0L
              }
            } catch {
              case scala.util.control.NonFatal(_) => 0L
            }
          }
      case _ => None
    }).map(v => Map(MviewNullsafeKey -> v)).getOrElse(Map.empty)

  /** The full txn map a materialized view's create/full-recompute commit
    * carries for the pins it actually read: the single-source watermark
    * + NULL-sum license, or — for the two-source JOIN-aggregate shape —
    * per-source watermarks + the join license (any other multi-source
    * definition records only the full-recompute marker). */
  private[sql] def mviewCommitTxns(spark: SparkSession, defn: String,
      srcs: Seq[String], pins: Map[String, Int]): Map[String, Long] = {
    if (srcs.size == 1)
      Map(ViewStore.MviewAppId -> pins(srcs.head).toLong) ++
        mviewNullsafeTxn(spark, defn, srcs.head, pins(srcs.head))
    else if (srcs.size >= 2)
      Map(ViewStore.MviewAppId -> 0L) ++
        srcs.zipWithIndex.map { case (s, i) =>
          mviewSrcKey(i) -> pins(s).toLong } ++
        mviewJoinNullsafeTxn(spark, defn, srcs, pins)
    else Map(ViewStore.MviewAppId -> 0L)
  }

  /** The per-source watermark txn entries of a create/full-recompute
    * commit, WITHOUT the NULL-sum license probe (see
    * [[materializeMviewWithTxns]], which derives the license from the
    * materialization pass itself). */
  private def mviewWatermarkTxns(srcs: Seq[String],
      pins: Map[String, Int]): Map[String, Long] =
    if (srcs.size == 1) Map(ViewStore.MviewAppId -> pins(srcs.head).toLong)
    else if (srcs.size >= 2)
      Map(ViewStore.MviewAppId -> 0L) ++
        srcs.zipWithIndex.map { case (s, i) => mviewSrcKey(i) -> pins(s).toLong }
    else Map(ViewStore.MviewAppId -> 0L)

  /** Materialize a view definition at the given pins AND derive its
    * commit txn map (watermarks + NULL-sum license) from the SAME scan.
    *
    * The old shape ran TWO full passes over the pinned slice: one
    * license probe (`(e) IS NULL` anywhere?) and one materialization.
    * For the recognized aggregate shapes this fuses them: the pinned
    * definition text gets per-sum NULL-counter aggregates appended
    * (`sum(CASE WHEN (e) IS NULL THEN 1 ELSE 0 END)` — extra aggregates
    * never change the grouping or the other columns), the fused frame
    * is checkpointed, the license read from the tiny counter columns,
    * and the counters DROPPED before the write — one source scan plus a
    * view-sized probe instead of two source scans (opt r15, guide
    * §2.4). Identical license semantics: group-level counter > 0
    * anywhere ⇔ some row's summed expression was NULL; exact-type
    * licensing checks the SAME sum output fields the probe did. Any
    * mishap in the fused construction degrades the LICENSE (0L — every
    * later refresh full-recomputes, always sound), never the statement,
    * exactly the old probe's NonFatal contract. Non-aggregate or
    * sum-free shapes keep the single plain materialization pass. */
  private[sql] def materializeMviewWithTxns(spark: SparkSession,
      defn: String, srcs: Seq[String], pins: Map[String, Int])
      : (org.apache.spark.sql.DataFrame, Map[String, Long]) = {
    import org.apache.spark.sql.functions.{col, lit, max, when}
    val wm = mviewWatermarkTxns(srcs, pins)
    def plain = spark.sql(ViewStore.expand(ViewStore.pinVersions(defn, pins)))
    // (selectList, fromTail, pred, groupBy, sums) for the two licensed
    // aggregate shapes; None for every other definition
    val aggShape: Option[(String, String, String, String, Seq[(String, String)])] =
      defn match {
        case MviewAggSelect(selectList, srcRoot, pred, groupBy)
            if srcs.size == 1 && srcRoot == srcs.head =>
          parseAggView(selectList, groupBy).map(v =>
            (selectList, s"txtable.`$srcRoot`", pred, groupBy, v.sums))
        case MviewChainAggSelect(selectList, fromChain, pred, groupBy)
            if srcs.size >= 2 =>
          parseJoinChain(fromChain)
            .filter(c => c.map(_.root) == srcs)
            .flatMap(chain =>
              parseJoinAggView(selectList, groupBy, chain.map(_.alias))
                .map { case (_, _, sums, _) =>
                  (selectList, fromChain, pred, groupBy, sums) })
        case _ => None
      }
    aggShape match {
      case None => (plain, wm) // no license entry: not an aggregate shape
      case Some((_, _, _, _, sums)) if sums.isEmpty =>
        (plain, wm ++ Map(MviewNullsafeKey -> 1L)) // nothing summed: licensed
      case Some((selectList, fromTail, pred, groupBy, sums)) =>
        try {
          val counters = sums.zipWithIndex.map { case ((e, _), i) =>
            s"sum(CASE WHEN ($e) IS NULL THEN 1 ELSE 0 END) AS `__lic_nc_$i`"
          }
          val fusedText = s"SELECT $selectList, ${counters.mkString(", ")} " +
            s"FROM $fromTail" +
            Option(pred).map(p => s" WHERE $p").getOrElse("") +
            s" GROUP BY $groupBy"
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
          (df, wm ++ Map(MviewNullsafeKey -> lic))
        } catch {
          // a fused-construction mishap degrades the LICENSE, never the
          // CREATE/REFRESH statement it rides (the old probe's contract)
          case scala.util.control.NonFatal(_) =>
            (plain, wm ++ Map(MviewNullsafeKey -> 0L))
        }
    }
  }

  /** MERGE a signed GROUP-BY delta frame (`__dn` + `__d_<alias>`
    * columns alongside the group keys) into the materialization on the
    * composite group key: net-count-0 groups DELETE, touched groups
    * update arithmetically (plain addition — the license guarantees
    * non-NULL operands; the decimal-overflow fault witness rides the
    * refresh paths' fused control probe, opt r16), net-new groups
    * INSERT; `txns` (the watermarks) ride the SAME commit. */
  private[sql] def mergeGroupDelta(spark: SparkSession,
      t: graft.tables.TxTable, delta: org.apache.spark.sql.DataFrame,
      groups: Seq[String], countAlias: String, sumAliases: Seq[String],
      txns: Map[String, Long], minAliases: Seq[String] = Nil,
      maxAliases: Seq[String] = Nil,
      avgAliases: Seq[(String, String)] = Nil): Unit = {
    import graft.tables.TxTable.{MergeDelete, MergeInsert, MergeUpdate}
    // min/max sets only arrive on INSERT-ONLY deltas (the monotone
    // fold: least/greatest against the delta's own extrema — both skip
    // NULL operands, so an all-NULL delta extremum keeps the stored
    // value and a NULL stored value adopts the delta's, exactly the
    // min()-ignores-NULLs recompute semantics); deltas carrying deletes
    // take the touched-group recheck instead (r14 verdict #2).
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
  * [TBLPROPERTIES('statCols'='…')] AS <query>` — the definition is
  * stored, the query's result materialized into an ordinary TxTable at
  * `root` (stats/bloom pass, constraints — it prunes like any table),
  * and the applied-through version of the query's single TxTable source
  * rides the SAME commit as the rows ([[ViewStore.MviewAppId]] txn
  * watermark). Source references are PINNED (`VERSION AS OF`) to the
  * recorded watermark, so a racing source commit lands in the next
  * refresh, never lost or doubled. */
case class TxCreateMviewCommand(root: String, defnSql: String,
    statCols: Seq[String], bloomCols: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("source_version", IntegerType), attr("rows", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    // pre-checks BEFORE any work; registration only AFTER the
    // materialization succeeds — a definition Spark refuses must not
    // leave a half-created view whose path refuses retries (ADVICE r14)
    ViewStore.requireMviewCreatable(root)
    val srcs = ViewStore.txtableRefs(defnSql).filter(TxTable.exists)
    val pins = srcs.map(s => s -> TxTable.open(s).currentVersion).toMap
    val t = new TxTable(root, statCols, bloomCols)
    val wm =
      try {
        // single-source views track the source version under MviewAppId;
        // the two-source JOIN-aggregate shape tracks BOTH pins under
        // per-source keys (r14 verdict #1); any other multi-source
        // definition refreshes by full recompute and keeps watermark 0.
        // Aggregate shapes also verify the NULL-sum/type license for
        // delta-arithmetic refreshes — derived from the SAME scan that
        // materializes the view ([[GraftSqlParser.materializeMviewWithTxns]])
        // and committed with the rows.
        val (df, txns) =
          GraftSqlParser.materializeMviewWithTxns(spark, defnSql, srcs, pins)
        t.overwriteTagged(spark, df, txns)
        txns(ViewStore.MviewAppId)
      } catch {
        case e: Throwable =>
          // un-create the table artifacts this attempt staged (the
          // pre-check proved the path held nothing) so a corrected
          // CREATE retry is not refused
          GraftSqlParser.deleteRecursively(java.nio.file.Paths.get(root, "_txlog"))
          GraftSqlParser.deleteRecursively(java.nio.file.Paths.get(root, "data"))
          throw e
      }
    ViewStore.registerMview(root, defnSql)
    Seq(Row(wm.toInt, t.snapshot().files.map(_.rows).sum))
  }
}

/** `REFRESH MATERIALIZED VIEW txtable.\`root\`` — CDF-INCREMENTAL
  * maintenance where the definition allows it: for a single-source
  * select/project view (`SELECT <list> FROM txtable.\`src\` [WHERE …]`,
  * no aggregate/join/distinct) whose output carries the materialized
  * table's lead stat column, the refresh replays the SOURCE's row-level
  * change feed for exactly (lastApplied, current] — cost proportional
  * to the CHANGED files, never either table — filters/projects the
  * change rows through the view's own predicate and select list, and
  * folds them in via the exactly-once CDC apply (one commit: rows +
  * watermark; an UPDATE whose new image leaves the view's WHERE band
  * nets to a pure delete, and vice versa). Any other shape — or a
  * vacuumed-away change range — falls back to a FULL recompute pinned
  * at the current source version; the returned `mode` column says
  * which path ran. A replayed/idle refresh is a recognized no-op. */
case class TxRefreshMviewCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("mode", StringType), attr("source_version", IntegerType))

  private val SimpleSelect = ("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM\\s+" +
    "txtable\\s*\\.\\s*`([^`]+)`(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$").r
  // anything that breaks per-row maintenance (aggregation, windows, set
  // ops, joins) blocks the incremental path; a false positive (e.g. a
  // column literally named "max") just takes the always-sound full
  // recompute, reported in the `mode` column — never a silent wrong
  // structural keywords block per-row maintenance as bare WORDS;
  // aggregate names block only as CALLS (`max(`) — a COLUMN named `max`
  // is just a column, and forcing it to full recompute was the round-13
  // watch item (sound but wasteful)
  private val Blockers =
    Seq("GROUP", "JOIN", "DISTINCT", "UNION", "ORDER", "LIMIT", "HAVING",
      "OVER", "EXCEPT", "INTERSECT")
  private val AggBlockers = Seq("COUNT", "SUM", "MIN", "MAX", "AVG")

  private def topLevelCall(s: String, kw: String): Boolean =
    GraftSqlParser.topLevelCall(s, kw)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val defn = ViewStore.mviewDefinition(root).getOrElse(
      throw new IllegalArgumentException(s"no materialized view at txtable.`$root`"))
    val t = TxTable.open(root)
    val last = t.snapshot().txns.getOrElse(ViewStore.MviewAppId, 0L).toInt
    val srcs = ViewStore.txtableRefs(defn).filter(TxTable.exists)
    // the watermark is the version the recompute ACTUALLY pinned — a
    // source commit racing between an earlier currentVersion read and
    // the pin read here is materialized AND covered, so the next
    // incremental refresh never replays it (ADVICE r13)
    def full(): Seq[Row] = {
      val pins = srcs.map(s => s -> TxTable.open(s).currentVersion).toMap
      // re-establish (or revoke) watermark(s) + the NULL-sum safety
      // license against the slice(s) actually pinned — license derived
      // from the materialization scan itself, not a second source pass
      val (df, txns) =
        GraftSqlParser.materializeMviewWithTxns(spark, defn, srcs, pins)
      t.overwriteTagged(spark, df, txns)
      val wm = if (srcs.size >= 2)
        txns(GraftSqlParser.mviewSrcKey(0)) else txns(ViewStore.MviewAppId)
      Seq(Row("full", wm.toInt))
    }
    if (srcs.size >= 2)
      return incrementalJoin(spark, t, defn, srcs).getOrElse(full())
    if (srcs.size != 1) return full()
    val src = TxTable.open(srcs.head)
    val srcV = src.currentVersion
    if (srcV <= last) return Seq(Row("noop", last))
    val incremental: Option[Seq[Row]] = defn match {
      case SimpleSelect(selectList, srcRoot, pred)
          if srcRoot == srcs.head && last > 0 &&
            !Blockers.exists(b => GraftSqlParser.topLevelKeyword(defn, b) >= 0) &&
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
            else filtered.selectExpr(GraftSqlParser.splitTopLevel(selectList) ++
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
          case scala.util.control.NonFatal(_) => None
        }
      // GROUP-BY aggregate views (round-13 verdict #2): the classic
      // delta rule — fold the CDC feed as insert → +1/+x, delete →
      // −1/−x per group, MERGE the group deltas into the
      // materialization (composite-key mergeWhen: DELETE at net count
      // 0, arithmetic UPDATE, conditional INSERT — watermark in the
      // SAME commit), avg via the sum/count recipe. Sum maintenance is
      // licensed by the NULL-safety flag the create/full paths verify;
      // a NULL group key or summed value ARRIVING in the delta (or any
      // unexpected failure) degrades to the full recompute, loudly.
      case GraftSqlParser.MviewAggSelect(selectList, srcRoot, pred, groupBy)
          if srcRoot == srcs.head && last > 0 =>
        GraftSqlParser.parseAggView(selectList, groupBy).flatMap {
          case GraftSqlParser.AggView(groups, countAlias, sums, mins, maxs,
              avgs) =>
            val nullsafe = sums.isEmpty ||
              t.snapshot().txns.get(GraftSqlParser.MviewNullsafeKey).contains(1L)
            if (!nullsafe) None
            else try {
              val ch = src.rowChangesBetween(spark, last, srcV)
              val filtered = Option(pred)
                .map(p => ch.filter(coalesce(expr(p), lit(false))))
                .getOrElse(ch)
              import org.apache.spark.sql.functions.{col, max, min, sum, when}
              // ONE pass over the change feed computes the signed group
              // deltas AND every safety witness the old path spent a
              // separate full-CDC-read job each on: per-sum NULL
              // counters (`__nc_` — sum() skips NULLs, so row-level
              // NULLs are invisible post-agg without them), the
              // delete-presence flag (`__del`), and the delta extrema.
              // Every later check runs against the PERSISTED,
              // group-count-sized delta — the CDC slice is read once
              // (opt r15; guide §2.4: do fewer passes, probe the small
              // frame not the big one).
              val sign = when(expr("_change_type = 'insert'"), lit(1L))
                .otherwise(lit(-1L))
              val aggCols = (sum(sign).as("__dn") +:
                sums.map { case (e, a) => sum(expr(e) * sign).as(s"__d_$a") }) ++
                sums.map { case (e, a) =>
                  sum(when(expr(e).isNull, lit(1L)).otherwise(lit(0L)))
                    .as(s"__nc_$a") } ++
                mins.map { case (e, a) => min(expr(e)).as(s"__mn_$a") } ++
                maxs.map { case (e, a) => max(expr(e)).as(s"__mx_$a") } :+
                max(when(col("_change_type") === "delete", lit(1L))
                  .otherwise(lit(0L))).as("__del")
              // EAGER localCheckpoint, not persist: a persisted frame
              // still re-ANALYZES its full lineage (CDC union → filter →
              // agg) on every downstream action — measured as ~60% of
              // refresh wall time spent between jobs on the driver. The
              // checkpoint truncates the plan to a scan of the group-
              // count-sized delta; the per-query unpersist sweep in
              // Bench/Verify reclaims the blocks (opt r15, guide §3.3)
              val delta0 = filtered
                .groupBy(groups.map(org.apache.spark.sql.functions.col): _*)
                .agg(aggCols.head, aggCols.tail: _*)
                .localCheckpoint(eager = true)
              try {
                // a NULL group key surfaces as a NULL-keyed delta row;
                // a NULL summed value as a positive `__nc_` counter —
                // the same triggers the old per-row probe fired on.
                // ONE aggregate action over the checkpointed delta
                // answers every control probe (unsafe? any delete?
                // empty? would a decimal sum overflow?) — three separate
                // limit/count actions were three scheduling+planning
                // round-trips (opt r15), and the decimal-overflow probe
                // was a fourth separate action (opt r16): when a decimal
                // sum exists, the delta left-joins the group-count-sized
                // materialization and the overflow witness ((t.a + Δa)
                // IS NULL on non-NULL operands) aggregates in the SAME
                // pass. The view's group keys are unique by construction
                // (a groupBy output maintained by keyed MERGE), so the
                // left join preserves the delta's row count and every
                // max() witness is duplicate-blind anyway.
                import org.apache.spark.sql.functions.count
                val hasDecimalSum = sums.nonEmpty &&
                  delta0.schema.fields.filter(_.name.startsWith("__d_"))
                    .exists(_.dataType
                      .isInstanceOf[org.apache.spark.sql.types.DecimalType])
                val sd = delta0.as("s")
                val probeSrc =
                  if (!hasDecimalSum) sd
                  else sd.join(t.read(spark).as("t"),
                    groups.map(g => col(s"s.`$g`") <=> col(s"t.`$g`"))
                      .reduce(_ && _), "left")
                val unsafeCols = groups.map(g => col(s"s.`$g`").isNull) ++
                  sums.map { case (_, a) => col(s"s.`__nc_$a`") > 0L }
                val ovfWitness =
                  if (!hasDecimalSum) lit(false)
                  else sums.map { case (_, a) =>
                    col(s"t.`$a`").isNotNull &&
                      col(s"s.`__d_$a`").isNotNull &&
                      (col(s"t.`$a`") + col(s"s.`__d_$a`")).isNull
                  }.reduce(_ || _)
                val probe = probeSrc.agg(
                  count(lit(1)).as("__n"),
                  max(when(unsafeCols.reduce(_ || _), lit(1L))
                    .otherwise(lit(0L))).as("__u"),
                  max(col("s.`__del`")).as("__dl"),
                  max(when(ovfWitness, lit(1L)).otherwise(lit(0L)))
                    .as("__ov")).head()
                val nGroups = probe.getLong(0)
                val anyUnsafe = !probe.isNullAt(1) && probe.getLong(1) == 1L
                val anyDelete = !probe.isNullAt(2) && probe.getLong(2) == 1L
                val anyOverflow = !probe.isNullAt(3) && probe.getLong(3) == 1L
                if (anyUnsafe) None
                // a delete can evict the current extremum — min/max
                // views recheck exactly the groups the delta names,
                // cost ∝ touched groups, never the view (r14 verdict #2)
                else if ((mins.nonEmpty || maxs.nonEmpty) && anyDelete) {
                  // delta0's group keys ARE the distinct touched groups
                  recheckTouchedGroups(spark, t, srcs.head, srcV, delta0,
                    groups, countAlias, sums, mins, maxs, pred, avgs)
                } else {
                  // the delta's own sum types must be exactly foldable
                  // too (a widening evolution could drift them past the
                  // licensed create-time types) — schema-only, no job
                  val dFields = delta0.schema.fields.filter(_.name.startsWith("__d_"))
                  if (!GraftSqlParser.deltaFoldableTypes(dFields.toSeq)) None
                  else if (nGroups == 0L) {
                    // all source changes fell outside the view — commit
                    // the watermark txn-only or every later refresh
                    // re-reads this same change range forever (ADVICE r14)
                    t.commitTxns(Map(ViewStore.MviewAppId -> srcV.toLong),
                      "mview-watermark")
                    Some(Seq(Row("noop", srcV)))
                  } else {
                    val delta = delta0.drop(
                      sums.map { case (_, a) => s"__nc_$a" } :+ "__del": _*)
                    if (anyOverflow) {
                      // decimal sums can overflow to NULL under non-ANSI
                      // arithmetic; under the nullsafe license that is a
                      // FAULT — full-recompute instead of papering over
                      // it (ADVICE r14; the witness now rides the fused
                      // control probe above instead of its own action)
                      None
                    } else {
                      // plain addition, NO coalesce: under the license
                      // t.sum and s.__d are provably non-NULL, and a NULL
                      // arithmetic result is a fault the overflow probe
                      // catches — silently keeping the stale value was
                      // the bug (ADVICE r14)
                      GraftSqlParser.mergeGroupDelta(spark, t, delta, groups,
                        countAlias, sums.map(_._2),
                        Map(ViewStore.MviewAppId -> srcV.toLong),
                        mins.map(_._2), maxs.map(_._2),
                        avgs.map { case (_, s, a) => (s, a) })
                      Some(Seq(Row("incremental", srcV)))
                    }
                  }
                }
              } finally { delta0.unpersist(blocking = false); () }
            } catch {
              case scala.util.control.NonFatal(_) => None
            }
        }
      case _ => None
    }
    incremental.getOrElse(full())
  }

  /** TOUCHED-GROUP RECHECK (r14 verdict #2): a delete can evict a
    * group's current min/max, which no ±x arithmetic can repair — but
    * only for the groups the delta NAMES. Re-aggregate exactly those
    * groups from the pinned source (per-column IN-lists push down and
    * fold to manifest [min,max] bands, so a group-banded layout scans
    * only the touched files; the exact tuple membership rides the
    * left-join below) and MERGE: a recomputed group updates to its
    * exact values, a vanished group deletes, a group born in this very
    * delta inserts. Cost ∝ touched groups — never the view, never the
    * source. Over ~10k touched tuples the IN-list (and the driver-side
    * tuple set) stops being cheap: full recompute. */
  private def recheckTouchedGroups(spark: SparkSession, t: TxTable,
      srcRoot: String, srcV: Int,
      // the PERSISTED group-delta frame — one row per touched group (a
      // groupBy output), so its key projection needs no distinct pass
      groupDelta: org.apache.spark.sql.DataFrame, groups: Seq[String],
      countAlias: String, sums: Seq[(String, String)],
      mins: Seq[(String, String)], maxs: Seq[(String, String)],
      pred: String,
      avgs: Seq[(String, String, String)] = Nil): Option[Seq[Row]] = {
    import org.apache.spark.sql.functions.{avg, coalesce, col, count, expr,
      lit, max, min, sum}
    import graft.tables.TxTable.{MergeDelete, MergeInsert, MergeUpdate}
    val touched = groupDelta.select(groups.map(col): _*)
      .limit(10001).collect()
    if (touched.length > 10000) return None
    // EXACT semi-join file pruning (opt r16, extending the r15 chain-
    // refresh readIn discipline): the SQL-path source read only folds an
    // IN-list to a [min,max] envelope band, which prunes nothing when
    // the touched keys straddle the domain (the gate's {0..2, 9000001}
    // delete+insert shape spans every file's range). readIn tests each
    // file's [min,max] against the MEMBER SET by binary search — exact
    // per-file membership, cost ∝ touched files — and already applies
    // that column's isin residual. Non-integral first keys keep the SQL
    // read (envelope bands at best, residual filters keep it exact).
    val exactPruned: Option[org.apache.spark.sql.DataFrame] =
      groups.zipWithIndex.collectFirst {
        case (g, i) if {
          val dt = groupDelta.schema(g).dataType
          dt == org.apache.spark.sql.types.LongType ||
            dt == org.apache.spark.sql.types.IntegerType
        } =>
          val vs = touched.map(r => r.get(i)).filter(_ != null)
            .map { case n: Number => n.longValue }.distinct.toSeq
          (TxTable.open(srcRoot).readIn(spark, g, vs, Some(srcV)).df, g)
      }.map(_._1)
    val base = exactPruned.getOrElse(
      spark.sql(s"SELECT * FROM txtable.`$srcRoot` VERSION AS OF $srcV"))
    val withPred = Option(pred)
      .map(p => base.filter(coalesce(expr(p), lit(false)))).getOrElse(base)
    val inCols = groups.zipWithIndex.map { case (g, i) =>
      col(g).isin(touched.map(_.get(i)).distinct.toSeq: _*)
    }
    val aggCols = (count(lit(1)).as(countAlias) +:
      sums.map { case (e, a) => sum(expr(e)).as(a) }) ++
      mins.map { case (e, a) => min(expr(e)).as(a) } ++
      maxs.map { case (e, a) => max(expr(e)).as(a) } ++
      avgs.map { case (e, _, a) => avg(expr(e)).as(a) }
    val recomputed = withPred.filter(inCols.reduce(_ && _))
      .groupBy(groups.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val touchedDf = spark.createDataFrame(
      java.util.Arrays.asList(touched: _*),
      org.apache.spark.sql.types.StructType(
        groups.map(g => groupDelta.schema(g))))
    // NULL countAlias after the left join ⇔ the touched group vanished
    val mergeSource = touchedDf.join(recomputed, groups, "left")
    val aggAliases = Seq(countAlias) ++ (sums ++ mins ++ maxs).map(_._2) ++
      avgs.map(_._3)
    val matched = Seq(
      MergeDelete(Some(s"s.`$countAlias` IS NULL")),
      MergeUpdate(None, Some(aggAliases.map(a => a -> s"s.`$a`"))))
    val notMatched = Seq(MergeInsert(Some(s"s.`$countAlias` IS NOT NULL"),
      Some(groups ++ aggAliases),
      Some((groups ++ aggAliases).map(a => s"s.`$a`"))))
    // touchedDf is a collected DISTINCT key set left-joined to a groupBy
    // output on the same key: key-distinct by construction
    t.mergeWhen(spark, mergeSource, groups, matched, notMatched, Nil,
      Map(ViewStore.MviewAppId -> srcV.toLong), sourceKeyDistinct = true)
    Some(Seq(Row("incremental-recheck", srcV)))
  }

  /** The N-source JOIN-aggregate incremental path (r14 verdict #1,
    * generalized to join CHAINS in r15) — the classic delta-join rule,
    * telescoped: ΔJ = Σᵢ A₁@last ⋈ … ⋈ Aᵢ₋₁@last ⋈ ΔAᵢ ⋈ Aᵢ₊₁@cur ⋈ …
    * ⋈ Aₙ@cur (signs ride the delta source; every cross-delta overlap
    * term lands in exactly one summand because the LATER sources are
    * read at CUR — the telescoping that keeps N terms exact for N
    * deltas). Idle sources contribute no term; each term joins a
    * changed-files-sized delta against pinned snapshots, the signed
    * group deltas fold as ±1/±x and MERGE on the composite group key
    * with ALL advanced watermarks in the same commit. Any obstacle —
    * unparseable shape, outer join, self-join, missing/revoked license,
    * NULL group key or summed value in a delta, non-foldable sum type,
    * decimal overflow, vacuumed change range, restored (rewound)
    * source — returns None → the always-sound full recompute, reported
    * in `mode`. */
  private def incrementalJoin(spark: SparkSession, t: TxTable,
      defn: String, srcs: Seq[String]): Option[Seq[Row]] = {
    import org.apache.spark.sql.functions.{col, expr, lit, sum, when}
    defn match {
      case GraftSqlParser.MviewChainAggSelect(selectList, fromChain, pred,
          groupBy) =>
        GraftSqlParser.parseJoinChain(fromChain)
          .filter(c => c.map(_.root) == srcs)
          .flatMap(chain =>
            GraftSqlParser.parseJoinAggView(selectList, groupBy,
              chain.map(_.alias)).map(v => (chain, v)))
          .flatMap { case (chain, (groups, countAlias, sums, avgs)) =>
            val txns = t.snapshot().txns
            val n = chain.size
            val last = (0 until n).map(i =>
              txns.getOrElse(GraftSqlParser.mviewSrcKey(i), 0L).toInt)
            val nullsafe = sums.isEmpty ||
              txns.get(GraftSqlParser.MviewNullsafeKey).contains(1L)
            if (last.exists(_ <= 0) || !nullsafe) None
            else {
              val tabs = chain.map(c => TxTable.open(c.root))
              val cur = tabs.map(_.currentVersion)
              if ((0 until n).exists(i => cur(i) < last(i))) None // rewound
              else if ((0 until n).forall(i => cur(i) == last(i)))
                Some(Seq(Row("noop", last.head)))
              else try {
                val groupAliases = groups.map(_._2)
                val sumAliases = sums.map(_._2)
                val projCols = groups.map { case (g, a) => expr(g).as(a) } ++
                  sums.map { case (e, a) => expr(e).as(s"__v_$a") }
                // direct equi links between chain members, as
                // (deltaIdx, otherIdx) -> (deltaCol, otherCol): a pinned
                // source joining a delta only matches rows whose link-
                // key value appears in the delta, so its scan can be
                // SEMI-JOIN REDUCED — manifest-pruned to the files whose
                // stats admit one of the delta's (≤10k, integral) key
                // values. Cost ∝ touched files, not the source.
                val aliasIdx = chain.map(_.alias).zipWithIndex.toMap
                val links = scala.collection.mutable.Map.empty[(Int, Int), (String, String)]
                chain.zipWithIndex.drop(1).foreach { case (src, k) =>
                  GraftSqlParser.onEqConjuncts(src.on.get).foreach {
                    case (qa, ca, qb, cb) =>
                      for (ia <- aliasIdx.get(qa); ib <- aliasIdx.get(qb)) {
                        if (!links.contains((ia, ib))) links((ia, ib)) = (ca, cb)
                        if (!links.contains((ib, ia))) links((ib, ia)) = (cb, ca)
                      }
                  }
                }
                // each changed source's CDC slice is consumed by the
                // key-collect probe AND by its delta term — build and
                // PERSIST it once instead of re-reading the change
                // range per consumer (opt r15, guide §2.4)
                val cdcCache = scala.collection.mutable.Map
                  .empty[Int, org.apache.spark.sql.DataFrame]
                def cdc(i: Int): org.apache.spark.sql.DataFrame =
                  cdcCache.getOrElseUpdate(i,
                    tabs(i).rowChangesBetween(spark, last(i), cur(i)).persist())
                val changed = (0 until n).filter(i => cur(i) > last(i))
                // every link-key probe the delta terms will need,
                // collected in ONE action (opt r16; they were one
                // distinct+collect round-trip per (delta, link) pair):
                // each branch keeps its own per-key distinct + 10001
                // limit, the branches union, and the single collect is
                // split driver-side. A branch that hits the limit loses
                // its pruning (None → full pinned read), same as before.
                val needed: Seq[(Int, String)] = changed.flatMap { i =>
                  (0 until n).filter(_ != i).flatMap(j =>
                    links.get((i, j)).map { case (dc, _) => (i, dc) })
                }.distinct.filter { case (i, c) =>
                  cdc(i).schema.fields.find(_.name == c).exists(f =>
                    f.dataType == org.apache.spark.sql.types.LongType ||
                      f.dataType == org.apache.spark.sql.types.IntegerType)
                }
                val keySets: Map[(Int, String), Option[Seq[Long]]] =
                  if (needed.isEmpty) Map.empty
                  else {
                    val branches = needed.map { case (i, c) =>
                      val keys = cdc(i).select(lit(i).as("__i"), lit(c).as("__c"),
                          col(c).cast("long").as("__v"))
                        .na.drop(Seq("__v"))
                      // a slice the MANIFEST proves small (zero jobs to
                      // know) dedups in one task — coalesce(1) makes the
                      // distinct exchange-free (SinglePartition satisfies
                      // the grouping requirement), so the whole batched
                      // probe runs as ONE job with no AQE stage
                      // round-trips; bigger slices keep the distributed
                      // distinct (opt r16, guide §5 — the bound is
                      // data-derived, not a core-count constant)
                      val small = tabs(i).changeRowsUpperBound(
                        last(i), cur(i)) <= 262144L
                      (if (small) keys.coalesce(1) else keys)
                        .distinct().limit(10001)
                    }
                    val rows = branches.reduce(_ unionAll _).collect()
                    val grouped = rows.groupBy(r => (r.getInt(0), r.getString(1)))
                    needed.map { k =>
                      val vs = grouped.getOrElse(k, Array.empty[org.apache.spark.sql.Row])
                        .map(_.getLong(2)).toSeq
                      k -> (if (vs.size > 10000) None else Some(vs))
                    }.toMap
                  }
                def deltaKeys(i: Int, c: String): Option[Seq[Long]] =
                  keySets.getOrElse((i, c), None)
                def term(i: Int): org.apache.spark.sql.DataFrame = {
                  val sign = when(
                    col(s"${chain(i).alias}._change_type") === "insert",
                    lit(1L)).otherwise(lit(-1L))
                  val j = GraftSqlParser.chainFrame(spark, chain, pred, j =>
                    if (j == i) cdc(j)
                    else {
                      val ver = if (j < i) last(j) else cur(j)
                      links.get((i, j))
                        .flatMap { case (dc, oc) =>
                          deltaKeys(i, dc).map(vs =>
                            tabs(j).readIn(spark, oc, vs, Some(ver)).df)
                        }
                        .getOrElse(tabs(j).read(spark, Some(ver)))
                    })
                  j.select(projCols :+ sign.as("__sign"): _*)
                }
                try {
                  val joined = changed.map(term).reduce(_ unionByName _)
                  // ONE pass over the delta-join union computes the
                  // signed group deltas AND the per-sum NULL counters;
                  // the safety/emptiness/overflow checks then probe the
                  // PERSISTED group-count-sized delta instead of
                  // re-running the delta joins per check (opt r15)
                  val aggCols = sum(col("__sign")).as("__dn") +:
                    (sumAliases.map(a =>
                      sum(col(s"__v_$a") * col("__sign")).as(s"__d_$a")) ++
                      sumAliases.map(a =>
                        sum(when(col(s"__v_$a").isNull, lit(1L))
                          .otherwise(lit(0L))).as(s"__nc_$a")))
                  // EAGER localCheckpoint, not persist: the delta-join
                  // union's lineage would otherwise be re-ANALYZED by
                  // every downstream action (measured: ~60% of refresh
                  // wall time was driver-side planning between jobs) —
                  // the checkpoint truncates every later plan to a scan
                  // of the group-count-sized delta (opt r15, guide §3.3)
                  val delta0 = joined.groupBy(groupAliases.map(col): _*)
                    .agg(aggCols.head, aggCols.tail: _*)
                    .localCheckpoint(eager = true)
                  try {
                    // NULL group key ⇒ NULL-keyed delta row; NULL summed
                    // value ⇒ positive `__nc_` counter — the same
                    // triggers the old per-row probe fired on. ONE
                    // aggregate action answers unsafe? + empty? (opt
                    // r15) + would a decimal sum overflow? (opt r16 —
                    // the overflow witness was its own delta⋈view action;
                    // when a decimal sum exists it now left-joins the
                    // group-count-sized materialization inside the SAME
                    // probe pass. View group keys are unique by
                    // construction, so the join preserves the delta's
                    // row count and the max() witnesses are
                    // duplicate-blind anyway.)
                    import org.apache.spark.sql.functions.count
                    val hasDecimalSum = sumAliases.nonEmpty &&
                      delta0.schema.fields.filter(_.name.startsWith("__d_"))
                        .exists(_.dataType.isInstanceOf[
                          org.apache.spark.sql.types.DecimalType])
                    val sd = delta0.as("s")
                    val probeSrc =
                      if (!hasDecimalSum) sd
                      else sd.join(t.read(spark).as("t"),
                        groupAliases.map(g =>
                          col(s"s.`$g`") <=> col(s"t.`$g`")).reduce(_ && _),
                        "left")
                    val unsafe = groupAliases.map(g => col(s"s.`$g`").isNull) ++
                      sumAliases.map(a => col(s"s.`__nc_$a`") > 0L)
                    val ovfWitness =
                      if (!hasDecimalSum) lit(false)
                      else sumAliases.map { a =>
                        col(s"t.`$a`").isNotNull &&
                          col(s"s.`__d_$a`").isNotNull &&
                          (col(s"t.`$a`") + col(s"s.`__d_$a`")).isNull
                      }.reduce(_ || _)
                    val probe = probeSrc.agg(
                      count(lit(1)).as("__n"),
                      org.apache.spark.sql.functions.max(
                        when(unsafe.reduce(_ || _), lit(1L))
                          .otherwise(lit(0L))).as("__u"),
                      org.apache.spark.sql.functions.max(
                        when(ovfWitness, lit(1L)).otherwise(lit(0L)))
                        .as("__ov")).head()
                    val nGroups = probe.getLong(0)
                    val anyUnsafe = !probe.isNullAt(1) && probe.getLong(1) == 1L
                    val anyOverflow = !probe.isNullAt(2) && probe.getLong(2) == 1L
                    val dFields =
                      delta0.schema.fields.filter(_.name.startsWith("__d_"))
                    val wm = Map(ViewStore.MviewAppId -> 0L) ++
                      (0 until n).map(i =>
                        GraftSqlParser.mviewSrcKey(i) -> cur(i).toLong)
                    if (anyUnsafe) None
                    else if (!GraftSqlParser.deltaFoldableTypes(dFields.toSeq)) None
                    else if (nGroups == 0L) {
                      // watermarks must still advance (ADVICE r14)
                      t.commitTxns(wm, "mview-watermark")
                      Some(Seq(Row("noop", cur.head)))
                    } else {
                      val delta = delta0.drop(sumAliases.map(a => s"__nc_$a"): _*)
                      if (anyOverflow) None // fused witness, see probe above
                      else {
                        GraftSqlParser.mergeGroupDelta(spark, t, delta,
                          groupAliases, countAlias, sumAliases, wm,
                          avgAliases = avgs.map { case (_, sa, a) => (sa, a) })
                        Some(Seq(Row("incremental", cur.head)))
                      }
                    }
                  } finally { delta0.unpersist(blocking = false); () }
                } finally {
                  cdcCache.values.foreach(_.unpersist(blocking = false))
                }
              } catch {
                case scala.util.control.NonFatal(_) => None
              }
            }
          }
      case _ => None
    }
  }
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
  * materialized view — the applied-through source version its last
  * refresh recorded. Keeps the catalog surface honest now that three
  * object kinds share the path namespace. */
case class TxDescribeViewCommand(root: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("kind", StringType), attr("definition", StringType),
    attr("applied_through", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    ViewStore.mviewDefinition(root) match {
      case Some(defn) =>
        val wm = TxTable.open(root).snapshot()
          .txns.getOrElse(ViewStore.MviewAppId, 0L).toInt
        Seq(Row("MATERIALIZED VIEW", defn, wm))
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
