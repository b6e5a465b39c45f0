package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Codegen'd dot product over two float vectors (SURVEY §4 custom-work
  * item 1).
  *
  * Semantically identical to the built-in higher-order chain
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, (s,v) -> s+v)`
  * for ALL inputs: a strict left-to-right double fold on equal-length
  * arrays of non-null floats, and NULL whenever the lengths differ
  * (zip_with null-pads the shorter side, nulling the whole sum) or any
  * element is NULL (null propagates through the product and fold). Results
  * therefore stay bit-identical to the DuckDB oracle's
  * `list_sum(list_transform(list_zip(...)))` — but compile into the
  * whole-stage-codegen pipeline instead of interpreting two lambda
  * closures per row. On the all-pairs similarity queries (2000² pairs ×
  * 64 dims at bench scale) this removes the dominant cost: measured
  * 26.8s → ~3s for q_embed_neardup at sf0.1.
  */
case class FloatDot(left: Expression, right: Expression)
  extends BinaryExpression {

  // (ExpectsInputTypes is unavailable outside org.apache.spark.sql —
  // AbstractDataType is private[sql] — so types are checked directly)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"float_dot expects two array<float> arguments, got ${left.dataType} / ${right.dataType}")
    }
  override def dataType: DataType = DoubleType
  // NULL is produced for length mismatch / null elements even when the
  // array columns themselves are non-nullable
  override def nullable: Boolean = true
  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatDot {
  val info = new ExpressionInfo(classOf[FloatDot].getName, "float_dot")

  private[functions] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "float_dot expects exactly 2 arguments")
    FloatDot(children.head, children(1))
  }
}

/** Production entry point: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * injects the engine's functions at session build time on any cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // NOTE: graft.plans.TxManifestStats is NOT injectable here — every
    // extension hook (operator batch, pre-CBO) runs BEFORE
    // V2ScanRelationPushDown builds the scan it rewraps; it registers via
    // spark.experimental.extraOptimizations ("User Provided Optimizers",
    // the end of optimization) in Tables.ensure.
    // SQL DML/DDL for the lakehouse tier: MERGE INTO / RESTORE TABLE /
    // DESCRIBE HISTORY / VACUUM / OPTIMIZE against txtable roots parse to
    // commands over graft.tables.TxTable; everything else delegates.
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
  }
}

/** The ONE list of what the engine registers: the cluster path above
  * injects it, and `graft.Tables.ensure` registers the same entries into
  * sessions the harness builds itself. */
object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_dot"), FloatDot.info, FloatDot.builder _),
    (FunctionIdentifier("sorted_intersect_size"),
      SortedIntersectSize.info, SortedIntersectSize.builder _),
    (FunctionIdentifier("sorted_jaccard_bp"), SortedJaccardBp.info, SortedJaccardBp.builder _),
    (FunctionIdentifier("sorted_jaccard_ge_bp"),
      SortedJaccardGeBp.info, SortedJaccardGeBp.builder _),
    (FunctionIdentifier("minhash32"), MinHashSig.info, MinHashSig.builder _),
    (FunctionIdentifier("char_ngram_hashes"), CharNgramHashes.info, CharNgramHashes.builder _),
    (FunctionIdentifier("winnow_fps"), WinnowFps.info, WinnowFps.builder _),
    (FunctionIdentifier("might_contain"), MightContain.info, MightContain.builder _),
    (FunctionIdentifier("bloom_filter_agg"), MightContain.aggInfo, MightContain.aggBuilder _))

  /** Optimizer rules both paths run (Tables.ensure adds the two that must
    * run after scan pushdown). */
  val rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = Seq(
    graft.plans.InferJaccardSizeBound,
    graft.plans.FuseJaccardThreshold, graft.plans.OrderCostlyPredicatesLast)
}
