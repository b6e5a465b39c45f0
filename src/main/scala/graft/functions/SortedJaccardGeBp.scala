package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType}

/** Early-exit threshold test: `sorted_jaccard_ge_bp(a, b, t)` ⟺
  * `sorted_jaccard_bp(a, b) >= t`, but the merge pass ABORTS the moment
  * the remaining elements cannot close the gap to the threshold.
  *
  * Exact integer reformulation (no floating point until nothing is left
  * to decide): `floor(10000·c/u) >= t  ⟺  10000·c >= t·u  ⟺
  * c·(10000+t) >= t·(n+m)` with u = n+m−c, all values well inside 2⁵³,
  * so the rewrite is value-identical to evaluating the quantized Jaccard
  * and comparing — [[graft.plans.FuseJaccardThreshold]] substitutes this
  * expression for the comparison form in Filter/Join conditions, where
  * most candidate pairs FAIL the threshold and the abort saves the tail
  * of every failing merge. The full-value expression still computes the
  * output column for survivors.
  *
  * NULL input → NULL (same as the comparison form, which propagates the
  * merge expression's NULL through `>=`). Null ELEMENTS are best-effort
  * like [[SortedJaccardBp]] — the abort can return false before reaching
  * a null element, but the comparison form would have returned NULL,
  * and both outcomes drop the row in a filter, so the rewrite is
  * filter-equivalent (the only context the rule rewrites).
  */
case class SortedJaccardGeBp(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType | IntegerType)
          if third.isInstanceOf[Literal] =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sorted_jaccard_ge_bp expects (array<bigint>, array<bigint>, int literal), got " +
          s"${first.dataType} / ${second.dataType} / ${third.dataType}")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_jaccard_ge_bp"

  // literal by the type check; cache so the interpreted path doesn't
  // re-eval the Literal per row
  private lazy val thresholdBp: Long = third.eval() match {
    case i: Int  => i.toLong
    case l: Long => l
  }

  override protected def nullSafeEval(a: Any, b: Any, t: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val bp = thresholdBp
    val n = x.numElements()
    val m = y.numElements()
    if (n == 0 && m == 0) return bp <= 10000L
    // need c*(10000+t) >= t*(n+m); abort when even c + min(rest) fails
    val rhs = bp * (n + m)
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      if ((c + math.min(n - i, m - j)) * (10000L + bp) < rhs) return false
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c * (10000L + bp) >= rhs
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, _) => {
      val bp = thresholdBp
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val rhs = ctx.freshName("rhs")
      val rest = ctx.freshName("rest")
      val done = ctx.freshName("done")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |if ($n == 0 && $m == 0) {
         |  ${ev.value} = ${bp}L <= 10000L;
         |} else {
         |  long $rhs = ${bp}L * ($n + $m);
         |  int $i = 0; int $j = 0; long $c = 0L;
         |  boolean $done = false;
         |  while ($i < $n && $j < $m) {
         |    long $rest = ($n - $i) < ($m - $j) ? ($n - $i) : ($m - $j);
         |    if (($c + $rest) * (10000L + ${bp}L) < $rhs) { ${ev.value} = false; $done = true; break; }
         |    if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; $done = true; break; }
         |    long $xv = $a.getLong($i);
         |    long $yv = $b.getLong($j);
         |    if ($xv < $yv) $i++;
         |    else if ($xv > $yv) $j++;
         |    else { $c++; $i++; $j++; }
         |  }
         |  if (!$done) {
         |    ${ev.value} = $c * (10000L + ${bp}L) >= $rhs;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedJaccardGeBp {
  val info = new ExpressionInfo(classOf[SortedJaccardGeBp].getName, "sorted_jaccard_ge_bp")

  private[graft] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 3, "sorted_jaccard_ge_bp expects exactly 3 arguments")
    SortedJaccardGeBp(children.head, children(1), children(2))
  }
}
