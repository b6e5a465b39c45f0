package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd exact Jaccard similarity of two ASCENDING-sorted long arrays
  * in floor-quantized basis points: floor(10000·|∩| / (|a|+|b|−|∩|)).
  *
  * Fuses [[SortedIntersectSize]] with the quantization so a filter like
  * `sorted_jaccard_bp(wa, wb) >= 8000` costs ONE merge pass per pair even
  * after Catalyst pushes it into a join condition — the unfused
  * `floor(10000.0 * i / (na + nb - i))` form references the intersect
  * twice and join conditions get no common-subexpression elimination
  * (measured 2× on the all-pairs similarity join). The arithmetic is the
  * same double multiply/divide/floor as the SQL form, so results are
  * bit-identical to the DuckDB oracle's. NULL on NULL input; 10000 for
  * two empty arrays (both empty ⇒ identical sets, matching the
  * within-set-expansion convention).
  *
  * CONTRACT: array elements must be non-null (operators always feed
  * `array_sort`ed xxhash64 values, which cannot be null). A null element
  * yields NULL only if the merge cursor reaches it before the shorter
  * array is exhausted — e.g. a=[1], b=[2, null] returns a numeric result
  * — so null detection is best-effort, not a guarantee.
  */
case class SortedJaccardBp(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_jaccard_bp expects two array<bigint> arguments, got ${left.dataType} / ${right.dataType}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_jaccard_bp"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    if (n == 0 && m == 0) return 10000L
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    java.lang.Math.floor(10000.0 * c / (n + m - c)).toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |if ($n == 0 && $m == 0) {
         |  ${ev.value} = 10000L;
         |} else {
         |  int $i = 0; int $j = 0; int $c = 0;
         |  while ($i < $n && $j < $m) {
         |    if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    long $xv = $a.getLong($i);
         |    long $yv = $b.getLong($j);
         |    if ($xv < $yv) $i++;
         |    else if ($xv > $yv) $j++;
         |    else { $c++; $i++; $j++; }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = (long) java.lang.Math.floor(10000.0 * $c / ($n + $m - $c));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedJaccardBp {
  val info = new ExpressionInfo(classOf[SortedJaccardBp].getName, "sorted_jaccard_bp")

  private[graft] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "sorted_jaccard_bp expects exactly 2 arguments")
    SortedJaccardBp(children.head, children(1))
  }
}
