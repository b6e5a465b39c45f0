package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codegen'd intersection size of two ASCENDING-sorted long arrays via a
  * single merge pass — the inner loop of the exact set-similarity join
  * ([[graft.operators.SetSimilarity]]).
  *
  * The built-in alternative `size(array_intersect(a, b))` allocates and
  * fills a hash set per evaluated pair; on an all-pairs similarity join
  * that is millions of allocations per task. The merge pass is
  * allocation-free, O(|a|+|b|), and inlines into whole-stage codegen.
  *
  * Inputs with unsorted arrays produce an undercount (garbage-in); the
  * operator always feeds it `array_sort`ed dictionary hashes. NULL if
  * either array is NULL.
  *
  * CONTRACT: array elements must be non-null (dictionary hashes cannot
  * be). A null element yields NULL only if the merge cursor reaches it
  * before the shorter array is exhausted — best-effort detection, not a
  * guarantee.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size expects two array<bigint> arguments, got ${left.dataType} / ${right.dataType}")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
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
    c
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
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) $i++;
         |  else if ($xv > $yv) $j++;
         |  else { $c++; $i++; $j++; }
         |}
         |if (!${ev.isNull}) ${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  val info = new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size")

  private[graft] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "sorted_intersect_size expects exactly 2 arguments")
    SortedIntersectSize(children.head, children(1))
  }
}
