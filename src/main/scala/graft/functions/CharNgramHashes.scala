package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct xxhash64 values of a string's character n-grams — the
  * set-build primitive of [[graft.operators.SetSimilarity]], in one pass.
  *
  * Equivalent set to the built-in chain
  * `array_sort(transform(array_distinct(transform(sequence(1, length(s)-n+1),
  * i -> substring(s, i, n))), g -> xxhash64(g)))` (pinned by
  * OperatorEdgeSpec), but those higher-order functions are interpreted —
  * one closure call, UTF8String allocation and boxed comparison per
  * element — which measured 780µs per 200-char document at sf0.1, making
  * the SET BUILD (not the pair join) the dominant cost of the n-gram
  * similarity query. This expression windows the decoded string once BY
  * CODE POINT (matching SQL length/substring semantics on non-BMP text —
  * surrogate pairs are never split), hashes each n-gram's UTF-8 bytes
  * ([[XxHash64Chain]], byte-equal to SQL `xxhash64`), then sorts and
  * dedupes a primitive long[] in place.
  *
  * Evaluated once per document row (never inside a pair loop), so
  * interpreted eval is plenty — CodegenFallback keeps the surrounding
  * whole-stage pipeline intact. NULL for NULL input; strings shorter than
  * n yield an empty array (DuckDB `range` semantics — Spark's `sequence`
  * would count DOWN; the old formulation documented that trap, this one
  * removes it).
  */
case class CharNgramHashes(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.isInstanceOf[Literal] =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"char_ngram_hashes expects (string, int literal), got ${left.dataType} / ${right.dataType}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_ngram_hashes"

  override protected def nullSafeEval(str: Any, nAny: Any): Any = {
    val s = str.asInstanceOf[UTF8String].toString
    val n = nAny.asInstanceOf[Int]
    val len = s.length
    // SQL length/substring count CODE POINTS; windowing UTF-16 chars would
    // diverge on non-BMP text and split surrogate pairs into invalid
    // n-grams. Window by code point; the char loop is the (dominant)
    // surrogate-free fast path where the two units coincide.
    val cpCount = s.codePointCount(0, len)
    if (cpCount < n) return new GenericArrayData(Array.emptyLongArray)
    val hashes = new Array[Long](cpCount - n + 1)
    if (cpCount == len) {
      var i = 0
      while (i + n <= len) {
        hashes(i) = XxHash64Chain.hashString(s.substring(i, i + n))
        i += 1
      }
    } else {
      // char offset of each code point start (+ end sentinel)
      val starts = new Array[Int](cpCount + 1)
      var ci = 0
      var off = 0
      while (off < len) {
        starts(ci) = off
        off += Character.charCount(s.codePointAt(off))
        ci += 1
      }
      starts(cpCount) = len
      var i = 0
      while (i + n <= cpCount) {
        hashes(i) = XxHash64Chain.hashString(s.substring(starts(i), starts(i + n)))
        i += 1
      }
    }
    java.util.Arrays.sort(hashes)
    // in-place dedupe of the sorted array
    var w = 0
    var r = 1
    while (r < hashes.length) {
      if (hashes(r) != hashes(w)) { w += 1; hashes(w) = hashes(r) }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, w + 1))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CharNgramHashes {
  val info = new ExpressionInfo(classOf[CharNgramHashes].getName, "char_ngram_hashes")

  private[graft] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "char_ngram_hashes expects exactly 2 arguments")
    CharNgramHashes(children.head, children(1))
  }
}
