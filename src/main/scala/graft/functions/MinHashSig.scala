package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `minhash32(ws)`: the 32-permutation MinHash signature of one document
  * (Broder, "On the resemblance and containment of documents", SEQUENCES
  * 1997) from its word hashes `ws = xxhash64(word)`, computed row by row.
  *
  * Permutation s of word w is `xxhash64(w, lit(s))`, which Spark computes
  * as [[XxHash64Chain.hashInt]]`(s, xxhash64(w))`: the word's hash seeds
  * one xxHash64 int round over s. So `sig[s] = min over h in ws of
  * hashInt(s, h)` is byte-equal to the 32-MIN-aggregate expression form
  * `min(xxhash64(word, lit(s)))` grouped by document (pinned by
  * HashCompatSpec on the real corpus), while it needs no token rows and no
  * shuffle: it reads the same sorted word-hash array the exact-Jaccard
  * confirm of [[graft.operators.MinHashLsh]] already builds.
  *
  * The order and repetition of `ws` do not matter and null elements are
  * skipped (SQL `min` semantics); an empty array yields 32 × Long.MaxValue.
  * NULL for NULL input. Evaluated once per document, never per pair, so
  * interpreted eval is plenty — CodegenFallback keeps the surrounding
  * whole-stage pipeline intact.
  */
case class MinHashSig(child: Expression) extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash32 expects an array<bigint> argument, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash32"

  override protected def nullSafeEval(in: Any): Any = {
    val ws = in.asInstanceOf[ArrayData]
    val sig = Array.fill(MinHashSig.K)(Long.MaxValue)
    var i = 0
    while (i < ws.numElements()) {
      if (!ws.isNullAt(i)) {
        val base = ws.getLong(i)
        var s = 0
        while (s < MinHashSig.K) {
          val h = XxHash64Chain.hashInt(s, base)
          if (h < sig(s)) sig(s) = h
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Permutations per signature: 8 LSH bands of 4. */
  val K = 32

  val info = new ExpressionInfo(classOf[MinHashSig].getName, "minhash32")

  private[functions] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 1, "minhash32 expects exactly 1 argument")
    MinHashSig(children.head)
  }

  /** Signature-estimated Jaccard: fraction of matching components. */
  def estimate(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    var m = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) m += 1; i += 1 }
    if (n == 0) 0.0 else m.toDouble / n
  }
}
