package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
  * 2003) in ONE expression pass — the codegen-expression path the
  * exploded formulation's own doc promises for 100 TB
  * (`queries/Analytics2.scala`): per k-gram md5-prefix keys, a w-wide
  * sliding min, distinct selected keys. The exploded original fans a
  * document out to one row PER CHARACTER (posexplode → md5 → doc_id
  * shuffle → window sort → distinct shuffle: ~300 rows, two exchanges
  * and a sort per 300-char doc); this expression computes the same
  * selection inside the scan stage — zero shuffle, zero fanout, frame
  * parallelism = scan parallelism, which is the winnowing cost model a
  * petabyte corpus needs.
  *
  * Bit-compatible with the exploded form (pinned by WinnowFpsSpec's
  * differential on the real corpus): gram = code-point substring (SQL
  * substring semantics, surrogate-safe like [[CharNgramHashes]]), hash =
  * first 40 bits of md5 (identical to
  * `conv(substring(md5(gram),1,10),16,10)`), packed key = hash·2²⁰ +
  * (2²⁰−1−pos) — minimal hash wins, ties to the RIGHTMOST position, the
  * original robust-winnowing tie rule — selection = min over each full
  * w-window, output = ascending distinct keys. Documents with fewer than
  * k+w−1 code points have no full window and yield an empty array; NULL
  * input yields NULL. Positions are 1-based and must fit the 2²⁰ packing
  * (enforced — a >1M-gram document needs a wider packing, same bound the
  * exploded form inherits silently). */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
        if second.isInstanceOf[Literal] && third.isInstanceOf[Literal] =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"winnow_fps expects (string, int literal k, int literal w), got " +
          s"${first.dataType} / ${second.dataType} / ${third.dataType}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(str: Any, kAny: Any, wAny: Any): Any = {
    val s = str.asInstanceOf[UTF8String].toString
    val k = kAny.asInstanceOf[Int]
    val w = wAny.asInstanceOf[Int]
    require(k > 0 && w > 0, s"winnow_fps needs k > 0 and w > 0, got k=$k w=$w")
    val len = s.length
    val cpCount = s.codePointCount(0, len)
    val npos = cpCount - k + 1
    if (npos < w) return new GenericArrayData(Array.emptyLongArray)
    require(npos <= 1048575,
      s"winnow_fps packs positions into 20 bits; document has $npos grams")
    // char offset of each code point start (identity when surrogate-free)
    val starts =
      if (cpCount == len) null
      else {
        val a = new Array[Int](cpCount + 1)
        var ci = 0; var off = 0
        while (off < len) { a(ci) = off; off += Character.charCount(s.codePointAt(off)); ci += 1 }
        a(cpCount) = len
        a
      }
    val md = java.security.MessageDigest.getInstance("MD5")
    val keys = new Array[Long](npos)
    var i = 0
    while (i < npos) {
      val gram = if (starts == null) s.substring(i, i + k)
                 else s.substring(starts(i), starts(i + k))
      md.reset()
      val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 10 hex chars = first 5 bytes, big-endian unsigned
      val h40 = ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
        ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
      keys(i) = h40 * 1048576L + (1048575L - (i + 1).toLong)
      i += 1
    }
    // sliding min over each full w-window (windows end at pos w..npos);
    // w is small by construction (a fingerprint density knob), so the
    // direct scan beats a deque's bookkeeping
    val sels = new Array[Long](npos - w + 1)
    var e = w - 1
    while (e < npos) {
      var m = keys(e)
      var j = e - w + 1
      while (j < e) { if (keys(j) < m) m = keys(j); j += 1 }
      sels(e - w + 1) = m
      e += 1
    }
    java.util.Arrays.sort(sels)
    var wr = 0
    var r = 1
    while (r < sels.length) {
      if (sels(r) != sels(wr)) { wr += 1; sels(wr) = sels(r) }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sels, wr + 1))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowFps {
  val info = new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps")

  private[graft] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 3, "winnow_fps expects exactly 3 arguments")
    WinnowFps(children.head, children(1), children(2))
  }
}
