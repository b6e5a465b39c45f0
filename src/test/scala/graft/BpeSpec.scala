package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Analytics6

/** BPE vocabulary training ([[graft.queries.Analytics6#q_bpe_train]]):
  * no SQL oracle exists (iterative argmax + imperative greedy merge),
  * so the distributed trainer is pinned against an INDEPENDENT
  * single-threaded reference implementation of the Sennrich algorithm —
  * full merge-table equality (pair, order, and weighted count per
  * rank) on both a hand-checkable micro-corpus and the real sf0.001
  * documents table, plus the structural invariants (chained merges
  * reuse earlier merged symbols; deterministic ties). */
class BpeSpec extends AnyFunSuite with SparkFixture {

  /** Plain Scala BPE: word-frequency state, count all adjacent pairs
    * weighted by frequency, merge the (count DESC, pair ASC) argmax
    * greedily left-to-right, stop when the best pair's count < 2. */
  private def refBpe(corpus: Seq[String], k: Int): Seq[(Int, String, String, String, Long)] = {
    val freq = corpus.flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var state: Vector[(Vector[String], Long)] =
      freq.toVector.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>", f) }
    val out = Vector.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- state; j <- 0 until syms.size - 1)
        counts((syms(j), syms(j + 1))) = counts.getOrElse((syms(j), syms(j + 1)), 0L) + f
      val best = counts.toSeq.sortBy { case ((x, y), n) => (-n, x, y) }.headOption
      best match {
        case Some(((x, y), n)) if n >= 2 =>
          out += ((rank, x, y, x + y, n))
          state = state.map { case (syms, f) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            for (s <- syms) {
              if (acc.nonEmpty && acc.last == x && s == y) acc(acc.size - 1) = x + y
              else acc += s
            }
            (acc.toVector, f)
          }
          rank += 1
        case _ => done = true
      }
    }
    out.result()
  }

  private def trained(corpus: Seq[String], k: Int): Seq[(Int, String, String, String, Long)] = {
    import spark.implicits._
    val df = corpus.toDF("text")
    Analytics6.bpeTrain(spark, df, k).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
  }

  test("micro-corpus: full merge table equals the hand-run reference, merges chain") {
    // the classic Sennrich fixture shape: shared suffixes force chained
    // merges (e+r, then er+</w>) so the test exercises merged symbols
    // re-entering later pair counts
    val corpus = Seq(
      "low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest")
    val got = trained(corpus, 10)
    val want = refBpe(corpus, 10)
    assert(got == want, s"\ngot:  $got\nwant: $want")
    // chained merges really happened: some later merge consumes an
    // earlier merged symbol
    val mergedSyms = got.map(_._4).toSet
    assert(got.exists(m => mergedSyms.contains(m._2) || mergedSyms.contains(m._3)),
      "no merge ever reused an earlier merged symbol")
  }

  test("greedy left-to-right: overlapping runs merge non-overlapping (aaaa -> aa aa)") {
    val corpus = Seq("aaaa aaaa aaaa")
    val got = trained(corpus, 2)
    val want = refBpe(corpus, 2)
    assert(got == want)
    // rank 1 merges (a,a) seen 3 times per word (overlap counting), 9
    // total; the greedy pass leaves [aa, aa, </w>] — rank 2's counts
    // (aa,aa)=3 and (aa,</w>)=3 tie, and "</w>" < "aa" in the pair-ASC
    // tie-break, so the deterministic winner is (aa, </w>)
    assert(got.head._2 == "a" && got.head._3 == "a" && got.head._5 == 9)
    assert(got(1) == ((2, "aa", "</w>", "aa</w>", 3L)), s"got ${got(1)}")
  }

  test("sf0.001 corpus: distributed trainer matches the reference exactly") {
    import spark.implicits._
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").as[String].collect().toSeq
    val got = trained(corpus, 12)
    val want = refBpe(corpus, 12)
    assert(got.size == 12, "the real corpus supports 12 productive merges")
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  /** Reference encode: replay merges in rank order, one greedy
    * left-to-right pass per rank — exact for BPE because a rank-k merge
    * only creates symbols no rank ≤ k references (new adjacencies
    * always involve the merged symbol), so earlier ranks never regain
    * opportunities and one pass per rank reaches fixpoint. */
  private def refEncode(word: String, merges: Seq[(String, String, String)]): Vector[String] = {
    var syms = word.map(_.toString).toVector :+ "</w>"
    for ((x, y, m) <- merges) {
      val acc = scala.collection.mutable.ArrayBuffer.empty[String]
      for (s <- syms) {
        if (acc.nonEmpty && acc.last == x && s == y) acc(acc.size - 1) = m
        else acc += s
      }
      syms = acc.toVector
    }
    syms
  }

  test("encoding replays the learned merges: per-doc stats match a reference encode") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val merges = refBpe(corpus.map(_._2), 12).map(m => (m._2, m._3, m._4))
    val want = corpus.map { case (id, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
        .flatMap(w => refEncode(w, merges))
      (id, (toks.size.toLong, toks.distinct.size.toLong, toks.map(_.length).max))
    }.toMap
    val got = queries.Analytics6.q_bpe_encode(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got.size == want.size)
    assert(got == want.map { case (k, (a, b, c)) => k -> ((a, b, c)) },
      "distributed encode must match the reference token stream per doc")
    // and BPE actually compresses: fewer tokens than characters+markers
    val charCounts = corpus.map { case (id, text) =>
      id -> text.toLowerCase.split(" ").filter(_.nonEmpty)
        .map(_.length + 1).sum.toLong
    }.toMap
    assert(got.forall { case (id, (n, _, _)) => n < charCounts(id) },
      "encoded token count must be below the raw symbol count")
  }

  test("k=64 on sf0.01: exact vs the reference, O(1) driver jobs (dictionary path)") {
    import spark.implicits._
    val corpus = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("text").as[String].collect().toSeq
    val want = refBpe(corpus, 64)
    val (got, jobs) = JobMeter.measure(spark) {
      val df = Analytics6.bpeTrain(spark,
        Tables.documents(spark, "/root/testdata/sf0.01").select(col("text")), 64)
      df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    }
    assert(got.size == 64 && got == want,
      s"k=64 train must equal the sequential reference\ngot:  ${got.take(5)}…")
    // the corpus-sized work is ONE word count; the 64-merge loop runs on
    // the Zipf-bounded dictionary — k/4 = 16 driver jobs is generous
    assert(jobs.size <= 16, s"k=64 must train under 16 driver jobs, ran ${jobs.size}")
  }

  test("distributed exact-batched rounds equal the reference (oversize-vocab path)") {
    import spark.implicits._
    // force the distributed tier (vocab budget 0) on both the chained
    // micro-corpus and the real sf0.001 docs: batches must be provably
    // sequential — ties, chained merges, stop rule included
    val micro = Seq(
      "low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest")
    val gotMicro = Analytics6.bpeTrain(spark, micro.toDF("text"), 10,
        localVocabBudget = 0).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(gotMicro == refBpe(micro, 10), s"micro diverged:\n$gotMicro")
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").as[String].collect().toSeq
    val got = Analytics6.bpeTrain(spark,
        Tables.documents(spark, "/root/testdata/sf0.001").select(col("text")), 12,
        localVocabBudget = 0).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got == refBpe(corpus, 12),
      "exact-batched distributed rounds must equal the sequential reference")
    // the overlap fixture (aaaa): greedy one-pass semantics inside a batch
    val aa = Seq("aaaa aaaa aaaa")
    val gotAa = Analytics6.bpeTrain(spark, aa.toDF("text"), 2,
        localVocabBudget = 0).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(gotAa == refBpe(aa, 2), s"aaaa fixture diverged: $gotAa")
  }

  test("training stops when no pair repeats, instead of minting count-1 merges") {
    val corpus = Seq("ab cd ef") // every pair unique
    val got = trained(corpus, 5)
    assert(got.forall(_._5 >= 2))
    assert(got.size < 5, s"should stop early, produced $got")
  }
}
