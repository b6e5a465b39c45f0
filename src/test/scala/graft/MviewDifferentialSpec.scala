package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** Randomized model test for materialized-view maintenance: a source
  * table takes a random interleaving of appends, band deletes, and
  * keyed merges, and a small dim table an occasional insert or delete;
  * after EVERY step a full-shape aggregate view (count/sum/avg/min/max),
  * a pure-delta view (count/sum/avg, no extrema) and a join view
  * (source ⋈ dim on g, count/sum/avg) refresh and must equal a
  * from-scratch recompute of their definitions — whatever mode the
  * refresh chose. The mode sequence is also asserted non-degenerate: the
  * full-shape view must exercise the monotone insert fold AND the
  * touched-group recheck, the pure-delta view must stay incremental
  * throughout (it never has a reason to recompute), and the join view
  * must take the delta path at least once, so a silent always-full
  * regression cannot hide behind the equality check. */
class MviewDifferentialSpec extends AnyFunSuite with SparkFixture {

  private def q(p: String) = s"txtable.`$p`"
  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_mvdiff").toString

  test("randomized mutations: every refresh mode, view == recompute") {
    Tables.ensure(spark)
    val rnd = new scala.util.Random(41)
    // the dim steps draw from their own generator, so the source steps
    // are the same sequence with or without them
    val dimRnd = new scala.util.Random(43)
    for (trial <- 1 to 2) {
      val t = new TxTable(tmpRoot(), Seq("k"))
      var nextK = 0L
      def batch(n: Int) = {
        val lo = nextK; nextK += n
        spark.range(lo, lo + n).toDF("k")
          .withColumn("g", col("k") % 5)
          .withColumn("x", (col("k") * 37 % 101) - 3)
          .repartitionByRange(2, col("k"))
      }
      t.append(spark, batch(60))
      val dim = new TxTable(tmpRoot(), Seq("g"))
      dim.append(spark, spark.range(5).toDF("g")
        .withColumn("w", col("g") % 3).repartitionByRange(1, col("g")))
      val full = s"${tmpRoot()}/mvfull"
      val pure = s"${tmpRoot()}/mvpure"
      val fullDefn = "SELECT g, count(*) AS n, " +
        "sum(CAST(x AS DECIMAL(18,2))) AS sx, " +
        "avg(CAST(x AS DECIMAL(18,2))) AS ax, " +
        "min(CAST(x AS DECIMAL(18,2))) AS mn, " +
        "max(CAST(x AS DECIMAL(18,2))) AS mx " +
        s"FROM ${q(t.root)} WHERE g <= 3 GROUP BY g"
      val pureDefn = "SELECT g, count(*) AS n, sum(k) AS sk, avg(k) AS ak " +
        s"FROM ${q(t.root)} GROUP BY g"
      val join = s"${tmpRoot()}/mvjoin"
      val joinDefn = "SELECT d.w AS g, count(*) AS n, sum(f.x) AS sx, " +
        s"avg(f.x) AS ax FROM ${q(t.root)} f JOIN ${q(dim.root)} d " +
        "ON f.g = d.g GROUP BY d.w"
      spark.sql(s"CREATE MATERIALIZED VIEW ${q(full)} " +
        s"TBLPROPERTIES('statCols'='g') AS $fullDefn")
      spark.sql(s"CREATE MATERIALIZED VIEW ${q(pure)} " +
        s"TBLPROPERTIES('statCols'='g') AS $pureDefn")
      spark.sql(s"CREATE MATERIALIZED VIEW ${q(join)} " +
        s"TBLPROPERTIES('statCols'='g') AS $joinDefn")
      val fullModes = scala.collection.mutable.ArrayBuffer.empty[String]
      val pureModes = scala.collection.mutable.ArrayBuffer.empty[String]
      val joinModes = scala.collection.mutable.ArrayBuffer.empty[String]
      def check(mv: String, defn: String, label: String): Unit = {
        val got = spark.sql(s"SELECT * FROM ${q(mv)} ORDER BY g").collect().toSeq
        val want = spark.sql(s"$defn ORDER BY g").collect().toSeq
        assert(got == want,
          s"$label drifted at trial $trial:\n got $got\n want $want")
      }
      for (step <- 1 to 8) {
        rnd.nextInt(3) match {
          case 0 => t.append(spark, batch(5 + rnd.nextInt(20)))
          case 1 =>
            val lo = rnd.nextLong(nextK max 1)
            spark.sql(s"DELETE FROM ${q(t.root)} " +
              s"WHERE k BETWEEN $lo AND ${lo + rnd.nextInt(25)}")
          case 2 =>
            // keyed upsert: existing keys change their x, one new key
            val lo = rnd.nextLong(nextK max 1)
            val upd = spark.range(lo, math.min(lo + 6, nextK)).toDF("k")
              .withColumn("g", col("k") % 5)
              .withColumn("x", (col("k") * 11 % 61) - 7)
            val nk = { val v = nextK; nextK += 1; v }
            val ins = spark.range(nk, nk + 1).toDF("k")
              .withColumn("g", col("k") % 5)
              .withColumn("x", (col("k") * 11 % 61) - 7)
            t.merge(spark, upd.unionByName(ins), "k")
        }
        // the dim: a new member (a repeated g fans its facts out) or a
        // departing one
        if (dimRnd.nextInt(3) == 0) {
          val g = dimRnd.nextInt(6)
          if (dimRnd.nextBoolean())
            spark.sql(s"INSERT INTO ${q(dim.root)} VALUES " +
              s"(CAST($g AS BIGINT), CAST(${dimRnd.nextInt(4)} AS BIGINT))")
          else spark.sql(s"DELETE FROM ${q(dim.root)} WHERE g = $g")
        }
        fullModes += spark.sql(s"REFRESH MATERIALIZED VIEW ${q(full)}")
          .head().getString(0)
        pureModes += spark.sql(s"REFRESH MATERIALIZED VIEW ${q(pure)}")
          .head().getString(0)
        check(full, fullDefn, "full-shape view")
        check(pure, pureDefn, "pure-delta view")
        joinModes += spark.sql(s"REFRESH MATERIALIZED VIEW ${q(join)}")
          .head().getString(0)
        check(join, joinDefn, "join view")
      }
      // non-degenerate: the equality check must not be hiding behind a
      // silent always-full (or all-noop) mode sequence
      assert(fullModes.contains("incremental") ||
        fullModes.contains("incremental-recheck"),
        s"full-shape view never took a delta path: $fullModes")
      assert(!pureModes.contains("full"),
        s"pure count/sum/avg view must never recompute: $pureModes")
      assert(pureModes.contains("incremental"),
        s"pure view never took the delta path: $pureModes")
      assert(joinModes.contains("incremental"),
        s"join view never took the delta path: $joinModes")
    }
  }
}
