package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Production-deploy seam: a session configured ONLY with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (the cluster
  * path — no Tables.ensure, no harness registration) must resolve every
  * engine function and run the custom optimizer rules. Guards against
  * single-sided registration drift: a function or rule added to
  * Tables.ensure but not GraftExtensions would pass every harness test
  * and then fail on a real cluster. */
class GraftExtensionsSpec extends AnyFunSuite with SparkFixture {

  private def withExtensionSession[A](f: SparkSession => A): A = {
    val fixture = spark // force the shared fixture session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // Load by NAME exactly as Spark's applyExtensions does for
      // spark.sql.extensions (Class.forName + public no-arg ctor), then
      // inject via withExtensions — the same SparkSessionExtensions path.
      // (The conf-string itself is a STATIC conf, unreachable in a test
      // JVM that must reuse the fixture's SparkContext.)
      val ext = Class.forName("graft.functions.GraftExtensions")
        .getConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      val s = SparkSession.builder()
        .master("local[4]")
        .withExtensions(ext)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.setDefaultSession(fixture)
      SparkSession.setActiveSession(fixture)
    }
  }

  test("extensions-configured session resolves every engine function") {
    withExtensionSession { s =>
      assert(s.sql(
        "SELECT float_dot(array(cast(3.0 as float)), array(cast(2.0 as float)))")
        .head.getDouble(0) == 6.0)
      assert(s.sql(
        "SELECT sorted_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L))")
        .head.getInt(0) == 2)
      assert(s.sql(
        "SELECT sorted_jaccard_bp(array(1L, 2L), array(1L, 2L))")
        .head.getLong(0) == 10000L)
      assert(s.sql(
        "SELECT sorted_jaccard_ge_bp(array(1L, 2L), array(1L, 2L), 8000L)")
        .head.getBoolean(0))
      assert(s.sql("SELECT size(char_ngram_hashes('abcd', 3))")
        .head.getInt(0) == 2)
      assert(s.sql("SELECT size(minhash32(array(1L, 2L)))")
        .head.getInt(0) == 32)
      // bloom build + probe round-trip through the registered pair
      assert(s.sql(
        """SELECT might_contain(
          |  (SELECT bloom_filter_agg(xxhash64(id), CAST(8 AS BIGINT), CAST(128 AS BIGINT))
          |   FROM range(8)), xxhash64(3L))""".stripMargin)
        .head.getBoolean(0))
      // the harness path registers the very same names
      Tables.ensure(spark)
      val names = graft.functions.GraftExtensions.functions.map(_._1)
      val missing = names.filterNot(n => s.sessionState.functionRegistry.functionExists(n) &&
        spark.sessionState.functionRegistry.functionExists(n))
      assert(missing.isEmpty, s"not resolvable in both sessions: $missing")
    }
  }

  test("extensions-configured session runs the custom optimizer rules") {
    withExtensionSession { s =>
      // InferJaccardSizeBound must inject the Bayardo size bound (a Size()
      // comparison) ahead of the merge pass in the optimized plan
      // arrays must derive from the range id — literal arrays constant-fold
      // the whole filter into a LocalRelation before the rule can fire
      s.range(4).selectExpr("array(id, id + 1L) as a", "array(id) as b")
        .createOrReplaceTempView("ge_sets")
      val plan = s.sql(
        "SELECT * FROM ge_sets WHERE sorted_jaccard_bp(a, b) >= 8000")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("size("),
        s"expected injected size bound in optimized plan:\n$plan")
    }
  }
}
