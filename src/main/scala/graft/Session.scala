package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, Dev and the spec fixture all
  * run under these settings, so a plan or timing seen in one of them is
  * the plan or timing of the others. */
object Session {

  /** `local[cpus]`, one shuffle partition per cpu, UTC, no UI, the graft
    * extensions, WARN logging. `cpus` defaults to `SPARK_GRAFT_CPUS`,
    * else 4. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // let AQE right-size CACHED plans too: by default caching pins the
      // pre-AQE shuffle layout, so every consumer of a small persisted
      // frame schedules a full fan of near-empty tasks (the round-10 CC
      // finding, generalized to the suite's ~45 persist sites)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // static conf (must ride the builder): the txtable SQL DML/DDL
      // parser — functions/rules are ALSO registered per-session by
      // Tables.ensure, which cannot inject a parser
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JVM-state sweep Bench runs between timed queries (all steps
    * untimed):
    * - clearCache drops per-query persisted frames (e.g. LSH
    *   signatures) so block-manager residue from early queries doesn't
    *   tax late ones — the ngram pair join measured 2.9→15s purely
    *   from suite-accumulated heap pressure, with identical plans;
    * - unpersist(blocking=true) removes localCheckpoint blocks (the
    *   CC/k-means loops' lineage cuts) that live OUTSIDE CacheManager —
    *   blocking so the removal lands here, not in the next query's
    *   timed window (heavy queries showed in-suite times up to 2.6×
    *   their isolated times from that bleed);
    * - System.gc(): broadcast/shuffle state is reaped by
    *   ContextCleaner only AFTER a driver GC collects the references
    *   (measured: q_scd2 0.65 s isolated vs 3.66 s in-suite);
    * - the 150 ms pause lets the ContextCleaner's reference-queue
    *   drain (remove RPCs on its own thread) land on the query that
    *   made the garbage, not the one that follows it. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(150)
  }
}
