package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool for looking at named queries one at a time, under the Bench
  * session (`Session.local`, `SPARK_GRAFT_CPUS`, default 4):
  *
  *   sbt "runMain graft.Dev prof    /root/testdata/sf0.1  q_rec_itemcf q_table_cdf"
  *   sbt "runMain graft.Dev explain /root/testdata/sf0.01 q_text_bm25"
  *   sbt "runMain graft.Dev dump    /root/testdata/sf0.01 q_win_rank"
  *
  * - prof: three runs of each query (construction + count, like Bench),
  *   each followed by Bench's sweep. Each run prints wall seconds, job
  *   count, summed job seconds and the driver gap (wall − job time: the
  *   driver-side analysis, planning and commit work between jobs). The
  *   last run also lists every job's time, stages, tasks and call site.
  * - explain: the formatted static plan, one collect, then the final
  *   adaptive plan — they differ exactly by AQE's runtime decisions
  *   (broadcast conversions, partition coalescing).
  * - dump: the full result as TSV, for diffing against DuckDB. */
object Dev {
  private val modes = Set("prof", "explain", "dump")

  def main(args: Array[String]): Unit = {
    if (args.length < 3 || !modes(args(0))) {
      System.err.println("usage: graft.Dev <prof|explain|dump> <sfDir> <query>...")
      sys.exit(2)
    }
    val mode = args(0)
    val sfDir = args(1)
    val names = args.drop(2).toSeq
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Session.local()
    try names.foreach { name =>
      def run(): DataFrame = queries(name)(spark, sfDir)
      mode match {
        case "prof" => prof(spark, name, run())
        case "explain" => explain(name, run())
        case "dump" => dump(name, run())
      }
    } finally spark.stop()
  }

  private def prof(spark: SparkSession, name: String, run: => DataFrame): Unit =
    (1 to 3).foreach { i =>
      val (wall, jobs) = JobMeter.measure(spark) {
        // time construction + count together: iterative queries (CC,
        // SSSP, LPA) run jobs eagerly while the frame is built
        val t0 = System.nanoTime()
        run.count()
        (System.nanoTime() - t0) / 1e9
      }
      Session.sweep(spark)
      val jobTime = jobs.map(_.ms max 0L).sum / 1e3
      println(f"== $name run$i: wall=$wall%.3f s jobs=${jobs.size} jobtime=$jobTime%.3f s driver-gap=${wall - jobTime}%.3f s")
      if (i == 3) jobs.foreach { j =>
        println(f"   job ${j.id}: ${j.ms / 1e3}%.3f s, ${j.stages.size} stages, ${j.tasks.sum} tasks | ${j.site}")
      }
    }

  private def explain(name: String, df: DataFrame): Unit = {
    println(s"=== $name: static plan ===")
    df.explain("formatted")
    val t0 = System.nanoTime()
    // collect() (not count()) so THIS df's QueryExecution runs and AQE
    // finalizes — count() executes a derived pruned plan and would leave
    // executedPlan an unfinalized AdaptiveSparkPlan (isFinalPlan=false)
    val n = df.collect().length
    println(f"=== $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s; final adaptive plan ===")
    println(df.queryExecution.executedPlan)
  }

  private def dump(name: String, df: DataFrame): Unit = {
    println(s"== $name")
    println(df.columns.mkString("\t"))
    df.collect().foreach(r => println(r.toSeq.mkString("\t")))
  }
}
