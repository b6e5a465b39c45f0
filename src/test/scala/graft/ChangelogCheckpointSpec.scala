package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** RocksDB CHANGELOG CHECKPOINTING under the stateful counter→rate
  * operator (SURVEY §2.17 forward note): by default every micro-batch
  * uploads a full RocksDB snapshot of each partition's state to the
  * checkpoint — at production key counts that upload, not the work,
  * bounds micro-batch latency. With
  * `rocksdb.changelogCheckpointing.enabled` the per-batch durable
  * artifact is the batch's CHANGELOG (the delta), with full snapshots
  * amortized in the background — the Delta/Flink incremental-checkpoint
  * shape. This spec pins that the mode is really engaged (changelog files
  * in the state checkpoint, not just a conf flag), that a
  * killed-and-restarted query RECOVERS state through changelog replay
  * (the recovery path is materially different from snapshot restore),
  * and that the answer stays bit-equal to the oracle-checked batch twin.
  * (`FlapProcessor`'s specs keep the transformWithState API covered.) */
class ChangelogCheckpointSpec extends AnyFunSuite with SparkFixture {

  test("counterToRate restart under changelog checkpointing == batch twin") {
    val base = java.nio.file.Files.createTempDirectory("graft_chlog").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .withColumn("ts_us", unix_micros(col("ts")))
      .persist()
    // global time cut (StreamRestartSpec pattern): the restart boundary
    // splits every user's series mid-stream, so the cross-boundary rate
    // rows exist ONLY if state survived the changelog-replay recovery
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    def half(pred: org.apache.spark.sql.Column) =
      ev.filter(pred).drop("ts_us").coalesce(1).write.mode("append").parquet(src)
    half(col("ts_us") <= cut)

    val provider = "spark.sql.streaming.stateStore.providerClass"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val oldP = spark.conf.getOption(provider)
    val oldC = spark.conf.getOption(changelog)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelog, "true")
    try {
      def run(): Unit = {
        val q = StreamOps.counterToRate(
            spark.readStream.schema(sch).parquet(src))
          .toDF()
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", out)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not finish within 120s")
      }
      run()
      val afterA = spark.read.parquet(out).count()
      assert(afterA > 0, "first run emitted nothing")

      // the mode must be ENGAGED, not just configured: the state
      // checkpoint's durable per-batch artifacts are changelog files
      val stateDir = java.nio.file.Paths.get(ckpt, "state")
      val walk = java.nio.file.Files.walk(stateDir)
      val names =
        try {
          val b = Seq.newBuilder[String]
          walk.forEach(p => b += p.getFileName.toString)
          b.result()
        } finally walk.close()
      assert(names.exists(_.endsWith(".changelog")),
        s"no .changelog files under $stateDir — changelog checkpointing did not engage")

      half(col("ts_us") > cut) // arrives while the query is down
      run() // SAME checkpoint: state must come back via changelog replay

      val streamed = spark.read.parquet(out)
        .select(col("user_id"), col("event_id"), col("delta"), col("dt_us"))
      val batch = SparkEntry.queries("q_win_lag")(spark, sf)
        .filter(col("delta").isNotNull)
        .select(col("user_id"), col("event_id"), col("delta"), col("dt_us"))
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
      assert(sorted(streamed) == sorted(batch))
      assert(afterA < batch.count(), "run 1 unexpectedly saw everything")
    } finally {
      oldP match { case Some(v) => spark.conf.set(provider, v); case None => spark.conf.unset(provider) }
      oldC match { case Some(v) => spark.conf.set(changelog, v); case None => spark.conf.unset(changelog) }
      ev.unpersist(); ()
    }
  }
}
