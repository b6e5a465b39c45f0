package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Batch↔streaming equivalence (SURVEY §5.2(4)): the streaming operators
  * replayed over the same events file must equal their oracle-checked batch
  * twins — this covers the streaming surface the DuckDB gate can't see. */
class StreamEquivalenceSpec extends AnyFunSuite with SparkFixture {

  private var n = 0
  private def runToMemory(df: DataFrame, mode: String): DataFrame = {
    n += 1
    val name = s"memsink_$n"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), s"stream $name did not finish within 120s")
    spark.table(name)
  }

  private def sorted(df: DataFrame) =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("stateful counter->rate == batch q_win_lag") {
    val streamed = runToMemory(
      StreamOps.counterToRate(StreamOps.eventsStream(spark, sf)).toDF(), "append")
      .select("user_id", "event_id", "delta", "dt_us")
    val batch = SparkEntry.queries("q_win_lag")(spark, sf)
      .filter(col("delta").isNotNull)
      .select("user_id", "event_id", "delta", "dt_us")
    assert(sorted(streamed) == sorted(batch))
    assert(streamed.count() > 0)
  }

  test("ValueState flap counter == batch transition counts; state survives batches") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (a) full-corpus equivalence: the stream's final per-user totals
      // equal the batch lag-window computation (q_alert_flap pre-top-10)
      val streamed = runToMemory(
        StreamOps.flapStream(StreamOps.eventsStream(spark, sf)).toDF(), "update")
        .as[(Long, Long, Long)].collect()
      // update mode re-emits a key's totals each batch; keep the max-n row
      val finalPerUser = streamed.groupBy(_._1).map { case (u, rs) =>
        val last = rs.maxBy(_._2); (u, last._2, last._3)
      }.toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = Tables.events(spark, sf)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value") >= lit(50.0)).as("state"))
        .withColumn("prev", lag(col("state"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("prev").isNotNull && col("prev") =!= col("state"), 1L)
            .otherwise(0L)).as("t"))
        .as[(Long, Long, Long)].collect().toSet
      assert(finalPerUser == batch)
      assert(finalPerUser.nonEmpty)

      // (b) cross-batch state: two time-ordered files, one per micro-batch;
      // the F->T transition at the file boundary must be counted
      val src = java.nio.file.Files.createTempDirectory("graft_flap2").toString
      def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
      Seq((1L, 1L, ts(1), 60.0), (1L, 2L, ts(2), 40.0), (2L, 3L, ts(3), 10.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1200) // distinct mod-times order the two micro-batches
      Seq((1L, 4L, ts(4), 70.0), (2L, 5L, ts(5), 20.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val rows = runToMemory(StreamOps.flapStream(stream).toDF(), "update")
        .as[(Long, Long, Long)].collect()
      val fin = rows.groupBy(_._1).map { case (u, rs) =>
        val last = rs.maxBy(_._2); (u, last._2, last._3)
      }.toSet
      // user 1: T,F then T -> 2 transitions (one ACROSS the batch boundary);
      // user 2: F,F,F -> 0
      assert(fin == Set((1L, 3L, 2L), (2L, 2L, 0L)),
        s"cross-batch transitions wrong: $fin (all emissions: ${rows.toSeq})")
    } finally {
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("MapState heavy hitters across micro-batches == batch top-k per type") {
    import spark.implicits._
    // 4 source files + maxFilesPerTrigger=1 force 4 micro-batches, so the
    // per-user MapState genuinely accumulates ACROSS batches
    val src = java.nio.file.Files.createTempDirectory("graft_hh").toString
    Tables.events(spark, sf).select(col("event_type"), col("user_id"))
      .repartition(4).write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema("event_type STRING, user_id BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted = runToMemory(StreamOps.heavyHittersStream(stream, 3).toDF(), "append")
        .as[(String, Long, Long, Long)].collect()
      // versions prove multiple batches actually ran
      assert(emitted.map(_._2).max >= 2, "stream collapsed to one micro-batch")
      // keep the LAST emission per type: that is the final top-k
      val last = emitted.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val v = rs.map(_._2).max
        rs.filter(_._2 == v).toSeq
      }.map(r => (r._1, r._3, r._4)).toSet
      val batch = Tables.events(spark, sf)
        .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
            .orderBy(col("cnt").desc, col("user_id"))))
        .filter(col("rk") <= 3).drop("rk")
        .as[(String, Long, Long)].collect().toSet
      assert(last == batch, s"stream top-k != batch top-k\nstream: $last\nbatch: $batch")
    } finally {
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("ListState moving average across micro-batches == batch ROWS-window twin") {
    import spark.implicits._
    // three TIME-SLICED files in mtime order: order matters for a sliding
    // buffer, so each later batch must hold only later timestamps — the
    // buffer then provably carries the last 5 samples ACROSS batches
    val src = java.nio.file.Files.createTempDirectory("graft_mavg").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("ts_us", unix_micros(col("ts"))).persist()
    val Array(c1, c2) = ev.stat.approxQuantile("ts_us", Array(1.0 / 3, 2.0 / 3), 0.0)
    Seq(col("ts_us") <= c1, col("ts_us") > c1 && col("ts_us") <= c2, col("ts_us") > c2)
      .zipWithIndex.foreach { case (pred, i) =>
        val stage = java.nio.file.Files.createTempDirectory(s"graft_mavg_s$i").toString
        ev.filter(pred).drop("ts_us").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val p = part.next()
          if (p.toString.endsWith(".parquet")) {
            java.nio.file.Files.move(p, java.nio.file.Paths.get(src, f"b$i%02d.parquet"))
            moved = true
          }
        }
        assert(moved)
      }
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = runToMemory(StreamOps.movingAvgStream(stream, 5).toDF(), "append")
        .as[(Long, Long, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-4, 0)
      val batch = ev
        .withColumn("avg_bp", floor(lit(10000.0) * avg(col("value")).over(w)).cast("long"))
        .select(col("user_id"), col("event_id"), col("avg_bp"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally {
      ev.unpersist()
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("stateful streaming funnel == batch q_funnel counts") {
    val streamed = runToMemory(
      StreamOps.funnelStream(StreamOps.eventsStream(spark, sf)).toDF(), "update")
    // last emitted state per key (stage times only ever get SET, so max
    // is the final state even if the replay split into several batches)
    val fin = streamed.groupBy(col("user_id"), col("day"))
      .agg(max(col("tv_us")).as("tv"), max(col("tc_us")).as("tc"),
        max(col("tp_us")).as("tp"))
    val counts = fin.groupBy(to_date(col("day")).as("day"))
      .agg(count(when(col("tv") >= 0, 1)).as("n_view"),
        count(when(col("tc") >= 0, 1)).as("n_click"),
        count(when(col("tp") >= 0, 1)).as("n_purchase"))
    val batch = SparkEntry.queries("q_funnel")(spark, sf)
    assert(sorted(counts) == sorted(batch))
    assert(counts.count() > 0)
  }

  test("stream-static broadcast enrichment == batch join, no state store") {
    import org.apache.spark.sql.expressions.Window
    val dim = Tables.events(spark, sf).select(col("event_type")).distinct()
      .withColumn("type_rank",
        row_number().over(Window.orderBy(col("event_type"))).cast("long"))
    val streamed = runToMemory(
      StreamOps.enrichStream(StreamOps.eventsStream(spark, sf), dim), "append")
    val batch = Tables.events(spark, sf)
      .join(broadcast(dim), Seq("event_type"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("type_rank"))
    assert(sorted(streamed) == sorted(batch))
    assert(streamed.count() > 0)
  }

  test("streaming tumbling window == batch tumble counts") {
    val streamed = runToMemory(
      StreamOps.eventsStream(spark, sf)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(to_date(col("w.start")).as("day"), col("event_type"), col("n")),
      "complete")
    val batch = SparkEntry.queries("q_stream_tumble")(spark, sf)
      .select("day", "event_type", "n")
    assert(sorted(streamed) == sorted(batch))
  }

  test("streaming OHLC candles == batch q_ts_ohlc") {
    val streamed = runToMemory(
      StreamOps.ohlcStream(StreamOps.eventsStream(spark, sf)), "complete")
      .select("bucket_us", "event_type", "open", "high", "low", "close", "n")
    val batch = SparkEntry.queries("q_ts_ohlc")(spark, sf)
      .select("bucket_us", "event_type", "open", "high", "low", "close", "n")
    assert(sorted(streamed) == sorted(batch))
  }

  test("stateful alert hysteresis == batch q_alert_hysteresis") {
    val streamed = runToMemory(
      StreamOps.alertStream(StreamOps.eventsStream(spark, sf)).toDF(), "append")
      .select("user_id", "event_id", "ts_us", "state")
    val batch = SparkEntry.queries("q_alert_hysteresis")(spark, sf)
    assert(sorted(streamed) == sorted(batch))
    // toggles alternate per user starting with a raise
    val byUser = batch.collect().groupBy(_.getLong(0))
    byUser.values.foreach { rows =>
      rows.map(_.getInt(3)).zipWithIndex.foreach { case (s, i) =>
        assert(s == (if (i % 2 == 0) 1 else 0), s"toggle sequence broken: ${rows.toSeq}")
      }
    }
  }

  test("streaming session windows == batch q_stream_session") {
    val streamed = runToMemory(StreamOps.sessionStream(StreamOps.eventsStream(spark, sf)), "complete")
    val batch = SparkEntry.queries("q_stream_session")(spark, sf)
    assert(sorted(streamed.select("user_id", "start_us", "end_us", "n")) ==
      sorted(batch.select("user_id", "start_us", "end_us", "n")))
  }

  test("streaming sliding windows == batch q_stream_slide") {
    val streamed = runToMemory(
      StreamOps.eventsStream(spark, sf)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_seconds(col("w.start")).as("ws_s"), col("n")),
      "complete")
    val batch = SparkEntry.queries("q_stream_slide")(spark, sf)
    assert(sorted(streamed) == sorted(batch.select("ws_s", "n")))
  }

  test("stream-stream range self-join == batch q_join_range") {
    val streamed = runToMemory(
      StreamOps.rangeJoinStream(StreamOps.eventsStream(spark, sf)), "append")
      .select("a_id", "b_id", "gap_us")
    val batch = SparkEntry.queries("q_join_range")(spark, sf)
      .select("a_id", "b_id", "gap_us")
    assert(sorted(streamed) == sorted(batch))
    assert(streamed.count() > 0)
  }

  test("left-outer stream-stream join == batch, null rows within the watermark horizon") {
    val streamed = runToMemory(
      StreamOps.leftJoinStream(StreamOps.eventsStream(spark, sf)), "append")
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("user_id_e"), col("ts").as("e_ts"))
    val batch = p.join(e, col("user_id") === col("user_id_e") &&
        col("e_ts") > col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTE"),
      "left_outer")
      .select(col("p_id"), unix_micros(col("p_ts")).as("p_ts_us"), col("e_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
    // matched pairs: exact equality, no horizon caveat
    assert(sorted(streamed.filter(col("e_id").isNotNull)) ==
      sorted(batch.filter(col("e_id").isNotNull)))
    // null-extended rows are emitted once the watermark passes p_ts +
    // range. The global watermark is the MIN across both input streams
    // (each side advances on its own filtered rows), so in a finite replay
    // emission is guaranteed only for p_ts < min(max_p_ts, max_e_ts) -
    // (30 min range + 10 min watermark) — the documented outer-join horizon
    val maxP = p.agg(max(unix_micros(col("p_ts")))).head.getLong(0)
    val maxE = e.agg(max(unix_micros(col("e_ts")))).head.getLong(0)
    val cutoff = math.min(maxP, maxE) - (30L + 10L) * 60L * 1000000L
    assert(sorted(streamed.filter(col("e_id").isNull && col("p_ts_us") < cutoff)) ==
      sorted(batch.filter(col("e_id").isNull && col("p_ts_us") < cutoff)))
    assert(streamed.filter(col("e_id").isNull).count() > 0, "no null-extended rows emitted")
  }

  test("foreachBatch report sink writes per-batch parquet == batch result") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    val q = StreamOps.writeReport(
      StreamOps.eventsStream(spark, sf)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      s"$out/data", s"$out/ckpt")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "sink stream did not finish")
    val written = spark.read.parquet(s"$out/data/batch_*")
    val batch = Tables.events(spark, sf).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(sorted(written) == sorted(batch))
  }

  test("streaming dedup keeps exactly one row per key") {
    val streamed = runToMemory(StreamOps.dedupStream(StreamOps.eventsStream(spark, sf)), "append")
    val keys = Tables.events(spark, sf).select("user_id", "event_type").distinct().count()
    assert(streamed.count() == keys)
  }

  test("watermarked tumble stream starts and processes (production shape)") {
    val streamed = runToMemory(StreamOps.tumbleStream(StreamOps.eventsStream(spark, sf)), "update")
    assert(streamed.columns.toSeq == Seq("day", "event_type", "n"))
    assert(streamed.count() > 0)
  }

  test("online peak-rate tracker == driver-side range-window fold; peak spans batches") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (a) whole-corpus replay: final (n, peak) per host must equal the
      // batch RANGE-frame definition — count in [t−59, t] at each arrival
      val streamed = runToMemory(
        StreamOps.ratePeakStream(StreamOps.eventsStream(spark, sf)).toDF(), "update")
        .as[(Long, Long, Long, Long)].collect()
      val fin = streamed.groupBy(_._1).map { case (u, rs) =>
        val last = rs.maxBy(_._2); (u, last._2, last._4)
      }.toSet
      val want = Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (u, rows) =>
          val ts = rows.sortBy(r => (r._2, r._3)).map(_._2 / 1000000L)
          val peak = ts.map(t => ts.count(s => s >= t - 59 && s <= t)).max.toLong
          (u, ts.size.toLong, peak)
        }.toSet
      assert(fin == want)
      assert(fin.nonEmpty && want.exists(_._3 > 1), "vacuous: no window ever held 2+ samples")

      // (b) the peak window must assemble ACROSS a micro-batch boundary:
      // batch 1 peaks at 3; the 4th sample lands 30 s after the first
      // three, inside their window, so peak=4 exists only if the
      // timestamp buffer carried over
      val src = java.nio.file.Files.createTempDirectory("graft_ratepeak2").toString
      def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
      Seq((1L, 1L, ts(0), 1.0), (1L, 2L, ts(10), 1.0), (1L, 3L, ts(20), 1.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1200)
      Seq((1L, 4L, ts(30), 1.0), (1L, 5L, ts(100), 1.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val rows = runToMemory(StreamOps.ratePeakStream(stream).toDF(), "update")
        .as[(Long, Long, Long, Long)].collect()
      val last = rows.maxBy(_._2)
      // t=30 sees {0,10,20,30} -> win 4 (cross-batch); t=100 evicts all -> win 1
      assert(last == ((1L, 5L, 1L, 4L)),
        s"cross-batch peak wrong: $last (all: ${rows.toSeq})")
    } finally {
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("online CUSUM chart == driver-side Page recurrence; alarm crosses batches") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (a) whole-corpus replay: final chart state per host must equal the
      // exact-integer Page fold over the same (ts, event_id)-ordered series
      val (mu0, kap, h) = (5000L, 500L, 25000L)
      val streamed = runToMemory(
        StreamOps.cusumStream(StreamOps.eventsStream(spark, sf), mu0, kap, h).toDF(), "update")
        .as[(Long, Long, Long, Long, Long)].collect()
      val fin = streamed.groupBy(_._1).map { case (u, rs) =>
        val last = rs.maxBy(_._2); (u, last._2, last._3, last._4, last._5)
      }.toSet
      val want = Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (u, rows) =>
          var (pos, neg, alarms, n) = (0L, 0L, 0L, 0L)
          for ((_, _, _, c) <- rows.sortBy(r => (r._2, r._3))) {
            pos = math.max(0L, pos + (c - mu0 - kap))
            neg = math.max(0L, neg + (mu0 - kap - c))
            if (pos > h || neg > h) { alarms += 1; pos = 0L; neg = 0L }
            n += 1
          }
          (u, n, pos, neg, alarms)
        }.toSet
      assert(fin == want)
      assert(fin.nonEmpty && want.exists(_._5 > 0), // corpus must actually alarm
        s"vacuous: no alarms fired under (mu0=$mu0, k=$kap, h=$h)")

      // (b) the alarm must fire from drift ACCUMULATED across a micro-batch
      // boundary: +100 cents/sample against h=350 — batch 1 (3 samples)
      // ends at S+=300, below threshold; the crossing happens on batch 2's
      // first sample only if S+ carried over
      val src = java.nio.file.Files.createTempDirectory("graft_cusum2").toString
      def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
      Seq((1L, 1L, ts(1), 11.0), (1L, 2L, ts(2), 11.0), (1L, 3L, ts(3), 11.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1200) // distinct mod-times order the two micro-batches
      Seq((1L, 4L, ts(4), 11.0), (1L, 5L, ts(5), 11.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src)
      // x=1100 cents, mu0=1000, k=0 -> +100/sample; h=350: crosses at n=4
      val rows = runToMemory(StreamOps.cusumStream(stream, 1000L, 0L, 350L).toDF(), "update")
        .as[(Long, Long, Long, Long, Long)].collect()
      val last = rows.maxBy(_._2)
      // n=5: S+ went 100,200,300 | 400->alarm+reset, then 100; one alarm
      assert(last == ((1L, 5L, 100L, 0L, 1L)),
        s"cross-batch CUSUM wrong: $last (all: ${rows.toSeq})")
    } finally {
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("online lag-1 autocorrelation == batch twin's exact integers; pair spans batches") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (a) whole-corpus replay: final (m, acf_num, dx, dy) per host must
      // equal the batch query's exact integers (the oracle-carrying twin)
      val streamed = runToMemory(
        StreamOps.autocorrStream(StreamOps.eventsStream(spark, sf)).toDF(), "update")
        .as[(Long, Long, Long, Long, Long)].collect()
      val fin = streamed.groupBy(_._1).map { case (u, rs) =>
        val last = rs.maxBy(_._2); (u, last._2, last._3, last._4, last._5)
      }.filter(r => r._4 > 0 && r._5 > 0).toSet // the batch twin's dx,dy>0 guard
      val want = graft.queries.Analytics9.q_ts_autocorr(spark, sf)
        .select(col("user_id"), col("m"), col("acf_num"), col("dx"), col("dy"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(fin == want)
      assert(fin.nonEmpty && want.exists(_._3 < 0) && want.exists(_._3 > 0),
        "vacuous: the corpus shows only one sign of value memory")

      // (b) a lag pair must assemble ACROSS a micro-batch boundary: the
      // pair (y2=300, y3=100) has its halves in different batches, so
      // sxy picks up 300·100 only if prevY carried over
      val src = java.nio.file.Files.createTempDirectory("graft_acf2").toString
      def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
      Seq((1L, 1L, ts(1), 2.0), (1L, 2L, ts(2), 3.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1200) // distinct mod-times order the two micro-batches
      Seq((1L, 3L, ts(3), 1.0), (1L, 4L, ts(4), 4.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val rows = runToMemory(StreamOps.autocorrStream(stream).toDF(), "update")
        .as[(Long, Long, Long, Long, Long)].collect()
      val last = rows.maxBy(_._2)
      // cents 200,300,100,400: pairs (200,300),(300,100),(100,400) —
      // m=3, sx=600, sy=800, sxy=130000, sx2=140000, sy2=260000;
      // acf_num = 3·130000 − 600·800 = −90000. Dropping the cross-batch
      // pair (300,100) would give m=2, acf_num=−10000 — so the assert
      // fails unless prevY carried across the boundary
      assert(last == ((1L, 3L, -90000L, 60000L, 140000L)),
        s"cross-batch lag pair wrong: $last (all: ${rows.toSeq})")
    } finally {
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("online fan-out distinct == batch q_net_fanout cells; port dedups across batches") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (a) whole-corpus replay: the FINAL (n_ev, n_ports) per (host,
      // day) must equal the batch screen's day cells (n_ev is monotone
      // per key, so "final" = max)
      val streamed = runToMemory(
        StreamOps.fanoutStream(StreamOps.eventsStream(spark, sf)).toDF(), "update")
        .as[(Long, Long, Long, Long)].collect()
      val fin = streamed.groupBy(r => (r._1, r._2)).map { case (_, rs) =>
        rs.maxBy(_._3)
      }.toSet
      val want = graft.queries.Analytics11.q_net_fanout(spark, sf)
        .select(col("user_id"), col("day_no"), col("n_ev"), col("n_ports"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(fin == want)
      // at sf0.001 the 1024-port domain over ~2 events/cell shows no
      // in-day repeat — multi-event cells prove the count accumulates,
      // and fixture (b) below pins the dedup semantics explicitly
      assert(fin.nonEmpty && fin.exists(_._3 >= 2) && fin.forall(r => r._4 <= r._3))

      // (b) a port repeated ACROSS micro-batches counts once: event_ids
      // 1024 and 2048 both map to port 0 ((id·2654435761) % 1024 = 0)
      // and arrive in different batches — n_ev reaches 3, n_ports stays 2
      val src = java.nio.file.Files.createTempDirectory("graft_fan2").toString
      def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
      Seq((1L, 1024L, ts(1), 0.0), (1L, 7L, ts(2), 0.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1200) // distinct mod-times order the two micro-batches
      Seq((1L, 2048L, ts(3), 0.0))
        .toDF("user_id", "event_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val rows = runToMemory(StreamOps.fanoutStream(stream).toDF(), "update")
        .as[(Long, Long, Long, Long)].collect()
      val last = rows.maxBy(_._3)
      assert(last._3 == 3L && last._4 == 2L,
        s"cross-batch port dedup wrong: $last (all: ${rows.toSeq})")
    } finally {
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }
}
