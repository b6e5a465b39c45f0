package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface — SURVEY.md §2.8's design-only operators.
  *
  * The reference is a Storm stream processor: periodic counter samples →
  * per-key Δ/Δt → windowed aggregation → report sink (SURVEY §1.1). Here
  * that pipeline is Structured Streaming: file source → watermarked
  * event-time windows / sessions / dedup → stateful counter→rate →
  * foreachBatch sink. Each op's *batch twin* in
  * [[graft.queries.StreamingTwins]] / q_win_lag carries the DuckDB oracle;
  * StreamEquivalenceSpec pins stream == batch on the same input.
  *
  * Scale notes: state is keyed by user (hash-partitioned by the engine);
  * watermarks bound state size; at 100 TB/day the same topology runs with
  * a Kafka source and RocksDB state store — nothing here assumes a single
  * partition.
  */
object StreamOps {

  /** Raw→normalized events, shared by every SOURCE implementation: either
    * generator layout of `ts` (ns epoch longs, or native µs timestamps) →
    * µs TimestampType (the batch loader's normalization). The
    * operators below take the normalized DataFrame and never see the
    * source — file replay here, an in-memory queue in MemorySourceSpec
    * (the broker-shaped stand-in in a zero-egress container), a Kafka
    * consumer in production: each deserializes to the raw columns and
    * calls this. */
  def normalizeEvents(raw: DataFrame): DataFrame = Tables.normalizeTs(raw)

  /** events replayed as an unbounded stream. The declared schema reads
    * `ts` with whatever type the parquet actually carries (ns-long layout
    * under nanosAsLong, or native timestamp[us]) — streaming reads
    * require a declared schema, so the type is probed from the batch
    * reader's footer inference once at stream build. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark)
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // glob, not bare dir and not bare file: the sf dir holds every table's
    // parquet (null-padded rows if globbed whole), and FileStreamSource
    // rejects a plain file as basePath
    normalizeEvents(spark.readStream.schema(schema).parquet(s"$dir/events.parque[t]"))
  }

  /** Stream-static enrichment — the dimension-lookup tier of a streaming
    * pipeline: a static (batch) dimension broadcast-joined into every
    * micro-batch. No state store and no stream-side shuffle: Spark
    * re-resolves the static side per batch and, with the dim under the
    * broadcast threshold, plans a map-side hash join — the streaming face
    * of q_join_broadcast. The dim carries one attribute column to prove
    * the lookup (any static table works; callers pass their own). */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("type_rank"))

  /** Tumbling 1-day window with a 10-minute watermark (late samples beyond
    * the watermark are dropped — Storm had no equivalent; reorder buffers
    * were hand-rolled bolt state). */
  def tumbleStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(to_date(col("w.start")).as("day"), col("event_type"), col("n"))

  /** Sliding 1-hour/15-min windows (each event in 4 epoch-aligned
    * windows), watermarked. */
  def slideStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_seconds(col("w.start")).as("ws_s"), col("n"))

  /** Session windows (30-min gap) per user under watermark. */
  def sessionStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n"))

  /** Streaming OHLC candles (batch twin: q_ts_ohlc): tumbling 1-hour
    * windows per event_type with the same map-combinable struct
    * argmin/argmax — candle state is ONE partial row per (type, window),
    * mergeable across micro-batches, so late data inside the watermark
    * folds into the open/close/high/low exactly rather than forcing a
    * window re-sort. */
  def ohlcStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .withColumn("ts_us", unix_micros(col("ts")))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("bucket_us"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"))

  /** Streaming duplicate suppression within the watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  final case class Sample(user_id: Long, event_id: Long, ts_us: Long, value: Double)
  final case class RateState(lastTsUs: Long, lastValue: Double)
  final case class Rate(user_id: Long, event_id: Long, delta: Double, dt_us: Long)

  /** Stateful counter→rate: keeps the previous sample per key and emits
    * (Δvalue, Δt) for each new one — the reference's reason to exist
    * (SURVEY §2.5 q_win_lag is the batch twin). Samples are sorted within
    * each micro-batch so replays are deterministic; across batches the
    * previous sample survives in GroupState. */
  def counterToRate(events: DataFrame): Dataset[Rate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Sample], state: GroupState[RateState]) =>
          val sorted = it.toSeq.sortBy(s => (s.ts_us, s.event_id))
          val out = Seq.newBuilder[Rate]
          var prev = state.getOption
          for (s <- sorted) {
            prev.foreach { p =>
              out += Rate(user, s.event_id, s.value - p.lastValue, s.ts_us - p.lastTsUs)
            }
            prev = Some(RateState(s.ts_us, s.value))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  final case class AlertRow(user_id: Long, event_id: Long, ts_us: Long, state: Int)

  /** Stateful threshold alerting with hysteresis (batch twin:
    * [[graft.queries.Analytics3.q_alert_hysteresis]], which carries the
    * oracle): per user, raise at value ≥ 90, clear at ≤ 30, emit only the
    * state TOGGLES — the alerting loop a network monitor runs online.
    * State per key is ONE int (the last alert state); samples are sorted
    * within each micro-batch so replays are deterministic, and across
    * batches the state survives in GroupState. */
  def alertStream(events: DataFrame): Dataset[AlertRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Sample], state: GroupState[Int]) =>
          val sorted = it.toSeq.sortBy(s => (s.ts_us, s.event_id))
          val out = Seq.newBuilder[AlertRow]
          var cur = state.getOption.getOrElse(0)
          for (s <- sorted) {
            val next = if (s.value >= 90.0) 1 else if (s.value <= 30.0) 0 else cur
            if (next != cur) out += AlertRow(user, s.event_id, s.ts_us, next)
            cur = next
          }
          state.update(cur)
          out.result().iterator
      }
  }

  // ts carries the watermark tag into the stateful operator (EventTimeTimeout
  // requires an event-time column to reach it; a unix_micros LONG sheds the tag)
  final case class FunnelEvent(user_id: Long, day: String, event_type: String,
    ts: java.sql.Timestamp, ts_us: Long, event_id: Long)
  final case class FunnelState(tv: Long, tc: Long, tp: Long)
  final case class FunnelRow(user_id: Long, day: String, tv_us: Long,
    tc_us: Long, tp_us: Long)

  /** Stateful ONLINE funnel: per (user, day), the view → click → purchase
    * stage timestamps maintained incrementally — the streaming face of
    * the batch [[graft.queries.Relational.q_funnel]] (which carries the
    * oracle). Within a micro-batch events are sorted by (ts, event_id) so
    * replays are deterministic; across batches the stage state survives
    * in GroupState, and each batch emits the key's updated state (Update
    * mode). The chained-stage rule matches the batch windows exactly:
    * a stage is set by the FIRST event of its type STRICTLY after the
    * previous stage's time (ascending processing order makes first ==
    * min). -1 encodes "stage not reached".
    *
    * State is BOUNDED: keys live on a (user, day) domain that grows with
    * time, so each key sets an event-time timeout at its day's end plus
    * one watermark delay and is removed when it fires — without this the
    * store grows by |daily active users| per day forever. Exactness
    * contract: equal to the batch windows under per-key ts-ordered
    * arrival (any partitioned log preserving per-key order); if a later
    * micro-batch delivers an event older than an already-set stage, the
    * set-once rule keeps the earlier decision — the bounded divergence
    * every online funnel accepts instead of buffering a day of events
    * until the watermark closes. */
  def funnelStream(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[FunnelEvent]
      .groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            for (e <- it.toSeq.sortBy(e => (e.ts_us, e.event_id))) {
              if (e.event_type == "view" && s.tv < 0)
                s = s.copy(tv = e.ts_us)
              else if (e.event_type == "click" && s.tv >= 0 && e.ts_us > s.tv && s.tc < 0)
                s = s.copy(tc = e.ts_us)
              else if (e.event_type == "purchase" && s.tc >= 0 && e.ts_us > s.tc && s.tp < 0)
                s = s.copy(tp = e.ts_us)
            }
            state.update(s)
            // evict once the watermark passes the day boundary + delay;
            // clamp above the current watermark (a timeout at or below it
            // is rejected by the state API)
            val dayEndMs = java.time.LocalDate.parse(key._2).plusDays(1)
              .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
            state.setTimeoutTimestamp(
              math.max(dayEndMs + 3600000L, state.getCurrentWatermarkMs + 60000L))
            Iterator.single(FunnelRow(key._1, key._2, s.tv, s.tc, s.tp))
          }
      }
  }

  /** Stream-stream self-join: pairs of events of the same user within
    * (0, 30 min] — the streaming twin of the batch band join
    * (graft.queries.Relational.q_join_range, which carries the DuckDB
    * oracle). Both sides are watermarked and the time-range condition
    * upper-bounds how long a row must be retained in join state, so state
    * stays bounded regardless of stream length — the property that makes
    * stream-stream joins viable at all in production. */
  def rangeJoinStream(events: DataFrame): DataFrame = {
    val a = events.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
    val b = events.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("b_id"), col("user_id").as("user_id_b"), col("ts").as("b_ts"))
    a.join(b, col("user_id") === col("user_id_b") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTE"))
      .select(col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** LEFT OUTER stream-stream join: every purchase, matched to the same
    * user's error events in the following 30 minutes — or emitted
    * null-extended once the watermark PROVES no match can arrive. The
    * outer side is what hand-rolled stream processors need timeout state
    * for: a result row for an unmatched purchase exists only because the
    * watermark bounds the wait. Join state is bounded exactly as in
    * [[rangeJoinStream]]; null-extended emission lags event time by
    * range + watermark (30 + 10 min), which the equivalence spec pins as
    * the precise stream==batch horizon. */
  def leftJoinStream(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val e = events.filter(col("event_type") === "error")
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("e_id"), col("user_id").as("user_id_e"), col("ts").as("e_ts"))
    p.join(e, col("user_id") === col("user_id_e") &&
        col("e_ts") > col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTE"),
      "left_outer")
      .select(col("p_id"), unix_micros(col("p_ts")).as("p_ts_us"), col("e_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
  }

  final case class FlapState(last: Boolean, trans: Long, n: Long)
  final case class FlapRow(user_id: Long, n_events: Long, n_trans: Long)

  /** STREAMING FLAP COUNTER — the online face of the batch
    * [[graft.queries.Analytics7.q_alert_flap]] (which carries the
    * oracle): per user, the alert-state transition count maintained
    * incrementally in a named ValueState. Each micro-batch folds its
    * (ts, event_id)-sorted rows into (lastState, transitions, events)
    * and emits the key's updated totals (Update mode) — flap
    * suppression reads the latest row per key. State is ONE tiny record
    * per user regardless of stream length; exactness matches the batch
    * lag-window under per-key ordered arrival, the same contract as
    * counterToRate. */
  class FlapProcessor extends StatefulProcessor[Long, Sample, FlapRow] {
    @transient private var st: ValueState[FlapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FlapState](
        "flap", Encoders.product[FlapState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Sample],
        timerValues: TimerValues): Iterator[FlapRow] = {
      val sorted = rows.toSeq.sortBy(s => (s.ts_us, s.event_id))
      var s = if (st.exists()) st.get() else FlapState(last = false, 0L, 0L)
      for (e <- sorted) {
        val cur = e.value >= 50.0
        val trans = if (s.n > 0 && cur != s.last) s.trans + 1 else s.trans
        s = FlapState(cur, trans, s.n + 1)
      }
      st.update(s)
      Iterator(FlapRow(user, s.n, s.trans))
    }
  }

  /** Stateful flap counting on the transformWithState API (RocksDB
    * provider required, like the other TWS operators). */
  def flapStream(events: DataFrame): Dataset[FlapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .transformWithState(new FlapProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class CusumState(pos: Long, neg: Long, alarms: Long, n: Long)
  final case class CusumRow(user_id: Long, n: Long, pos_cents: Long, neg_cents: Long, alarms: Long)

  /** ONLINE CUSUM CONTROL CHART (Page's test) — the streaming face of
    * change detection. The batch [[graft.queries.Analytics8.q_change_cusum]]
    * is RETROSPECTIVE (argmax of the centered cumulative sum, which needs
    * the series mean and is only computable after the fact); the online
    * face is the classic Page recurrence against a PRE-SET target:
    * S⁺ = max(0, S⁺ + (x − μ₀ − κ)), S⁻ = max(0, S⁻ + (μ₀ − κ − x)),
    * alarm and reset when either side crosses h — O(1) state per host,
    * no look-back, the form a monitoring pipeline actually deploys.
    * All arithmetic in exact cent BIGINTs (μ₀, κ, h are cent
    * parameters; floor(x·100+0.5) is the corpus-wide quantization), so
    * the fold is associative-restart-exact: identical under any
    * micro-batch slicing of the per-key ordered stream, which the
    * equivalence spec pins cross-batch. Emits the key's updated chart
    * state per batch (Update mode — a downstream alerter reads the
    * latest row per key, the flapStream contract). */
  class CusumProcessor(targetCents: Long, slackCents: Long, thresholdCents: Long)
      extends StatefulProcessor[Long, Sample, CusumRow] {
    @transient private var st: ValueState[CusumState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CusumState](
        "cusum", Encoders.product[CusumState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Sample],
        timerValues: TimerValues): Iterator[CusumRow] = {
      val sorted = rows.toSeq.sortBy(s => (s.ts_us, s.event_id))
      var s = if (st.exists()) st.get() else CusumState(0L, 0L, 0L, 0L)
      for (e <- sorted) {
        val c = math.floor(e.value * 100 + 0.5).toLong
        var pos = math.max(0L, s.pos + (c - targetCents - slackCents))
        var neg = math.max(0L, s.neg + (targetCents - slackCents - c))
        var alarms = s.alarms
        if (pos > thresholdCents || neg > thresholdCents) {
          alarms += 1; pos = 0L; neg = 0L // Page restart after an alarm
        }
        s = CusumState(pos, neg, alarms, s.n + 1)
      }
      st.update(s)
      Iterator(CusumRow(user, s.n, s.pos, s.neg, s.alarms))
    }
  }

  /** Per-host online CUSUM chart on transformWithState (RocksDB provider
    * required). Parameters in cents: target μ₀, slack κ, threshold h. */
  def cusumStream(events: DataFrame, targetCents: Long, slackCents: Long,
      thresholdCents: Long): Dataset[CusumRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .transformWithState(new CusumProcessor(targetCents, slackCents, thresholdCents),
        TimeMode.None(), OutputMode.Update())
  }

  final case class RatePeakRow(user_id: Long, n: Long, win_n: Long, peak_1m: Long)
  final case class RatePeakAgg(n: Long, peak: Long)

  /** ONLINE PEAK-RATE TRACKER — the streaming face of the batch
    * [[graft.queries.Analytics8.q_rate_peak]] (which carries the oracle):
    * per host, the trailing 60-second arrival count maintained in a
    * TIME-EVICTED ListState (only timestamps within the window survive a
    * batch — state is bounded by the rate limit itself, not the stream),
    * plus the running peak in a ValueState. The window definition is the
    * batch twin's RANGE frame — count of arrivals in [t−59, t] at each
    * arrival t — so under per-key ordered delivery the running peak is
    * EQUAL to the batch peak over the same prefix, across any micro-batch
    * slicing (the equivalence spec pins a peak window that spans a batch
    * boundary). Emits the key's updated totals per batch (Update mode). */
  class RatePeakProcessor extends StatefulProcessor[Long, Sample, RatePeakRow] {
    @transient private var recent: ListState[Long] = _
    @transient private var agg: ValueState[RatePeakAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[Long]("recent", Encoders.scalaLong, TTLConfig.NONE)
      agg = getHandle.getValueState[RatePeakAgg](
        "agg", Encoders.product[RatePeakAgg], TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Sample],
        timerValues: TimerValues): Iterator[RatePeakRow] = {
      val sorted = rows.toSeq.sortBy(s => (s.ts_us, s.event_id))
      var buf = if (recent.exists()) recent.get().toVector else Vector.empty[Long]
      var s0 = if (agg.exists()) agg.get() else RatePeakAgg(0L, 0L)
      for (s <- sorted) {
        val t = s.ts_us / 1000000L
        buf = (buf :+ t).dropWhile(_ < t - 59)
        val peak = math.max(s0.peak, buf.size.toLong)
        s0 = RatePeakAgg(s0.n + 1, peak)
      }
      recent.put(buf.toArray)
      agg.update(s0)
      Iterator(RatePeakRow(user, s0.n, buf.size.toLong, s0.peak))
    }
  }

  /** Per-host online peak-rate tracking on transformWithState (RocksDB
    * provider required, like the other TWS operators). */
  def ratePeakStream(events: DataFrame): Dataset[RatePeakRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .transformWithState(new RatePeakProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class AcfRow(user_id: Long, m: Long, acf_num: Long, dx: Long, dy: Long)
  final case class AcfAgg(prevY: Long, m: Long, sx: Long, sy: Long,
      sxy: Long, sx2: Long, sy2: Long)

  /** ONLINE LAG-1 AUTOCORRELATION — the streaming face of the batch
    * [[graft.queries.Analytics9.q_ts_autocorr]] (which carries the
    * oracle): per host, the exact-BIGINT Pearson sufficient statistics
    * over consecutive (previous, current) cent pairs, folded one sample
    * at a time. The whole chart state is ONE ValueState record — the
    * previous cent value (the lag buffer is a single element, that is
    * the point of lag 1) plus the six running sums — so state per key is
    * O(1) regardless of stream length, and the emitted integers are
    * bit-identical to the batch twin's lag-window aggregation over the
    * same (ts, event_id)-ordered prefix. The first sample of a host
    * seeds prevY and contributes no pair (exactly the batch twin's
    * IS NOT NULL lag filter); a lag pair whose halves arrive in
    * DIFFERENT micro-batches is assembled through the carried prevY —
    * the equivalence spec pins that boundary case explicitly. */
  class AutocorrProcessor extends StatefulProcessor[Long, Sample, AcfRow] {
    @transient private var agg: ValueState[AcfAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[AcfAgg](
        "acf", Encoders.product[AcfAgg], TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Sample],
        timerValues: TimerValues): Iterator[AcfRow] = {
      val sorted = rows.toSeq.sortBy(s => (s.ts_us, s.event_id))
      var s0 = if (agg.exists()) agg.get() else AcfAgg(Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L)
      for (s <- sorted) {
        val y = math.floor(s.value * 100 + 0.5).toLong
        if (s0.prevY != Long.MinValue) {
          val x = s0.prevY
          s0 = AcfAgg(y, s0.m + 1, s0.sx + x, s0.sy + y,
            s0.sxy + x * y, s0.sx2 + x * x, s0.sy2 + y * y)
        } else s0 = s0.copy(prevY = y)
      }
      agg.update(s0)
      Iterator(AcfRow(user, s0.m,
        s0.m * s0.sxy - s0.sx * s0.sy,
        s0.m * s0.sx2 - s0.sx * s0.sx,
        s0.m * s0.sy2 - s0.sy * s0.sy))
    }
  }

  /** Per-host online lag-1 autocorrelation on transformWithState
    * (RocksDB provider required, like the other TWS operators). */
  def autocorrStream(events: DataFrame): Dataset[AcfRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .transformWithState(new AutocorrProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class TopKRow(event_type: String, version: Long, user_id: Long, cnt: Long)

  /** Streaming heavy hitters per event_type on transformWithState's
    * **MapState** — the keyed-collection state tier (ValueState holds one
    * record; real online analytics hold a map per key: per-user counters,
    * per-device last-seen, …). Each micro-batch folds its rows into the
    * user→count MapState (point get/update — the state store touches only
    * the users present in the batch, never the whole map), then one
    * iterator() pass emits that batch's current top-k tagged with a
    * per-key version from a ValueState counter, so a consumer (and the
    * equivalence spec) keeps the latest emission per key. Ties break on
    * user_id ascending — same rule as the batch twin. State is
    * RocksDB-backed (the only provider the API supports); at scale the
    * per-key map is the bounded per-entity cardinality, not the stream. */
  class HeavyHittersProcessor(k: Int)
      extends StatefulProcessor[String, (String, Long), TopKRow] {
    @transient private var counts: MapState[Long, Long] = _
    @transient private var ver: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[Long, Long](
        "counts", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      ver = getHandle.getValueState[Long]("ver", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(eventType: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[TopKRow] = {
      rows.foreach { case (_, user) =>
        val c = if (counts.containsKey(user)) counts.getValue(user) else 0L
        counts.updateValue(user, c + 1L)
      }
      val v = (if (ver.exists()) ver.get() else 0L) + 1L
      ver.update(v)
      counts.iterator().toSeq
        .sortBy { case (user, c) => (-c, user) }
        .take(k)
        .map { case (user, c) => TopKRow(eventType, v, user, c) }
        .iterator
    }
  }

  /** Heavy hitters per event_type (top-k users by event count), MapState
    * per type. Batch twin: groupBy(type, user).count + rank ≤ k. */
  def heavyHittersStream(events: DataFrame, k: Int): Dataset[TopKRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new HeavyHittersProcessor(k), TimeMode.None(), OutputMode.Append())
  }

  final case class MovAvg(user_id: Long, event_id: Long, avg_bp: Long)

  /** Online trailing moving average per device on transformWithState's
    * **ListState** — the sliding-buffer state tier (last-N readings per
    * key: the smoothing a monitor applies before thresholding a noisy
    * gauge). The buffer holds AT MOST window samples — `put` truncates on
    * every row, so state size is O(keys × window) forever, independent of
    * stream length. Emits per input row, so the batch twin is exactly
    * `avg(value) OVER (... ROWS BETWEEN window-1 PRECEDING AND CURRENT
    * ROW)`; both sides fold the ≤window doubles in (ts, event_id) order
    * and quantize to basis points. */
  class MovingAvgProcessor(window: Int)
      extends StatefulProcessor[Long, Sample, MovAvg] {
    @transient private var buf: ListState[Sample] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Sample](
        "recent", Encoders.product[Sample], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Sample],
        timerValues: TimerValues): Iterator[MovAvg] = {
      val sorted = rows.toSeq.sortBy(s => (s.ts_us, s.event_id))
      val out = Seq.newBuilder[MovAvg]
      var recent = if (buf.exists()) buf.get().toVector else Vector.empty[Sample]
      for (s <- sorted) {
        recent = (recent :+ s).takeRight(window)
        var sum = 0.0
        recent.foreach(r => sum += r.value) // left-to-right, frame order
        out += MovAvg(user, s.event_id, // (sum / n) FIRST — the twin is
          math.floor(10000.0 * (sum / recent.size)).toLong) // 10000·avg

      }
      buf.put(recent.toArray)
      out.result().iterator
    }
  }

  /** Trailing moving average (window samples) per user over the event
    * stream; batch twin q_win_frame-style ROWS window. */
  def movingAvgStream(events: DataFrame, window: Int): Dataset[MovAvg] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .transformWithState(new MovingAvgProcessor(window), TimeMode.None(), OutputMode.Append())
  }

  final case class FlowIn(user_id: Long, day_no: Long, port: Long)
  final case class FanoutCell(user_id: Long, day_no: Long, n_ev: Long, n_ports: Long)

  /** Online DISTINCT-COUNT per (host, day) — the streaming half of
    * [[graft.queries.Analytics11.q_net_fanout]]'s port-scan screen: a
    * MapState per (host, day) key holds the SET of ports already seen
    * (point containsKey/update — the store touches only this batch's
    * ports, never the whole set), a ValueState carries the event count,
    * and each batch emits the key's current (n_ev, n_ports) so the
    * monitor reads today's fan-out while the day is still open — the
    * batch query only says so tomorrow. Distinctness survives micro-
    * batch boundaries by construction (the set is state, not batch-local
    * — the equivalence spec pins a port repeated ACROSS batches counting
    * once). State is O(keys × ≤|port domain|), and the day in the key
    * gives it a natural retention cut. */
  class FanoutProcessor extends StatefulProcessor[(Long, Long), FlowIn, FanoutCell] {
    @transient private var ports: MapState[Long, Boolean] = _
    @transient private var counts: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ports = getHandle.getMapState[Long, Boolean](
        "ports", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      counts = getHandle.getValueState[(Long, Long)](
        "counts", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    }

    override def handleInputRows(key: (Long, Long), rows: Iterator[FlowIn],
        timerValues: TimerValues): Iterator[FanoutCell] = {
      var (nEv, nPorts) = if (counts.exists()) counts.get() else (0L, 0L)
      rows.foreach { r =>
        nEv += 1L
        if (!ports.containsKey(r.port)) {
          ports.updateValue(r.port, true)
          nPorts += 1L
        }
      }
      counts.update((nEv, nPorts))
      Iterator(FanoutCell(key._1, key._2, nEv, nPorts))
    }
  }

  /** Per-(host, day) event and distinct-port counts, updated per batch;
    * batch twin: the day-cell aggregation inside q_net_fanout. */
  def fanoutStream(events: DataFrame): Dataset[FanoutCell] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_no"),
        pmod(col("event_id") * 2654435761L, lit(1024L)).as("port"))
      .as[FlowIn]
      .groupByKey(r => (r.user_id, r.day_no))
      .transformWithState(new FanoutProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class Beat(user_id: Long, ts_us: Long)
  final case class Offline(user_id: Long, last_seen_us: Long, declared_at_ms: Long)

  /** Device-offline detection on **event-time timers** — the alerting
    * primitive a network monitor runs continuously ("this device stopped
    * reporting"), and the one streaming-state API tier the other operators
    * don't touch: each heartbeat re-arms a per-key timer at
    * last_seen + gap (delete + register — listTimers() keeps the state
    * store authoritative, no timer leaks); when the WATERMARK crosses an
    * armed timer with no newer heartbeat, `handleExpiredTimer` emits the
    * offline row with the deterministic expiry instant. Polling ("scan
    * all keys every batch") would touch every device per micro-batch;
    * timers are pushed by the state store and cost only the keys that
    * actually expire. Semantics are event-time-deterministic: a device
    * goes offline iff the final watermark passes its last heartbeat + gap
    * (TimerSpec pins exact rows on constructed multi-batch input). */
  class OfflineDetector(gapUs: Long)
      extends StatefulProcessor[Long, Beat, Offline] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long](
        "lastSeen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Beat],
        timerValues: TimerValues): Iterator[Offline] = {
      val maxTs = rows.map(_.ts_us).max
      val prev = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      if (maxTs > prev) {
        lastSeen.update(maxTs)
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer((maxTs + gapUs) / 1000L)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Offline] =
      Iterator(Offline(user, lastSeen.get(), expired.getExpiryTimeInMs))
  }

  /** Offline alerts over a heartbeat stream: watermarked event time, gap
    * in µs. Columns required: user_id, ts (timestamp). */
  def offlineStream(events: DataFrame, gapUs: Long, watermark: String): Dataset[Offline] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Beat]
      .groupByKey(_.user_id)
      .transformWithState(new OfflineDetector(gapUs), TimeMode.EventTime(), OutputMode.Append())
  }

  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n: Long, sum_bp: Long)

  /** Session STORE with expiry — the timer+state COMPOSITION the four
    * individually-covered primitives (ValueState, MapState, ListState,
    * timers) don't exercise together: a per-user ListState buffers the
    * open session's events, an event-time timer re-arms at
    * last_event + gap, and sessions are emitted ONLY once the watermark
    * proves them closed (a successor event alone is not proof — a
    * late-but-in-watermark event could still merge two apparent
    * sessions; emission on watermark makes the result event-time
    * deterministic, same discipline as session_window).
    *
    * State is bounded two ways: (1) each batch sweeps the buffer and
    * emits-and-drops every session the CURRENT watermark already closes
    * (an always-active key never accumulates its history — only the
    * trailing open session stays buffered); (2) the timer at
    * trailing_end + gap clears the buffer entirely for keys that go
    * quiet — after it fires the state store holds NOTHING for that key,
    * the "expiry" half of a session store (a later event starts a fresh
    * session from empty state). Sessions still open when the stream ends
    * (end + gap beyond the final watermark) are never emitted —
    * exactly the open-session rows a restart would resume.
    *
    * Emission folds the buffered values in (ts_us, event_id) order, so
    * the batch twin (gap-sessionize + fold in the same order, keep
    * sessions closed by the final watermark) matches bit-for-bit
    * (SessionStoreSpec). */
  class SessionStoreProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Sample, SessionOut] {
    @transient private var buf: ListState[Sample] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Sample](
        "session", Encoders.product[Sample], TTLConfig.NONE)

    /** Split the (ts, event_id)-sorted buffer into gap-delimited runs. */
    private def sessionsOf(rows: Seq[Sample]): Seq[Seq[Sample]] = {
      val out = Seq.newBuilder[Seq[Sample]]
      var cur = Vector.empty[Sample]
      for (r <- rows) {
        if (cur.nonEmpty && r.ts_us - cur.last.ts_us > gapUs) {
          out += cur; cur = Vector.empty
        }
        cur = cur :+ r
      }
      if (cur.nonEmpty) out += cur
      out.result()
    }

    private def emit(s: Seq[Sample]): SessionOut = {
      var sum = 0.0
      s.foreach(r => sum += r.value) // (ts, event_id) order — twin folds identically
      SessionOut(s.head.user_id, s.head.ts_us, s.last.ts_us,
        s.size.toLong, math.floor(100.0 * sum).toLong)
    }

    /** Emit every buffered session `wmMs` closes; keep the rest. Re-arms
      * the single per-key timer at trailing_end + gap (delete + register,
      * so no timer leaks), or leaves none when the buffer empties. */
    private def sweep(rows: Seq[Sample], wmMs: Long): Iterator[SessionOut] = {
      val sorted = rows.sortBy(r => (r.ts_us, r.event_id))
      val (closed, open) = sessionsOf(sorted)
        .partition(s => (s.last.ts_us + gapUs) / 1000L <= wmMs)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (open.nonEmpty) {
        buf.put(open.flatten.toArray)
        getHandle.registerTimer((open.last.last.ts_us + gapUs) / 1000L)
      } else buf.clear()
      closed.iterator.map(emit)
    }

    override def handleInputRows(user: Long, rows: Iterator[Sample],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val buffered = if (buf.exists()) buf.get().toVector else Vector.empty[Sample]
      sweep(buffered ++ rows, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      val buffered = if (buf.exists()) buf.get().toVector else Vector.empty[Sample]
      if (buffered.isEmpty) Iterator.empty
      else sweep(buffered, expired.getExpiryTimeInMs)
    }
  }

  /** Gap-sessionization as a session store with expiry over the event
    * stream. Columns required: user_id, event_id, ts, value. */
  def sessionStoreStream(events: DataFrame, gapUs: Long, watermark: String): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      .transformWithState(new SessionStoreProcessor(gapUs), TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TtlProbe(user_id: Long, batch_seq: Long, n_carried: Long)

  /** ListState TTL — the state-store-enforced expiry tier (vs the
    * EXPLICIT timer-driven clear above): the buffer is declared with a
    * processing-time [[TTLConfig]], and entries past their TTL are
    * filtered on read and purged by the store itself, with no processor
    * code running. Each batch reports how many buffered rows SURVIVED
    * from previous batches before appending its own, so a spec can pin
    * both faces deterministically: ttl=1 ms → a later batch (seconds
    * apart in processing time) sees 0 carried rows; ttl=1 h → it sees
    * all of them. At 100 TB this is how per-key state is bounded when
    * there is no event-time signal to expire on (the timer composition
    * needs one; TTL does not). */
  class TtlBufferProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, Sample, TtlProbe] {
    @transient private var buf: ListState[Sample] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Sample](
        "ttlBuf", Encoders.product[Sample], TTLConfig(ttl))
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Sample],
        timerValues: TimerValues): Iterator[TtlProbe] = {
      val carried = if (buf.exists()) buf.get().size.toLong else 0L
      rows.foreach(buf.appendValue)
      val s = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(s)
      Iterator.single(TtlProbe(user, s, carried))
    }
  }

  /** Per-batch carried-row probe for ListState TTL semantics. */
  def ttlProbeStream(events: DataFrame, ttl: java.time.Duration): Dataset[TtlProbe] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Sample]
      .groupByKey(_.user_id)
      // TTL is clocked by processing time, and the API enforces the match
      .transformWithState(new TtlBufferProcessor(ttl), TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Exactly-once streaming sink into the transactional table layer
    * ([[graft.tables.TxTable]]): each micro-batch lands as an idempotent
    * `appendBatch` — data files stage invisibly, the commit records the
    * (queryName → batchId) watermark in the manifest, and a
    * crash-replayed batch (foreachBatch is at-least-once) is recognized
    * and SKIPPED, so the table never holds duplicates. This is the
    * production streaming-ingest shape the append-only report sink below
    * is not: restart the query against the same checkpoint and the
    * table converges to exactly the input. TxStreamSinkSpec pins the
    * replay case by re-delivering a committed batchId directly. */
  def txTableSink(df: DataFrame, table: graft.tables.TxTable,
      queryName: String, checkpoint: String) =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.appendBatch(batch.sparkSession, batch, queryName, batchId)
        ()
      }

  /** Exactly-once STREAMING UPSERT sink: each micro-batch lands through
    * [[graft.tables.TxTable#mergeBatch]] — keyed copy-on-write merge
    * with the batch watermark riding the merge commit, so at-least-once
    * redelivery never double-applies and a key appearing in many batches
    * converges to its LATEST batch's row (the CDC-consumer shape:
    * readStream a change feed, foldLeft it into a serving table). */
  def txTableMergeSink(df: DataFrame, table: graft.tables.TxTable,
      queryName: String, checkpoint: String, key: String) =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.mergeBatch(batch.sparkSession, batch, queryName, batchId, key)
        ()
      }

  /** One micro-batch of the MULTI-TABLE exactly-once sink: each member
    * transform's output lands via the member's idempotent `appendBatch`
    * (per-member (queryName/member → batchId) watermarks, so a replayed
    * batch is recognized per member even if the crash split them), then
    * ONE group commit publishes the member versions atomically — a group
    * reader never sees the batch in one member but not the other. The
    * group publish is itself idempotent: if the current group pins
    * already cover this batch's member versions (the replay-after-
    * publish case), no new group version is minted. Exposed separately
    * so the spec can re-deliver committed batchIds directly. */
  private[graft] def txGroupBatch(group: graft.tables.TxGroup,
      members: Seq[(String, Seq[String], DataFrame => DataFrame)],
      queryName: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      val pins = members.map { case (name, statCols, f) =>
        val t = group.table(name, statCols)
        t.appendBatch(spark, f(batch), s"$queryName/$name", batchId)
        name -> t.currentVersion
      }.toMap
      val cur = group.snapshot()
      if (pins.exists { case (n, v) => !cur.get(n).contains(v) })
        group.commit(pins)
      ()
    } finally { batch.unpersist(); () }
  }

  /** Exactly-once streaming ingest into SEVERAL transactional tables at
    * once ([[graft.tables.TxGroup]]) — the medallion fan-out done
    * atomically: one micro-batch lands raw rows in one member and a
    * derived frame (an aggregate, an index, a projection) in another,
    * and the single group publish makes them visible TOGETHER. Readers
    * who consume through the group can therefore join members without
    * ever observing a half-applied batch — the invariant per-table
    * exactly-once cannot give you (each member alone converges, but
    * between their commits a cross-table read tears). Crash anywhere:
    * member watermarks skip what landed, the group publish is re-issued
    * if missing — at-least-once delivery, exactly-once visibility. */
  def txGroupSink(df: DataFrame, group: graft.tables.TxGroup,
      members: Seq[(String, Seq[String], DataFrame => DataFrame)],
      queryName: String, checkpoint: String) =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(txGroupBatch(group, members, queryName) _)

  /** One micro-batch of the GROUP-ATOMIC STREAMING UPSERT (round-12
    * verdict #8) — [[txGroupBatch]] with each member landing through the
    * keyed copy-on-write [[graft.tables.TxTable.mergeBatch]] instead of
    * a plain append: the fact-plus-index shape, where a batch upserts
    * rows into one member and the derived index entries into another
    * and a group reader must never see the batch applied to one but not
    * the other. Per-member watermarks (`queryName/member` → batchId)
    * make each member's fold exactly-once under at-least-once delivery
    * — a crash BETWEEN the member merges replays into per-member skips
    * for what landed plus real merges for what didn't — and the single
    * put-if-absent group publish is the all-or-nothing visibility
    * point, re-issued idempotently if the crash fell between the last
    * member merge and the publish. */
  private[graft] def txGroupMergeBatch(group: graft.tables.TxGroup,
      members: Seq[(String, String, DataFrame => DataFrame)],
      queryName: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      val pins = members.map { case (name, key, f) =>
        val t = group.table(name, Seq(key))
        t.mergeBatch(spark, f(batch), s"$queryName/$name", batchId, key)
        name -> t.currentVersion
      }.toMap
      val cur = group.snapshot()
      if (pins.exists { case (n, v) => !cur.get(n).contains(v) })
        group.commit(pins)
      ()
    } finally { batch.unpersist(); () }
  }

  /** The writeStream face of [[txGroupMergeBatch]]: exactly-once
    * multi-table streaming UPSERT — `members` maps each group member to
    * its merge key and its per-batch transform of the input frame. */
  def txGroupMergeSink(df: DataFrame, group: graft.tables.TxGroup,
      members: Seq[(String, String, DataFrame => DataFrame)],
      queryName: String, checkpoint: String) =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(txGroupMergeBatch(group, members, queryName) _)

  /** CONTINUOUS AGGREGATE MATERIALIZED VIEW (r14 verdict #7):
    * [[txGroupMergeBatch]] extended with dependent mview maintenance —
    * after the member upserts land, each named mview member (a
    * MATERIALIZED VIEW whose TxTable lives at the group's member path
    * and whose definition reads group members) REFRESHES through the
    * standard command (the GROUP-BY delta fold where licensed — cost ∝
    * this micro-batch's changed files — the always-sound full recompute
    * otherwise), and its new version rides the SAME group commit as the
    * base tables it reads: one atomic cut pins facts AND their
    * aggregate view, so a group reader can never see a view ahead of or
    * behind its base. Crash-safe at every point BY COMPOSITION: member
    * merges are batchId-idempotent, the refresh is source-version-
    * idempotent (a replay no-ops at srcV ≤ watermark), and the group
    * publish is all-or-nothing (TxStreamSinkSpec pins mid-batch-crash
    * replays — member-only and refresh-only — converging to the
    * recompute). */
  private[graft] def txGroupMergeMviewBatch(group: graft.tables.TxGroup,
      members: Seq[(String, String, DataFrame => DataFrame)],
      mviewNames: Seq[String], queryName: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      val pins = members.map { case (name, key, f) =>
        val t = group.table(name, Seq(key))
        t.mergeBatch(spark, f(batch), s"$queryName/$name", batchId, key)
        name -> t.currentVersion
      }.toMap
      val mvPins = mviewNames.map { mv =>
        val mvRoot = java.nio.file.Paths.get(group.root, "tables", mv).toString
        graft.sql.TxRefreshMviewCommand(mvRoot).run(spark)
        mv -> graft.tables.TxTable.open(mvRoot).currentVersion
      }.toMap
      val all = pins ++ mvPins
      val cur = group.snapshot()
      if (all.exists { case (n, v) => !cur.get(n).contains(v) })
        group.commit(all)
      ()
    } finally { batch.unpersist(); () }
  }

  /** The writeStream face of [[txGroupMergeMviewBatch]] — the
    * continuous-materialized-view sink: exactly-once multi-table
    * streaming upsert with dependent aggregate views maintained in the
    * same group cut. */
  def txGroupMergeMviewSink(df: DataFrame, group: graft.tables.TxGroup,
      members: Seq[(String, String, DataFrame => DataFrame)],
      mviewNames: Seq[String], queryName: String, checkpoint: String) =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(txGroupMergeMviewBatch(group, members, mviewNames, queryName) _)

  /** CONTINUOUS CDC-apply replication — the streaming face of
    * [[graft.tables.TxTable.applyChangesFrom]]: `cdf` is the source
    * table read as a row-level change stream
    * (`TxTableSource` with `readChangeFeed=true`, each micro-batch the
    * tagged diff of whole source versions), and every micro-batch folds
    * into the replica via [[graft.tables.TxTable.applyChangeRows]] —
    * foreachBatch is at-least-once, the fold is exactly-once, so
    * restart the query against the same checkpoint and the replica
    * converges to the source, merges and deletes included.
    *
    * The watermark lives in the SOURCE-VERSION domain, not the batchId
    * domain: each batch is trimmed to `_commit_version >` the replica's
    * stored `queryName` watermark and folded under the trimmed slice's
    * max `_commit_version`. This is what makes the sink compose with
    * everything else that tracks source versions under the same appId —
    * [[graft.tables.TxTable.bootstrapFrom]] (bootstrap through B, then
    * stream the tail under the SAME appId), a batch `applyChangesFrom`
    * interleaved with the stream, and a REPLACED checkpoint (batchIds
    * restart at 0 and AvailableNow telescopes the backlog into one
    * batch; the version trim folds exactly the source versions the
    * replica has not seen — batchId watermarking would silently refuse
    * the whole batch and diverge). A batch that trims to nothing (all
    * versions already applied, or a compaction whose diff cancels to
    * zero rows) is skipped without minting a replica commit: any later
    * batch carries strictly higher versions, so the refusal needs no
    * watermark advance. Two watermarks still compose: the CHECKPOINT
    * resumes the source read at the committed version, and the
    * replica's manifest watermark refuses the replayed slice in the
    * crash window between sink commit and checkpoint commit. At 100 TB
    * each micro-batch costs the source's changed files + the replica's
    * overlapping files, so replication lag tracks CHANGE rate, never
    * table size. */
  def txReplicaSink(cdf: DataFrame, replica: graft.tables.TxTable,
      key: String, queryName: String, checkpoint: String) =
    cdf.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val applied = replica.snapshot().txns.getOrElse(queryName, 0L)
        val fresh = batch.filter(col("_commit_version") > applied)
        // one tiny agg job decides both "anything new?" and the watermark
        val maxV = fresh.agg(max(col("_commit_version"))).head()
        if (!maxV.isNullAt(0)) {
          replica.applyChangeRows(batch.sparkSession, fresh, queryName,
            maxV.getLong(0), key)
        }
        ()
      }

  /** Report sink: per-batch parquet append — the streaming analogue of the
    * reference's report-writer bolt. exactly-once via batchId-named dirs
    * would be the production shape; append suffices for the demo sink. */
  def writeReport(df: DataFrame, outDir: String, checkpoint: String) =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(s"$outDir/batch_$batchId")
      }
}
