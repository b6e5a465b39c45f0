package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.tables.TxTable

/** What a workload sees of the run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, inputs: String)

/** One closed-loop workload: a single client issuing identical composite
  * ops, one after another. */
trait Workload {
  /** Fresh engine state under `dir`. */
  def build(dir: String): Unit
  /** Untimed ops before the window: a fixed count, so every run times the
    * same ops of the JIT's warm-up curve. */
  def warmOps: Int
  /** False once the generated inputs are used up. */
  def hasOp: Boolean
  /** One op on the next inputs: items completed and whether its output
    * checks passed. */
  def op(): (Long, Boolean)
  /** Tables whose commits the traced run counts. */
  def tables: Seq[TxTable] = Nil
  /** Extra counters of the last op from the engine's own surfaces (traced
    * ops). */
  def opLayer(): Map[String, Double] = Map.empty
  /** Whole-run counters for the traced run. */
  def runLayer(): Map[String, Double] = Map.empty
  /** Final state for the correctness check the runner makes. */
  def result(): Map[String, Any]
}

/** Runs one workload for a fixed wall-clock window and writes the raw
  * measurements as JSON. Usage: Main <config.json> <out.json>. */
object Main {
  private val json = Json.mapper

  def main(args: Array[String]): Unit = {
    val cfg = Json.read(args(0))
    def num(k: String): Long = cfg(k).toString.toLong
    val work = cfg("work").toString
    val slots = num("slots").toInt
    val seconds = num("seconds")
    val trace = cfg("trace") == true
    val reps = num("reps").toInt

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.default.parallelism", slots.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.ensure(spark)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val tracer = new Tracer
    val ctx = Ctx(spark, tracer, cfg("inputs").toString)
    val w: Workload = cfg("workload") match {
      case "netmon" => new Netmon(ctx)
      case "lake" => new Lake(ctx)
    }

    // build the state `reps` times from scratch; the last one is timed
    val buildS = (0 until reps).map { r =>
      val dir = s"$work/state$r"
      val t = System.nanoTime()
      w.build(dir)
      val s = (System.nanoTime() - t) / 1e9
      if (r < reps - 1) Host.rmTree(dir)
      s
    }
    // untimed warm-up ops
    val warm0 = System.nanoTime()
    val warmMs = mutable.ArrayBuffer.empty[Double]
    var warmFailed = 0
    while (warmMs.size < w.warmOps && w.hasOp) {
      val s = System.nanoTime()
      // a failed warm-up op is reported with the run's result, not thrown
      val ok =
        try w.op()._2
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] warm-up op ${warmMs.size} failed: $e")
            e.printStackTrace()
            false
        }
      warmMs += (System.nanoTime() - s) / 1e6
      if (!ok) warmFailed += 1
    }
    val warmS = (System.nanoTime() - warm0) / 1e9

    val setupWallS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val calib0 = Host.calibMs()
    val meter = if (trace) Some(new Meter(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerOps = mutable.ArrayBuffer.empty[Map[String, Double]]
    var errors = 0
    val stat0 = Host.procStat()
    val cpu0 = Host.cpuNs()
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    var i = 0
    // a traced run traces odd ops and times at least bare, traced, bare,
    // so warm-up drift cancels out of the overhead estimate
    while ((System.nanoTime() < end || (trace && i < 3)) && w.hasOp) {
      val traced = trace && i % 2 == 1
      val versions0 = w.tables.map(_.currentVersion)
      if (traced) { meter.get.attach(); tracer.on = true; tracer.op = i }
      val wall0 = System.currentTimeMillis()
      val s = System.nanoTime()
      val (items, ok) =
        try tracer.span("bench", "op")(w.op())
        catch {
          case e: Exception =>
            errors += 1
            System.err.println(s"[perfbench] op $i failed: $e")
            e.printStackTrace()
            (0L, false)
        }
      val e = System.nanoTime()
      if (traced) {
        tracer.on = false
        val m = meter.get
        m.detach()
        layerOps += opLayer(m, tracer, w, i, s, e, wall0, slots, versions0)
      }
      ops += Map("s" -> (s - t0) / 1e6, "e" -> (e - t0) / 1e6,
        "items" -> items, "ok" -> ok, "traced" -> traced)
      i += 1
    }
    // the window ran short of generated inputs: its figures are not comparable
    val exhausted = System.nanoTime() < end
    val windowMs = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Host.cpuNs() - cpu0) / 1e6
    val steal = Host.stealFrac(stat0, Host.procStat())
    val calib1 = Host.calibMs()

    val result = w.result()
    val runLayer = if (trace) w.runLayer() else Map.empty[String, Double]
    // collect, let Spark's cleaner drop the blocks that were only weakly
    // held, collect again
    System.gc(); Thread.sleep(500); System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val keys = layerOps.flatMap(_.keys).distinct
        val med = keys.map(k => k -> Meter.median(layerOps.map(_.getOrElse(k, 0.0)))).toMap
        val opMs = ops.map(o => (o("traced"), o("e").asInstanceOf[Double] - o("s").asInstanceOf[Double]))
        val tracedMs = Meter.median(opMs.filter(_._1 == true).map(_._2))
        val plainMs = Meter.median(opMs.filter(_._1 == false).map(_._2))
        med ++ runLayer ++ Map(
          "trace.overhead_frac" -> (if (plainMs > 0) tracedMs / plainMs - 1 else 0.0))
      }
    if (trace) writeSpans(cfg("spans").toString, tracer)
    val out = Map(
      "session_s" -> sessionS, "build_s" -> buildS, "warm_s" -> warmS,
      "setup_wall_s" -> setupWallS, "warm_ms" -> warmMs, "warm_failed" -> warmFailed, "ops" -> ops, "exhausted" -> exhausted,
      "errors" -> errors, "window_ms" -> windowMs,
      "cpu_ms" -> cpuMs, "heap_mb" -> heapMb, "steal_frac" -> steal,
      "calib_ms" -> Meter.median(calib0 ++ calib1), "slots" -> slots,
      "result" -> result, "layer" -> layer)
    Files.write(Paths.get(args(1)), json.writeValueAsBytes(out))
    spark.stop()
  }

  /** The traced op's per-layer record. */
  private def opLayer(m: Meter, tracer: Tracer, w: Workload, i: Int,
      s: Long, e: Long, wall0: Long, slots: Int,
      versions0: Seq[Int]): Map[String, Double] = {
    val opMs = (e - s) / 1e6
    // job times are wall-clock ms; place them on the op's nanoTime axis
    def ns(ms: Long): Long = s + (ms - wall0) * 1000000L
    m.jobs.foreach { case (id, js, je) => tracer.adopt("spark", s"job $id", ns(js), ns(je)) }
    val jobMs = Meter.union(m.jobs.map { case (_, js, je) =>
      (math.max(ns(js), s), math.min(ns(je), e)) }.toSeq) / 1e6
    val st = m.streamTotals()
    val commits = w.tables.zip(versions0).flatMap { case (t, v0) =>
      (v0 + 1 to t.currentVersion).map(v => (t, t.versionDelta(v)))
    }
    val added = commits.flatMap { case (t, d) => d.added.map(f => (t, f)) }
    val addedBytes = added.map { case (t, f) =>
      val p = Paths.get(t.root, "data", f.path)
      if (Files.exists(p)) Files.size(p).toDouble else 0.0
    }.sum
    val addedRows = added.map(_._2.rows).sum
    val details = w.tables.map(_.detail())
    val self = tracer.selfMs(i)
    val c = m.c
    Map(
      "spark.jobs_per_op" -> c("jobs"),
      "spark.stages_per_op" -> c("stages"),
      "spark.tasks_per_op" -> c("tasks"),
      "spark.job_ms" -> jobMs,
      "spark.driver_gap_ms" -> (opMs - jobMs),
      "spark.shuffle_write_mb" -> c("shuffle_write_b") / 1048576.0,
      "spark.shuffle_read_mb" -> c("shuffle_read_b") / 1048576.0,
      "spark.spill_mb" -> c("spill_b") / 1048576.0,
      "spark.task_gc_ms" -> c("task_gc_ms"),
      "spark.task_cpu_ms" -> c("task_cpu_ms"),
      "spark.slot_busy_frac" -> c("task_run_ms") / (opMs * slots),
      "plans.analysis_ms" -> c("phase_analysis"),
      "plans.optimization_ms" -> c("phase_optimization"),
      "plans.planning_ms" -> c("phase_planning"),
      "streaming.trigger_ms" -> st("trigger_ms"),
      "streaming.query_planning_ms" -> st("query_planning_ms"),
      "streaming.add_batch_ms" -> st("add_batch_ms"),
      "streaming.wal_commit_ms" -> st("wal_commit_ms"),
      "streaming.state_rows" -> st("state_rows"),
      "streaming.state_mem_mb" -> st("state_mem_mb"),
      "streaming.state_commit_ms" -> st("state_commit_ms"),
      "streaming.batches_per_op" -> st("batches"),
      "sources.latest_offset_ms" -> st("latest_offset_ms"),
      "sources.get_batch_ms" -> st("get_batch_ms"),
      "tables.commits_per_op" -> commits.size.toDouble,
      "tables.files_added_per_commit" ->
        (if (commits.isEmpty) 0.0 else added.size.toDouble / commits.size),
      "tables.files_removed_per_commit" ->
        (if (commits.isEmpty) 0.0 else commits.map(_._2.removedFiles).sum.toDouble / commits.size),
      "tables.bytes_written_per_row" -> (if (addedRows == 0) 0.0 else addedBytes / addedRows),
      "tables.live_files" -> details.map(_.numFiles).sum.toDouble,
      "tables.bytes_per_live_row" -> {
        val rows = details.map(_.rows).sum
        if (rows == 0) 0.0 else details.map(_.sizeBytes).sum.toDouble / rows
      },
      "tables.log_versions" -> w.tables.map(_.currentVersion).sum.toDouble,
      "op_ms" -> opMs
    ) ++ Host.Layers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0)) ++ w.opLayer()
  }

  private def writeSpans(path: String, tracer: Tracer): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val lines = tracer.spans.sortBy(s => (s.op, s.start)).map { s =>
      json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
    }
    Files.write(Paths.get(path), lines.asJava)
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A JSON file as nested Scala Maps, Seqs and boxed scalars. */
  def read(path: String): Map[String, Any] =
    scalaOf(mapper.readValue(Paths.get(path).toFile, classOf[Object]))
      .asInstanceOf[Map[String, Any]]

  private def scalaOf(x: Any): Any = x match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> scalaOf(v) }.toMap
    case l: java.util.List[_] => l.asScala.map(scalaOf).toVector
    case o => o
  }
}

/** Host context recorded beside every run. */
object Host {
  val Layers = Seq("bench", "sql", "sources", "streaming", "operators", "queries", "tables", "spark")

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The aggregate cpu line of /proc/stat (jiffies), empty if unreadable. */
  def procStat(): Array[Long] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+").drop(1).map(_.toLong)
    } catch { case _: Exception => Array.empty }

  def stealFrac(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = b.zip(a).take(8).map { case (x, y) => x - y }
      if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
    }

  /** A fixed pure-JVM kernel (sorting 300k pseudo-random longs), timed
    * three times: a slower host shows here whatever the engine does. */
  def calibMs(): Seq[Double] = (0 until 3).map { _ =>
    var x = 88172645463325252L
    val a = Array.fill(300000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
    val t = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t) / 1e6
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}
