package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed call at a layer boundary. `parent` is the id of the
  * span that caused it (-1 for an op). Times are nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Long, end: Long)

/** Spans are kept in memory and written out when the run ends. When off,
  * `span` only runs its body. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long)]
  private var nextId = 0
  var on = false
  var op = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      stack.push((id, layer, name, System.nanoTime()))
      try body
      finally {
        val (_, l, n, s) = stack.pop()
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        spans += Span(id, parent, op, l, n, s, System.nanoTime())
      }
    }

  /** Adds a span that was timed elsewhere (a Spark job) under the
    * innermost span of `op` that encloses its start. */
  def adopt(layer: String, name: String, start: Long, end: Long): Unit = {
    val enclosing = spans.iterator
      .filter(s => s.op == op && s.start <= start && start <= s.end)
      .maxByOption(_.start)
    spans += Span(nextId, enclosing.map(_.id).getOrElse(-1), op, layer, name,
      start, end)
    nextId += 1
  }

  /** Self time per layer for one op: each span's duration minus the part
    * of it its children cover. */
  def selfMs(op: Int): Map[String, Double] = {
    val mine = spans.filter(_.op == op)
    val kids = mine.groupBy(_.parent)
    mine.groupMapReduce(_.layer) { s =>
      val covered = Meter.union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).toSeq)
      (s.end - s.start - covered) / 1e6
    }(_ + _)
  }
}

/** Per-op counters from the listeners the benchmark registers itself: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (the
  * analysis/optimization/planning phases) and a StreamingQueryListener
  * (trigger progress). Attached only around traced ops. */
final class Meter(spark: SparkSession) {
  // jobs as (start ms, end ms) wall clock
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Meter.this.synchronized {
      jobStart(e.jobId) = e.time
      c("jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Meter.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("tasks", 1)
      add("task_run_ms", e.taskInfo.duration.toDouble)
      if (m != null) {
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("task_gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeL = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (p, s) => add(s"phase_$p", s.durationMs.toDouble) }
  }

  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized { progress += e }
  }

  def attach(): Unit = {
    reset()
    spark.sparkContext.addSparkListener(sparkL)
    spark.listenerManager.register(qeL)
    spark.streams.addListener(streamL)
  }

  /** Waits for every posted event, then detaches. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkL)
    spark.listenerManager.unregister(qeL)
    spark.streams.removeListener(streamL)
  }

  def reset(): Unit = synchronized {
    jobStart.clear(); jobs.clear(); c.clear(); progress.clear()
  }

  /** Streaming progress totals for the op: durationMs phases summed over
    * the triggers that carried input, state from each query's last one. */
  def streamTotals(): Map[String, Double] = synchronized {
    val busy = progress.map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = busy.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val last = busy.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val states = busy.flatMap(_.stateOperators)
    Map(
      "trigger_ms" -> dur("triggerExecution"),
      "query_planning_ms" -> dur("queryPlanning"),
      "add_batch_ms" -> dur("addBatch"),
      "wal_commit_ms" -> dur("walCommit"),
      "latest_offset_ms" -> dur("latestOffset"),
      "get_batch_ms" -> dur("getBatch"),
      "state_commit_ms" -> states.map(_.commitTimeMs.toDouble).sum,
      "state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "state_mem_mb" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes / 1048576.0).sum,
      "batches" -> busy.size.toDouble)
  }
}

object Meter {
  /** Total length covered by a set of (start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def median(xs: Iterable[Double]): Double = {
    val v = xs.toArray.sorted
    if (v.isEmpty) 0.0
    else if (v.length % 2 == 1) v(v.length / 2)
    else (v(v.length / 2 - 1) + v(v.length / 2)) / 2
  }
}
