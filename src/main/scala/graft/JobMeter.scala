package graft

import scala.collection.mutable

import org.apache.spark.GraftSparkInternal
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The one job listener: records, per Spark job, its wall time, stage
  * names, task counts and first call site outside Spark. Use it through
  * `JobMeter.measure`, which attaches a fresh meter around a block. */
final class JobMeter private () extends SparkListener {
  private val starts = mutable.LinkedHashMap[Int, SparkListenerJobStart]()
  private val ends = mutable.Map[Int, Long]()
  private val jobOfStage = mutable.Map[Int, Int]()
  private val tasks = mutable.Map[Int, Vector[Int]]().withDefaultValue(Vector.empty)
  private val execSites = mutable.Map[String, String]()

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    starts(js.jobId) = js
    js.stageIds.foreach(jobOfStage(_) = js.jobId)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    ends(je.jobId) = je.time
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage.get(s.stageInfo.stageId).foreach(j => tasks(j) :+= s.stageInfo.numTasks)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      JobMeter.userFrame(s.details).foreach(execSites(s.executionId.toString) = _)
    }
    case _ =>
  }

  /** Every job started since this meter was attached, in start order. */
  def jobs: Seq[JobMeter.Job] = synchronized {
    starts.values.toSeq.map { js =>
      // the result stage is created last, so its stack is the action's;
      // a job AQE submits from its own thread has no user frame there,
      // so fall back to the stack of the SQL execution that ran it
      val site = js.stageInfos.maxByOption(_.stageId).flatMap(s => JobMeter.userFrame(s.details))
        .orElse(Option(js.properties).flatMap(p =>
          Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).flatMap(execSites.get))
        .getOrElse("?")
      JobMeter.Job(js.jobId, ends.get(js.jobId).fold(-1L)(_ - js.time),
        js.stageInfos.map(_.name), tasks(js.jobId), site)
    }
  }
}

object JobMeter {

  /** One job: `ms` from its start to its end event (-1 if it had not
    * ended), the names of all its stages, the task count of each of its
    * stages that ran (skipped stages have none), and the first frame of
    * its call stack outside Spark, the JDK and Scala. */
  final case class Job(id: Int, ms: Long, stages: Seq[String], tasks: Seq[Int], site: String)

  private val library = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** The first frame of a call-site stack that is neither Spark's nor the
    * JDK's or Scala library's. */
  private def userFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.stripPrefix("java.base/"))
      .find(l => l.nonEmpty && !library.exists(l.startsWith))

  /** Runs `body` and returns the jobs it started. The listener bus is
    * drained before the meter is read, so every event posted while
    * `body` ran has been seen: no sleep, no polling. */
  def measure[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val meter = new JobMeter
    sc.addSparkListener(meter)
    try {
      val a = body
      GraftSparkInternal.drainListenerBus(sc)
      (a, meter.jobs)
    } finally sc.removeSparkListener(meter)
  }
}
