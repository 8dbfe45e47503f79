package graft.metrics

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Engine work counters, summed over tasks; the fields and names of
  * graftbench's `Work`. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    input: Long = 0)

/** A stage as its job's start announces it: the call site and the
  * stack above it. */
final case class JobStage(name: String, details: String)

/** A job, with its job group and the description of the SQL execution
  * it ran under (empty when unset); no duration if it had not ended. */
final case class Job(id: Int, group: String, execution: String,
    durationMs: Option[Long], stages: Seq[JobStage])

/** A completed stage, its metrics summed over its tasks. */
final case class Stage(id: Int, name: String, runMs: Long, tasks: Int,
    shuffleRead: Long, input: Long)

/** What a body ran: its work, its jobs in start order, its completed
  * stages, the executed plan of every SQL execution that ended during it
  * (in end order, child sessions' included) and the RDDs it persisted
  * and left persisted (by id). */
final case class Recorded(work: Work, jobs: Seq[Job], stages: Seq[Stage],
    plans: Seq[SparkPlan], persisted: Seq[RDD[_]])

object Recording {

  /** The longest either drain waits for the bus to empty. */
  private val drainTimeoutMs = 60000L

  /** `body`'s result and what it ran. The bus is drained before the
    * listener is added, so no earlier event leaks in, and again after
    * `body`, so none of its events is missed. One listener on the whole
    * context (a session's `QueryExecutionListener` would miss child
    * sessions), removed even when `body` throws. */
  def of[T](spark: SparkSession)(body: => T): (T, Recorded) = {
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(spark, drainTimeoutMs)
    val before = sc.getPersistentRDDs.keySet
    val recorder = new Recorder
    sc.addSparkListener(recorder)
    try {
      val out = body
      GraftBridge.drainListenerBus(spark, drainTimeoutMs)
      val persisted = sc.getPersistentRDDs.toSeq
        .collect { case (id, rdd) if !before(id) => rdd }.sortBy(_.id)
      (out, recorder.recorded(persisted))
    } finally sc.removeSparkListener(recorder)
  }

  private final class Recorder extends SparkListener {
    private var work = Work()
    private val executions = mutable.Map[Long, String]()
    private val jobs = mutable.LinkedHashMap[Int, (Long, Job)]() // by start
    private val stages = mutable.ArrayBuffer[Stage]()
    private val plans = mutable.ArrayBuffer[SparkPlan]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          executions(s.executionId) = s.description
        case _ => GraftBridge.executedPlan(e).foreach(plans += _)
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(key: String): Option[String] =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      // an execution's start precedes its jobs' on the bus
      val execution = prop(SQLExecution.EXECUTION_ID_KEY)
        .flatMap(id => executions.get(id.toLong)).getOrElse("")
      jobs(e.jobId) = e.time -> Job(e.jobId,
        prop("spark.jobGroup.id").getOrElse(""), execution, None,
        e.stageInfos.map(s => JobStage(s.name, s.details)))
      work = work.copy(jobs = work.jobs + 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for ((t0, j) <- jobs.get(e.jobId))
        jobs(e.jobId) = t0 -> j.copy(durationMs = Some(e.time - t0))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = Option(i.taskMetrics)
        stages += Stage(i.stageId, i.name, m.fold(0L)(_.executorRunTime),
          i.numTasks, m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          m.fold(0L)(_.inputMetrics.bytesRead))
        work = work.copy(stages = work.stages + 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val w = work.copy(tasks = work.tasks + 1,
        failedTasks = work.failedTasks + (if (e.taskInfo.successful) 0 else 1))
      work = if (m == null) w else w.copy(
        cpuNs = w.cpuNs + m.executorCpuTime,
        runMs = w.runMs + m.executorRunTime,
        gcMs = w.gcMs + m.jvmGCTime,
        shuffleRead = w.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = w.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = w.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        input = w.input + m.inputMetrics.bytesRead)
    }

    def recorded(persisted: Seq[RDD[_]]): Recorded = synchronized {
      Recorded(work, jobs.values.map(_._2).toSeq, stages.toSeq, plans.toSeq,
        persisted)
    }
  }
}
