package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sink.{DocumentStore, DocumentStoreFactory}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

/** Engine work counters, summed over tasks. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    input: Long = 0) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, failedTasks - o.failedTasks, cpuNs - o.cpuNs,
    runMs - o.runMs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, input - o.input)
}

/** A completed stage: its wall-clock interval and shuffle bytes. */
final case class StageRun(startMs: Long, endMs: Long, shuffleRead: Long,
    shuffleWrite: Long)

/** One listener for the whole run: totals, plus the same counters per job
  * group, so the jobs a span tags with its group are attributed to it. */
class EngineListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, Work]()
  private val stageRuns = mutable.ArrayBuffer[StageRun]()
  private var all = Work()

  private def bump(g: String)(f: Work => Work): Unit = synchronized {
    all = f(all)
    groups(g) = f(groups.getOrElse(g, Work()))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    synchronized(e.stageIds.foreach(s => stageGroup(s) = g))
    bump(g)(w => w.copy(jobs = w.jobs + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val g = synchronized(stageGroup.getOrElse(i.stageId, ""))
    bump(g)(w => w.copy(stages = w.stages + 1))
    for (t0 <- i.submissionTime; t1 <- i.completionTime; m <- Option(i.taskMetrics))
      synchronized(stageRuns += StageRun(t0, t1,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageId, ""))
    val m = e.taskMetrics
    val failed = if (e.taskInfo.successful) 0 else 1
    bump(g) { w =>
      if (m == null) w.copy(tasks = w.tasks + 1, failedTasks = w.failedTasks + failed)
      else w.copy(
        tasks = w.tasks + 1,
        failedTasks = w.failedTasks + failed,
        cpuNs = w.cpuNs + m.executorCpuTime,
        runMs = w.runMs + m.executorRunTime,
        gcMs = w.gcMs + m.jvmGCTime,
        shuffleRead = w.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = w.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = w.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        input = w.input + m.inputMetrics.bytesRead)
    }
  }

  def total: Work = synchronized(all)
  def stages: Seq[StageRun] = synchronized(stageRuns.toSeq)
  def group(g: String): Work = synchronized(groups.getOrElse(g, Work()))
}

/** A timed interval of the traced run. Nested spans (on the calling
  * thread) nest strictly; the others (store commits on executor threads)
  * run in parallel under their parent and are kept out of the self-time
  * sums. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long, nested: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory; each nested span tags the Spark jobs it
  * starts with its own job group. With `enabled` false it only runs the
  * body, so untraced repetitions carry no tracing cost. */
class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private def nextId(): Int = Tracer.ids.incrementAndGet()

  def current: Int = stack.headOption.getOrElse(0)
  def groupOf(id: Int): String = s"span-$id"

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current
      stack = id :: stack
      sc.setJobGroup(groupOf(id), name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (stack.nonEmpty) sc.setJobGroup(groupOf(stack.head), name)
        else sc.clearJobGroup()
        done += Span(id, parent, name, layer, t0, t1, nested = true)
      }
    }

  /** A span measured elsewhere (a streaming trigger, a store commit). */
  def add(parent: Int, name: String, layer: String, startNs: Long,
      endNs: Long, nested: Boolean): Int = {
    val id = nextId()
    done += Span(id, parent, name, layer, startNs, endNs, nested)
    id
  }

  def spans: Seq[Span] = done.toSeq

  /** Self time per layer over the nested spans under `root`: a span's
    * duration minus that of its nested children. */
  def selfSeconds(root: Int): Map[String, Double] = {
    val drv = done.filter(_.nested)
    val kids = drv.groupBy(_.parent)
    def under(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).toSeq.flatMap(s => s +: under(s.id))
    val tree = drv.filter(_.id == root).toSeq ++ under(root)
    tree.map { s =>
      s.layer -> (s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Tracer {
  // span ids, and so job groups, are unique across repetitions of a run
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
}

/** Delegating store factory: counts what the sink commits and, when
  * `timed`, records each `commitBatchKeyed` interval on the executor side.
  * Accumulators travel with the serialized factory, so the counts come back
  * through Spark's own task-result path. */
class CountingFactory(
    inner: DocumentStoreFactory,
    val docs: LongAccumulator,
    val commits: LongAccumulator,
    val busyNs: LongAccumulator,
    val intervals: Option[CollectionAccumulator[(Long, Long)]])
  extends DocumentStoreFactory {

  def open(): DocumentStore = {
    val store = inner.open()
    new DocumentStore {
      def commitBatch(collection: String,
          batch: Seq[(String, Map[String, Long])]): Unit = {
        store.commitBatch(collection, batch)
        docs.add(batch.size); commits.add(1)
      }
      override def commitBatchKeyed(key: String, collection: String,
          batch: Seq[(String, Map[String, Long])]): Unit = {
        val t0 = System.nanoTime()
        store.commitBatchKeyed(key, collection, batch)
        val t1 = System.nanoTime()
        docs.add(batch.size); commits.add(1); busyNs.add(t1 - t0)
        intervals.foreach(_.add((t0, t1)))
      }
      override def put(collection: String, docId: String,
          fields: Map[String, Long]): Unit = {
        store.put(collection, docId, fields)
        docs.add(1); commits.add(1)
      }
      override def close(): Unit = store.close()
    }
  }

  def commitIntervals: Seq[(Long, Long)] =
    intervals.map(_.value.asScala.toSeq).getOrElse(Nil)
}

object CountingFactory {
  def apply(sc: SparkContext, inner: DocumentStoreFactory,
      timed: Boolean): CountingFactory =
    new CountingFactory(inner, sc.longAccumulator("bench.docs"),
      sc.longAccumulator("bench.commits"), sc.longAccumulator("bench.busyNs"),
      if (timed) Some(sc.collectionAccumulator[(Long, Long)]("bench.commitNs"))
      else None)
}
