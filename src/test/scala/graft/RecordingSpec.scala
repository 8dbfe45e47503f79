package graft

import graft.metrics.{Recorded, Recording, Work}
import graft.tools.CodegenWorkingSet
import org.apache.spark.ListenerBusProbe

/** `Recording.of`: what a body ran, read from one listener that is
  * there only while the body runs. */
class RecordingSpec extends SparkSpec {

  private def record(query: String, sfDir: String): Recorded = {
    val (_, rec) = Recording.of(spark)(
      CodegenWorkingSet.touchAll(SparkEntry.queries(query)(spark, sfDir)))
    rec.persisted.foreach(_.unpersist(blocking = false))
    rec
  }

  test("two recordings of warm q41_asof_custom agree on jobs, stages, tasks and shuffle bytes") {
    def counts(w: Work) = (w.jobs, w.stages, w.tasks, w.shuffleRead, w.shuffleWrite)
    record("q41_asof_custom", sf001) // warm
    val Seq(first, second) = Seq.fill(2)(record("q41_asof_custom", sf001))
    assert(first.work.tasks > 0 && first.work.shuffleWrite > 0, first.work)
    assert(counts(first.work) == counts(second.work))
    assert(first.jobs.size == first.work.jobs)
    assert(first.stages.size == first.work.stages)
  }

  test("a body that throws leaves no listener, and the next recording sees only its own jobs") {
    val sc = spark.sparkContext
    val listeners = ListenerBusProbe.listenerCount(sc)
    val err = intercept[IllegalStateException](Recording.of(spark) {
      spark.range(100).repartition(4).count()
      throw new IllegalStateException("the body failed")
    })
    assert(err.getMessage == "the body failed")
    assert(ListenerBusProbe.listenerCount(sc) == listeners)
    val (n, rec) = Recording.of(spark) {
      sc.setJobGroup("recording-next", "the next recording's job")
      try spark.range(10).count() finally sc.clearJobGroup()
    }
    assert(n == 10)
    assert(rec.jobs.nonEmpty && rec.jobs.forall(_.group == "recording-next"),
      rec.jobs)
    assert(rec.work.jobs == rec.jobs.size)
    assert(ListenerBusProbe.listenerCount(sc) == listeners)
  }

  test("q75_hier_rollup's child-session execution is among the recorded plans") {
    val df = SparkEntry.queries("q75_hier_rollup")(spark, sf0001)
    val (_, rec) = Recording.of(spark)(df.collect())
    assert(df.sparkSession ne spark, "q75 runs on a child session")
    assert(rec.plans.exists(_.session eq df.sparkSession),
      s"${rec.plans.size} plans, none from the child session")
  }
}
