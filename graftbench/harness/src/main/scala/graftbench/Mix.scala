package graftbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** A fixed list of registered queries run through `SparkEntry.queries`;
  * one pass runs each once, in the given order. The timed action of an
  * execution is its full-column fingerprint. */
class Mix(spark: SparkSession, listener: EngineListener, tables: String,
    order: Seq[String]) extends Workload with AdaptiveSparkPlanHelper {
  import Harness._

  private val registry = SparkEntry.queries
  private var execs = Seq.empty[Map[String, Any]]

  override def stage(): Unit = {
    val unknown = order.filterNot(registry.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
  }

  def timed(pass: Int, tr: Tracer): Map[String, Any] = {
    val sc = spark.sparkContext
    execs = tr("rep", "harness") {
      order.map { q =>
        val before = sc.getPersistentRDDs.keySet.toSet
        val t0 = System.nanoTime()
        val (plan, fp) = tr(s"queries.$q", "queries") {
          val df = Fingerprint.frame(registry(q)(spark, tables))
          val r = df.collect()(0)
          (df.queryExecution.executedPlan, (r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        val s = (System.nanoTime() - t0) / 1e9
        val rec = mutable.LinkedHashMap[String, Any](
          "q" -> q, "s" -> s, "fp" -> Seq(fp._1, fp._2, fp._3))
        if (tr.enabled) {
          rec("span") = tr.spans.last.id
          rec("new_rdds") = (sc.getPersistentRDDs.keySet.toSet -- before).toSeq
          rec("graft_nodes") =
            collectWithSubqueries(plan) { case p if isGraft(p) => 1 }.size
          rec("graft_exprs") = collectWithSubqueries(plan) { case p =>
            p.expressions.map(_.collect { case x if isGraft(x) => 1 }.size).sum
          }.sum
        }
        rec.toMap
      }
    }
    Map("execs" -> execs)
  }

  /** An engine object defined by graft: its class, or the class of the
    * user function or aggregator it wraps, lives in a `graft.` package. */
  private def isGraft(x: AnyRef): Boolean =
    x.getClass.getName.startsWith("graft.") ||
      x.getClass.getDeclaredFields.exists { f =>
        (f.getName == "agg" || f.getName == "aggregator" || f.getName == "function") && {
          f.setAccessible(true)
          Option(f.get(x)).exists(_.getClass.getName.startsWith("graft."))
        }
      }

  def inspect(pass: Int, tr: Tracer, work: Work): Map[String, Any] = {
    if (!tr.enabled) return Map.empty
    val sc = spark.sparkContext
    val storage = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val newRdds = execs.flatMap(_("new_rdds").asInstanceOf[Seq[Int]])
    val perQuery = execs.flatMap { e =>
      val q = e("q").toString
      val w = listener.group(tr.groupOf(e("span").asInstanceOf[Int]))
      Seq(s"queries.${q}_s" -> e("s"), s"queries.$q.jobs" -> w.jobs,
        s"queries.$q.tasks" -> w.tasks, s"queries.$q.shuffle_bytes" -> (w.shuffleRead + w.shuffleWrite),
        s"queries.$q.cpu_s" -> w.cpuNs / 1e9)
    }
    val selfS = tr.selfSeconds(tr.spans.find(_.name == "rep").get.id)
    val layer = Map[String, Any](
      "operators.persisted_rdds" -> newRdds.size,
      "operators.persisted_bytes" -> newRdds.map(storage.getOrElse(_, 0L)).sum,
      "functions.graft_exprs" -> execs.map(_("graft_exprs").asInstanceOf[Int]).sum,
      "plans.graft_nodes" -> execs.map(_("graft_nodes").asInstanceOf[Int]).sum,
      "self.queries_s" -> selfS.getOrElse("queries", 0.0),
      "self.harness_s" -> selfS.getOrElse("harness", 0.0),
      "trace.spans" -> tr.spans.size) ++ perQuery ++ engine(work)
    Map("layer" -> layer)
  }

  /** Fingerprints of the DuckDB oracle results, computed after the timed
    * passes so they do not warm the cold one. */
  override def finish(args: Map[String, String]): Map[String, Any] =
    Map("oracle" -> order.map { q =>
      val fp = Fingerprint.of(spark.read.parquet(s"${args("oracles")}/$q.parquet"))
      q -> Seq(fp._1, fp._2, fp._3)
    }.toMap)
}
