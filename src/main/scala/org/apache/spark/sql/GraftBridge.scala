package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column↔Expression converters of the classic
  * API — the supported low-level seam for third-party native expressions
  * (graft.functions.DotProduct et al.). Kept to two one-liners so the
  * private-API surface we touch is minimal and auditable.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (classic API). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's `spark.sql.shuffle.partitions`, read typed. A non-int
    * value never reaches this read: `spark.conf.set` and `SET` reject it
    * with INVALID_CONF_VALUE.TYPE_MISMATCH, and a builder or SparkConf
    * value fails the same way when the session state is first built,
    * before any DataFrame exists. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .getConf(internal.SQLConf.SHUFFLE_PARTITIONS)

  /** Run the session's jobs on the executors' shared class loader
    * instead of one loader per session. With
    * `spark.sql.artifact.isolation.enabled` on (Spark 4's default) every
    * job carries its session's id and each executor builds a class
    * loader for that session; Spark's codegen cache is keyed by (class
    * loader, code), so every new session — each streaming query's
    * clone, each `newSession()` — compiles all of its generated code
    * again. Sets the conf to false unless the session already holds a
    * value for it (a user's choice, from a builder, `--conf` or `SET`,
    * wins) or has session-scoped artifacts, which need their own
    * loader. A session's artifact manager reads the conf once, when it
    * is built on first use, so this takes effect for a fresh session
    * (the conf is set before the manager is looked at) and for every
    * session cloned afterwards, which gets a manager of its own — each
    * streaming query's clone, made by `start()`. */
  def shareExecutorClassLoader(spark: SparkSession): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val key = internal.SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key
    if (!s.sessionState.conf.contains(key)) {
      s.conf.set(key, false)
      if (sessionArtifactAdded(s)) s.conf.unset(key)
    }
  }

  /** `ArtifactManager.sessionArtifactAdded`: Scala-`protected`, a public
    * method in bytecode, so it is read reflectively. */
  private def sessionArtifactAdded(s: classic.SparkSession): Boolean =
    classOf[artifact.ArtifactManager].getMethod("sessionArtifactAdded")
      .invoke(s.artifactManager)
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get()

  /** Spark's JVM-wide cache of compiled generated classes
    * (`CodeGenerator.cache`, a private val, so read reflectively). Its
    * keys are (class loader, generated source); its size bound is the
    * static conf `spark.sql.codegen.cache.maxEntries`. */
  private def codegenCache: org.apache.spark.util.NonFateSharingCache[_, _] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator)
      .asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]]
  }

  /** Drop every compiled class from Spark's codegen cache: the next
    * use of each generated class compiles it again. */
  def invalidateCodegenCache(): Unit = codegenCache.invalidateAll()

  /** The generated source of every class in Spark's codegen cache, one
    * entry per (class loader, source) key. The Guava cache inside is a
    * Scala-`protected` val, a public method in bytecode. */
  def codegenCacheSources(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeAndComment
    classOf[org.apache.spark.util.NonFateSharingCache[_, _]]
      .getMethod("cache").invoke(codegenCache)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[_, _]]
      .asMap().keySet().asScala.toSeq
      .collect { case (_, code: CodeAndComment) => code.body }
  }

  /** The analyzed logical plan backing a DataFrame. */
  def analyzedPlan(df: Dataset[_]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Materialize `df` exactly like eager `Dataset.localCheckpoint()`
    * (execute, copy rows, localCheckpoint the RDD, count to
    * materialize, wrap in a LogicalRDD) while counting — in the SAME
    * materialization pass — the rows whose LONG columns `aName` and
    * `bName` differ. Folds the connected-components
    * convergence test into the per-round checkpoint job (round-17 opt):
    * previously every fixpoint round paid a second full job
    * (`filter(a =!= b).count()`) over the rows the checkpoint had just
    * materialized. Both columns must be LongType. A row with a null in
    * either column counts as changed: `getLong` on a null field reads
    * whatever the slot holds (0 in an UnsafeRow), so an unguarded
    * null could compare equal and end a fixpoint early (a null that
    * never goes away keeps the fixpoint running instead).
    *
    * Accumulator discipline: the count is taken inside a
    * transformation, so a retried/speculated task could over-count a
    * round — harmless here because labels are monotone non-increasing:
    * an over-count only schedules an extra identity round, while a
    * CONVERGED round adds 0 in every attempt, so termination is exact. */
  def localCheckpointCounting(
      df: DataFrame, aName: String, bName: String): (DataFrame, Long) = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.catalyst.expressions.ExpressionSet
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val ia = output.indexWhere(_.name == aName)
    val ib = output.indexWhere(_.name == bName)
    require(ia >= 0 && ib >= 0 &&
      output(ia).dataType == LongType && output(ib).dataType == LongType,
      s"localCheckpointCounting: need long columns '$aName', '$bName' in " +
        output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
    val acc = spark.sparkContext.longAccumulator("localCheckpointCounting changed")
    // one SQL execution, like Dataset.localCheckpoint's own, so listeners
    // on SQL executions (QueryDebug's audit) see the plan it runs
    val rdd = execution.SQLExecution.withNewExecutionId(
        qe, Some("localCheckpoint")) {
      val rdd = qe.toRdd.mapPartitions { it =>
        it.map { r =>
          if (r.isNullAt(ia) || r.isNullAt(ib) || r.getLong(ia) != r.getLong(ib))
            acc.add(1L)
          r.copy()
        }
      }
      rdd.localCheckpoint()
      rdd.count() // ONE job: materializes the checkpoint AND fills acc
      rdd
    }
    val out = ofRows(spark, LogicalRDD(
      output, rdd, UnknownPartitioning(0), Nil, isStreaming = false, None)(
      spark, None, None: Option[ExpressionSet]))
    (out, acc.value)
  }

  /** Block until the listener bus has delivered all queued events
    * (`graft.metrics.Recording` drains before and after its body). */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** The executed plan a `SparkListenerSQLExecutionEnd` carries in its
    * private `qe` (every action, eager or lazy `localCheckpoint`, write);
    * `None` for other events and for an end replayed from an event log. */
  def executedPlan(e: org.apache.spark.scheduler.SparkListenerEvent)
      : Option[execution.SparkPlan] = e match {
    case end: execution.ui.SparkListenerSQLExecutionEnd if end.qe != null =>
      Some(end.qe.executedPlan)
    case _ => None
  }

  /** Re-stamp a checkpointed DataFrame's `LogicalRDD` with the hash
    * partitioning its rows PHYSICALLY have. `Dataset.localCheckpoint`
    * tries to carry the child plan's partitioning into the LogicalRDD,
    * but under AQE the adaptive root frequently reports
    * `UnknownPartitioning` (coalesced / not-yet-rewritable shuffle
    * reads), so every consumer of the materialized index pays a fresh
    * exchange for a partitioning the data already satisfies — measured
    * round 16: each `repartition(k).localCheckpoint()` site re-shuffled
    * per consumer. Caller contract: the checkpoint was built from a
    * `repartition(numParts, keys…)` (REPARTITION_BY_NUM — AQE may not
    * coalesce it), so `HashPartitioning(keys, numParts)` is the true
    * physical layout. Guarded: if the plan is not a bare LogicalRDD, a
    * key is missing, or the RDD's partition count differs from
    * `numParts`, the frame is returned unstamped (correct, just
    * unoptimized). Attribute dedup on self-joins is safe:
    * `LogicalRDD.newInstance` rewrites the stamped partitioning's
    * attributes along with the output. */
  def stampHashPartitioning(
      ck: DataFrame, numParts: Int, keyNames: String*): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet}
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.getNumPartitions == numParts =>
        // a key name must match exactly ONE output attribute: with
        // duplicate names (possible for callers outside buildCheckpointBy,
        // which rejects ambiguous df.col), find() would stamp the first
        // match and consumers keyed on the OTHER attribute would skip a
        // required exchange — return unstamped instead, like missing keys
        val keys: Seq[Option[Attribute]] =
          keyNames.map(n => lr.output.filter(_.name == n) match {
            case Seq(a) => Some(a)
            case _      => None
          })
        if (keys.exists(_.isEmpty)) ck
        else {
          // named, so a plan tells a stamped table from a plain
          // checkpoint (with AQE off, both can carry a hash partitioning)
          lr.rdd.setName(s"keyed checkpoint by ${keyNames.mkString(",")}")
          // carry the checkpoint's stats forward (computeStats resolves
          // the originStats localCheckpoint captured) so join-strategy
          // estimates are unchanged by the re-stamp
          ofRows(ck.sparkSession, LogicalRDD(
            lr.output, lr.rdd,
            HashPartitioning(keys.map(_.get), numParts),
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            ck.sparkSession.asInstanceOf[classic.SparkSession],
            Some(lr.computeStats()),
            None: Option[ExpressionSet]))
        }
      case _ => ck
    }
  }
}
