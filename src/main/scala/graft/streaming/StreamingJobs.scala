package graft.streaming

import graft.core.WordCount
import graft.sink.{DocSink, DocumentStoreFactory}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §7.4 — extension beyond the
  * bounded reference, which has no streaming at all; §1.4).
  *
  * Patterns:
  *  - file-source replay of the fixture parquet as a stream;
  *  - watermark + tumbling window aggregation (append mode: finalized
  *    windows only once the watermark passes);
  *  - streaming word count → the SAME batched document sink as batch mode,
  *    via foreachBatch — mirroring how the reference reuses
  *    FirestoreUpdateDoFn across runners (impl/BatchWriteImplementation
  *    .java:42-52). The sink's keyed idempotent upsert makes replays safe
  *    (effectively-once state).
  */
object StreamingJobs {

  /** events schema with a caller-chosen physical `ts` type: the file
    * stream source needs a user-supplied schema, and the fixture has
    * shipped `ts` both as TIMESTAMP(NANOS)-read-as-long and as
    * micros-NTZ (see [[graft.Tables.events]]). */
  private def eventsRawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Replay an events parquet directory as a stream. Schema-adaptive the
    * same way Tables.events is: one batch footer read resolves the
    * on-disk `ts` type, then the stream normalizes it to a session-TZ
    * timestamp. The peek is planning-time metadata only (no data scan).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(eventsRawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Rate-limited file replay (SURVEY §7.4's framing of the events
    * fixture as a stream): ingest `filesPerTrigger` chunk files per
    * micro-batch from a directory of time-ordered chunks (see
    * [[writeReplayChunks]]), so stateful session/funnel machines observe
    * the same arrival order a replayed event log would produce. Chunk ts
    * is plain epoch-micros INT64 (written by us — no parquet-nanos
    * legacy conf needed on the read side). */
  def eventsReplayStream(
      spark: SparkSession, replayDir: String,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventsRawSchema(LongType))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(replayDir)
      .withColumn("ts", expr("timestamp_micros(ts)"))

  /** Split a batch events table into `chunks` single-file parquet chunks
    * in global event-time order, with strictly increasing file
    * modification times so the file stream source replays them in order
    * (FileStreamSource picks up new files by mod-time). Appends two
    * far-future sentinel rows (user_id = -1) as their own trailing
    * chunks: the first advances the watermark past every real session's
    * timeout, the second gives the state store a batch in which to fire
    * those timeouts — callers filter `user_id >= 0` on the output.
    * Driver-side work is one pass over the FIXTURE (test scaffolding);
    * the streaming source itself is the scale surface. */
  def writeReplayChunks(
      spark: SparkSession, sfDir: String, replayDir: String,
      chunks: Int): Unit = {
    import spark.implicits._
    val dir = new java.io.File(replayDir)
    dir.mkdirs()
    val rows = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .as[(Long, Long, Long, String, Double, String)]
      .collect().sortBy(r => (r._2, r._4, r._1))
    require(rows.nonEmpty,
      s"writeReplayChunks: no events to replay in $sfDir")
    val maxUs = rows.map(_._2).max
    val sentinel = (i: Long) =>
      (-i, maxUs + 10L * 86400L * 1000000L + i, -1L, "view", 0.0, "{}")
    val groups = rows.grouped(math.max(1, rows.length / chunks + 1)).toSeq ++
      Seq(Array(sentinel(1)), Array(sentinel(2)))
    groups.zipWithIndex.foreach { case (g, i) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-replay-chunk").toFile
      val dst = new java.io.File(dir, f"chunk_$i%03d.parquet")
      try {
        g.toSeq.toDF("event_id", "ts", "user_id", "event_type",
            "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      // strictly increasing, coarse-granularity-proof spacing
      dst.setLastModified(1700000000000L + i * 60000L)
    }
  }

  /** Tumbling 1h window counts per event type with a 10-minute watermark.
    * Late rows beyond the watermark are dropped (documented divergence
    * from batch, where everything is seen). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Sessionization on a stream: session_window + watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  /** Streaming exact deduplication: drop events whose `event_id` was
    * already seen — id-ONLY dedup, so a redelivered event with the same id
    * but a different ts is still dropped — with state bounded by the
    * watermark (ids older than the horizon are forgotten — the standard
    * at-scale trade: exact within the watermark, memory bounded by the
    * horizon's key count; `dropDuplicates("event_id")` without the
    * watermark bound would grow state forever).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-STREAM time-bounded attribution join — the streaming twin
    * of batch q71_attribution (every purchase ⋈ the same user's clicks
    * within the preceding 30 minutes). Both sides are filters of the
    * same replayed event stream (a supported stream-stream self-join);
    * each carries its own watermark, and the join condition bounds
    * click time against purchase time on BOTH ends, so Spark derives a
    * state-cleanup horizon for both sides: click state older than the
    * 30-minute attribution window + watermark is dropped, purchase
    * state as soon as its window passes. That bounded state is the
    * whole point at scale — the batch form re-shuffles the full
    * history, the stream holds only the horizon. INNER join ⇒ matches
    * emit as soon as both rows have arrived (no flush-horizon caveat
    * like the outer-join family); on a full in-order replay the result
    * is set-equal to batch q71 (StreamingSpec pins it). */
  def attributionStream(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    purchases.join(clicks,
        col("c_user") === col("user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("interval 30 minutes"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** Point-in-time SCD2 lookup as a STREAM-STATIC join — the online
    * half of q72_pit_join: purchase facts arrive as a stream and join
    * the STATIC version-compressed dimension
    * (ExtraRelationalQueries.scd2PitDim, typically rebuilt/persisted by
    * a periodic batch job) on user_id with the half-open interval
    * residual. The join body is LITERALLY
    * ExtraRelationalQueries.pitLookup — the same code the batch query
    * runs — so online and offline lookups cannot diverge; StreamingSpec
    * pins stream == batch on a full fixture replay. Stream-static inner
    * joins are stateless on the stream side (each micro-batch probes
    * the static relation; nothing is buffered), so state is O(1)
    * regardless of how long the stream runs — the scale contract. A
    * fact whose user has no version yet simply emits nothing in that
    * micro-batch (inner join); PIT-correct late serving would REPLAY
    * the fact after the next dimension rebuild, not backfill state. */
  def pitServe(facts: DataFrame, dim: DataFrame): DataFrame =
    graft.queries.ExtraRelationalQueries.pitLookup(
      facts.filter(col("event_type") === "purchase" && col("ts").isNotNull),
      dim)

  /** ANN serving as a STREAM-STATIC join — the online half of the
    * retrieval story whose offline half is `sim_ann_batch`: query
    * vectors arrive as a stream (qid, q_v) and are served against the
    * STATIC IVF cell index. Probe-cell ranking and the per-query top-k
    * formatting are the SAME code the batch path runs
    * (SimilarityQueries.probeCells / topkRanked), so online and offline
    * answers cannot diverge — StreamingSpec pins stream == batch on the
    * same query set, across multiple micro-batches. The equi-join on
    * `cell` is Spark's native stream-static join (the static side is
    * re-read per micro-batch, partition-pruned when `assigned` is the
    * persisted cell-partitioned table).
    *
    * `excludeSelf` is OPT-IN: qids and corpus vec_ids are distinct id
    * spaces in a real serving stream, and dropping a corpus vector that
    * merely shares a number with an unrelated request id would corrupt
    * its top-k. Set it only when the queries ARE corpus rows (the
    * offline spec shape).
    *
    * State contract: the groupBy(qid) aggregation keeps O(k) state per
    * DISTINCT qid for the lifetime of the query (complete/update mode
    * has no eviction). That is the right shape for a bounded re-scored
    * query set; for an unbounded request stream, wrap this SAME function
    * in foreachBatch (it is mode-agnostic) so each micro-batch is
    * answered with fresh state, exactly like the sibling
    * wordCountToStore pattern.
    *
    * A query whose probed cells hold no candidates emits nothing (a
    * stream cannot left-join its own input); callers needing coverage
    * track served qids in the sink — submitted-minus-served per
    * micro-batch in foreachBatch. StreamingSpec's coverage case proves
    * the pattern: it starves one query's probe cells and the sink-side
    * ledger detects exactly that qid as unserved. */
  def annServe(
      queries: DataFrame, assigned: DataFrame,
      centroids: Seq[Seq[Double]], nProbe: Int = 4, k: Int = 10,
      excludeSelf: Boolean = false): DataFrame = {
    require(centroids.nonEmpty,
      "annServe: empty centroid model — train the IVF quantizer " +
        "(SimilarityQueries.ivfModel) before serving")
    val probed = queries
      .select(col("qid"), col("q_v"), explode(graft.queries.SimilarityQueries
        .probeCells(col("q_v"), centroids, nProbe)).as("cell"))
      .join(assigned, Seq("cell")) // stream-static equi-join
    val candidates =
      if (excludeSelf) probed.filter(col("vec_id") =!= col("qid"))
      else probed
    graft.queries.SimilarityQueries.topkRanked(
      candidates.select(col("qid"),
        graft.functions.VectorFunctions.cosine(col("v"), col("q_v"))
          .as("cos_raw"),
        col("vec_id")),
      k)
  }

  /** STREAMING benchmark decontamination — the continuous-ingestion twin
    * of batch `decontam_overlap`: as documents arrive, flag those
    * sharing 3-gram shingles with the (small, fixed) evaluation
    * benchmark. Completely STATELESS: the benchmark's distinct shingle
    * set is bounded model state (eval suites are KBs against any corpus
    * — the Bloom-filter argument from decontam_bloom) folded in as a
    * literal array, and per-doc overlap is one codegen'd
    * `array_intersect` projection — no watermark, no state store, no
    * shuffle; the operator scales with ingest throughput alone. Output
    * schema matches decontam_overlap: (doc_id, n_shared > 0 docs only);
    * array_intersect returns DISTINCT shared shingles, so n_shared
    * equals the batch countDistinct. StreamingSpec pins stream == batch
    * on a full documents replay. */
  def decontamStream(
      docs: DataFrame, benchShingles: Seq[String]): DataFrame = {
    import graft.functions.TextFunctions.shingles
    docs
      .select(col("doc_id"),
        size(array_intersect(shingles(col("text"), 3),
          typedlit(benchShingles))).cast("long").as("n_shared"))
      .filter(col("n_shared") > 0)
  }

  /** CDC change compaction over the DocumentStore change feed: suppress
    * NO-OP upserts (the stored value did not change) so downstream
    * consumers — ordered replication, cache invalidation, reindexing —
    * pay write amplification only for REAL changes. The feed replays
    * every committed upsert (DocStoreSourceSpec pins that contract);
    * a pipeline that re-writes its full output every run (the
    * reference's batch upsert pattern, and this repo's
    * `wordCountToStore` complete-mode sink) emits mostly-unchanged
    * values — this operator is the difference between re-replicating
    * the store every run and shipping the delta.
    *
    * Streaming form: `flatMapGroupsWithState` keyed by
    * (collection, doc_id), state = last seen value, append mode — state
    * is one long per live key, independent of feed length. ORDERING
    * CONTRACT: run the feed with `maxEntriesPerTrigger=1` (the ordered
    * replication mode), so each micro-batch carries at most one entry
    * per key and batches arrive in commit order; within a micro-batch
    * the group iterator's order is not defined, which is exactly why
    * the contract is one entry per trigger.
    *
    * The batch twin ([[effectiveChangesBatch]]) is the declarative
    * lag-window over a sequenced entry table — at rest, change
    * compaction is one narrow (collection, doc_id)-keyed window, no
    * state machinery. DocStoreSourceSpec replay-pins stream == batch
    * per key and in order. */
  def effectiveChangesStream(feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val session = feed.sparkSession
    import session.implicits._
    feed.select(col("collection"), col("doc_id"), col("count"))
      .as[(String, String, Long)]
      .groupByKey { case (c, id, _) => (c, id) }
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, String), rows: Iterator[(String, String, Long)],
         state: GroupState[Long]) => {
          // materialize before touching state: state writes inside a
          // lazily-consumed iterator are timing-sensitive; a strict fold
          // is not
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          rows.foreach { case (_, _, v) =>
            val isNoop = state.exists && state.get == v
            if (!isNoop) {
              state.update(v)
              out += ((key._1, key._2, v))
            }
          }
          out.iterator
        })
      .toDF("collection", "doc_id", "count")
  }

  /** Batch twin of [[effectiveChangesStream]]: the same compaction over
    * a SEQUENCED entry table (seq, collection, doc_id, count) — one
    * narrow per-key lag window, no state. `seq` is the feed's commit
    * order (the changelog's durable sequence). */
  def effectiveChangesBatch(entries: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("collection", "doc_id").orderBy("seq")
    entries
      .withColumn("prev", lag(col("count"), 1).over(w))
      .filter(col("prev").isNull || col("count") =!= col("prev"))
      .select(col("seq"), col("collection"), col("doc_id"), col("count"))
  }

  /** Streaming word count into the batched document store. Each micro-batch
    * upserts the complete current counts (complete output mode), so the
    * store converges to the same state as the batch pipeline — idempotent
    * under retry AND under re-delivery: the sink key is derived from the
    * epoch's batchId (checkpoint-stable), so a micro-batch re-executed
    * after a restart finds its own feed markers and republishes nothing
    * (review round-16: a per-invocation UUID key replayed every feed
    * entry on epoch re-delivery). Assumes one logical writer per
    * collection per store root — the reference's deployment shape. */
  def wordCountToStore(
      spark: SparkSession,
      textStream: DataFrame,
      factory: DocumentStoreFactory,
      collection: String,
      maxBatchSize: Int = 500,
      checkpoint: Option[String] = None): StreamingQuery = {
    val counts = WordCount.countWords(textStream, "text")
    val w = counts.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DocSink.writeBatched(batch, factory, collection, maxBatchSize,
          jobKey = Some(s"wcs/$collection/b$batchId"))
        ()
      }
    // an explicit checkpoint is what makes the batchId-keyed feed
    // idempotence meaningful across RESTARTS (a temp checkpoint only
    // covers retries within one run)
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    prepare(spark)
    w.start()
  }

  /** Session settings for graft's streaming queries; call it before
    * `start()`, which snapshots the session's conf into the query's
    * clone. Selects the fork-free [[LocalCheckpointFileManager]] and
    * keeps the query on the executors' shared class loader
    * ([[org.apache.spark.sql.GraftBridge.shareExecutorClassLoader]]), so
    * a new query reuses the code earlier queries compiled. Each setting
    * keeps a value the session already holds; idempotent. */
  def prepare(spark: SparkSession): Unit = {
    LocalCheckpointFileManager.install(spark)
    org.apache.spark.sql.GraftBridge.shareExecutorClassLoader(spark)
  }
}
