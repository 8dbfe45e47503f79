package graft

import graft.streaming.StreamingJobs
import graft.tools.GenData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** sf1-VOLUME streaming replay (round-10 scale evidence): the full
  * 1,000,000-row sf1 events table — generated in-process by GenData's
  * pure per-id generator, bit-identical to what `GenData <dir> 1.0`
  * writes — replayed through the stream-stream attribution join and
  * the stream-static PIT lookup via the real file-source path
  * (time-ordered parquet chunks, one per micro-batch).
  *
  * Two pins per job, both of which only MEAN something at volume:
  *  1. stream == batch on the full sf1 input (the fixture-scale pins in
  *     StreamingSpec replay 1k events; this is 1000×);
  *  2. the state contract: attribution state tracks the 30m+30m
  *     watermark horizon — thousands of rows against a million ingested
  *     (an unbounded join would hold every click/purchase seen) — and
  *     the PIT lookup holds ZERO state rows (stream-static joins probe
  *     the static side per batch; nothing is buffered).
  */
class StreamingScaleSpec extends SparkSpec {
  import spark.implicits._

  private val nChunks = 40

  // sf1 events as a batch fixture dir (events.parquet), for the batch
  // side of the stream==batch pins
  private lazy val sf1Dir: String = {
    val dir = tempDir("graft-sf1ev").toString
    val sz = GenData.Sizes(1.0)
    spark.range(sz.nEvents).map(GenData.event(_, sz)).toDF()
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // the same table as 40 time-ordered single-file chunks (+2 sentinel
  // chunks that flush the final watermark) — ~25k events per micro-batch
  private lazy val replayDir: String = {
    val dir = tempDir("graft-sf1rp").toString
    StreamingJobs.writeReplayChunks(spark, sf1Dir, dir, chunks = nChunks)
    dir
  }

  /** Run `query` named `name` to completion while a listener samples
    * (numInputRows, state rows) at every progress event; returns the
    * samples. `minRows` is the expected total input (the bus-drain
    * wait target). */
  private def runSampled(name: String,
      start: () => org.apache.spark.sql.streaming.StreamingQuery,
      minRows: Long = 1000000L)
      : Seq[(Long, Long)] = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) samples.synchronized {
          samples += ((e.progress.numInputRows,
            e.progress.stateOperators.map(_.numRowsTotal).sum))
        }
    }
    spark.streams.addListener(listener)
    try {
      val q = start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.streams.removeListener(listener)
    // processAllAvailable blocks until all progress is committed, but the
    // listener bus is async — drain it
    var waited = 0
    while (samples.synchronized(samples.map(_._1).sum) < minRows &&
           waited < 100) { Thread.sleep(100); waited += 1 }
    samples.synchronized(samples.toSeq)
  }

  test("sf1 replay: stream-stream attribution == batch q71 on 1M events; " +
      "state tracks the watermark horizon, not input size") {
    val samples = runSampled("sf1_attrib", () =>
      StreamingJobs.attributionStream(
          StreamingJobs.eventsReplayStream(spark, replayDir))
        .writeStream.outputMode("append").format("memory")
        .queryName("sf1_attrib").start())
    val streamed = spark.table("sf1_attrib")
      .filter(col("user_id") >= 0)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q71_attribution")(spark, sf1Dir)
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("lag_us"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "sf1 input produced no attribution pairs")
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${streamed.diff(batch).take(3)} " +
        s"onlyBatch=${batch.diff(streamed).take(3)}")
    // state contract at volume: a million rows went through, the state
    // store held at most the join-relevant rows inside roughly one
    // chunk-span + horizon of event time. Unbounded buffering would
    // approach the ~400k cumulative click+purchase rows; the measured
    // peak sits orders of magnitude under it. Bound chosen at 10% of
    // cumulative relevant rows — loose enough for chunk-boundary
    // timing, tight enough that ANY unbounded growth trips it.
    val totalInput = samples.map(_._1).sum
    val peakState = samples.map(_._2).max
    info(s"attribution: ${streamed.size} pairs, $totalInput rows ingested, " +
      s"peak state $peakState rows, final state ${samples.last._2}")
    assert(totalInput >= 1000000L, s"replay ingested only $totalInput rows")
    assert(peakState < 40000L,
      s"attribution state grew past the horizon: peak $peakState rows")
    // and the sentinel chunks flushed it back down at the end
    assert(samples.last._2 < peakState || samples.last._2 < 1000,
      s"final state ${samples.last._2} did not drain")
  }

  test("sf1 replay: stream-static PIT lookup == batch q72 on 1M events " +
      "with ZERO buffered state") {
    val dim = graft.queries.ExtraRelationalQueries
      .scd2PitDim(Tables.events(spark, sf1Dir))
    val samples = runSampled("sf1_pit", () =>
      StreamingJobs.pitServe(
          StreamingJobs.eventsReplayStream(spark, replayDir), dim)
        .writeStream.outputMode("append").format("memory")
        .queryName("sf1_pit").start())
    val streamed = spark.table("sf1_pit")
      .filter(col("user_id") >= 0)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q72_pit_join")(spark, sf1Dir)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "sf1 input produced no PIT matches")
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${streamed.diff(batch).take(3)} " +
        s"onlyBatch=${batch.diff(streamed).take(3)}")
    // stream-static joins buffer nothing: every micro-batch probes the
    // static dimension and forgets — O(1) state forever
    val totalInput = samples.map(_._1).sum
    assert(totalInput >= 1000000L, s"replay ingested only $totalInput rows")
    assert(samples.forall(_._2 == 0L),
      s"PIT lookup buffered state: ${samples.filter(_._2 > 0).take(3)}")
  }

  test("sf1-derived change feed: store→store replication converges in " +
      "order; CDC compaction state = live keys, not feed length") {
    import graft.sink.{DocStoreChangelog, FileDocumentStoreFactory}
    import graft.streaming.StreamingJobs
    import graft.tools.FeedReplicate
    // The 1M-event sf1 table drives 50 time-ordered pipeline "runs",
    // each re-upserting the FULL 500-key counter state (the reference's
    // batch re-write pattern, which is exactly what CDC compaction
    // exists for) into a source store: a 25,000-row change feed derived
    // from 1M events. The doc value is the cumulative count DIV 100
    // (the "centuries milestone"), so a realistic fraction of each
    // run's upserts is a NO-OP — compaction must suppress those — and
    // values stay non-decreasing, which makes ordered delivery
    // observable: any out-of-order last write strands a smaller stale
    // value in the destination.
    val nRuns = 50; val nKeys = 500
    val ev = spark.read.parquet(s"$sf1Dir/events.parquet")
      .filter(col("user_id").isNotNull)
    val nEvents = GenData.Sizes(1.0).nEvents
    val chunk = (nEvents + nRuns - 1) / nRuns
    val perRun = ev
      .select((col("event_id") / chunk).cast("int").as("run"),
        pmod(col("user_id"), lit(nKeys)).cast("int").as("k"))
      .groupBy("run", "k").agg(count(lit(1)).as("c"))
      .as[(Int, Int, Long)].collect()
      .groupBy(_._1)
    val src = tempDir("graft-sf1feed-src").toString
    val dst = tempDir("graft-sf1feed-dst").toString
    val cum = new Array[Long](nKeys)
    val store = new FileDocumentStoreFactory(src).open()
    for (r <- 0 until nRuns) {
      perRun.getOrElse(r, Array.empty[(Int, Int, Long)])
        .foreach { case (_, k, c) => cum(k) += c }
      store.commitBatch("wc",
        (0 until nKeys).map(k => s"u$k" -> Map("count" -> cum(k) / 100)))
    }
    store.close()
    val totalEntries = nRuns.toLong * nKeys

    // --- replication: the REAL FeedReplicate job (ordered, 1
    // entry/trigger), then convergence + last-write-wins order evidence
    FeedReplicate.replicate(spark, src, dst)
    val (sSum, dSum) = (FeedReplicate.summary(spark, src),
      FeedReplicate.summary(spark, dst))
    assert(sSum == dSum && sSum("wc")._1 == nKeys.toLong,
      s"src=$sSum dst=$dSum")
    val dstDocs = new FileDocumentStoreFactory(dst).readAll("wc")
    assert(dstDocs.size == nKeys)
    (0 until nKeys).foreach { k =>
      assert(dstDocs(s"u$k")("count") == cum(k) / 100,
        s"u$k: stale value ${dstDocs(s"u$k")("count")} vs ${cum(k) / 100}" +
          " — an out-of-order replay stranded an old write")
    }

    // --- CDC compaction at volume: 25k feed rows through
    // flatMapGroupsWithState; state holds exactly the live keys
    val ckpt = tempDir("graft-sf1feed-ckpt").toString
    val emitted = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, Long)]
    val samples = runSampled("sf1_compact", () =>
      StreamingJobs.effectiveChangesStream(
        spark.readStream.format("graft.sources.DocStoreDataSource")
          .option("path", src).option("maxEntriesPerTrigger", "1").load())
        .writeStream.outputMode("append").queryName("sf1_compact")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = batch.as[(String, String, Long)].collect()
          emitted.synchronized {
            emitted ++= rows.map(r => (id, r._1, r._2, r._3)) }
          ()
        }.start(), minRows = totalEntries)
    val totalInput = samples.map(_._1).sum
    val peakState = samples.map(_._2).max
    info(s"compaction: $totalInput feed rows in, " +
      s"${emitted.size} effective out, peak state $peakState rows")
    assert(totalInput >= totalEntries, s"ingested only $totalInput")
    assert(peakState == nKeys.toLong,
      s"state must be the live-key count, got $peakState")
    // compaction is REAL at volume: a meaningful share of the re-write
    // traffic was suppressed as no-ops
    assert(emitted.size < totalEntries * 3 / 4,
      s"only ${totalEntries - emitted.size} no-ops suppressed")
    // stream == batch twin per key and in order, at volume
    val latest = DocStoreChangelog.latestComplete(src)
    val entryRows = DocStoreChangelog.entries(src, -1, latest).zipWithIndex
      .map { case ((c, id, v), i) => (i.toLong, c, id, v) }
    assert(entryRows.size.toLong == totalEntries)
    val batchOut = StreamingJobs.effectiveChangesBatch(
      entryRows.toDF("seq", "collection", "doc_id", "count"))
      .as[(Long, String, String, Long)].collect()
    def perKey(rows: Seq[(Long, String, String, Long)]) = rows
      .groupBy(r => (r._2, r._3))
      .map { case (k, v) => k -> v.sortBy(_._1).map(_._4).toList }
    assert(perKey(emitted.toSeq) == perKey(batchOut.toSeq))
  }
}
