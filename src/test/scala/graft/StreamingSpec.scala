package graft

import graft.sink.InMemoryDocumentStore
import graft.streaming.StreamingJobs
import graft.core.WordCount
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming surface: replayed fixture parquet must converge to the same
  * results as the equivalent batch queries. */
class StreamingSpec extends SparkSpec {

  // Rate-limited file replay of the events fixture (SURVEY §7.4): the
  // parquet table split into four time-ordered chunk files plus two
  // far-future sentinel chunks, replayed ONE FILE PER MICRO-BATCH from
  // disk — the full source-to-state path a production replay would use,
  // with no MemoryStream anywhere.
  private lazy val replayDir: String = {
    val dir = tempDir("graft-replay").toString
    StreamingJobs.writeReplayChunks(spark, sf0001, dir, chunks = 4)
    dir
  }

  test("writeReplayChunks leaves only its chunks behind") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def staging() = Option(tmp.toFile.list()).toSeq.flatten
      .filter(_.startsWith("graft-replay-chunk")).toSet
    val before = staging()
    val dir = tempDir("graft-replay-clean").toString
    StreamingJobs.writeReplayChunks(spark, sf0001, dir, chunks = 2)
    assert(staging() == before)
    // 2 chunks of events + 2 sentinel chunks, one parquet file each
    assert(new java.io.File(dir).list().sorted.toSeq ==
      (0 until 4).map(i => f"chunk_$i%03d.parquet"))
  }

  test("file-replayed events through the sessionizer == batch q60 exactly") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.{ClosedSession, SessEvent}
    val stream = StreamingJobs.eventsReplayStream(spark, replayDir)
      .select(col("user_id"), col("ts")).as[SessEvent]
    val q = StatefulOps.sessionizeStream(stream, gapMin = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("replay_sess").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("replay_sess").as[ClosedSession].collect()
      .filter(_.user_id >= 0)
      .map(c => (c.user_id, c.start_us, c.end_us, c.n_events)).toSet
    val batch = SparkEntry.queries("q60_sessionize")(spark, sf0001)
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${streamed.diff(batch).take(3)} " +
        s"onlyBatch=${batch.diff(streamed).take(3)}")
  }

  test("file-replayed events through the funnel == batch q58 step counts") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.{StepReached, TypedEvent}
    val stream = StreamingJobs.eventsReplayStream(spark, replayDir)
      .filter(col("user_id") >= 0) // sentinel chunks are not funnel input
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type")).as[TypedEvent]
    val q = StatefulOps.funnelProgress(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("replay_funnel").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("replay_funnel").as[StepReached].collect()
      .groupBy(_.step).view.mapValues(_.length.toLong).toMap
    val batchCounts = SparkEntry.queries("q58_funnel_steps")(spark, sf0001)
      .as[(Int, Long)].collect().toMap
    assert(streamed == batchCounts,
      s"streamed=$streamed batch=$batchCounts")
  }

  test("stream-stream attribution join on replay == batch q71 exactly") {
    import spark.implicits._
    val stream = StreamingJobs.eventsReplayStream(spark, replayDir)
    val q = StreamingJobs.attributionStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("replay_attrib").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("replay_attrib")
      .filter(col("user_id") >= 0)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q71_attribution")(spark, sf0001)
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("lag_us"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture produced no attribution pairs")
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${streamed.diff(batch).take(3)} " +
        s"onlyBatch=${batch.diff(streamed).take(3)}")
  }

  test("stream-static PIT lookup on replay == batch q72 exactly") {
    import spark.implicits._
    val dim = graft.queries.ExtraRelationalQueries
      .scd2PitDim(Tables.events(spark, sf0001))
    val stream = StreamingJobs.eventsReplayStream(spark, replayDir)
    val q = StreamingJobs.pitServe(stream, dim)
      .writeStream.outputMode("append").format("memory")
      .queryName("replay_pit").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("replay_pit")
      .filter(col("user_id") >= 0)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q72_pit_join")(spark, sf0001)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture produced no PIT matches")
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${streamed.diff(batch).take(3)} " +
        s"onlyBatch=${batch.diff(streamed).take(3)}")
  }

  test("attribution join state is bounded by the watermark horizon, not input size") {
    // The scale property that justifies the streaming twin: as event
    // time advances, click/purchase state older than the 30-min window
    // + 30-min watermark is evicted, so state tracks the HORIZON while
    // cumulative input grows without bound. Feed 12 hourly-advancing
    // micro-batches of equal size and assert late-run state stays flat
    // (vs the ~12× growth an unbounded join would show).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String)]
    val events = stream.toDS()
      .toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
        col("user_id"), col("event_type"))
    val q = StreamingJobs.attributionStream(events)
      .writeStream.outputMode("append").format("memory")
      .queryName("attrib_state").start()
    val hourUs = 3600000000L
    val perBatch = 50
    def stateRows(): Long = {
      val p = q.lastProgress
      if (p == null) 0L else p.stateOperators.map(_.numRowsTotal).sum
    }
    val observed = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      (0 until 12).foreach { h =>
        val base = h.toLong * hourUs
        val rows = (0 until perBatch).flatMap { i =>
          val uid = (i % 10).toLong
          Seq((h * 1000L + i * 2, base + i * 1000000L, uid, "click"),
            (h * 1000L + i * 2 + 1, base + i * 1000000L + 60000000L,
              uid, "purchase"))
        }
        stream.addData(rows)
        q.processAllAvailable()
        observed += stateRows()
      }
    } finally q.stop()
    // matches were produced (the join is live)
    assert(spark.table("attrib_state").count() > 0)
    // once eviction starts, state must plateau: the max over the last 4
    // batches stays within 2x the max over batches 3-6, where an
    // unbounded join would have grown ~3x between those windows
    val early = observed.slice(3, 7).max
    val late = observed.takeRight(4).max
    assert(late <= early * 2,
      s"state grew: early=$early late=$late all=$observed")
    // and absolute sanity: far below cumulative input (12 batches x 100)
    assert(late < 12L * perBatch * 2 / 2,
      s"state ~ input size: $late all=$observed")
  }

  test("checkpoint recovery: sessionizer restarted mid-replay == batch q60, no re-emission") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.{ClosedSession, SessEvent}
    // stage the full chunk set elsewhere, then reveal it in two phases
    // around a full query stop/restart — state (open sessions, watermark,
    // seen files) must survive via the checkpoint alone
    val staging = tempDir("graft-ckpt-staging").toString
    StreamingJobs.writeReplayChunks(spark, sf0001, staging, chunks = 4)
    val live = tempDir("graft-ckpt-live").toString
    val ckpt = tempDir("graft-ckpt-state").toString
    val chunkFiles = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def reveal(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(live, f.getName).toPath)
    }
    val outDir = tempDir("graft-ckpt-out").toString
    // memory sink refuses checkpoint recovery; the parquet file sink is
    // the fault-tolerant one (exactly-once via its _spark_metadata log)
    def startQuery() = StatefulOps.sessionizeStream(
        StreamingJobs.eventsReplayStream(spark, live)
          .select(col("user_id"), col("ts")).as[SessEvent], gapMin = 30)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    def emitted(): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(outDir).as[ClosedSession]
        .collect().filter(_.user_id >= 0)
        .map(c => (c.user_id, c.start_us, c.end_us, c.n_events)).toSeq
    reveal(chunkFiles.take(2))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val phase1 = emitted()
    // remainder + the two flush sentinels arrive while the query is DOWN
    reveal(chunkFiles.drop(2))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val all = emitted()
    val batch = SparkEntry.queries("q60_sessionize")(spark, sf0001)
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // the restart genuinely CONTINUED: some sessions were already out
    // before the stop, and no session was emitted twice after it
    assert(phase1.nonEmpty && phase1.size < batch.size)
    assert(all.distinct.size == all.size,
      s"re-emitted across restart: ${all.diff(all.distinct).take(3)}")
    // and the final content is exactly the batch answer
    assert(all.toSet == batch,
      s"emitted=${all.size} batch=${batch.size} " +
        s"missing=${batch.diff(all.toSet).take(3)} " +
        s"extra=${all.toSet.diff(batch).take(3)}")
  }

  test("streaming tumbling window counts match batch window()") {
    val stream = StreamingJobs.eventsStream(spark, sf0001)
    val q = StreamingJobs.windowedEventCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n").collect().toSet
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .collect().toSet
    // append mode emits only watermark-finalized windows; with a single
    // replayed batch the last window(s) may be withheld — everything
    // emitted must match batch exactly, and coverage must be substantial.
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"streamed results not a subset of batch: ${streamed.diff(batch).take(3)}")
    assert(streamed.size >= batch.size / 2)
    // EXACT agreement on the finalized region: the only rows batch has
    // and the stream withheld must be windows the 10-minute watermark
    // could not finalize — i.e. windows whose END is past
    // max(event ts) − 10 min. Anything older that went missing would be
    // a real divergence, not append-mode semantics.
    val maxTs = Tables.events(spark, sf0001)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val horizonUs = maxTs - 10L * 60 * 1000000
    val badlyMissing = batch.diff(streamed).filter { r =>
      val endUs = r.getTimestamp(0).getTime * 1000 + 3600L * 1000000
      endUs <= horizonUs
    }
    assert(badlyMissing.isEmpty,
      s"finalized windows missing from the stream: ${badlyMissing.take(3)}")
  }

  test("streaming word count converges to batch counts in the doc store") {
    val name = "stream-wc"
    InMemoryDocumentStore.clear(name)
    // stream the documents table's text column via file source
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val textStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf0001)
    val q = StreamingJobs.wordCountToStore(
      spark, textStream, InMemoryDocumentStore.factory(name), "wc", 100)
    try { q.processAllAvailable() } finally q.stop()
    val expected = WordCount
      .countWords(Tables.documents(spark, sf0001), "text")
      .collect().map(r => r.getString(0) -> Map("count" -> r.getLong(1))).toMap
    val got = InMemoryDocumentStore.storeFor(name).toMap
      .map { case ((_, id), fields) => id -> fields }
    assert(got == expected)
  }

  test("streaming word count: a re-executed micro-batch republishes no feed entries") {
    import graft.sink.{DocStoreChangelog, FileDocumentStoreFactory}
    // Crash-recovery shape: batch 0 runs fully (docs durable, feed
    // published) but the driver dies BEFORE writing the epoch commit —
    // modeled by deleting ckpt/commits/0. On restart Spark re-executes
    // batch 0 with the SAME batchId and data; the checkpoint-stable sink
    // key + per-flush content hash must find the markers and republish
    // NOTHING (pre-fix: a per-invocation UUID key replayed the whole
    // feed, double-counting every doc for downstream CDC consumers).
    val in = tempDir("graft-wcs-in")
    java.nio.file.Files.write(in.resolve("a.txt"),
      "hi there\nhi\nhi sue bob\nhi sue\nbob hi\n".getBytes)
    val root = tempDir("graft-wcs-store").toString
    val ckpt = tempDir("graft-wcs-ckpt").toString
    val factory = new FileDocumentStoreFactory(root)
    def run(): Unit = {
      val textStream = spark.readStream.text(in.toString).toDF("text")
      val q = StreamingJobs.wordCountToStore(
        spark, textStream, factory, "wc", 500, checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val entries1 = DocStoreChangelog.latestComplete(root)
    assert(entries1 >= 0L, "first run published nothing")
    // drop the epoch commit: batch 0 is now un-committed and will
    // re-execute from the retained offsets on restart
    val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(commit0),
      s"expected epoch commit at $commit0")
    // the local-FS checksum shadow too, or the re-commit's rename hits
    // a stale .0.crc and the restarted query dies
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    run()
    assert(DocStoreChangelog.latestComplete(root) == entries1,
      "re-executed epoch replayed feed entries")
    // and the store itself converged to the batch counts
    assert(factory.readAll("wc") == Map(
      "hi" -> Map("count" -> 5L), "there" -> Map("count" -> 1L),
      "sue" -> Map("count" -> 2L), "bob" -> Map("count" -> 2L)))
  }

  test("streaming decontamination == batch decontam_overlap on a full replay") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // bench side: bounded model state, same derivation as the batch op
    import graft.functions.TextFunctions.shingles
    val bench = Tables.documents(spark, sf0001)
      .filter(col("source") === "src0")
      .select(explode(shingles(col("text"), 3)).as("s"))
      .distinct().as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSeq
    val docStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf0001)
      .filter(col("source") =!= "src0")
    val q = StreamingJobs.decontamStream(docStream, bench)
      .writeStream.outputMode("append").format("memory")
      .queryName("decontam_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("decontam_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = graft.queries.PipelineQueries
      .queries("decontam_overlap")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("streaming session windows emit subset of batch session_window") {
    val stream = StreamingJobs.eventsStream(spark, sf0001)
    val q = StreamingJobs.sessionCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("sess_out").collect().toSet
    val batch = Tables.events(spark, sf0001)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))
      .collect().toSet
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
  }

  test("late data beyond the watermark is dropped from finalized windows") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val agg = stream.toDS().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("ws"), $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: two on-time rows in [10:00,10:10), plus 10:25 which
      // advances the watermark to 10:15 at batch end
      stream.addData((ts(1), 1L), (ts(4), 1L), (ts(25), 1L))
      q.processAllAvailable()
      // batch 2: a LATE row for the now-closed first window (10:02 <
      // watermark 10:15) and a fresh row to keep the stream moving
      stream.addData((ts(2), 1L), (ts(40), 1L))
      q.processAllAvailable()
    } finally q.stop()
    val byWindow = spark.table("late_out")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    // the finalized first window holds ONLY the two on-time rows — the
    // late 10:02 row was dropped, not merged
    assert(byWindow(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")) == 2L)
  }

  test("streaming dedup drops repeated event_ids across micro-batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = StreamingJobs.dedupStream(
      stream.toDS().toDF("event_id", "ts"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      stream.addData((1L, ts(0)), (2L, ts(1)), (1L, ts(0))) // in-batch dup
      q.processAllAvailable()
      // cross-batch dup + a REDELIVERED id with a different ts (id-only
      // dedup must drop it too)
      stream.addData((2L, ts(1)), (3L, ts(2)), (1L, ts(3)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("watermarked stream-stream join: clicks joined to later errors") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val errors = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val c = clicks.toDS().toDF("c_user", "c_ts")
      .withWatermark("c_ts", "10 minutes")
    val e = errors.toDS().toDF("e_user", "e_ts")
      .withWatermark("e_ts", "10 minutes")
    // join errors to clicks by the same user within the prior 15 minutes
    val joined = e.join(c,
      expr("""e_user = c_user AND
              c_ts <= e_ts AND c_ts >= e_ts - INTERVAL 15 minutes"""))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      clicks.addData((1L, ts(0)), (1L, ts(5)), (2L, ts(1)))
      errors.addData((1L, ts(10)), (2L, ts(30))) // user2 error too late
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj_out")
      .select("e_user", "c_ts").as[(Long, java.sql.Timestamp)]
      .collect().toSet
    // user1 error@10:10 matches clicks at 10:00 and 10:05;
    // user2 error@10:30 is >15min after the 10:01 click -> no match row
    assert(rows == Set((1L, ts(0)), (1L, ts(5))))
  }

  test("ann serving: stream-static join answers equal the batch path on the same queries") {
    import graft.queries.SimilarityQueries
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the SAME projection ivfModel trains on — not a hand-built copy
    val raw = SimilarityQueries.rawVecs(spark, sf0001)
    val cents = SimilarityQueries.ivfModel(spark, sf0001)
    val assigned = SimilarityQueries.assignCells(raw, cents)
    val qs = raw.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("v").as("q_v"))
    // annServe is mode-agnostic: run it once as a plain batch plan for
    // the expected answers, once over a MemoryStream — shared
    // probeCells/topkRanked code must give identical results.
    // excludeSelf: these queries ARE corpus rows (the offline shape).
    val expected = StreamingJobs
      .annServe(qs, assigned, cents, excludeSelf = true)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(expected.nonEmpty && expected.map(_._1) == Set(1L, 2L, 3L))
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val out = StreamingJobs.annServe(
      stream.toDS().toDF("qid", "q_v"), assigned, cents,
      excludeSelf = true)
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("ann_serve").start()
    // two separate micro-batches: the equality must hold across trigger
    // boundaries (heap-state merge between triggers, static side re-read
    // per batch), not just on the degenerate single-batch plan
    val rows = qs.as[(Long, Seq[Double])].collect().toSeq
    try {
      stream.addData(rows.head)
      q.processAllAvailable()
      stream.addData(rows.tail: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ann_serve")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == expected)
    // the DEFAULT (no self-exclusion) branch — the real serving shape
    // where qids are request ids, not corpus ids: a query that happens
    // to carry a corpus vector's id must still receive that vector as a
    // candidate. Query with qid=7 and vec 7's own embedding: the top
    // hit IS vector 7 at cos 1.0 (its own cell is by definition the
    // nearest probe cell). With excludeSelf=true the same id must drop.
    val self = raw.filter(col("vec_id") === 7L)
      .select(col("vec_id").as("qid"), col("v").as("q_v"))
    val served = StreamingJobs.annServe(self, assigned, cents)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(served.head == ((7L, 1, 7L, 1.0)),
      s"default branch must keep the id-colliding candidate: ${served.head}")
    val excl = StreamingJobs
      .annServe(self, assigned, cents, excludeSelf = true)
      .as[(Long, Int, Long, Double)].collect()
    assert(excl.nonEmpty && !excl.exists(_._3 == 7L))
    // and an untrained model is a config error, not an analysis crash
    assertThrows[IllegalArgumentException] {
      StreamingJobs.annServe(self, assigned, Seq.empty)
    }
  }

  test("ann serving at replay scale: state tracks active queries, not corpus size, and coverage holds") {
    // The sf1-scale state-store check (round-9 scale-proofing): serve a
    // stream of queries against a 20,000-vector corpus — the sf1
    // embeddings count — and assert the RocksDB state store holds one
    // row per DISTINCT ACTIVE QUERY, independent of corpus size, and
    // stays FLAT when known qids are re-sent. The corpus comes straight
    // from GenData's pure per-id generator, so no files are involved and
    // the corpus is exactly what `GenData <dir> 1.0` writes at sf1.
    import graft.queries.SimilarityQueries
    import graft.tools.GenData
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nCorpus = 20000
    val nQueries = 200
    val corpus = spark.range(nCorpus.toLong).map { id =>
      (id, GenData.emb(id).embedding.map(_.toDouble).toSeq)
    }.toDF("vec_id", "v")
    // deterministic 16-cell coarse quantizer (same recipe as sim_ann_*);
    // trained on the fixture — serving-state shape does not depend on
    // quantizer quality, only on the cell partition being total
    val cents = SimilarityQueries.ivfModel(spark, sf0001)
    val assigned = SimilarityQueries.assignCells(corpus, cents)
    // request ids are NOT corpus ids (the real serving shape): fresh id
    // space, vectors from the generator stream beyond the corpus range
    val queries = (0 until nQueries).map { i =>
      (1000000L + i,
        GenData.emb(500000L + i).embedding.map(_.toDouble).toSeq)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val out = StreamingJobs.annServe(
      stream.toDS().toDF("qid", "q_v"), assigned, cents)
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("ann_serve_scale").start()
    def stateRows(): Long = {
      val p = q.lastProgress
      if (p == null) 0L else p.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      // half the queries, then the rest, then a RE-SEND of known qids
      stream.addData(queries.take(nQueries / 2): _*)
      q.processAllAvailable()
      val afterHalf = stateRows()
      stream.addData(queries.drop(nQueries / 2): _*)
      q.processAllAvailable()
      val afterAll = stateRows()
      stream.addData(queries.take(20): _*)
      q.processAllAvailable()
      val afterResend = stateRows()
      assert(afterHalf == nQueries / 2,
        s"state rows $afterHalf != active qids ${nQueries / 2}")
      assert(afterAll == nQueries,
        s"state rows $afterAll != active qids $nQueries")
      assert(afterResend == afterAll,
        s"re-sent known qids grew state: $afterAll -> $afterResend")
      assert(afterAll < nCorpus / 10,
        s"state rows $afterAll scale with the corpus ($nCorpus), " +
          "not the query set")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    // coverage at this density: 20k vectors over 16 cells leave no probe
    // cell empty, so every submitted qid must be served (the starved-cell
    // case is the sibling coverage spec)
    val served = spark.table("ann_serve_scale")
      .select("qid").as[Long].collect().toSet
    assert(served == queries.map(_._1).toSet,
      s"unserved qids at full cell occupancy: " +
        s"${(queries.map(_._1).toSet -- served).take(5)}")
    // and the per-query result is exactly k deep
    val depths = spark.table("ann_serve_scale")
      .groupBy("qid").count().select("count").as[Long].collect().toSet
    assert(depths == Set(10L), s"per-query depths: $depths")
  }

  test("ann serving coverage: a query with empty probed cells is detected sink-side") {
    // annServe's one divergence from the batch path's coverage left-join:
    // a query whose probed cells hold no candidates emits NOTHING (a
    // stream cannot left-join its own input). The documented contract is
    // that callers track served qids in the sink — this spec is that
    // pattern, and it FAILS if the unserved query were silently lost
    // rather than detected.
    import graft.queries.SimilarityQueries
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val raw = SimilarityQueries.rawVecs(spark, sf0001)
    val cents = SimilarityQueries.ivfModel(spark, sf0001)
    val assigned = SimilarityQueries.assignCells(raw, cents)
    // ONE job for every candidate's probe cells and one for cell
    // occupancy (not a filter+collect per id — review-caught), searched
    // locally: the fixture is searched, not assumed (model-determined).
    val probeMap: Map[Long, Set[Int]] = raw
      .filter(col("vec_id").between(1L, 20L))
      .select(col("vec_id"),
        SimilarityQueries.probeCells(col("v"), cents, 4).as("p"))
      .as[(Long, Seq[Int])].collect().toMap.view.mapValues(_.toSet).toMap
    val cellPop: Map[Int, Set[Long]] = assigned
      .select(col("cell"), col("vec_id")).as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // starve query X: serve against an index missing ALL of X's probe
    // cells (an index shard outage / a cold cell — the at-scale event
    // this pattern exists for). Y must probe a surviving cell that
    // still holds a NON-SELF candidate (excludeSelf=true drops Y's own
    // row, and a k-means cell can be empty), else Y would emit nothing
    // too and the detection assertion could not tell the two apart.
    val xid = 1L
    val xCells = probeMap(xid)
    val yid = (2L to 20L).find { id =>
      (probeMap(id) -- xCells).exists(c =>
        (cellPop.getOrElse(c, Set.empty[Long]) - id).nonEmpty)
    }.getOrElse(fail(s"fixture degenerate: every probe set within $xCells"))
    val gapped = assigned.filter(!col("cell").isin(xCells.toSeq: _*))
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val out = StreamingJobs.annServe(
      stream.toDS().toDF("qid", "q_v"), gapped, cents, excludeSelf = true)
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("ann_serve_cov").start()
    val rows = raw.filter(col("vec_id").isin(xid, yid))
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect()
    try {
      stream.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // sink-side served-qid tracking: submitted minus served = unserved.
    // In production this runs per micro-batch in foreachBatch against
    // the batch's input qids; the memory sink is that same ledger.
    val served = spark.table("ann_serve_cov")
      .select("qid").as[Long].collect().toSet
    val unserved = Set(xid, yid) -- served
    assert(served == Set(yid),
      s"starved query leaked results or victim unserved: served=$served")
    assert(unserved == Set(xid),
      s"sink-side tracking failed to detect the starved query: $unserved")
  }
}
