package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.WordCount
import graft.sink.{DocSink, FileDocumentStoreFactory}
import graft.streaming.StreamingJobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The reference pipeline: corpus text -> `WordCount.countWords` ->
  * `DocSink.writeBatched(batchSize 500)` into a fresh file store, then the
  * collection read back through the `DocStoreDataSource` reader.
  *
  * `stream` runs the same through `StreamingJobs.wordCountToStore`, one
  * chunk file per trigger, until `processAllAvailable`. */
class Pipeline(spark: SparkSession, listener: EngineListener, rundir: String,
    input: String, stream: Boolean, inject: Option[String])
  extends Workload with AdaptiveSparkPlanHelper {
  import Harness._

  private def root(i: Int) = s"$rundir/store/r$i"
  private def checkpoint(i: Int) = s"$rundir/ckpt/r$i"

  // state of the current repetition, read by inspect()
  private var factory: CountingFactory = _
  private var counts: DataFrame = _
  private var progress: Seq[StreamingQueryProgress] = Nil
  private var readback: (Long, Long, Long) = _
  private var scanPartitions = 0
  private var ids = Map.empty[String, Int] // span name -> id
  private var repSpan = 0

  override def stage(): Unit =
    require(new File(input).exists(), s"input $input is missing")

  def timed(i: Int, tr: Tracer): Map[String, Any] = {
    factory = CountingFactory(spark.sparkContext,
      new FileDocumentStoreFactory(root(i)), timed = tr.enabled)
    counts = null
    ids = Map.empty
    def span[T](name: String, layer: String)(body: => T): T =
      tr(name, layer) { ids += name -> tr.current; body }
    var readS = 0.0
    span("rep", "harness") {
      repSpan = tr.current
      if (stream) span("streaming.wordCountToStore", "streaming") {
        val lines = spark.readStream.option("maxFilesPerTrigger", "1")
          .text(input).toDF("text")
        val q = StreamingJobs.wordCountToStore(spark, lines, factory,
          Collection, BatchSize, Some(checkpoint(i)))
        try q.processAllAvailable() finally q.stop()
        progress = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      } else if (tr.enabled) {
        // traced only: materialize the counts at the countWords boundary so
        // core and sink get separate spans (the extra pass is trace overhead)
        counts = span("core.countWords", "core") {
          WordCount.countWords(spark.read.textFile(input).toDF("value"))
            .localCheckpoint(eager = true)
        }
        span("sink.writeBatched", "sink") {
          DocSink.writeBatched(counts, factory, Collection, BatchSize)
        }
      } else {
        DocSink.writeBatched(
          WordCount.countWords(spark.read.textFile(input).toDF("value")),
          factory, Collection, BatchSize)
      }
      if (inject.contains("delete_doc")) {
        val docs = new File(root(i), Collection).listFiles().map(_.getPath).sorted
        Files.delete(Paths.get(docs.find(_.endsWith(".json")).get))
      }
      val t0 = System.nanoTime()
      readback = span("sources.read", "sources")(readBack(root(i)))
      readS = (System.nanoTime() - t0) / 1e9
    }
    val res = Map[String, Any]("read_s" -> readS)
    if (stream) res + ("triggers" -> progress.size) else res
  }

  /** Read the whole collection back and fingerprint it: rows, the sum of
    * the counts, and the sum of crc32("<doc_id>:<count>"). */
  private def readBack(r: String): (Long, Long, Long) = {
    val df = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", r).load()
    val agg = df.agg(count(lit(1)), coalesce(sum(col("count")), lit(0L)),
      coalesce(sum(crc32(concat(col("doc_id"), lit(":"),
        col("count").cast("string")).cast("binary"))), lit(0L)))
    val row = agg.collect()(0)
    scanPartitions = collect(agg.queryExecution.executedPlan) {
      case b: BatchScanExec => b.inputPartitions.size
    }.sum
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  def inspect(i: Int, tr: Tracer, work: Work): Map[String, Any] = {
    val store = walk(root(i))
    val base = Map[String, Any](
      "docs" -> factory.docs.value.longValue,
      "commits" -> factory.commits.value.longValue,
      "readback" -> Seq(readback._1, readback._2, readback._3),
      "store" -> store)
    if (!tr.enabled) base else base + ("layer" -> layer(i, tr, work, store))
  }

  override def cleanup(i: Int): Unit = {
    if (counts != null) counts.unpersist()
    deleteTree(Paths.get(root(i)))
    deleteTree(Paths.get(checkpoint(i)))
  }

  /** Files the store holds: documents, change-feed entries, and every inode
    * (markers and directories included). */
  private def walk(r: String): Map[String, Long] = {
    var docFiles, docBytes, feedEntries, feedBytes, inodes = 0L
    val s = Files.walk(Paths.get(r))
    try s.iterator().asScala.foreach { p =>
      inodes += 1
      val name = p.getFileName.toString
      val parent = p.getParent.getFileName.toString
      if (Files.isRegularFile(p) && name.endsWith(".json") && !name.startsWith(".")) {
        if (parent == Collection) { docFiles += 1; docBytes += Files.size(p) }
        else if (parent == "_changelog") { feedEntries += 1; feedBytes += Files.size(p) }
      }
    } finally s.close()
    Map("store.doc_files" -> docFiles, "store.doc_bytes" -> docBytes,
      "store.feed_entries" -> feedEntries, "store.feed_bytes" -> feedBytes,
      "store.inodes" -> inodes)
  }

  /** Share of written documents whose value changed: replay the change
    * feed in sequence order, comparing each doc with its previous value. */
  private def changedRatio(r: String): Double = {
    val entries = Option(new File(r, "_changelog").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    val last = mutable.HashMap[String, String]()
    var written, changed = 0L
    entries.foreach { f =>
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty).foreach { line =>
          val id = line.substring(line.indexOf("\"doc_id\": \"") + 11, line.lastIndexOf("\", \"count\""))
          val v = line.substring(line.lastIndexOf(' ') + 1, line.length - 1)
          written += 1
          if (!last.get(id).contains(v)) changed += 1
          last(id) = v
        }
    }
    if (written == 0) 0.0 else changed.toDouble / written
  }

  private def layer(i: Int, tr: Tracer, work: Work,
      store: Map[String, Long]): Map[String, Any] = {
    def group(name: String): Work =
      ids.get(name).map(id => listener.group(tr.groupOf(id))).getOrElse(Work())
    def dur(name: String): Double =
      ids.get(name).flatMap(id => tr.spans.find(_.id == id)).map(_.seconds).getOrElse(0.0)

    // streaming: one span per trigger from its progress report, with the
    // foreachBatch call (the sink write) as its child. The sink's job also
    // computes the counts: its map stage (shuffle written, none read) is the
    // aggregation's map side, recorded as a core span under the sink span.
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val sinkSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
    var coreS = dur("core.countWords")
    if (stream) progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val startMs = Instant.parse(p.timestamp).toEpochMilli
      val endMs = startMs + d("triggerExecution")
      val trig = tr.add(ids("streaming.wordCountToStore"), s"trigger ${p.batchId}",
        "streaming", startMs * 1000000L + offsetNs, endMs * 1000000L + offsetNs,
        nested = true)
      val sinkEndMs = endMs - d.getOrElse("commitOffsets", 0L)
      val sinkStartMs = sinkEndMs - d("addBatch")
      val sink = tr.add(trig, "sink.writeBatched", "sink", sinkStartMs * 1000000L + offsetNs,
        sinkEndMs * 1000000L + offsetNs, nested = true)
      sinkSpans += ((sink, sinkStartMs * 1000000L + offsetNs, sinkEndMs * 1000000L + offsetNs))
      listener.stages.filter(st => st.shuffleWrite > 0 && st.shuffleRead == 0 &&
        st.endMs > sinkStartMs && st.startMs < sinkEndMs).foreach { st =>
        // progress durations are whole milliseconds: clamp to the sink span
        val t0 = math.max(st.startMs, sinkStartMs)
        val t1 = math.min(st.endMs, sinkEndMs)
        tr.add(sink, "core.countWords (map stage)", "core", t0 * 1000000L + offsetNs,
          t1 * 1000000L + offsetNs, nested = true)
        coreS += (t1 - t0) / 1e3
      }
    }
    else ids.get("sink.writeBatched").foreach { id =>
      val s = tr.spans.find(_.id == id).get
      sinkSpans += ((id, s.startNs, s.endNs))
    }
    val commitsNs = factory.commitIntervals.sortBy(_._1)
    commitsNs.foreach { case (t0, t1) =>
      val parent = sinkSpans.find(s => t0 >= s._2 && t0 <= s._3).map(_._1)
        .getOrElse(sinkSpans.headOption.map(_._1).getOrElse(repSpan))
      tr.add(parent, "store.commitBatchKeyed", "sink", t0, t1, nested = false)
    }

    val lat = commitsNs.map { case (t0, t1) => (t1 - t0) / 1e6 }.sorted
    def pct(p: Double): Double =
      if (lat.isEmpty) 0.0 else lat(math.min(lat.size - 1, math.ceil(p / 100 * lat.size).toInt - 1).max(0))
    // the tail: the highest percentile with at least ten flushes beyond it
    val tailPct = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => lat.size * (1 - p / 100) >= 10).getOrElse(50.0)

    val docs = factory.docs.value.longValue
    val commits = factory.commits.value.longValue
    val (tokens, distinct) =
      if (counts != null) {
        val r = counts.agg(coalesce(sum("cnt"), lit(0L)), count(lit(1))).collect()(0)
        (r.getLong(0), r.getLong(1))
      } else (readback._2, readback._1)
    val inputBytes = {
      val f = new File(input)
      if (f.isDirectory) f.listFiles().map(_.length).sum else f.length
    }
    def p50(key: String): Double =
      median(progress.map(_.durationMs.asScala.get(key).map(_.toDouble).getOrElse(0.0)))
    val state = progress.lastOption.flatMap(_.stateOperators.headOption)
    val core = group("core.countWords")
    val selfS = tr.selfSeconds(repSpan)
    val repWall = dur("rep")

    Map[String, Any](
      "core.tokens" -> tokens,
      "core.distinct_words" -> distinct,
      "core.input_bytes" -> inputBytes,
      "core.count_s" -> coreS,
      // the stream's aggregation runs inside the sink's trigger jobs, which
      // carry the stream's own job group: its shuffle is what the rep wrote
      // besides the read-back
      "core.shuffle_bytes" ->
        (if (stream) work.shuffleWrite - group("sources.read").shuffleWrite else core.shuffleWrite),
      "sink.commits" -> commits,
      "sink.docs" -> docs,
      "sink.docs_per_commit" -> (if (commits == 0) 0.0 else docs.toDouble / commits),
      "sink.write_s" -> sinkSpans.map(s => (s._3 - s._2) / 1e9).sum,
      "sink.commit_busy_s" -> factory.busyNs.value / 1e9,
      "sink.commit_p50_ms" -> pct(50),
      "sink.commit_tail_ms" -> pct(tailPct),
      "sink.commit_tail_pct" -> tailPct,
      "sink.changed_doc_ratio" -> changedRatio(root(i)),
      "sources.scan_s" -> dur("sources.read"),
      "sources.partitions" -> scanPartitions,
      "sources.rows" -> readback._1,
      "sources.cpu_s" -> group("sources.read").cpuNs / 1e9,
      "streaming.triggers" -> progress.size,
      "streaming.trigger_p50_ms" -> p50("triggerExecution"),
      "streaming.trigger_max_ms" -> progress.map(_.durationMs.get("triggerExecution").doubleValue).maxOption.getOrElse(0.0),
      "streaming.add_batch_p50_ms" -> p50("addBatch"),
      "streaming.planning_p50_ms" -> p50("queryPlanning"),
      "streaming.wal_commit_p50_ms" -> p50("walCommit"),
      "streaming.state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
      "streaming.state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
      "streaming.docs_per_trigger" -> (if (progress.isEmpty) 0.0 else docs.toDouble / progress.size),
      "self.core_s" -> selfS.getOrElse("core", 0.0),
      "self.sink_s" -> selfS.getOrElse("sink", 0.0),
      "self.sources_s" -> selfS.getOrElse("sources", 0.0),
      "self.streaming_s" -> selfS.getOrElse("streaming", 0.0),
      "self.queries_s" -> 0.0,
      "self.harness_s" -> selfS.getOrElse("harness", 0.0),
      "trace.work_s" -> repWall,
      "trace.spans" -> tr.spans.size
    ) ++ store ++ engine(work)
  }
}
