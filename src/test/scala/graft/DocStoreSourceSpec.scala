package graft

import graft.core.WordCount
import graft.sink.{DocSink, FileDocumentStoreFactory}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** DSv2 connector round-trip: counts written through the batched sink
  * read back as a table and match the original DataFrame. */
class DocStoreSourceSpec extends SparkSpec {
  import spark.implicits._

  test("sink -> DSv2 source round-trip equals the original counts") {
    val root = tempDir("graft-dsv2").toString
    val counts = WordCount.countWords(Tables.documents(spark, sf0001), "text")
    DocSink.writeBatched(counts, new FileDocumentStoreFactory(root), "wc", 10)
    val back = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
    assert(back.schema.fieldNames.toSeq == Seq("collection", "doc_id", "count"))
    val got = back.filter($"collection" === "wc")
      .select($"doc_id", $"count").as[(String, Long)].collect().toMap
    val expected = counts.as[(String, Long)].collect().toMap
    assert(got == expected)
  }

  test("DSv2 pushdown: collection equality prunes directories, pruned columns skip work") {
    val root = tempDir("graft-dsv2p").toString
    for (c <- Seq("alpha", "beta", "gamma")) {
      val store = new FileDocumentStoreFactory(root).open()
      store.commitBatch(c, Seq("d1" -> Map("count" -> 1L),
        "d2" -> Map("count" -> 2L)))
      store.close()
    }
    // builder-level: pushFilters consumes the collection predicate fully
    // and planInputPartitions plans ONE directory, not three
    import org.apache.spark.sql.sources.{EqualTo, In}
    val b = new graft.sources.DocStoreScanBuilder(root)
    val residual = b.pushFilters(Array(EqualTo("collection", "beta")))
    assert(residual.isEmpty, "exact directory prune must leave no residual")
    assert(b.pushedFilters().toSeq == Seq(EqualTo("collection", "beta")))
    assert(b.planInputPartitions().length == 1)
    val b2 = new graft.sources.DocStoreScanBuilder(root)
    b2.pushFilters(Array(In("collection", Array("alpha", "gamma"))))
    assert(b2.planInputPartitions().length == 2)
    // end-to-end through the session: results correct under pushdown +
    // column pruning together
    val df = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
    val got = df.filter($"collection" === "beta").select("doc_id", "count")
      .as[(String, Long)].collect().toSet
    assert(got == Set("d1" -> 1L, "d2" -> 2L))
    assert(df.select("count").as[Long].collect().sorted.toSeq ==
      Seq(1L, 1L, 1L, 2L, 2L, 2L))
  }

  test("DSv2 doc_id pushdown: point lookups probe files, never list or parse the collection") {
    val root = tempDir("graft-dsv2id").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("c", Seq("d1" -> Map("count" -> 1L),
      "d2" -> Map("count" -> 2L), "d3" -> Map("count" -> 3L)))
    store.commitBatch("other", Seq("d1" -> Map("count" -> 9L)))
    store.close()
    import org.apache.spark.sql.sources.{EqualTo, Filter, In}
    // builder-level: doc_id equality/IN are consumed exactly
    val b = new graft.sources.DocStoreScanBuilder(root)
    val residual = b.pushFilters(Array[Filter](
      EqualTo("collection", "c"), EqualTo("doc_id", "d2")))
    assert(residual.isEmpty, "exact file probe must leave no residual")
    assert(b.pushedFilters().length == 2)
    // conjuncts on doc_id INTERSECT (accepted filters are never
    // re-evaluated by Spark — a union would leak rows)
    val b2 = new graft.sources.DocStoreScanBuilder(root)
    b2.pushFilters(Array[Filter](
      In("doc_id", Array("d1", "d2")), EqualTo("doc_id", "d2")))
    // end-to-end: point lookup returns exactly the requested doc
    val df = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
    assert(df.filter($"collection" === "c" && $"doc_id" === "d2")
      .select($"count").as[Long].collect().toSeq == Seq(2L))
    // a MISSING id yields zero rows (the probe carries the predicate's
    // semantics — nothing re-filters after the scan)
    assert(df.filter($"collection" === "c" && $"doc_id" === "nope")
      .count() == 0L)
    // IN over collections: the probe repeats per admitted collection
    assert(df.filter($"doc_id" === "d1").select($"collection", $"count")
      .as[(String, Long)].collect().toSet == Set("c" -> 1L, "other" -> 9L))
    // intersecting doc_id conjuncts end-to-end
    assert(df.filter($"doc_id".isin("d1", "d2") && $"doc_id" === "d2")
      .select($"doc_id").as[String].collect().toSeq == Seq("d2", "d2").distinct)
    // proof the point path parses ONLY the probed file: corrupt d3's
    // body — a full-collection scan now throws, the point lookup doesn't
    Files.write(java.nio.file.Paths.get(root, "c", "d3.json"),
      "NOT JSON".getBytes)
    assert(df.filter($"collection" === "c" && $"doc_id" === "d1")
      .select($"count").as[Long].collect().toSeq == Seq(1L))
    intercept[Throwable] {
      df.filter($"collection" === "c").select($"count").as[Long].collect()
    }
    // and an id-only point SELECT reads no body either (existence probe)
    assert(df.filter($"collection" === "c" && $"doc_id" === "d3")
      .select($"doc_id").as[String].collect().toSeq == Seq("d3"))
  }

  test("DSv2 pushdown is plan-visible: consumed predicates leave no post-scan Filter") {
    // the scan CONSUMES collection/doc_id equality (empty residual), so
    // the physical plan must carry no FilterExec above it — if a future
    // change made the prune partial, Spark would silently re-add the
    // filter and the O(requested ids) claim would quietly stop holding
    val root = tempDir("graft-planshape").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("c", Seq("d1" -> Map("count" -> 1L)))
    store.close()
    val df = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
    def hasPostScanFilter(q: org.apache.spark.sql.DataFrame): Boolean =
      q.queryExecution.executedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.FilterExec])
    assert(!hasPostScanFilter(
      df.filter($"collection" === "c" && $"doc_id" === "d1")),
      "consumed pushdown predicates re-appeared as a FilterExec")
    // a predicate the scan can NOT consume (count) must stay a Filter
    assert(hasPostScanFilter(df.filter($"count" > 0)),
      "residual predicate lost — correctness would depend on the scan")
  }

  test("DSv2 intra-collection split: a big collection fans out across id-slice partitions") {
    val root = tempDir("graft-split").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("big",
      (1 to 25).map(i => f"d$i%03d" -> Map("count" -> i.toLong)))
    store.commitBatch("small", Seq("s1" -> Map("count" -> 100L)))
    store.close()
    // builder-level: 25 docs at maxDocsPerPartition=10 -> 3 slices for
    // `big`, 1 unsliced partition for `small`; slices are disjoint and
    // complete
    val b = new graft.sources.DocStoreScanBuilder(root,
      maxDocsPerPartition = 10)
    val parts = b.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.DocStorePartition])
    assert(parts.count(_.collection == "big") == 3)
    assert(parts.count(_.collection == "small") == 1)
    val sliced = parts.filter(_.collection == "big").flatMap(_.docIds.get)
    assert(sliced.length == 25 && sliced.toSet.size == 25)
    // end-to-end through the option: results identical to the unsplit scan
    val df = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).option("maxDocsPerPartition", "10").load()
    val got = df.filter($"collection" === "big")
      .select($"doc_id", $"count").as[(String, Long)].collect().toSet
    assert(got == (1 to 25).map(i => f"d$i%03d" -> i.toLong).toSet)
    assert(df.rdd.getNumPartitions == 4)
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.DocStoreDataSource")
        .option("path", root).option("maxDocsPerPartition", "-3").load()
        .collect()
    }
    // all-digits but overflowing Int must hit the same loud message,
    // not a raw NumberFormatException from deep in planning
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.DocStoreDataSource")
        .option("path", root).option("maxDocsPerPartition", "3000000000")
        .load().collect()
    }
    assert(e.getMessage.contains("positive integer"), e.getMessage)
  }

  test("DSv2 runtime filtering: join-time collection/doc_id filters narrow the scan like pushdown") {
    val root = tempDir("graft-rtf").toString
    val store = new FileDocumentStoreFactory(root).open()
    for (c <- Seq("alpha", "beta"))
      store.commitBatch(c, Seq("d1" -> Map("count" -> 1L),
        "d2" -> Map("count" -> 2L)))
    store.close()
    import org.apache.spark.sql.sources.{EqualTo, Filter, In}
    val b = new graft.sources.DocStoreScanBuilder(root)
    val scan = b.build()
      .asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsRuntimeFiltering]
    assert(scan.filterAttributes().map(_.describe()).toSet ==
      Set("collection", "doc_id"))
    // runtime filters arrive post-planning (broadcast join keys);
    // partitions recompute under them exactly like planned pushdown
    scan.filter(Array[Filter](In("collection", Array("beta")),
      EqualTo("doc_id", "d2")))
    val parts = b.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.DocStorePartition])
    assert(parts.length == 1 && parts.head.collection == "beta")
    assert(parts.head.docIds.contains(Seq("d2")))
    // an unsupported runtime shape is ignored (under-pruning is safe —
    // the join re-checks its keys)
    scan.filter(Array[Filter](
      org.apache.spark.sql.sources.GreaterThan("count", 0L)))
    assert(b.planInputPartitions().length == 1)
    // end-to-end sanity: a broadcast join over doc_id stays correct
    // whether or not Spark injects the runtime filter
    val df = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
    val dim = Seq("d2").toDF("doc_id")
    val joined = df.join(broadcast(dim), "doc_id")
      .select($"collection", $"count").as[(String, Long)].collect().toSet
    assert(joined == Set("alpha" -> 2L, "beta" -> 2L))
  }

  test("streaming change feed honors doc_id pushdown (reader-enforced rows filter)") {
    val root = tempDir("graft-feedid").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("c", Seq("a" -> Map("count" -> 1L),
      "b" -> Map("count" -> 2L)))
    store.commitBatch("c", Seq("a" -> Map("count" -> 3L)))
    store.close()
    val out = spark.readStream.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
      .filter($"doc_id" === "a")
      .writeStream.outputMode("append").format("memory")
      .queryName("feed_docid").start()
    try out.processAllAvailable() finally out.stop()
    val rows = spark.table("feed_docid")
      .select($"doc_id", $"count").as[(String, Long)].collect().toSeq
    assert(rows.sorted == Seq("a" -> 1L, "a" -> 3L),
      s"feed rows under doc_id pushdown: $rows")
  }

  test("DSv2 write -> read round-trip; append is idempotent upsert") {
    val root = tempDir("graft-dsv2w").toString
    val counts = WordCount.countWords(Tables.documents(spark, sf0001), "text")
      .select(lit("wc2").as("collection"), col("word").as("doc_id"),
        col("cnt").cast("long").as("count"))
    counts.write.format("graft.sources.DocStoreDataSource")
      .option("path", root).option("maxBatchSize", "7")
      .mode("append").save()
    def readBack() = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
      .select($"doc_id", $"count").as[(String, Long)].collect().toMap
    val expected = counts.select($"doc_id", $"count")
      .as[(String, Long)].collect().toMap
    assert(readBack() == expected)
    // re-writing the same data (task retry / job re-run) converges to the
    // same state — upsert semantics, no duplicates
    counts.write.format("graft.sources.DocStoreDataSource")
      .option("path", root).mode("append").save()
    assert(readBack() == expected)
  }

  test("DSv2 write rejects a wrong schema") {
    val root = tempDir("graft-dsv2x").toString
    val bad = Seq((1, 2)).toDF("a", "b")
    // Spark's DSv2 analyzer checks the declared table schema first
    // (INCOMPATIBLE_DATA_FOR_TABLE); the WriteBuilder's own require is the
    // backstop for by-position writes that dodge the analyzer
    val e = intercept[Exception] {
      bad.write.format("graft.sources.DocStoreDataSource")
        .option("path", root).mode("append").save()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("docstore write expects schema")
      || msg.contains("INCOMPATIBLE_DATA_FOR_TABLE"), e.toString)
  }

  test("streaming foreachBatch writes through the DSv2 connector") {
    // the streaming word count upserting via the DSv2 WRITE path instead
    // of DocSink — complete-mode batches are idempotent upserts, so the
    // store converges to the batch answer through either sink surface
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-dsv2s").toString
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val counts = WordCount.countWords(stream.toDS().toDF("text"), "text")
    val q = counts.writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(lit("wcs").as("collection"), col("word").as("doc_id"),
            col("cnt").cast("long").as("count"))
          .write.format("graft.sources.DocStoreDataSource")
          .option("path", root).mode("append").save()
      }.start()
    try {
      stream.addData("hi there hi")
      q.processAllAvailable()
      stream.addData("hi sue")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
      .select($"doc_id", $"count").as[(String, Long)].collect().toMap
    assert(got == Map("hi" -> 3L, "there" -> 1L, "sue" -> 1L))
  }

  test("streaming sink exactly-once: forced batch failure + checkpoint restart converges") {
    // The exactly-once story for this sink is idempotent upsert + replay:
    // a batch that fails AFTER its store write (the worst case — data is
    // already in the store but the epoch never committed) is replayed in
    // full on restart, and the store must converge to the same state a
    // clean run produces. This test fails if the sink ever double-applies
    // (duplicate doc rows) or diverges (wrong counts after replay).
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-dsv2eo").toString
    val ckpt = tempDir("graft-dsv2eo-ckpt").toString
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val counts = WordCount.countWords(stream.toDS().toDF("text"), "text")
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def writeBatch(batch: org.apache.spark.sql.DataFrame): Unit =
      batch.select(lit("wceo").as("collection"), col("word").as("doc_id"),
          col("cnt").cast("long").as("count"))
        .write.format("graft.sources.DocStoreDataSource")
        .option("path", root).mode("append").save()
    val q1 = counts.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        writeBatch(batch) // store write SUCCEEDS...
        if (!injected.getAndSet(true)) // ...then the epoch commit is lost
          throw new RuntimeException("injected post-write failure")
      }.start()
    stream.addData("hi there hi")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(!q1.isActive) // died on the injected failure, epoch uncommitted
    // more data arrives while the query is down; restart from the SAME
    // checkpoint — the failed epoch replays against a store that already
    // holds its data
    stream.addData("hi sue")
    val q2 = counts.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        writeBatch(batch)
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
      .select($"doc_id", $"count").as[(String, Long)].collect().toSeq
    // no double-apply: one row per word (an append-style sink would hold
    // duplicates; an increment-style sink would inflate the counts)
    assert(rows.map(_._1).sorted == rows.map(_._1).distinct.sorted,
      s"duplicate docs after replay: $rows")
    assert(rows.toMap == Map("hi" -> 3L, "there" -> 1L, "sue" -> 1L),
      s"store diverged after replay: $rows")
  }

  test("streaming change feed: every committed upsert replays exactly once") {
    val root = tempDir("graft-dsv2cf").toString
    val ckpt = tempDir("graft-dsv2cf-ckpt").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("c1", Seq("a" -> Map("count" -> 1L), "b" -> Map("count" -> 2L)))
    store.commitBatch("c2", Seq("x" -> Map("count" -> 9L)))
    val stream = spark.readStream.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    def collector(buf: scala.collection.mutable.Buffer[(String, String, Long)])
        : (org.apache.spark.sql.DataFrame, Long) => Unit =
      (batch, _) => buf.synchronized {
        buf ++= batch.as[(String, String, Long)].collect()
      }
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(collector(seen)).start()
    try {
      q.processAllAvailable()
      assert(seen.toSet ==
        Set(("c1", "a", 1L), ("c1", "b", 2L), ("c2", "x", 9L)))
      // a later commit — including a RE-upsert of doc a — emits ONLY the
      // new change rows (a feed, not a state re-scan)
      store.commitBatch("c1", Seq("a" -> Map("count" -> 5L)))
      q.processAllAvailable()
      assert(seen.length == 4, s"expected 4 change rows, got $seen")
      assert(seen.count(_ == (("c1", "a", 1L))) == 1 &&
        seen.count(_ == (("c1", "a", 5L))) == 1)
    } finally q.stop()
    // restart from the same checkpoint: only entries committed after the
    // stop are served (offsets resume, nothing replays twice)
    store.commitBatch("c2", Seq("y" -> Map("count" -> 7L)))
    val resumed = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val q2 = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(collector(resumed)).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(resumed.toSet == Set(("c2", "y", 7L)),
      s"resume leaked rows: $resumed")
  }

  test("streaming change feed honors collection filters and pruned columns") {
    val root = tempDir("graft-dsv2cff").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("keep", Seq("k" -> Map("count" -> 1L)))
    store.commitBatch("drop", Seq("d" -> Map("count" -> 2L)))
    val q = spark.readStream.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
      .filter($"collection" === "keep")
      .select($"doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("feedf").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("feedf").as[String].collect().toSeq == Seq("k"))
  }

  test("change-feed replication: store A streams into store B and converges") {
    val rootA = tempDir("graft-repl-a").toString
    val rootB = tempDir("graft-repl-b").toString
    val ckpt = tempDir("graft-repl-ckpt").toString
    val storeA = new FileDocumentStoreFactory(rootA).open()
    // two commits UPSERT the same doc — replication is only correct if
    // the feed applies in commit order (maxEntriesPerTrigger=1: one
    // ordered micro-batch per committed store batch)
    storeA.commitBatch("c", Seq("w1" -> Map("count" -> 1L),
      "w2" -> Map("count" -> 2L)))
    storeA.commitBatch("c", Seq("w1" -> Map("count" -> 5L)))
    val q = spark.readStream.format("graft.sources.DocStoreDataSource")
      .option("path", rootA).option("maxEntriesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.format("graft.sources.DocStoreDataSource")
          .option("path", rootB).mode("append").save()
      }.start()
    try {
      q.processAllAvailable()
      assert(new FileDocumentStoreFactory(rootB).readAll("c") ==
        Map("w1" -> Map("count" -> 5L), "w2" -> Map("count" -> 2L)))
      // admission control really split the backlog: at least 2 batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        q.recentProgress.map(_.numInputRows).mkString(","))
      // live tail: a new commit on A replicates without a restart
      storeA.commitBatch("c2", Seq("x" -> Map("count" -> 9L)))
      q.processAllAvailable()
      assert(new FileDocumentStoreFactory(rootB).readAll("c2") ==
        Map("x" -> Map("count" -> 9L)))
    } finally q.stop()
  }

  test("CDC change compaction: no-op upserts suppressed, stream == batch twin per key and in order") {
    import graft.streaming.StreamingJobs
    val root = tempDir("graft-cdc-compact").toString
    val ckpt = tempDir("graft-cdc-ckpt").toString
    val store = new FileDocumentStoreFactory(root).open()
    // a re-run pipeline re-upserting mostly-unchanged state: doc a
    // changes 1→1(noop)→5, doc b stays 2 throughout (all noop after the
    // first), doc x appears late
    val commits = Seq(
      Seq("a" -> 1L, "b" -> 2L),
      Seq("a" -> 1L, "b" -> 2L), // full re-write, nothing changed
      Seq("a" -> 5L, "b" -> 2L), // only a really changed
      Seq("x" -> 9L),
      Seq("a" -> 1L)) // back to an OLD value — still a real change
    commits.foreach(c => store.commitBatch("wc",
      c.map { case (id, n) => id -> Map("count" -> n) }))
    // stream side: ordered replay (one entry per trigger — the
    // compaction ordering contract), batch ids give per-key order
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val q = StreamingJobs.effectiveChangesStream(
      spark.readStream.format("graft.sources.DocStoreDataSource")
        .option("path", root).option("maxEntriesPerTrigger", "1").load())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = batch.as[(String, String, Long)].collect()
        emitted.synchronized { emitted ++= rows.map(r => (id, r._1, r._2, r._3)) }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // batch twin: the same entries as a sequenced table
    val entries = commits.zipWithIndex.flatMap { case (c, i) =>
      c.map { case (id, n) => (i.toLong, "wc", id, n) }
    }.toDF("seq", "collection", "doc_id", "count")
    val batchOut = StreamingJobs.effectiveChangesBatch(entries)
      .as[(Long, String, String, Long)].collect()
    def perKey(rows: Seq[(Long, String, String, Long)]) = rows
      .groupBy(r => (r._2, r._3))
      .map { case (k, v) => k -> v.sortBy(_._1).map(_._4).toList }
    assert(perKey(emitted.toSeq) == perKey(batchOut.toSeq))
    // and the compaction is REAL: 8 feed rows in, 5 effective changes
    // out (a: 1,5,1; b: 2; x: 9) — the value-returning re-upsert kept,
    // every no-op dropped
    assert(perKey(batchOut.toSeq) == Map(
      ("wc", "a") -> List(1L, 5L, 1L),
      ("wc", "b") -> List(2L),
      ("wc", "x") -> List(9L)))
    assert(entries.count() == 8L && batchOut.length == 5)
  }

  test("streaming collection filters intersect like batch (conjunct semantics)") {
    // pushed filters are CONJUNCTS and accepted ones are never
    // re-evaluated by Spark; the streaming allowlist must intersect them
    // exactly like the batch directory prune (a union would leak rows of
    // collection 'a' through isin("a","b") && === "b")
    val root = tempDir("graft-dsv2conj").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("a", Seq("da" -> Map("count" -> 1L)))
    store.commitBatch("b", Seq("db" -> Map("count" -> 2L)))
    store.close()
    def conj(df: org.apache.spark.sql.DataFrame) =
      df.filter($"collection".isin("a", "b")).filter($"collection" === "b")
        .select($"doc_id")
    val q = conj(spark.readStream.format("graft.sources.DocStoreDataSource")
        .option("path", root).load())
      .writeStream.outputMode("append").format("memory")
      .queryName("feedconj").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("feedconj").as[String].collect().toSeq == Seq("db"))
    assert(conj(spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()).as[String].collect().toSeq == Seq("db"))
  }

  test("DSv2 write task retries do not duplicate change-feed entries") {
    // drive the writer factory directly, the way Spark does on a retry /
    // speculative duplicate: same queryId + partitionId, DIFFERENT taskId,
    // same rows in the same order. Documents re-upsert (idempotent); the
    // feed must carry each flush exactly once.
    val root = tempDir("graft-dsv2retry").toString
    val f = graft.sources.DocStoreWriterFactory(root, 2, "query-retry-test")
    def attempt(taskId: Long): Unit = {
      val w = f.createWriter(0, taskId)
      for ((id, n) <- Seq(("a", 1L), ("b", 2L), ("c", 3L))) // 2 flushes
        w.write(org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString("wc"),
          org.apache.spark.unsafe.types.UTF8String.fromString(id), n))
      w.commit(); w.close()
    }
    attempt(7)
    attempt(8) // retry of the same partition
    import graft.sink.DocStoreChangelog
    val last = DocStoreChangelog.latestComplete(root)
    assert(last == 1L, s"expected 2 feed entries (2 flushes), got ${last + 1}")
    assert(DocStoreChangelog.entries(root, -1, last) ==
      Seq(("wc", "a", 1L), ("wc", "b", 2L), ("wc", "c", 3L)))
    // a REORDERED retry (nondeterministic re-fetched input): flush f0
    // now holds {c,b}, not the published {a,b} — the content term must
    // let it through (at-least-once, never loss), not suppress it by
    // ordinal. Every doc's feed entry must exist afterwards.
    val w = f.createWriter(0, 9)
    for ((id, n) <- Seq(("c", 3L), ("b", 2L), ("a", 1L)))
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString("wc"),
        org.apache.spark.unsafe.types.UTF8String.fromString(id), n))
    w.commit(); w.close()
    val last2 = DocStoreChangelog.latestComplete(root)
    assert(last2 > last, "reordered retry's differing flushes were " +
      "suppressed — feed entries lost")
    val fed = DocStoreChangelog.entries(root, -1, last2)
      .map { case (_, id, n) => id -> n }.toSet
    assert(fed == Set("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("DSv2 source parallelizes by collection and supports SQL") {
    val root = tempDir("graft-dsv2b").toString
    val f = new FileDocumentStoreFactory(root)
    DocSink.writeBatched(Seq(("a", 1L), ("b", 2L)).toDF("d", "v"), f, "c1", 10)
    DocSink.writeBatched(Seq(("x", 9L)).toDF("d", "v"), f, "c2", 10)
    val back = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
    assert(back.rdd.getNumPartitions == 2) // one partition per collection
    back.createOrReplaceTempView("docstore")
    val total = spark.sql(
      "SELECT SUM(count) FROM docstore").as[Long].collect()(0)
    assert(total == 12L)
  }
}
