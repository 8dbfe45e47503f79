package graft

import graft.core.{Options, WordCount}
import graft.sink.{DocSink, FileDocumentStoreFactory, InMemoryDocumentStore}
import java.nio.file.Files

/** Sink behavior vectors from FIXTURES.md §A.3 (derived from the reference's
  * FirestoreUpdateDoFn.java — no sink test exists in the reference itself):
  * batching cadence, document shape, idempotence under replay.
  */
class DocSinkSpec extends SparkSpec {
  import spark.implicits._

  private def countsDf(n: Int) =
    (1 to n).map(i => (s"word$i", i.toLong)).toDF("docId", "value")

  test("batched sink: flush cadence is ceil(N/B) per partition") {
    val name = "cadence"
    InMemoryDocumentStore.clear(name)
    // single partition of 12 elements, batch size 5 -> 3 commits
    val df = countsDf(12).coalesce(1)
    val (written, batches) =
      DocSink.writeBatched(df, InMemoryDocumentStore.factory(name), "c", 5)
    assert(written == 12L)
    assert(batches == 3L) // ceil(12/5) — FirestoreUpdateDoFn.java:53-55,61
    assert(InMemoryDocumentStore.storeFor(name).size == 12)
  }

  test("batched sink: document shape is {count: n} keyed by word") {
    val name = "shape"
    InMemoryDocumentStore.clear(name)
    val df = Seq(("hi", 5L), ("sue", 2L)).toDF("docId", "value")
    DocSink.writeBatched(df, InMemoryDocumentStore.factory(name), "kinglear", 500)
    val m = InMemoryDocumentStore.storeFor(name)
    assert(m(("kinglear", "hi")) == Map("count" -> 5L))
    assert(m(("kinglear", "sue")) == Map("count" -> 2L))
  }

  test("batched sink: idempotent under replay (keyed upsert)") {
    val name = "replay"
    InMemoryDocumentStore.clear(name)
    val df = countsDf(50)
    DocSink.writeBatched(df, InMemoryDocumentStore.factory(name), "c", 7)
    val first = InMemoryDocumentStore.storeFor(name).toMap
    DocSink.writeBatched(df, InMemoryDocumentStore.factory(name), "c", 7)
    assert(InMemoryDocumentStore.storeFor(name).toMap == first)
  }

  test("naive sink writes the same state as batched") {
    val (n1, n2) = ("naive1", "batch1")
    InMemoryDocumentStore.clear(n1); InMemoryDocumentStore.clear(n2)
    val df = countsDf(20)
    DocSink.writeBatched(df, InMemoryDocumentStore.factory(n1), "c", batchSize = 1)
    DocSink.writeBatched(df, InMemoryDocumentStore.factory(n2), "c", 6)
    assert(InMemoryDocumentStore.storeFor(n1).toMap ==
      InMemoryDocumentStore.storeFor(n2).toMap)
  }

  test("file store: atomic upsert files, readable back") {
    val dir = tempDir("graft-sink").toString
    val f = new FileDocumentStoreFactory(dir)
    val df = Seq(("alpha", 3L), ("beta", 9L)).toDF("docId", "value")
    DocSink.writeBatched(df, f, "col1", 500)
    assert(f.readAll("col1") ==
      Map("alpha" -> Map("count" -> 3L), "beta" -> Map("count" -> 9L)))
    // replay converges (overwrite)
    DocSink.writeBatched(df, f, "col1", 1)
    assert(f.readAll("col1").size == 2)
  }

  test("end-to-end CLI parity: wordcount text file -> file store") {
    val in = tempFile("kinglear", ".txt")
    Files.write(in, "hi there\nhi\nhi sue bob\nhi sue\n\nbob hi\n".getBytes)
    val out = tempDir("graft-cli").toString
    val o = Options(implementation = "batch", inputFile = in.toString,
      outputDir = out, maxBatchSize = 2)
    val counts = WordCount.countWords(spark.read.textFile(o.inputFile).toDF("value"))
    DocSink.writeBatched(counts, new FileDocumentStoreFactory(o.outputDir),
      o.collection, o.maxBatchSize)
    val f = new FileDocumentStoreFactory(out)
    // collection defaults to input basename (impl/NaiveImplementation.java:31-34)
    val docs = f.readAll(o.collection)
    assert(docs == Map(
      "hi" -> Map("count" -> 5L), "there" -> Map("count" -> 1L),
      "sue" -> Map("count" -> 2L), "bob" -> Map("count" -> 2L)))
  }

  private def feedEntries(root: String): Seq[java.io.File] =
    Option(new java.io.File(root, graft.sink.DocStoreChangelog.DirName)
      .listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      .toSeq

  test("file store: leading-dot doc ids are durable AND visible") {
    // '.x' must not encode to a dot-file ('.x.json') — readAll/readIds
    // filter dot-files as temp/marker names, so the doc would be durable
    // yet invisible to every batch read. Mid-id dots stay readable.
    val dir = tempDir("graft-dotid").toString
    val f = new FileDocumentStoreFactory(dir)
    val s = f.open()
    s.commitBatch("dots", Seq(
      ".hidden" -> Map("count" -> 1L), "a.b" -> Map("count" -> 2L)))
    s.close()
    assert(f.readAll("dots") == Map(
      ".hidden" -> Map("count" -> 1L), "a.b" -> Map("count" -> 2L)))
    assert(f.readIds("dots").toSet == Set(".hidden", "a.b"))
    // on disk: no non-marker dot-file; mid-id dot passes through
    val names = Option(new java.io.File(dir, "dots").listFiles())
      .get.map(_.getName).filter(_.endsWith(".json")).toSet
    assert(names == Set("%2Ehidden.json", "a.b.json"), names.toString)
  }

  test("file store: field names that would poison the doc JSON are rejected") {
    val dir = tempDir("graft-field").toString
    val s = new FileDocumentStoreFactory(dir).open()
    for (bad <- Seq("a\"b", "a:b", "a,b", "{x}", "a\\b", "", "a\nb"))
      intercept[IllegalArgumentException] {
        s.commitBatch("c", Seq("d" -> Map(bad -> 1L)))
      }
    s.commitBatch("c", Seq("d" -> Map("visits" -> 7L))) // normal name fine
    s.close()
    assert(new FileDocumentStoreFactory(dir).readAll("c") ==
      Map("d" -> Map("visits" -> 7L)))
  }

  test("file store: readIds lists ids from filenames without opening bodies") {
    val dir = tempDir("graft-ids").toString
    val f = new FileDocumentStoreFactory(dir)
    val s = f.open()
    s.commitBatch("raw", Seq(
      "good" -> Map("count" -> 1L), "bad" -> Map("count" -> 2L)))
    s.close()
    // corrupt one body: an id-only scan (SELECT doc_id) must not care
    Files.write(java.nio.file.Paths.get(dir, "raw", "bad.json"),
      "NOT JSON".getBytes)
    assert(f.readIds("raw").toSet == Set("good", "bad"))
    intercept[Throwable] { f.readAll("raw") } // the body-parsing path does
  }

  test("change feed: identical flush retry publishes once; changed content under the same key still publishes") {
    val dir = tempDir("graft-retry").toString
    val f = new FileDocumentStoreFactory(dir)
    val df = Seq(("a", 1L), ("b", 2L)).toDF("docId", "value").coalesce(1)
    DocSink.writeBatched(df, f, "c", 500, jobKey = Some("job1"))
    val n1 = feedEntries(dir).size
    assert(n1 == 1)
    // deterministic retry of the same flush: same key + same content
    // hash -> marker found -> feed NOT replayed
    DocSink.writeBatched(df, f, "c", 500, jobKey = Some("job1"))
    assert(feedEntries(dir).size == n1, "identical replay must be suppressed")
    // same key, DIFFERENT content (the nondeterministic-retry shape): the
    // content-hash term must publish it — suppression here would lose
    // feed rows for docs that ARE durable in the store
    val df2 = Seq(("a", 5L), ("b", 6L)).toDF("docId", "value").coalesce(1)
    DocSink.writeBatched(df2, f, "c", 500, jobKey = Some("job1"))
    assert(feedEntries(dir).size == n1 + 1,
      "changed content under the same job key must still reach the feed")
    assert(f.readAll("c") ==
      Map("a" -> Map("count" -> 5L), "b" -> Map("count" -> 6L)))
  }

  test("naive sink: reordered retry under the same job key loses no feed entries") {
    // the naive sink is one-doc flushes, whose keys carry the content
    // term: a retry whose re-fetched partition iterates in a different
    // order has DIFFERENT docs at each ordinal — they must publish, not
    // be suppressed by the prior attempt's ordinal markers
    val dir = tempDir("graft-naive-retry").toString
    val f = new FileDocumentStoreFactory(dir)
    val a = Seq(("x", 1L), ("y", 2L)).toDF("docId", "value").coalesce(1)
    DocSink.writeBatched(a, f, "c", batchSize = 1, jobKey = Some("nj"))
    val n1 = feedEntries(dir).size
    DocSink.writeBatched(a, f, "c", batchSize = 1, jobKey = Some("nj")) // identical replay
    assert(feedEntries(dir).size == n1, "identical naive replay must be suppressed")
    // reordered "retry": same key, same docs, reversed order — ordinal
    // f0 now holds y; its feed entry must not be lost
    val rev = Seq(("y", 2L), ("x", 1L)).toDF("docId", "value").coalesce(1)
    DocSink.writeBatched(rev, f, "c", batchSize = 1, jobKey = Some("nj"))
    val last = graft.sink.DocStoreChangelog.latestComplete(dir)
    val fed = graft.sink.DocStoreChangelog.entries(dir, -1L, last)
      .map { case (_, id, n) => id -> n }.toSet
    assert(fed == Set("x" -> 1L, "y" -> 2L), s"feed lost entries: $fed")
  }

  test("feed value rule: count, else the lone field, else 0 — feed, DSv2 and store agree on a non-default fieldName") {
    import graft.sink.DocStoreChangelog.feedValue
    assert(feedValue(Map("count" -> 3L, "x" -> 9L)) == 3L)
    assert(feedValue(Map("visits" -> 7L)) == 7L)
    assert(feedValue(Map("a" -> 1L, "b" -> 2L)) == 0L)
    val dir = tempDir("graft-fieldname").toString
    val f = new FileDocumentStoreFactory(dir)
    val df = Seq(("a", 1L), ("b", 2L)).toDF("docId", "value")
    DocSink.writeBatched(df, f, "v", 500, fieldName = "visits")
    assert(f.readAll("v")("a") == Map("visits" -> 1L))
    // DSv2 batch scan surfaces the visits value in the count column
    // (pre-fix: a hardcoded `count` lookup read 0 for every doc)
    val back = spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", dir).load()
      .select($"doc_id", $"count").as[(String, Long)].collect().toMap
    assert(back == Map("a" -> 1L, "b" -> 2L))
    // and the change feed published the same values
    val last = graft.sink.DocStoreChangelog.latestComplete(dir)
    val feed = graft.sink.DocStoreChangelog.entries(dir, -1L, last)
      .map { case (_, id, n) => id -> n }.toMap
    assert(feed == Map("a" -> 1L, "b" -> 2L))
  }

  test("change feed: warm-hint sequence claims stay dense and survive a feed wipe") {
    val dir = tempDir("graft-seq").toString
    val s = new FileDocumentStoreFactory(dir).open()
    for (i <- 1 to 20)
      s.commitBatch("c", Seq(s"d$i" -> Map("count" -> i.toLong)))
    // dense 0..19 — the warm hint must not skip numbers
    val cl = graft.sink.DocStoreChangelog
    assert(cl.latestComplete(dir) == 19L)
    // wipe the feed dir (operator reset between jobs): the JVM-local
    // hint now points at a nonexistent entry and must fall back to a
    // full listing instead of claiming a phantom high sequence
    val d = new java.io.File(dir, cl.DirName)
    d.listFiles().foreach(_.delete()); d.delete()
    s.commitBatch("c", Seq("post" -> Map("count" -> 99L)))
    // the hint must RESET to the freshly claimed low sequence (a
    // max-merge would pin the stale high hint and re-list the whole
    // directory on every append until the counter climbed back) —
    // observable as dense fresh numbering continuing from 0
    s.commitBatch("c", Seq("post2" -> Map("count" -> 1L)))
    s.commitBatch("c", Seq("post3" -> Map("count" -> 2L)))
    s.close()
    assert(cl.latestComplete(dir) == 2L)
    assert(cl.entries(dir, -1L, 2L).map(_._2) ==
      Seq("post", "post2", "post3"))
  }

  test("content key: order-insensitive, collision-free on adjacent shapes, content-sensitive") {
    val ck = (docs: Seq[(String, Map[String, Long])]) =>
      graft.sink.DocSink.contentKey(docs)
    val a = Seq("x" -> Map("count" -> 1L), "y" -> Map("count" -> 2L))
    // same doc set, any iteration order -> same key (retry-suppression
    // must not depend on partition iteration order)
    assert(ck(a) == ck(a.reverse))
    // any content change -> different key (suppressing a DIFFERING
    // retry is feed loss): id, value, field name each participate
    assert(ck(a) != ck(Seq("x" -> Map("count" -> 1L), "z" -> Map("count" -> 2L))))
    assert(ck(a) != ck(Seq("x" -> Map("count" -> 1L), "y" -> Map("count" -> 3L))))
    assert(ck(a) != ck(Seq("x" -> Map("count" -> 1L), "y" -> Map("visits" -> 2L))))
    // adjacent-boundary shapes must not collide: the encoding is
    // length-prefixed, so id/field text cannot bleed across separators
    assert(ck(Seq("ab" -> Map("c" -> 1L))) != ck(Seq("a" -> Map("bc" -> 1L))))
    assert(ck(Seq("a:1" -> Map("b" -> 2L))) != ck(Seq("a" -> Map("1:b" -> 2L))))
    // doc multiplicity matters; subsets differ
    assert(ck(a) != ck(a.take(1)))
    // multi-field docs: field order irrelevant, field set not
    val m1 = Seq("d" -> Map("p" -> 1L, "q" -> 2L))
    val m2 = Seq("d" -> Map("q" -> 2L, "p" -> 1L))
    assert(ck(m1) == ck(m2))
    assert(ck(m1) != ck(Seq("d" -> Map("p" -> 1L))))
  }

  test("change feed: concurrent writers claim dense sequences, no entry lost or torn") {
    // the multi-writer protocol's core claim: create-exclusive claims
    // collide FORWARD, so N racing appenders produce exactly N dense
    // fully-written entries — no overwrites, no holes, no torn bodies
    val dir = tempDir("graft-mw").toString
    val cl = graft.sink.DocStoreChangelog
    val writers = 8
    val perWriter = 25
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        val s = new FileDocumentStoreFactory(dir).open()
        try (0 until perWriter).foreach { i =>
          s.commitBatch("c", Seq(s"w$w-e$i" -> Map("count" -> i.toLong)))
        } finally s.close()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val last = cl.latestComplete(dir)
    assert(last == writers * perWriter - 1L,
      s"expected ${writers * perWriter} dense entries, got ${last + 1}")
    val fed = cl.entries(dir, -1L, last).map(_._2)
    assert(fed.size == writers * perWriter)
    assert(fed.toSet.size == fed.size, "duplicate feed entries")
    assert(fed.toSet ==
      (for (w <- 0 until writers; i <- 0 until perWriter)
        yield s"w$w-e$i").toSet)
  }

  test("in-memory store: racing batch commits never interleave (batch atomicity)") {
    val name = "race"
    InMemoryDocumentStore.clear(name)
    val store = InMemoryDocumentStore.factory(name).open()
    val ids = (1 to 50).map(i => s"d$i")
    def writer(v: Long) = new Thread(() => (1 to 200).foreach { _ =>
      store.commitBatch("c", ids.map(_ -> Map("count" -> v)))
    })
    val ts = Seq(writer(1L), writer(2L))
    ts.foreach(_.start()); ts.foreach(_.join())
    // last COMMITTED batch wins wholesale: every doc carries the same
    // value — an interleaved pair of batches would leave a mix
    val vals = InMemoryDocumentStore.storeFor(name)
      .values.map(_("count")).toSet
    assert(vals.size == 1, s"interleaved batches visible: $vals")
  }

  test("options parsing matches the reference's defaults and validation") {
    val o = Options.parse(Array("--inputFile=/tmp/x/kinglear.txt", "--outputDir=/tmp/o"))
    assert(o.implementation == "naive") // WordCountToFirestorePipeline.java:63
    assert(o.maxBatchSize == 500)       // FirestoreUpdateDoFn.java:19
    assert(o.collection == "kinglear.txt")
    intercept[IllegalArgumentException] {
      Options.parse(Array("--outputDir=/tmp/o")) // inputFile required
    }
    intercept[IllegalArgumentException] {
      Options.parse(Array("--inputFile=a", "--outputDir=b", "--bogus=1"))
    }
  }
}
