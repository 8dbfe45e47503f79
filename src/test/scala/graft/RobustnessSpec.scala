package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Degenerate-input robustness: text/curation operators must survive a
  * corpus of empty, whitespace-only, single-token, and null documents
  * (under ANSI mode an unguarded x/0 would abort the job via the Inf →
  * long cast). The adversarial docs are written as a documents.parquet
  * fixture dir so every query runs through its REAL entry point. */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private val advDocs = Seq(
    (1L, "", "en", "src0", 0L),
    (2L, "   ", "en", "src0", 3L),
    (3L, "solo", "en", "src1", 4L),
    (4L, null.asInstanceOf[String], "en", "src1", 0L),
    (5L, "the quick brown fox jumps over the lazy dog", "en", "src2", 43L),
    (6L, "a a a a a a a a", "en", "src2", 15L))

  private def documentsDir(name: String,
      docs: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tempDir(name).toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val advDir: String = documentsDir("graft-adv", advDocs)

  private val textQueries = Seq(
    "wordcount", "wordcount_format", "wordcount_topk", "line_stats",
    "ta_token_stats", "ta_quality", "ta_langid", "ta_fingerprint",
    "ta_fingerprint_md5", "ta_chunks", "ta_normalize", "ta_tfidf",
    "ta_repetition", "ta_gopher_filters", "pack_sequences",
    "decontam_overlap", "sample_stratified", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_clusters",
    "mm_decode_meta", "mm_frame_sample", "mm_resize", "mm_features",
    // round-3 curation ops (null text, no-shingle docs, n < 10 deciles,
    // empty benchmark shingle set for the bloom build)
    "ta_pii_scrub", "dedup_substr_seen", "q55_decile_bucket",
    "mix_sources_target", "sketch_hll_union", "decontam_bloom",
    // late round-3 ops (no hot grams at df≥5 on 6 docs; zero quality
    // passers -> empty cluster stage; a source shard with 0 tokens)
    "ta_boilerplate", "pipeline_e2e", "sample_epochs",
    // round-4 corpus ops (null/empty/whitespace text -> no chunks, no
    // bigrams; 6-row input for the 8-way shard round-robin)
    "dedup_paragraph", "curate_domain_cap", "curate_shard_assign",
    "curate_classifier_score", "dedup_substr_remove", "split_assign",
    "q66_outer_explode",
    // round-5: seeded permutation on a 6-doc corpus (quantile stats pass
    // degenerates to a single bucket — must still rank 1..6)
    "curate_shuffle",
    // round-9: null/empty text -> null prefix (no segments, no probes,
    // tiny-class fallback idles); no query terms / no bigrams at n >= 5
    "dedup_editdist_passjoin", "retrieve_bm25", "retrieve_bm25_batch",
    "ta_collocations",
    // round-10: null/empty text -> 0 tokens, every doc its own cluster;
    // minhash decontam with a degenerate benchmark side; cluster-hash
    // split where every cluster is a singleton
    "dedup_canonical", "decontam_minhash", "split_leakage_safe",
    // null payload -> no windows (quarantined, not crashed); empty and
    // whitespace payloads sign from their single short window
    "mm_phash_dedup",
    // round-11: null/empty payloads rejected before the DCT (a 0-byte
    // image is not decodable); short payloads tile the plane
    "mm_phash_dct",
    // round-12: the composed mm pipeline on a degenerate corpus (null
    // text dropped at augmentation; tiny docs fail the >=64-byte media
    // gate -> empty dedup and scene stages)
    "mm_pipeline_e2e",
    // round-10b: null text filtered BEFORE the sort key (a null prefix
    // would trip globalRowNumber's non-null key guard); empty/short
    // docs sort to the front and pair through the same verify
    "dedup_snm")

  test("text/curation queries run on empty/whitespace/null/single-token docs") {
    textQueries.foreach { name =>
      val rows = SparkEntry.queries(name)(spark, advDir).collect()
      assert(rows != null, name) // materializes without throwing
    }
  }

  test("dedup_minhash_lsh pairs == dedup_ngram_jaccard pairs on degenerate docs") {
    // the adversarial docs plus a planted near-dup triple: docs without a
    // shingle (empty, whitespace, one token, null) must pair with nothing
    val long = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    val dir = documentsDir("graft-adv-lsh", advDocs ++ Seq(
      (7L, long, "en", "src3", 0L),
      (8L, long, "en", "src3", 0L),
      (9L, long + " nineteen", "en", "src3", 0L)))
    def pairs(q: String) = SparkEntry.queries(q)(spark, dir)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val exact = pairs("dedup_ngram_jaccard")
    assert(exact.map(p => (p._1, p._2)) == Set((7L, 8L), (7L, 9L), (8L, 9L)))
    assert(pairs("dedup_minhash_lsh") == exact)
  }

  private lazy val advEventsDir: String = {
    val dir = tempDir("graft-adv-ev").toString
    val m = 60L * 1000000000L // minutes in NANOS (Tables.events divides)
    Seq(
      // nulls in every nullable column; a lone user; same-instant ties
      (0L, Some(10L * m), Some(1L), Some("view"), Some(1.5), Some("{\"k\": 1}")),
      (1L, None, Some(1L), Some("click"), Some(2.5), Some("{\"k\": 2}")),
      (2L, Some(11L * m), None, Some("view"), Some(0.0), None),
      (3L, Some(11L * m), Some(1L), None, None, Some("not json")),
      (4L, Some(500L * m), Some(2L), Some("purchase"), Some(9.9), Some("{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val eventQueries = Seq(
    "q27_json_extract", "q30_tumbling_window", "q31_sliding_window",
    "q32_session_window", "q33_asof_last_click", "q36_range_join",
    "q37_approx_distinct", "q41_asof_custom", "q58_funnel_steps",
    "q59_cohort_retention", "q60_sessionize", "q61_resample",
    "q62_bitmap_distinct", "q63_variant_extract", "q67_compact_latest")

  test("event queries run on null ts/user/type/value/props and lone users") {
    eventQueries.foreach { name =>
      val rows = SparkEntry.queries(name)(spark, advEventsDir).collect()
      assert(rows != null, name) // materializes without throwing
    }
  }

  private lazy val emptyDir: String = {
    val dir = tempDir("graft-empty").toString
    // the fixture's events.ts is TIMESTAMP(NANOS) — only readable with
    // the legacy long mapping (same conf Tables.events sets); the empty
    // copy then carries plain INT64, which Tables.events handles too.
    // Save/restore the conf so the lazy init doesn't leak it into
    // whichever test happens to run after this one.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")) {
        spark.read.parquet(s"$sf0001/$t.parquet").limit(0)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    dir
  }

  test("EVERY registered query survives a fully empty corpus") {
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, emptyDir).collect()
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} " +
          e.getMessage.linesIterator.take(1).mkString)
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("guards yield NULL stats for degenerate docs, real stats for real ones") {
    val q = SparkEntry.queries("ta_quality")(spark, advDir)
      .select("doc_id", "quality_bp")
      .as[(Long, Option[Long])].collect().toMap
    assert(q(1L).isEmpty && q(2L).isEmpty && q(4L).isEmpty) // degenerate -> NULL
    assert(q(5L).nonEmpty && q(6L).nonEmpty)                // real -> scored
    val t = SparkEntry.queries("ta_token_stats")(spark, advDir)
      .select("doc_id", "avg_token_len")
      .as[(Long, Option[Double])].collect().toMap
    assert(t(1L).isEmpty && t(3L).contains(4.0) && t(6L).contains(1.0))
  }

  test("pipeline_e2e verdicts stay two-valued on degenerate docs") {
    val rows = SparkEntry.queries("pipeline_e2e")(spark, advDir)
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    // Boolean (not Option[Boolean]) decode proves no NULL flags; a
    // 6-doc adversarial corpus has zero quality passers
    assert(rows.length == 6 && rows.forall(r => !r._2 && !r._5))
  }

  test("sample_epochs: a zero-token shard gets NULL epochs, not a crash") {
    val rows = SparkEntry.queries("sample_epochs")(spark, advDir)
      .select("source", "tokens_avail", "epochs")
      .as[(String, Long, Option[Long])].collect()
      .map { case (k, a, e) => k -> ((a, e)) }.toMap
    assert(rows("src0")._1 == 0L && rows("src0")._2.isEmpty)
    assert(rows("src2")._1 > 0L && rows("src2")._2.nonEmpty)
  }

  test("pack_sequences skips token-less docs; others still pack") {
    val out = SparkEntry.queries("pack_sequences")(spark, advDir)
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(1L) && !out.contains(2L) && !out.contains(4L))
    assert(out.contains(3L) && out.contains(5L) && out.contains(6L))
  }

  // ---- change-feed / document-store robustness (round 10) ----

  import graft.sink.{DocStoreChangelog, FileDocumentStoreFactory}

  test("change feed round-trips hostile doc ids (quotes, newlines, backslashes)") {
    // the SPI is generic: ids are DATA, not identifiers. An id containing
    // JSON-special or filesystem-special characters must survive the
    // store write, the feed append, and a DSv2 streaming replay intact.
    val root = tempDir("graft-hostile").toString
    val ids = Seq("plain", "has\"quote", "line\nbreak", "back\\slash",
      "tab\tchar", "słowo-ünïcode", "path/../traversal", "{\"json\": 1}")
    val docs = ids.zipWithIndex.map { case (id, i) =>
      id -> Map("count" -> (i + 1).toLong)
    }
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("c", docs)
    store.close()
    // store files decode back to the exact ids (percent-encoded names)
    assert(new FileDocumentStoreFactory(root).readAll("c") == docs.toMap)
    // the feed parses back losslessly (escaped on write, real parser)
    assert(DocStoreChangelog.entries(root, -1,
      DocStoreChangelog.latestComplete(root)).toSet ==
      docs.map { case (id, f) => ("c", id, f("count")) }.toSet)
    // and replays hash-equal through the DSv2 streaming source
    val q = spark.readStream.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
      .writeStream.outputMode("append").format("memory")
      .queryName("hostile_feed").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hostile_feed")
      .as[(String, String, Long)].collect().toSet
    assert(got == docs.map { case (id, f) => ("c", id, f("count")) }.toSet)
  }

  test("empty commitBatch publishes no feed entry and never stalls the feed") {
    val root = tempDir("graft-emptyb").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("c", Seq.empty)
    assert(DocStoreChangelog.latestComplete(root) == -1L)
    // a later real commit advances normally — the empty batch left no
    // zero-length entry to hold latestComplete back
    store.commitBatch("c", Seq("a" -> Map("count" -> 1L)))
    store.close()
    assert(DocStoreChangelog.latestComplete(root) == 0L)
    assert(DocStoreChangelog.entries(root, -1, 0) == Seq(("c", "a", 1L)))
  }

  test("keyed commits publish at most one feed entry per logical batch") {
    val root = tempDir("graft-keyed").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatchKeyed("job1/p0/f0", "c", Seq("a" -> Map("count" -> 1L)))
    // a task retry / speculative duplicate replays the same key: the doc
    // upsert re-applies (idempotent overwrite), the feed append is a no-op
    store.commitBatchKeyed("job1/p0/f0", "c", Seq("a" -> Map("count" -> 1L)))
    // the next flush of the same partition is a DIFFERENT key
    store.commitBatchKeyed("job1/p0/f1", "c", Seq("a" -> Map("count" -> 2L)))
    store.close()
    assert(DocStoreChangelog.latestComplete(root) == 1L)
    assert(DocStoreChangelog.entries(root, -1, 1) ==
      Seq(("c", "a", 1L), ("c", "a", 2L)))
    assert(new FileDocumentStoreFactory(root).readAll("c") ==
      Map("a" -> Map("count" -> 2L)))
  }

  test("abandoned zero-length claim is reclaimed after staleClaimMs") {
    val root = tempDir("graft-stale").toString
    val store = new FileDocumentStoreFactory(root).open()
    store.commitBatch("c", Seq("a" -> Map("count" -> 1L)))
    // simulate a writer that claimed seq 1 and crashed before the rename
    Files.createFile(DocStoreChangelog.entryPath(root, 1))
    store.commitBatch("c", Seq("b" -> Map("count" -> 2L))) // claims seq 2
    store.close()
    // young claim: the feed holds at 0 (a live writer may be mid-publish)
    assert(DocStoreChangelog.latestComplete(root, Long.MaxValue) == 0L)
    // stale claim: reclaimed as a zero-row tombstone, the feed advances
    assert(DocStoreChangelog.latestComplete(root, 0L) == 2L)
    // the reclaim is durable — even an infinite timeout now sees seq 1
    // complete (zero rows), and entries() skips the tombstone
    assert(DocStoreChangelog.latestComplete(root, Long.MaxValue) == 2L)
    assert(DocStoreChangelog.entries(root, -1, 2) ==
      Seq(("c", "a", 1L), ("c", "b", 2L)))
  }

  test("invalid collection names are rejected at write time") {
    val root = tempDir("graft-badcoll").toString
    val store = new FileDocumentStoreFactory(root).open()
    for (bad <- Seq("has/slash", "_changelog", ".hidden", "", "new\nline"))
      intercept[IllegalArgumentException] {
        store.commitBatch(bad, Seq("a" -> Map("count" -> 1L)))
      }
    store.close()
  }

  // ---- round-10c operators on degenerate DISTRIBUTIONS (round 11) ----
  // The empty-corpus net covers zero rows; these fixtures cover the
  // other degenerate shapes: constant columns (zero variance), a single
  // event type (no comparison slice), baskets with no co-occurring
  // items (empty Apriori L2), identical timestamps (zero-length sweep
  // intervals), and all-dominated / all-identical skyline inputs.

  private lazy val degenDir: String = {
    val dir = tempDir("graft-degen").toString
    val m = 60L * 1000000000L // minutes in nanos
    // events: every value identical (KS zero variance -> D = 0); every
    // ts identical within a type (sweep intervals all zero-length ties)
    (0 until 8).map { i =>
      (i.toLong, 10L * m, (i % 2 + 1).toLong,
        if (i % 2 == 0) "view" else "click", 7.5, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // lineitem: l_discount and l_tax CONSTANT (zero variance); one
    // distinct brand per order (Apriori L2 has zero candidate pairs)
    (0 until 6).map { i =>
      (i.toLong / 2, i.toLong, (i / 2 % 3).toLong, (i + 1).toDouble,
        100.0 * (i + 1), 0.05, 0.01, "N", "O",
        java.sql.Date.valueOf("2026-01-01"))
    }.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // part: ALL IDENTICAL on (price, size) -> nobody strictly dominates,
    // the whole table is the skyline; one brand per key pairs with the
    // lineitem above so each basket holds exactly one distinct item
    (0 until 3).map(k =>
      (k.toLong, s"part$k", s"Brand#$k", "t", 10, 50.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  test("stats_ks_drift: zero variance -> D = 0; no comparison slice -> empty") {
    val out = SparkEntry.queries("stats_ks_drift")(spark, degenDir)
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(("click", 4L, 4L, 0L)), s"got ${out.toSeq}")
    // reference type only: the grid has nothing to compare against
    val dir = tempDir("graft-ks1t").toString
    val m = 60L * 1000000000L
    (0 until 4).map(i => (i.toLong, i * m, 1L, "view", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(SparkEntry.queries("stats_ks_drift")(spark, dir).count() == 0)
  }

  test("stats_corr_matrix: constant columns report NULL corr, never NaN/0 artifacts") {
    val out = SparkEntry.queries("stats_corr_matrix")(spark, degenDir)
      .select("col_x", "col_y", "corr_bp")
      .as[(String, String, Option[Long])].collect()
      .map { case (x, y, c) => (x, y) -> c }.toMap
    val const = Set("l_discount", "l_tax")
    out.foreach { case ((x, y), c) =>
      if (const(x) || const(y))
        assert(c.isEmpty, s"($x,$y): undefined corr must be NULL, got $c")
      else assert(c.nonEmpty, s"($x,$y): real corr must be defined")
    }
    // quantity and price are perfectly correlated in the fixture
    assert(out(("l_quantity", "l_extendedprice")).contains(10000L))
  }

  test("q78_skyline: all-identical points all survive; one dominator leaves one row") {
    assert(SparkEntry.queries("q78_skyline")(spark, degenDir).count() == 3)
    val dir = tempDir("graft-skydom").toString
    // part 0 is strictly cheaper AND larger than every other part
    ((0L, "p0", "b", "t", 100, 1.0) +: (1 to 5).map(k =>
      (k.toLong, s"p$k", "b", "t", k, 100.0 + k)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val rows = SparkEntry.queries("q78_skyline")(spark, dir)
      .select("p_partkey").as[Long].collect().toSeq
    assert(rows == Seq(0L), s"got $rows")
  }

  test("q79_apriori: no co-occurring items -> L1 only, no L2/L3 rows") {
    val out = SparkEntry.queries("q79_apriori")(spark, degenDir)
      .select("level").as[Int].collect()
    assert(out.nonEmpty && out.forall(_ == 1), s"levels ${out.toSeq}")
  }

  test("sweep-line and pattern queries survive identical timestamps") {
    for (name <- Seq("q74_concurrency", "q76_interval_coverage",
        "q77_event_pattern", "q81_gap_fill"))
      assert(SparkEntry.queries(name)(spark, degenDir).collect() != null,
        name)
  }

  test("signaturePairs: salted hot-piece path equals the plain join on an all-identical corpus") {
    // the 100 TB failure mode: a degenerate signature family (every
    // payload identical ⇒ every piece bucket = the whole corpus) turns
    // the piece self-join's buckets quadratic on ONE reducer. Past the
    // threshold the guard salts the hot buckets; the pair SET must be
    // exactly the plain join's. 120 identical + 6 near/far signatures.
    import graft.queries.DedupQueries
    val sigs = ((1 to 120).map(i => (i.toLong, 0x0F0FL)) ++ Seq(
      (201L, 0x0F0EL), // hamming 1 from the hot signature
      (202L, 0xF0F0L), // far
      (203L, 0x0000L), (204L, 0x0001L), // a second near pair
      (205L, 0x0F0FL << 32), (206L, 0xFFFFL))).toDF("doc_id", "sig")
    def run(thr: Long, cap: Long = 100000L): Set[(Long, Long, Int)] =
      DedupQueries.signaturePairs(sigs, hotPieceThreshold = thr,
        hotListBroadcastCap = cap).as[(Long, Long, Int)].collect().toSet
    val guarded = run(50)       // 120-row buckets >> 50 ⇒ salted path
    val plain = run(1000000)    // guard inert ⇒ the historical plan
    assert(guarded == plain,
      s"salted path diverged: only-guarded=${guarded.diff(plain).take(3)} " +
        s"only-plain=${plain.diff(guarded).take(3)}")
    // third plan variant (round 14): hot list PAST the broadcast cap —
    // the shuffle semi/anti-join fallback must produce the same set.
    // Auto-broadcast off, or Spark broadcasts the tiny hot list anyway
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled =
      try run(50, cap = 0)
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(shuffled == plain,
      s"shuffle hot-list path diverged: ${shuffled.diff(plain).take(3)}")
    // the identical family pairs completely at hamming 0...
    assert(guarded.count(p => p._3 == 0) == 120 * 119 / 2)
    // ...near pairs survive, far docs pair with nothing
    assert(guarded.exists(p => p._2 == 201L && p._3 == 1))
    assert(guarded.exists(p => p._1 == 203L && p._2 == 204L && p._3 == 1))
    assert(!guarded.exists(p => p._1 == 202L || p._2 == 202L))
  }

  test("signaturePairs picks its plan from the data it is given on every call") {
    // the same analyzed plan over a rewritten parquet directory: the
    // second call must probe the new data, see its hot family and salt
    import graft.queries.DedupQueries
    val dir = tempDir("graft-replan").toString
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("doc_id", "sig").repartition(2)
        .write.mode("overwrite").parquet(dir)
    def pairs(): org.apache.spark.sql.DataFrame =
      DedupQueries.signaturePairs(spark.read.parquet(dir),
        hotPieceThreshold = 50)
    def salted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("salt")
    // cold corpus: no bucket anywhere near the threshold
    write((1L to 30L).map(i => (i, i * 0x9E3779B97F4A7C15L)))
    assert(!salted(pairs()), "cold corpus must take the plain join")
    // rewrite: degenerate 120-doc family — every piece bucket hot
    write((1L to 120L).map(i => (i, 0x0F0FL)) :+ (200L, 0x0F0EL))
    val hot = pairs()
    assert(salted(hot), "the rewritten corpus must take the salted path")
    val got = hot.as[(Long, Long, Int)].collect().toSet
    assert(got.count(_._3 == 0) == 120 * 119 / 2)
    assert(got.count(p => p._2 == 200L && p._3 == 1) == 120)
  }
}
