package graft.queries

import graft.Tables
import graft.functions.CountMinAggregator
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 corpus-curation operators: per-domain document caps,
  * balanced output-shard assignment, corpus-wide paragraph(chunk)-level
  * exact dedup with document reassembly, and hashed-feature linear
  * classifier scoring.
  *
  * Same determinism rules as [[CurationQueries]] (integer/basis-point
  * arithmetic only, md5-derived hashes mirrored verbatim in the DuckDB
  * oracles, total window orders).
  */
object CorpusQueries {

  /** documents with the token array, via the shared eval-once-barrier
    * helper ([[TextQueries.docsWithToks]]), pruned to (doc_id, w). */
  private def docsTok(s: SparkSession, d: String): DataFrame =
    TextQueries.docsWithToks(s, d)
      .select(col("doc_id"), col("toks").as("w"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-domain cap (RefinedWeb-style "no domain may dominate"): keep at
    // most 50 documents per source, preferring longer ones. One window
    // keyed by the domain — the natural partition key, so no global
    // state; at 100 TB each domain ranks independently and the filter
    // discards before any downstream shuffle.
    "curate_domain_cap" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 50)
    }),

    // Balanced output-shard assignment: size-descending global rank
    // (via the deterministic quantile-bucketed globalRowNumber — no
    // single-partition window), then round-robin rank mod 8. The classic
    // greedy bin-balancer is sequential; rank-mod round-robin over a
    // size-sorted order is its scalable twin (shard totals differ by at
    // most one document's size per 8 ranks). Output: per-shard document
    // and character totals — the manifest a training-data writer needs.
    "curate_shard_assign" -> ((s, d) => {
      ExtraRelationalQueries.globalRowNumber(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        32, "n_chars", firstAsc = false,
        col("n_chars").desc, col("doc_id").asc)
        .withColumn("shard", pmod(col("global_rn") - 1, lit(8L)).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // Corpus-wide paragraph-level exact dedup (C4/RefinedWeb span dedup,
    // on synthetic 16-token "paragraphs" since the fixture text has no
    // newlines): every chunk keeps only its FIRST corpus occurrence
    // (smallest (doc_id, position)); documents are reassembled from
    // surviving chunks in order. Distinct from ta_boilerplate (which
    // drops corpus-HOT trigram spans wherever they appear — frequency
    // thresholded, all occurrences removed) — here identity is the whole
    // chunk and exactly the later occurrences go. Shape: one shuffle
    // keyed by chunk text for the first-occurrence window, one hash agg
    // keyed by doc_id for reassembly — no self-join, no all-pairs.
    "dedup_paragraph" -> ((s, d) => {
      val docs = docsTok(s, d)
      val n = size(col("w"))
      // non-overlapping 16-token chunks: starts 1, 17, 33, ... (the
      // filter keeps sequence() away from token-less docs — see
      // RobustnessSpec for the sequence(1, 0, step) failure mode)
      val chunks = docs.filter(n > 0)
        .select(col("doc_id"), col("w"),
          posexplode(sequence(lit(1), n, lit(16))).as(Seq("ci", "start")))
        .select(col("doc_id"), col("ci"),
          concat_ws(" ", slice(col("w"), col("start"), lit(16)))
            .as("chunk"))
      val wFirst = Window.partitionBy("chunk")
        .orderBy(col("doc_id").asc, col("ci").asc)
      val kept = chunks
        .withColumn("rn", row_number().over(wFirst))
        .filter(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("ci"), col("chunk")))),
            x => x.getField("chunk"))).as("clean_text"))
      docs
        .select(col("doc_id"),
          when(n > 0, floor((n - 1) / 16).cast("long") + 1)
            .otherwise(lit(0L)).as("n_chunks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0L)))
            .as("n_removed"))
    }),

    // Exact-substring dedup WITH REMOVAL (the ExactSubstr operator of
    // Lee et al.'s "Deduplicating Training Data", at 5-gram
    // granularity): every 5-gram span whose first corpus occurrence is
    // elsewhere (earlier (doc_id, start)) is deleted from the later
    // document; the first occurrence survives intact. Completes the
    // substring family: dedup_substr_seen SCORES recycled spans, this
    // removes them; vs dedup_paragraph the spans overlap and cover
    // every alignment, not just fixed chunk boundaries. Shape: one
    // shingle-keyed first-occurrence window, covered positions
    // anti-joined on (doc_id, pos), order-preserving reassembly — the
    // ta_boilerplate plan with an ownership rule instead of a frequency
    // threshold.
    "dedup_substr_remove" -> ((s, d) => {
      val docs = docsTok(s, d)
      val n = size(col("w"))
      val toks = docs
        .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
      val grams = docs.filter(n >= 5)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), n - 4),
            i => concat_ws(" ", slice(col("w"), i, lit(5)))))
            .as(Seq("i0", "g")))
        .select(col("doc_id"), (col("i0") + 1).as("start"), col("g"))
      val wFirst = Window.partitionBy("g")
        .orderBy(col("doc_id").asc, col("start").asc)
      val covered = grams
        .withColumn("rn", row_number().over(wFirst))
        .filter(col("rn") > 1)
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + 4)).as("pos"))
        .distinct()
      val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("clean_text"))
      docs.select(col("doc_id"), n.cast("long").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
            .as("n_removed"))
    }),

    // Hashed-feature linear classifier inference (fastText-style quality
    // scoring with the feature-hashing trick): each token bigram hashes
    // to a deterministic integer weight in [-3, 3] (md5-derived, so the
    // oracle reproduces it bit-for-bit — a stand-in for a trained weight
    // table lookup); a document's margin is the sum over its bigrams,
    // keep = margin > 0. No model broadcast needed — the "table" is the
    // hash function; pure map + one doc-keyed hash agg, linear at any
    // scale. A real trained model swaps the weight expression for a
    // broadcast join against the weight vector — same plan shape.
    "curate_classifier_score" -> ((s, d) => {
      val docs = docsTok(s, d)
      val bigrams = docs.select(col("doc_id"),
        explode(when(size(col("w")) >= 2,
          transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ",
              element_at(col("w"), i), element_at(col("w"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("g"))
      val wgt = conv(substring(md5(col("g").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 7 - 3
      val margins = bigrams.groupBy("doc_id").agg(sum(wgt).as("margin"))
      docs.select("doc_id")
        .join(margins, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("margin"), lit(0L)).as("margin"),
          (coalesce(col("margin"), lit(0L)) > 0).as("keep"))
    }),

    // Deterministic stratified train/val/test assignment: every document
    // hashes into [0,1) via md5 (replay-stable, engine-reproducible —
    // the same trick as q43/mix_sources_target) and lands in
    // train/val/test at 90/5/5; the output is the per-(source, split)
    // manifest with share-of-source in basis points. Pure map + one
    // small aggregate; the split of any document is decidable locally
    // forever, which is what makes incremental corpus refreshes keep
    // their holdout sets stable.
    "split_assign" -> ((s, d) => {
      val u = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("double") / 4294967296.0
      val split = when(u < 0.90, "train")
        .when(u < 0.95, "val")
        .otherwise("test")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), split.as("split"))
      val bySource = Window.partitionBy("source")
      docs.groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share_bp",
          floor(col("n_docs").cast("double") * 10000 /
            sum(col("n_docs")).over(bySource)).cast("long"))
    }),

    // LEAKAGE-SAFE train/val/test split: split_assign's failure mode is
    // a near-duplicate pair straddling train and test — the holdout then
    // "measures" memorization of a paraphrase the model trained on. Fix:
    // hash the near-dup CLUSTER label, not the doc id, so every cluster
    // lands atomically in one split (same md5→[0,1) machinery, same
    // 90/5/5 as split_assign). Reuses the components fixpoint (id-only
    // shuffles, see dedup_clusters); a singleton doc's cluster_id is its
    // own id, so the non-duplicated bulk of the corpus splits exactly as
    // a per-doc hash would. The leakage guarantee — no jaccard ≥ 0.8
    // pair straddles splits — is by construction and pinned through the
    // PAIR table in CorpusSpec (the property, not the mechanism).
    "split_leakage_safe" -> ((s, d) => {
      val comp = DedupQueries.componentLabels(s, d)
      val labeled = Tables.documents(s, d).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
      val u = conv(substring(
        md5(col("cluster_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("double") / 4294967296.0
      labeled.select(col("doc_id"), col("cluster_id"),
        when(u < 0.90, "train").when(u < 0.95, "val")
          .otherwise("test").as("split"))
    }),

    // Count-min-sketch heavy hitters: build the mergeable Depth×Width
    // counter matrix distributed (map-side partial adds, one 32 KB array
    // per partition crosses the wire — bounded model state like the
    // Bloom/IVF builds), then point-query it for the exact top-20 words.
    // est_cnt ≥ exact_cnt always (CMS never undercounts); CorpusSpec pins
    // that plus collision-free equality on a small planted vocabulary.
    // Rows-only for the driver: the estimates hang off xxhash64, which
    // the oracle engine doesn't implement.
    // KMV (k-minimum-values / bottom-k) set-INTERSECTION sketch
    // (Beyer et al. SIGMOD 2007; the theta-sketch estimator family) —
    // the sketch HLL can't give you: HLL unions, but only a value-level
    // sample supports intersection. Per source, the sketch is the k=256
    // smallest 60-bit md5 hashes of its distinct 3-gram shingles; for a
    // source pair, θ = the k-th smallest of the merged sketches and
    // |A∩B| ≈ c·2⁶⁰/θ where c counts common values below θ (every common
    // value below θ is provably present in BOTH sketches: θ ≤ each
    // side's own k-th minimum). Sketches smaller than k are exhaustive,
    // so that branch returns the EXACT common count — at sf0.001 the
    // oracle exercises the exact branch, at sf0.01+ the estimator.
    //
    // 100 TB shape: a sketch is ≤ k narrow rows per source FOREVER —
    // the only corpus-scale shuffle carries (source, 60-bit h) distinct
    // pairs, and Spark's WindowGroupLimit turns the rank ≤ k filter
    // into a per-partition bottom-k BEFORE the exchange (map-side
    // partial limit), so the post-scan traffic is ~k rows per source
    // per input partition. All pair math (190 pairs here, P²/2 in
    // general) runs on ≤ 2k-row groups of a broadcast pair spine.
    // Estimator determinism is cross-engine exact: c·2⁶⁰ is an exact
    // double (c < 2⁹, 2⁶⁰ a power of two), θ casts to the same IEEE
    // double in both engines, and floor() of the same quotient agrees.
    "sketch_kmv_intersect" -> ((s, d) => {
      val k = 256
      val sh = Tables.documents(s, d)
        .select(col("source"), explode(shingles(col("text"), 3)).as("sgl"))
        .select(col("source"),
          conv(substring(md5(col("sgl").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .distinct()
      // ≤ k·|sources| rows, referenced THREE times (source list + both
      // tagged branches) and each reference re-planned the full
      // explode→md5→distinct→window subtree — lazy checkpoint
      // materializes the tiny sketch table once (r16 opt)
      val km = sh.withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("h").asc)))
        .filter(col("rn") <= k)
        .select(col("source"), col("h"))
        .localCheckpoint(eager = false)
      val srcs = km.select(col("source")).distinct()
      val pairs = broadcast(srcs.select(col("source").as("src_a"))
        .join(srcs.select(col("source").as("src_b")),
          col("src_a") < col("src_b")))
      val tagged = pairs
        .join(km.withColumnRenamed("source", "src_a"), "src_a")
        .select(col("src_a"), col("src_b"), col("h"),
          lit(1).as("in_a"), lit(0).as("in_b"))
        .unionAll(pairs
          .join(km.withColumnRenamed("source", "src_b"), "src_b")
          .select(col("src_a"), col("src_b"), col("h"),
            lit(0).as("in_a"), lit(1).as("in_b")))
      val merged = tagged.groupBy("src_a", "src_b", "h")
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("src_a", "src_b").orderBy(col("h").asc)))
      merged.groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("m"),
          min(when(col("rn") === k, col("h"))).as("theta"),
          sum(when(col("in_a") === 1 && col("in_b") === 1 &&
            col("rn") < k, 1L).otherwise(0L)).as("c_below"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
            .otherwise(0L)).as("n_common_sample"))
        .select(col("src_a"), col("src_b"), col("n_common_sample"),
          when(col("m") < k, col("n_common_sample"))
            .otherwise(floor(col("c_below").cast("double")
              * lit(1152921504606846976.0) / col("theta").cast("double")))
            .cast("long").as("est_n"))
    }),

    "sketch_cms_topk" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
      val cms = udaf(CountMinAggregator)
      val sketch: Seq[Long] = toks
        .select(cms(cmsPos(0, col("word")), cmsPos(1, col("word")),
          cmsPos(2, col("word")), cmsPos(3, col("word"))).as("sk"))
        .head().getSeq[Long](0)
      val skLit = typedlit(sketch)
      val est = (0 until CountMinAggregator.Depth).map { i =>
        element_at(skLit,
          (lit(i * CountMinAggregator.Width)
            + cmsPos(i, col("word"))).cast("int") + 1)
      }.reduce(least(_, _))
      toks.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word").asc)
        .limit(20)
        .withColumn("est_cnt", est)
    }),

    // Oracle-checked CMS twin: identical build/estimate pipeline (same
    // aggregator, same Depth×Width matrix, same min-of-rows estimate)
    // with positions drawn from md5 instead of xxhash64 — row i reads the
    // i-th disjoint 32-bit slice of one digest per key ([[cmsPosMd5]]),
    // which reproduces in DuckDB, so the oracle re-simulates the counter
    // matrix cell-for-cell and the estimates compare hash-exact. The CMS
    // one-sided-error property is hash-family-independent, so this twin
    // oracle-checks the whole sketch dataflow, not a weakened variant.
    "sketch_cms_topk_md5" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
      val cms = udaf(CountMinAggregator)
      // ONE md5 per token, by construction (r17): the four
      // cmsPosMd5(i, word) inputs each embed their own md5(word) call
      // and single evaluation depended on the aggregate input
      // projection's subexpression elimination. Hashing once in an
      // explicit projection below the aggregate guarantees it
      // independent of optimizer internals. Interleaved A/B at sf0.1
      // measured PAR (tokenize/explode dominates the build pass here;
      // the saved digests matter per-row at corpus scale, not at this
      // one). Row positions are the same disjoint 8-hex-char slices,
      // so the sketch — and the oracle's cell-for-cell re-simulation —
      // is bit-identical.
      val hexed = toks.select(md5(col("word").cast("binary")).as("hx"))
      def posFromHex(i: Int): Column = pmod(
        conv(substring(col("hx"), 1 + 8 * i, 8), 16, 10).cast("long"),
        lit(CountMinAggregator.Width.toLong))
      val sketch: Seq[Long] = hexed
        .select(cms(posFromHex(0), posFromHex(1),
          posFromHex(2), posFromHex(3)).as("sk"))
        .head().getSeq[Long](0)
      val skLit = typedlit(sketch)
      val est = (0 until CountMinAggregator.Depth).map { i =>
        element_at(skLit,
          (lit(i * CountMinAggregator.Width)
            + cmsPosMd5(i, col("word"))).cast("int") + 1)
      }.reduce(least(_, _))
      toks.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word").asc)
        .limit(20)
        .withColumn("est_cnt", est)
    }))

  /** i-th CMS row position for a key — pure built-ins, identical
    * expression in the build projection and the estimate lookup (the
    * Bloom-filter contract: no JVM hash mirrored in SQL). */
  private[graft] def cmsPos(i: Int, key: Column): Column =
    pmod(xxhash64(lit(i), key), lit(CountMinAggregator.Width.toLong))

  /** md5-family twin of [[cmsPos]]: row i's position comes from the i-th
    * disjoint 8-hex-char (32-bit) slice of ONE md5 per key — a single
    * hash evaluation feeds all Depth rows (4×8 = 32 chars = the whole
    * digest), measured ~2× cheaper than hashing "i‖key" per row. Each
    * 32-bit value fits a signed long trivially and reproduces in DuckDB
    * as ('0x'||substr(md5(word), 1+8i, 8))::UBIGINT, mod Width. */
  private[graft] def cmsPosMd5(i: Int, key: Column): Column = {
    require(i >= 0 && i < 4, s"md5 has 4 disjoint 32-bit slices, got row $i")
    pmod(
      conv(substring(md5(key.cast("binary")), 1 + 8 * i, 8), 16, 10)
        .cast("long"),
      lit(CountMinAggregator.Width.toLong))
  }

  val oracles: Map[String, String] = Map(
    // Value-for-value re-simulation of the KMV sketches: same 60-bit
    // md5 keys, same bottom-k, same θ and floor(c·2⁶⁰/θ) estimator.
    "sketch_kmv_intersect" ->
      """WITH docs AS (
        |  SELECT source, list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |sgl AS (
        |  SELECT DISTINCT source,
        |    CAST(CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT) AS h
        |  FROM (SELECT source, unnest(CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(generate_series(1, len(w)-2),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |      ELSE [] END) AS s FROM docs)),
        |km AS (SELECT source, h FROM (
        |    SELECT source, h,
        |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rn
        |    FROM sgl) WHERE rn <= 256),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM (SELECT DISTINCT source FROM km) a
        |  JOIN (SELECT DISTINCT source FROM km) b ON a.source < b.source),
        |tagged AS (
        |  SELECT p.src_a, p.src_b, k.h, 1 AS in_a, 0 AS in_b
        |  FROM pairs p JOIN km k ON k.source = p.src_a
        |  UNION ALL
        |  SELECT p.src_a, p.src_b, k.h, 0, 1
        |  FROM pairs p JOIN km k ON k.source = p.src_b),
        |merged AS (
        |  SELECT src_a, src_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
        |  FROM tagged GROUP BY 1, 2, 3),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b
        |    ORDER BY h ASC) AS rn FROM merged),
        |agg AS (
        |  SELECT src_a, src_b, COUNT(*) AS m,
        |    MIN(CASE WHEN rn = 256 THEN h END) AS theta,
        |    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 AND rn < 256
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c_below,
        |    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_common_sample
        |  FROM rk GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common_sample,
        |  CASE WHEN m < 256 THEN n_common_sample
        |       ELSE CAST(FLOOR(CAST(c_below AS DOUBLE) * 1152921504606846976
        |                       / CAST(theta AS DOUBLE)) AS BIGINT)
        |  END AS est_n
        |FROM agg""".stripMargin,
    // Cell-for-cell re-simulation of the md5-position CMS: counter cell
    // (i,p) = Σ count(word) over words hashing there; estimate = min over
    // the Depth rows — exactly what the aggregator builds and the
    // element_at lookup reads.
    "sketch_cms_topk_md5" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents),
        |cnt AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
        |pos AS (
        |  SELECT word, c, i,
        |    CAST(CAST(('0x' || substr(md5(word), CAST(1 + 8 * i AS INTEGER), 8))
        |         AS UBIGINT) % 1024 AS BIGINT) AS p
        |  FROM cnt, range(0, 4) r(i)),
        |cells AS (SELECT i, p, CAST(SUM(c) AS BIGINT) AS cell
        |  FROM pos GROUP BY i, p),
        |est AS (
        |  SELECT pos.word, MIN(cells.cell) AS est_cnt
        |  FROM pos JOIN cells ON pos.i = cells.i AND pos.p = cells.p
        |  GROUP BY pos.word)
        |SELECT cnt.word AS word, cnt.c AS exact_cnt, est.est_cnt
        |FROM cnt JOIN est ON cnt.word = est.word
        |ORDER BY exact_cnt DESC, cnt.word ASC LIMIT 20""".stripMargin,
    "curate_domain_cap" ->
      """SELECT doc_id, source, n_chars,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS rn
        |FROM documents
        |QUALIFY rn <= 50""".stripMargin,
    "curate_shard_assign" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |  ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT CAST((rn - 1) % 8 AS INTEGER) AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(n_chars) AS min_chars,
        |  MAX(n_chars) AS max_chars
        |FROM r GROUP BY 1""".stripMargin,
    "dedup_paragraph" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w,
        |  generate_subscripts(generate_series(1, len(w), 16), 1) AS ci,
        |  unnest(generate_series(1, len(w), 16)) AS start
        |  FROM t WHERE len(w) > 0),
        |ch AS (SELECT doc_id, ci,
        |  array_to_string(list_slice(w, start, start + 15), ' ') AS chunk
        |  FROM c),
        |k AS (SELECT doc_id, ci, chunk,
        |  ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
        |  FROM ch),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY ci) AS clean_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(agg.clean_text, '') AS clean_text,
        |  CAST(CASE WHEN len(t.w) > 0 THEN (len(t.w) - 1) // 16 + 1
        |       ELSE 0 END - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin,
    // dedup_clusters' recursive-CTE components + split_assign's
    // md5→[0,1) split applied to the CLUSTER label
    "split_leakage_safe" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |sht AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |idx AS (SELECT doc_id, unnest(shingles) AS s FROM sht),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |r(node, root) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node),
        |comp AS (SELECT node, MIN(root) AS cluster FROM r GROUP BY node),
        |lab AS (SELECT d.doc_id,
        |  COALESCE(c.cluster, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT doc_id, cluster_id,
        |  CASE
        |    WHEN CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
        |      AS UBIGINT) / 4294967296.0 < 0.90 THEN 'train'
        |    WHEN CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
        |      AS UBIGINT) / 4294967296.0 < 0.95 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM lab""".stripMargin,
    "split_assign" ->
      """WITH a AS (SELECT source,
        |  CASE
        |    WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS UBIGINT) / 4294967296.0 < 0.90 THEN 'train'
        |    WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS UBIGINT) / 4294967296.0 < 0.95 THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM documents),
        |g AS (SELECT source, split, COUNT(*) AS n_docs FROM a GROUP BY 1, 2)
        |SELECT source, split, n_docs,
        |  CAST(FLOOR(CAST(n_docs AS DOUBLE) * 10000 /
        |    SUM(n_docs) OVER (PARTITION BY source)) AS BIGINT) AS share_bp
        |FROM g""".stripMargin,
    "dedup_substr_remove" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT doc_id, i AS pos, w[i] AS tok
        |  FROM docs, unnest(generate_series(1, len(w))) t(i)),
        |grams AS (SELECT doc_id, i AS start,
        |    array_to_string(list_slice(w, i, i + 4), ' ') AS g
        |  FROM docs, unnest(generate_series(1, len(w) - 4)) t(i)
        |  WHERE len(w) >= 5),
        |fl AS (SELECT doc_id, start,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, start) AS rn
        |  FROM grams),
        |cov AS (SELECT DISTINCT fl.doc_id, fl.start + o AS pos
        |  FROM fl, unnest([0, 1, 2, 3, 4]) t(o) WHERE fl.rn > 1),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c
        |    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.clean_text, '') AS clean_text,
        |  CAST(len(d.w) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed
        |FROM docs d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    "curate_classifier_score" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i + 1])) AS g
        |  FROM t WHERE len(w) >= 2),
        |m AS (SELECT doc_id,
        |  CAST(SUM(CAST(('0x' || substring(md5(g), 1, 4)) AS BIGINT) % 7
        |    - 3) AS BIGINT) AS margin
        |  FROM bg GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(m.margin, 0) AS margin,
        |  COALESCE(m.margin, 0) > 0 AS keep
        |FROM t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin)
}
