package graft.queries

import graft.Tables
import graft.operators.Checkpoint.CheckpointOps
import graft.functions.BloomFilterAggregator
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 curation operators: Bloom-prefiltered decontamination,
  * substring-level dedup scoring, scalable decile bucketing, target-share
  * dataset mixing, PII redaction, mergeable HLL sketches, boilerplate
  * span removal, the end-to-end curation verdict, and epoch scheduling.
  *
  * Same determinism rules as [[PipelineQueries]] (basis-point integer
  * ratios, md5-hash sampling, total window orders).
  */
object CurationQueries {

  /** k-th Bloom bit position for a key column — pure built-ins
    * (`pmod(xxhash64(k, key), M)`), so the build aggregate and the probe
    * predicate derive bit positions from the SAME codegen'd expression. */
  private[graft] def bloomPos(i: Int, key: Column): Column =
    pmod(xxhash64(lit(i), key), lit(BloomFilterAggregator.MBits.toLong))

  /** Probe a filter (one `typedlit` literal Column, hoisted by the caller
    * so k probes share a single copy of the array in the plan) at `pos`:
    * word = pos >> 6, bit = pos & 63 — all codegen'd built-ins. */
  private[graft] def mightContain(bits: Column, pos: Column): Column =
    call_function("shiftright",
      element_at(bits, shiftright(pos, 6).cast("int") + 1),
      pos.bitwiseAND(lit(63L)).cast("int"))
      .bitwiseAND(lit(1L)) === lit(1L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic seeded corpus shuffle: a reproducible global
    // permutation (same seed -> identical order on any cluster, any
    // partitioning) — the step before sequential sharding that fixes a
    // training run's data order. Order key = md5(seed || doc_id):
    // content-independent, uniform, replay-stable (no rand()); the
    // position is the scalable quantile-bucketed global rank — no
    // single-partition window at any corpus size.
    "curate_shuffle" -> ((s, d) => {
      val hk = conv(substring(md5(
          concat(lit(ShuffleSeed), col("doc_id").cast("string"))
            .cast("binary")), 1, 8), 16, 10)
        .cast("long")
      ExtraRelationalQueries.globalRowNumber(
          Tables.documents(s, d).select(col("doc_id"))
            .withColumn("hk", hk),
          32, "hk", firstAsc = true, col("hk").asc, col("doc_id").asc)
        .select(col("doc_id"), col("global_rn").as("pos"))
    }),

    // Bloom-prefiltered benchmark decontamination — decontam_overlap's
    // at-scale twin. The benchmark shingle set becomes a 32 KB Bloom
    // filter (built distributed via BloomFilterAggregator: partial
    // buffers OR map-side, one array per partition crosses the wire);
    // the corpus side then drops ~(1−FPR) of its non-contaminated
    // shingles with a pure codegen'd predicate BEFORE the join. Bloom
    // filters have no false negatives and the surviving candidates are
    // verified by the exact broadcast join, so results are identical to
    // decontam_overlap (shared oracle). At 100 TB this is the shape that
    // matters: the filter is bounded model state however large the
    // benchmark set, and the join input shrinks by the reject rate.
    "decontam_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bloomAgg = udaf(BloomFilterAggregator)
      val benchSh = docs.filter(col("source") === "src0")
        .select(explode(shingles(col("text"), 3)).as("s"))
      // bounded model state (like IVF centroids): MBits/8 bytes, corpus-
      // size independent. Bloom insertion is idempotent, so the build
      // skips the distinct shuffle the broadcast-join side needs.
      val bits: Seq[Long] = benchSh
        .select(bloomAgg(bloomPos(0, col("s")), bloomPos(1, col("s")),
          bloomPos(2, col("s"))).as("bits"))
        .head().getSeq[Long](0)
      val corpus = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
      val bitsLit = typedlit(bits)
      val candidates = corpus.filter(
        Seq(0, 1, 2).map(i => mightContain(bitsLit, bloomPos(i, col("s"))))
          .reduce(_ && _))
      candidates.join(broadcast(benchSh.distinct()), "s")
        .groupBy("doc_id")
        .agg(countDistinct(col("s")).as("n_shared"))
    }),

    // MinHash-banded FUZZY benchmark decontamination — the jaccard-
    // threshold sibling of decontam_overlap/_bloom: instead of "shares
    // ANY shingle with the benchmark" (the recall-oriented sweep), flag
    // corpus docs that NEAR-DUPLICATE a benchmark doc (3-gram jaccard
    // ≥ 0.8) — the criterion when contamination means a leaked
    // rephrasing of an eval item rather than a common phrase. Shape at
    // scale: the benchmark side is tiny forever (eval suites are KBs
    // against a 100 TB corpus), so its band table and its shingle sets
    // broadcast; the corpus pays one (doc_id, hash64) signature
    // aggregate — 64 longs per doc cross the wire via MinHashAggregator's
    // partial-min combine, never shingles — then a broadcast band join
    // and an exact-jaccard verify restricted to candidate docs.
    // Banding is 16 bands × 4 rows (vs the dedup family's 8×8): at the
    // similarity decontamination hunts (j ≥ 0.8) the banding miss
    // probability is (1-j⁴)¹⁶ ≤ 2.2e-4 (≤ 2e-12 at this fixture's
    // j ≥ 0.95), so banded ∧ verified equals the exact-threshold answer
    // (the oracle), while the (1/16)^(1/4) ≈ 0.5 band threshold keeps
    // candidate noise bounded; false positives die in the verify join.
    "decontam_minhash" -> ((s, d) => {
      val minhash64 = udaf(graft.functions.MinHashAggregator)
      // one co-partitioned materialization feeds both sides' signature
      // aggregates, the verify join, and both size aggregates (the
      // index pattern of shingleIndex's scaladoc)
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(shingles(col("text"), 3)).as("s"))
        // keyed: both sides' signature aggregates and the verify join
        // read the index on doc_id
        .buildCheckpointBy("doc_id")
      val benchSh = sh.filter(col("source") === "src0")
        .select(col("doc_id").as("bench_id"), col("s"))
      val corpusSh = sh.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("s"))
      def bandsOf(side: DataFrame, idCol: String): DataFrame = side
        .select(col(idCol), xxhash64(col("s")).as("h"))
        .groupBy(idCol).agg(minhash64(col("h")).as("sig"))
        .select(col(idCol), posexplode(bandHashes(col("sig"), 16, 4))
          .as(Seq("band_idx", "band_hash")))
      val cand = bandsOf(corpusSh, "doc_id")
        .join(broadcast(bandsOf(benchSh, "bench_id")),
          Seq("band_idx", "band_hash"))
        .select("doc_id", "bench_id").distinct()
        .localCheckpoint() // feeds the doc semi-join, pair semi-join
      val aSizes = corpusSh.groupBy("doc_id").agg(count(lit(1)).as("na"))
      val bSizes = benchSh.groupBy("bench_id").agg(count(lit(1)).as("nb"))
      val inter = corpusSh
        .join(broadcast(cand.select("doc_id").distinct()),
          Seq("doc_id"), "left_semi")
        .join(broadcast(benchSh), "s")
        .join(broadcast(cand), Seq("doc_id", "bench_id"), "left_semi")
        .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("inter"))
      inter
        .join(aSizes, "doc_id")
        .join(broadcast(bSizes), "bench_id")
        .withColumn("jaccard", col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")))
        .filter(col("jaccard") >= 0.8)
        .select(col("doc_id"), col("bench_id"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    // Substring-level dedup scoring (the ExactSubstr idea at 5-gram
    // granularity): per doc, the share of its distinct 5-gram shingles
    // first seen in an earlier (lower doc_id) document. A doc that is
    // mostly recycled spans scores high even when no single pair clears a
    // document-level jaccard threshold. Shape: one explode + one window
    // min on the shingle key + one per-doc aggregate — two shuffles,
    // no joins, linear in corpus shingles at any scale.
    "dedup_substr_seen" -> ((s, d) => {
      val idx = Tables.documents(s, d)
        .select(col("doc_id"), explode(shingles(col("text"), 5)).as("s"))
      idx
        .withColumn("first_owner",
          min(col("doc_id")).over(Window.partitionBy("s")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_owner") < col("doc_id"), 1L).otherwise(0L))
            .as("n_seen"))
        .select(col("doc_id"), col("n_shingles"),
          floor(col("n_seen").cast("double") * 10000 / col("n_shingles"))
            .cast("long").as("seen_bp"))
    }),

    // Length-decile bucketing (curriculum/packing prep) WITHOUT a
    // single-partition global window: global row_number via the shared
    // range-partition + offset machinery
    // (ExtraRelationalQueries.globalRowNumber, same as q54), then SQL
    // NTILE's exact bucket arithmetic (first n mod b buckets get one
    // extra row) computed from (rank, total) — so the plan scales while
    // matching the NTILE(10) oracle bit-for-bit.
    "q55_decile_bucket" -> ((s, d) => {
      // NTILE semantics in pure integer arithmetic (exact at any row
      // count — no double rounding): q = total div 10, r = total mod 10;
      // the first r buckets hold q+1 rows. CASE WHEN keeps the q=0
      // divisor branch unevaluated for tiny inputs (total < 10 makes the
      // first condition true for every row).
      ExtraRelationalQueries.globalRowNumber(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        32, "n_chars", firstAsc = true,
        col("n_chars").asc, col("doc_id").asc)
        .withColumn("decile", expr(
          """CASE
             |  WHEN global_rn <= (total % 10) * (total div 10 + 1)
             |  THEN (global_rn - 1) div (total div 10 + 1) + 1
             |  ELSE (total % 10)
             |    + (global_rn - (total % 10) * (total div 10 + 1) - 1)
             |      div (total div 10) + 1
             |END""".stripMargin)
          .cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // Target-share dataset mixing: each source shard gets a target weight
    // (derived here from the shard number — stand-in for a curated
    // "web 4 : books 2 : code 1" recipe); the largest feasible mixture
    // hitting those proportions exactly keeps c·w_s docs of shard s where
    // c = min_s(n_s/w_s). Selection is deterministic md5-hash sampling
    // (replay-stable). Shape: one tiny per-source stats aggregate
    // broadcast back, then a pure filter — same scale story as
    // sample_temperature but for arbitrary target recipes.
    "mix_sources_target" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val rates = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("wt",
          (pmod(substring(col("source"), 4, 10).cast("int"), lit(4)) + 1)
            .cast("double"))
        .withColumn("c", min(col("n").cast("double") / col("wt"))
          .over(Window.partitionBy()))
        .withColumn("rate", col("c") * col("wt") / col("n"))
        .select("source", "rate")
      val u = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("double") / 4294967296.0
      docs.join(broadcast(rates), "source")
        .filter(u < col("rate"))
        .select(col("doc_id"), col("source"))
    }),

    // PII redaction: email/SSN/IPv4 patterns replaced with typed tags,
    // per-pattern hit counts kept for audit. Pure per-row map work — no
    // shuffle, linear at any scale. (This fixture's vocabulary contains
    // no PII, so the registered query proves exact pass-through — the
    // redaction behavior itself is pinned on planted PII in
    // CurationSpec.) Patterns stay in the RE2 ∩ java.util.regex common
    // subset so both engines compile them identically.
    "ta_pii_scrub" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            lit(EmailRe), lit("<EMAIL>")),
            lit(SsnRe), lit("<SSN>")),
            lit(Ipv4Re), lit("<IP>")).as("scrubbed"),
          regexp_count(col("text"), lit(EmailRe)).cast("int").as("n_email"),
          regexp_count(col("text"), lit(SsnRe)).cast("int").as("n_ssn"),
          regexp_count(col("text"), lit(Ipv4Re)).cast("int").as("n_ip"))
    }),

    // Boilerplate span removal (the C4/CCNet move at n-gram granularity):
    // a 3-gram span occurring in ≥ max(5, 0.4% of corpus) DISTINCT
    // documents is boilerplate; every token covered by an occurrence of a
    // boilerplate span is dropped and the document is reassembled from
    // the surviving tokens in original order. Unlike dedup (drop whole
    // docs) or dedup_substr_seen (score only), this REWRITES documents —
    // the third dedup granularity a curation pipeline needs.
    //
    // Shape at scale: the hot-span table is small by construction (high
    // document frequency ⇒ few spans) → broadcast to the occurrence scan;
    // coverage explode is ≤ 3 rows per hot occurrence; the anti-join and
    // the reassembly groupBy both shuffle on doc_id — linear, skew-free
    // (keys are documents). No self-joins anywhere.
    "ta_boilerplate" -> ((s, d) => {
      // the keyed checkpoint's ONE doc_id exchange is a co-partitioning
      // INVESTMENT, not a parallelism hack: the stamp keeps the
      // partitioning, so the covered-position anti-join on (doc_id, pos)
      // and the reassembly groupBy(doc_id) both plan shuffle-free on the
      // token side. Without it each would re-shuffle every EXPLODED
      // (doc_id, pos, tok) row — strictly more bytes than the one
      // token-array pass (review round 5 caught exactly that
      // regression). The audit sees this exchange in the checkpoint's
      // own executed plan — its justification is the ta_boilerplate
      // allowlist entry in QueryDebug.audit.
      val docs = Tables.documents(s, d)
        .withColumn("w", tokens(col("text")))
        .select("doc_id", "w")
        .buildCheckpointBy("doc_id") // toks, grams, final join
      // corpus-relative threshold: one count() action on the checkpointed
      // rows (same bounded-model-state pattern as the Bloom/IVF builds)
      val k = math.max(5L, math.ceil(0.004 * docs.count()).toLong)
      val toks = docs.select(col("doc_id"),
        posexplode(col("w")).as(Seq("pos", "tok")))
      // positional (non-distinct) 3-grams: start pos i covers i..i+2.
      // when() keeps sequence(0, n-3) unevaluated for docs with < 3
      // tokens (negative bounds flip sequence's direction — RobustnessSpec)
      val grams = docs.select(col("doc_id"),
        posexplode(when(size(col("w")) >= 3,
          transform(sequence(lit(0), size(col("w")) - 3),
            i => concat_ws(" ", slice(col("w"), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>")))
          .as(Seq("start", "g")))
      val hot = grams.groupBy("g")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= k)
        .select("g")
      val covered = grams.join(broadcast(hot), "g")
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + 2)).as("pos"))
        .distinct()
      val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("clean_text"))
      docs.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
            .as("n_removed"))
    }),

    // The end-to-end curation verdict — the three stages a pre-training
    // pipeline actually chains, composed as ONE dataflow: (1) quality
    // gate (Gopher length + stopword rules), (2) exact dedup among the
    // passers (min doc_id per md5 fingerprint), (3) near-dup clustering
    // among the exact canonicals (jaccard ≥ 0.8 pairs → connected
    // components → min-label canonical). One row per corpus doc with its
    // per-stage flags and the final `survives` bit. Demonstrates that the
    // engine's operators COMPOSE: stages 2–3 reuse the exact machinery of
    // dedup_exact / dedup_ngram_jaccard / dedup_clusters on a filtered
    // corpus, and each stage's input shrinks before the next (the
    // expensive shingle join only ever sees quality-passing canonicals).
    "pipeline_e2e" -> ((s, d) => {
      val n = size(col("toks"))
      val stopHits = size(filter(col("toks"),
        t => t.isin("the", "a", "of", "and", "is")))
      // no exchange barrier: the gate references the token array three
      // times (n twice, stopHits once) so the row re-tokenizes 3× —
      // linear, and cheaper than shuffling every token to save splits
      val staged = Tables.documents(s, d)
        .withColumn("toks", tokens(col("text")))
        .select(col("doc_id"), col("text"),
          // coalesce: a null-text doc FAILS the gate (false, not null) so
          // every downstream boolean stays two-valued (RobustnessSpec)
          coalesce(n >= 30 && n <= 80 && stopHits >= 1, lit(false))
            .as("passed_quality"))
        .localCheckpoint() // feeds stage 2 and the final verdict join
      // stage 2, NARROW: only (doc_id, fp) rows ever cross an exchange.
      // The former form computed the same window but carried full text
      // through it as payload (stage 3 read text off this checkpoint) —
      // invisible below the eager checkpoint until the audit learned to
      // walk build plans (round 6), flagged immediately after. Projecting
      // the fingerprint FIRST keeps the one window shuffle narrow; stage 3
      // re-reads text from the staged checkpoint instead.
      val exact = staged.filter(col("passed_quality"))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        .withColumn("exact_canonical",
          min(col("doc_id")).over(Window.partitionBy("fp")))
        .select("doc_id", "exact_canonical")
        .localCheckpoint() // feeds stage 3 and the final verdict join
      // stage 3: shingle the passers map-side off the checkpointed texts,
      // THEN semi-join to the canonical ids — (doc_id, s) index rows cross
      // the wire, text never does. Shingling non-canonical passers is
      // accepted linear re-evaluation (cheaper than moving text to filter
      // it first); the semi-join folds into the index-build exchange.
      val canonIds = exact.filter(col("doc_id") === col("exact_canonical"))
        .select("doc_id")
      val canonSh = staged.filter(col("passed_quality"))
        .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
        .join(canonIds, Seq("doc_id"), "left_semi")
        // index-build exchange (see DedupQueries.exactJaccardPairs)
        .buildCheckpointBy("doc_id") // sizes + both self-join sides
      val pairs = DedupQueries.exactJaccardOn(canonSh)
        .filter(col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
      val comp = DedupQueries.connectedComponents(pairs)
      staged.select("doc_id", "passed_quality")
        .join(exact.select(col("doc_id"), col("exact_canonical")),
          Seq("doc_id"), "left")
        .join(comp.toDF("doc_id", "near_cluster"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("passed_quality"),
          coalesce(col("doc_id") =!= col("exact_canonical"), lit(false))
            .as("exact_dup"),
          coalesce(col("near_cluster") =!= col("doc_id"), lit(false))
            .as("near_dup"))
        .withColumn("survives",
          col("passed_quality") && !col("exact_dup") && !col("near_dup"))
    }),

    // Epoch / repetition schedule ("will we run out of data"): given a
    // token budget of 2× the corpus and a uniform per-source share, how
    // many epochs of each source shard does training consume? All-integer
    // arithmetic (ceil-div as (a+b-1) div b, ratios as basis points via
    // integer div) — bit-exact cross-engine AND overflow-safe where
    // double math would lose integer precision past 2^53 (a 100 TB corpus
    // is ~2.5e13 tokens; ×10000 still fits a long). Shape: one per-source
    // aggregate + a tiny global window over |sources| rows.
    "sample_epochs" -> ((s, d) => {
      val w = Window.partitionBy()
      Tables.documents(s, d)
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens_avail"))
        .withColumn("total", sum(col("tokens_avail")).over(w))
        .withColumn("nsrc", count(lit(1)).over(w))
        .withColumn("tokens_target", expr("(2 * total) div nsrc"))
        .withColumn("epochs", expr(
          "(tokens_target + tokens_avail - 1) div nullif(tokens_avail, 0)"))
        .withColumn("overuse_bp",
          expr("(tokens_target * 10000) div nullif(tokens_avail, 0)"))
        .select("source", "n_docs", "tokens_avail", "tokens_target",
          "epochs", "overuse_bp")
    }),

    // One BPE training iteration's candidate scoring: the corpus-wide
    // count of adjacent token pairs, global top-20 by (count desc, pair
    // asc). The per-doc bigram explode is the same zip-of-shifted-slices
    // trick as ta_repetition; the global top-k is TakeOrderedAndProject
    // (per-partition heaps + a k-row driver merge), so the full pair
    // table is never globally sorted — the shape a real tokenizer-
    // training sweep needs at corpus scale.
    "ta_bpe_merges" -> ((s, d) => {
      // no exchange barrier: 2× tokenize beats shuffling the token arrays
      val base = Tables.documents(s, d)
        .withColumn("toks", tokens(col("text")))
        .select(col("toks"), size(col("toks")).as("n"))
      base.select(explode(when(col("n") >= 2, zip_with(
          slice(col("toks"), lit(1), col("n") - 1),
          slice(col("toks"), lit(2), col("n") - 1),
          (x, y) => concat(x, lit(" "), y)))
          .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    }),

    // BPE ENCODE — apply the learned merge table (ta_bpe_merges' top-20,
    // rank order = cnt desc, pair asc) to every document: per rank, fuse
    // each adjacent occurrence of the pair into one token, exhaustively
    // and leftmost-first, earlier ranks consuming first — the greedy
    // priority semantics of BPE encoding with a given merge list. This
    // is what real token-budget accounting runs: counting tokens with
    // the LEARNED vocabulary, not whitespace.
    //
    // Mechanics: tokens are bracketed \x02tok\x03 so a merge is ONE
    // string replace of "\x02a\x03\x02b\x03" → "\x02a\x01b\x03" — the
    // brackets make adjacency explicit, so back-to-back occurrences
    // ("a b a b") both merge (a shared-space delimiter would be consumed
    // by the first match and hide the second — the classic overlap bug),
    // while "x x x" correctly merges only the left pair (the middle x is
    // consumed). Spark's UTF8String.replace and DuckDB's replace are
    // both leftmost non-overlapping, so the cascade is cross-engine
    // exact and the integer outputs hash-exact.
    //
    // Scale shape: the model is ≤20 rows collected once per dataset
    // (bounded driver state, the ivfModel precedent) and folded into the
    // expression as literals; encoding is a pure per-row projection —
    // zero shuffles beyond the trainer's narrow (pair, cnt) aggregate.
    // Output stays scalar (n_raw, n_bpe) — the encoded string never
    // crosses a shuffle or sink.
    "ta_bpe_encode" -> ((s, d) => {
      val merges = bpeMerges(s, d)
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("w"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_raw"),
          bpeTokenCount(bpeEncodeExpr(col("w"), merges)).as("n_bpe"))
    }),

    // Tokenizer fertility per language (Rust et al. 2021, "How Good is
    // Your Tokenizer?", arXiv:2012.15613 — fertility = subword tokens
    // per word, THE standard cross-lingual tokenizer-quality metric:
    // high-fertility languages pay more compute per word and exhaust
    // context windows sooner, which is exactly what a multilingual
    // data-mixing pipeline needs to see next to sample_unimax's budget
    // split). Measured on the corpus-learned BPE tokenizer
    // (ta_bpe_merges' model): per language, Σ tokens / Σ words and
    // chars-per-token (compression), both as exact basis points (the
    // floor(·10000/den) recipe). Shape: the encode is the same
    // zero-shuffle literal-cascade projection as ta_bpe_encode; the
    // aggregate is a #languages-row groupBy with map-side combine.
    "ta_fertility" -> ((s, d) => {
      val merges = bpeMerges(s, d)
      Tables.documents(s, d)
        .select(col("lang"), col("n_chars"), tokens(col("text")).as("w"))
        .select(col("lang"), col("n_chars"),
          size(col("w")).cast("long").as("n_raw"),
          bpeTokenCount(bpeEncodeExpr(col("w"), merges)).as("n_bpe"))
        .groupBy("lang")
        .agg(sum("n_raw").as("n_words"), sum("n_bpe").as("n_tokens"),
          sum("n_chars").as("sum_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens"),
          when(col("n_words") > 0,
            floor(col("n_tokens").cast("double") * 10000 / col("n_words")))
            .cast("long").as("fertility_bp"),
          when(col("n_tokens") > 0,
            floor(col("sum_chars").cast("double") * 10000 / col("n_tokens")))
            .cast("long").as("chars_per_token_bp"))
    }),

    // Mergeable distinct-count sketches (Apache DataSketches HLL via
    // Spark built-ins): per-language token sketches + their union — the
    // sketch algebra a 100 TB pipeline ships to the driver instead of
    // re-scanning for every slice combination (union of per-shard
    // sketches ≡ sketch of the union; partial aggregation map-side).
    // Estimates are probabilistic ⇒ rows-only; CurationSpec pins relative
    // error vs exact distinct counts.
    "sketch_hll_union" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("t"))
      val perLang = toks.groupBy("lang")
        .agg(hll_sketch_agg(col("t")).as("sk"))
      val union = perLang.agg(hll_union_agg(col("sk")).as("sk"))
        .select(lit("*all*").as("lang"), col("sk"))
      perLang.select(col("lang"), col("sk")).unionAll(union)
        .select(col("lang"),
          hll_sketch_estimate(col("sk")).as("est_distinct"))
    }),

    // Prototypicality pruning (the D4 recipe's second stage — Tirumala
    // et al. 2023, arXiv:2308.12284: SemDeDup, then drop each cluster's
    // most PROTOTYPICAL points): within every k-means cluster, rank by
    // distance to the cluster centroid and keep the most diverse 75% —
    // the points nearest the centroid are the redundant "prototypes"
    // the paper shows contribute least to training. Shares the memoized
    // IVF model with the ANN family and dedup_semantic (one quantizer
    // serves the whole pipeline), which is also what makes the oracle
    // exact: the generated chain reproduces centroids bit-for-bit, and
    // every within-cluster adjacent distance gap is margin-pinned in
    // DedupSimilaritySpec so the cross-engine ranking cannot flip.
    // Scale shape: the centroid join is a k-row broadcast, the vector is
    // DROPPED before the window shuffle (only (vec_id, cell, dist_sq)
    // crosses the wire), and the per-cell window is cluster-local — no
    // global sort, no wide payload anywhere. The keep rule is integer
    // arithmetic (rn = 1 ∨ rn·4 ≤ n·3 ⇔ rn ≤ max(1, ⌊3n/4⌋) — pruning
    // never deletes a whole cluster), cross-engine exact.
    "curate_prototypes" -> ((s, d) => {
      import s.implicits._
      val e = SimilarityQueries.rawVecs(s, d)
      val centroids = SimilarityQueries.ivfModel(s, d)
      if (centroids.isEmpty)
        e.select(col("vec_id"), lit(0).as("cell"), lit(false).as("kept"))
          .limit(0)
      else {
        val a = SimilarityQueries.assignCells(e, centroids)
        val cdf = centroids.zipWithIndex.map { case (c, i) => (i, c) }
          .toDF("cell", "c_v")
        // |v − c|² expanded left-to-right exactly as the oracle writes
        // it ((v·v + c·c) − 2·v·c) so both engines associate identically
        val narrow = a.join(broadcast(cdf), Seq("cell"))
          .select(col("vec_id"), col("cell"),
            (VectorFunctions.dot(col("v"), col("v")) +
              VectorFunctions.dot(col("c_v"), col("c_v")) -
              VectorFunctions.dot(col("v"), col("c_v")) * 2).as("dist_sq"))
        val w = Window.partitionBy("cell")
        narrow
          .withColumn("rn", row_number().over(
            w.orderBy(col("dist_sq").desc, col("vec_id"))))
          .withColumn("n", count(lit(1)).over(w))
          .select(col("vec_id"), col("cell"),
            // keep max(1, ⌊3n/4⌋): rn=1 (the most distant member) always
            // survives, so pruning never deletes a whole cluster — a
            // singleton cluster IS the diverse tail D4 exists to keep
            (col("rn") === 1 || col("rn") * 4 <= col("n") * 3).as("kept"))
      }
    }),

    // Distributed quality-probe TRAINING — the weak-label classifier
    // recipe (CCNet / GPT-3 data curation: train a cheap classifier to
    // prefer a trusted source, score everything, keep high scorers;
    // Brown et al. 2020 §A used exactly this shape with a linear model
    // over hashed features). Here the full training LOOP runs on the
    // cluster: binary hashed-bigram presence features (the DSIR md5
    // recipe, 64 buckets), weak label y = [source == 'src0'], and TWO
    // full-batch gradient-descent steps of least-squares linear
    // regression — per step one b-keyed model join + doc-keyed
    // residual aggregate + b-keyed gradient aggregate, every reduction
    // through the decimal(38,28) exact-sum recipe, so the learned
    // weights (and the emitted per-doc scores) are bit-identical across
    // engines with no rounding hedge. Linear (not logistic) on purpose:
    // no exp/sigmoid — the one op with no cross-engine bit guarantee —
    // and the ranking signal is the same for a screening threshold.
    // Shape: the feature table is checkpointed once (five consumers);
    // the model is a ≤64-row DataFrame that never touches the driver;
    // n (one scalar aggregate) is the only broadcast. Production runs
    // more steps and 2^18+ buckets — same plan per step.
    "curate_probe_train" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      val nbg = greatest(size(col("w")) - 1, lit(0))
      val feats = toks
        .select(col("doc_id"), explode(zip_with(
          slice(col("w"), lit(1), nbg), slice(col("w"), lit(2), nbg),
          (a, b) => concat(a, lit(" "), b))).as("f"))
        .select(col("doc_id"),
          pmod(conv(substring(md5(col("f").cast("binary")), 1, 8), 16, 10)
            .cast("long"), lit(64L)).as("b"))
        .distinct()
        .localCheckpoint() // 2 preds + 2 grads + final scoring reuse it
      val y = docs.select(col("doc_id"),
        when(col("source") === "src0", 1.0).otherwise(0.0).as("y"))
      val n = feats.agg(countDistinct(col("doc_id")).as("n"))
      def decSum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,28)")).cast("double")
      def predict(w: DataFrame): DataFrame =
        feats.join(broadcast(w), Seq("b"))
          .groupBy("doc_id").agg(decSum(col("w")).as("pred"))
      def step(w: DataFrame): DataFrame = {
        val resid = predict(w).join(y, Seq("doc_id"))
          .select(col("doc_id"), (col("pred") - col("y")).as("r"))
        val grad = feats.join(resid, Seq("doc_id"))
          .groupBy("b").agg(decSum(col("r")).as("gsum"))
          .crossJoin(broadcast(n))
          .select(col("b"), (col("gsum") / col("n").cast("double")).as("g"))
        w.join(grad, Seq("b"), "left")
          .select(col("b"),
            (col("w") - lit(0.1) * coalesce(col("g"), lit(0.0))).as("w"))
      }
      val w0 = feats.select(col("b")).distinct()
        .select(col("b"), lit(0.0).as("w"))
      val trained = step(step(w0))
      docs.select(col("doc_id"))
        .join(predict(trained).withColumnRenamed("pred", "score"),
          Seq("doc_id"), "left")
    }),

    // The full D4 recipe (Tirumala et al. 2023, arXiv:2308.12284),
    // composed end-to-end: SemDeDup drops within-cluster semantic
    // duplicates, THEN prototypicality pruning ranks the SURVIVORS per
    // cluster and keeps the most-diverse 75% — the exact two-stage
    // order the paper ablates (dedup before diversification matters:
    // duplicate clumps would otherwise dominate the prototype region
    // and distort the rank cut). Emits pipeline_e2e-style stage flags
    // (sem_dup, proto_kept NULL for dropped dups) + the final
    // `survives` verdict. No NEW cross-engine surfaces: the dist
    // ranking over a survivor SUBSET inherits the full per-cell
    // adjacent-gap margins already pinned for curate_prototypes
    // (subset adjacent gaps can only be ≥ full adjacent gaps), and the
    // dup decisions are dedup_semantic's pinned thresholds. Shape: one
    // extra narrow survivor join on vec_id + the cluster-local window —
    // nothing wide crosses a shuffle that didn't already.
    "curate_d4" -> ((s, d) => {
      import s.implicits._
      val e = SimilarityQueries.rawVecs(s, d)
      val centroids = SimilarityQueries.ivfModel(s, d)
      if (centroids.isEmpty)
        e.select(col("vec_id"), lit(0).as("cell"),
          lit(false).as("sem_dup"), lit(false).as("proto_kept"),
          lit(false).as("survives")).limit(0)
      else {
        // one row per vector; referenced twice (survivor filter + final
        // verdict join) — the lazy checkpoint stops the second reference
        // re-running the whole SemDeDup subtree (r16 opt)
        val sem = DedupQueries.semanticDups(e, centroids)
          .localCheckpoint(eager = false)
        val surv = sem.filter(!col("is_dup"))
          .select(col("vec_id"), col("cell"))
        val cdf = centroids.zipWithIndex.map { case (c, i) => (i, c) }
          .toDF("cell", "c_v")
        val narrow = surv.join(e, Seq("vec_id"))
          .join(broadcast(cdf), Seq("cell"))
          .select(col("vec_id"), col("cell"),
            (VectorFunctions.dot(col("v"), col("v")) +
              VectorFunctions.dot(col("c_v"), col("c_v")) -
              VectorFunctions.dot(col("v"), col("c_v")) * 2).as("dist_sq"))
        val w = Window.partitionBy("cell")
        val ranked = narrow
          .withColumn("rn", row_number().over(
            w.orderBy(col("dist_sq").desc, col("vec_id"))))
          .withColumn("n", count(lit(1)).over(w))
          .select(col("vec_id"),
            (col("rn") === 1 || col("rn") * 4 <= col("n") * 3)
              .as("proto_kept"))
        sem.join(ranked, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            col("is_dup").as("sem_dup"), col("proto_kept"),
            (!col("is_dup") && coalesce(col("proto_kept"), lit(false)))
              .as("survives"))
      }
    }),

    // Perplexity-style LM quality filter, log-free: train an add-1-
    // smoothed bigram model ON THE CORPUS ITSELF (the CCNet/Wikipedia-LM
    // recipe, Wenzek et al. 2020, arXiv:1911.00359 — score each doc by
    // how predictable its text is under a reference LM; low
    // predictability ⇒ noise/boilerplate/garbled text), then score every
    // doc by its MEAN bigram probability p(w2|w1) = (c2+1)/(c1+V).
    // Mean-of-p instead of perplexity (exp of mean log p) because log is
    // the one op with no cross-engine bit guarantee (libm vs JVM); the
    // ranking signal is equivalent for filtering and the score stays
    // hash-exact: each p is an IEEE division of exactly-representable
    // integer counts (identical bits in both engines), and the per-doc
    // mean goes through the shortest-repr decimal(38,28) cast + exact
    // order-free DECIMAL sum + cast-to-double-BEFORE-divide — the
    // ivfCentroids technique, widened to 28 decimals so a full 17-digit
    // double's shortest repr never gets rounded by the cast. Scale shape
    // (reworked round 8): the raw (doc_id, w1, w2) occurrence stream is
    // aggregated to per-doc bigram COUNTS first — one shuffle with
    // map-side combine — and everything downstream (the c2/c1 model
    // build, the scoring join, the per-doc mean) runs over that strictly
    // smaller distinct-bigrams stream instead of re-shuffling every
    // occurrence three times (c2 build, c1 build, scoring join). Each
    // occurrence of a repeated bigram contributes the same p, so the
    // score becomes the cnt-weighted mean: pw = (c2+1)*cnt / (c1+V),
    // still one exact-integer IEEE division per row ((c2+1)*cnt is exact
    // long arithmetic ≪ 2^53 → both engines produce identical bits).
    // The model join stays fact-to-model co-partitioned (the model is
    // corpus-vocabulary-scale, NOT broadcastable at 100 TB). Docs with
    // <2 tokens keep a row (n_bigrams=0, NULL score) via the doc-spine
    // left join.
    "curate_lm_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        tokens(col("text")).as("w"))
      val nb = greatest(size(col("w")) - 1, lit(0))
      val big = toks
        .select(col("doc_id"), explode(zip_with(
          slice(col("w"), lit(1), nb), slice(col("w"), lit(2), nb),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      val perDoc = big.groupBy("doc_id", "w1", "w2")
        .agg(count(lit(1)).as("cnt"))
      val c2 = perDoc.groupBy("w1", "w2").agg(sum("cnt").as("c2"))
      val c1 = perDoc.groupBy("w1").agg(sum("cnt").as("c1"))
      val vocab = toks.select(explode(col("w")).as("t"))
        .agg(countDistinct(col("t")).as("vocab"))
      val model = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      val pw = ((col("c2") + 1) * col("cnt")).cast("double") /
        (col("c1") + col("vocab")).cast("double")
      val scored = perDoc.join(model, Seq("w1", "w2"))
        .select(col("doc_id"), pw.as("pw"), col("cnt"))
        .groupBy("doc_id")
        // decimal(38,28), not the ivfCentroids (30,20): pw is a FULL
        // 17-significant-digit double (not a float-derived one), and
        // small pw (~1e-4) has 17 sig digits + leading zeros > 20
        // decimals — the (30,20) cast ROUNDS there, where the engines
        // disagree by one ULP (observed). 28 decimals hold the shortest
        // repr of any pw ≥ 1e-11 exactly; 10 integer digits hold the
        // sum (pw ≤ cnt, bounded by the longest doc).
        .agg(sum(col("cnt")).as("n_bigrams"),
          (sum(col("pw").cast("decimal(38,28)")).cast("double") /
            sum(col("cnt"))).as("lm_score"))
      docs.select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("lm_score"))
    }),

    // DSIR-style data selection via importance resampling (Xie et al.
    // 2023, arXiv:2302.03169): hash bigram features into a FIXED bucket
    // space, estimate smoothed bucket distributions over a target domain
    // (source 'src0' — the same fixture stand-in decontamination uses)
    // and over the raw corpus, score each doc by how target-like its
    // features are, keep the top quarter. Deviations from the paper,
    // both for cross-engine exactness: (1) per-doc score is the MEAN of
    // per-occurrence importance ratios rather than the sum of log
    // ratios (log has no cross-engine bit guarantee; the ratio is a
    // monotone predictability signal the same way lm_score's mean-of-p
    // is), and (2) selection is the deterministic top-k of that score
    // rather than Gumbel sampling (rand() would not replay). Every
    // ratio is 3 IEEE ops on exactly-representable ints — each factor
    // cast long→double BEFORE multiplying so no product can overflow
    // long at any corpus size — and the per-doc mean reuses lm_score's
    // decimal(38,28) machinery. Scale shape: the model is ≤ DsirBuckets
    // rows NO MATTER the corpus size (the whole point of feature
    // hashing) → broadcast to the occurrence stream, zero model
    // shuffles — contrast lm_score, whose vocabulary-scale model must
    // co-partition; ranking is the quantile-bucketed global row number
    // (no single-partition window); unscored docs (<2 tokens) keep a
    // spine row (n_feat=0, NULL score, selected=false).
    "curate_dsir" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), col("source"),
        tokens(col("text")).as("w"))
      val nb = greatest(size(col("w")) - 1, lit(0))
      val feats = toks
        .select(col("doc_id"), col("source"), explode(zip_with(
          slice(col("w"), lit(1), nb), slice(col("w"), lit(2), nb),
          (a, b) => concat(a, lit(" "), b))).as("f"))
        .select(col("doc_id"), col("source"),
          pmod(conv(substring(md5(col("f").cast("binary")), 1, 8), 16, 10)
            .cast("long"), lit(DsirBuckets.toLong)).as("b"))
        // featurize ONCE: the bucket-stats aggregate and the scoring join
        // both consume this stream, and without the checkpoint each
        // consumer re-runs the tokenize→bigram-explode→md5 subtree. The
        // materialized stream is 3 narrow columns per occurrence —
        // linear state, the same discipline as the dedup index builds;
        // at 100 TB the featurize-once shape is what DSIR
        // implementations do anyway.
        .localCheckpoint()
      val stats = feats.groupBy("b").agg(
        count(lit(1)).as("r"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("t"))
      val totals = stats.agg(sum(col("r")).as("rtot"), sum(col("t")).as("ttot"))
      // smoothed importance ratio p_target(b)/p_raw(b); +1 / +B add-one
      // smoothing keeps never-seen-in-target buckets finite and nonzero
      val ratio =
        ((col("t") + 1).cast("double") *
          (col("rtot") + DsirBuckets).cast("double")) /
        ((col("r") + 1).cast("double") *
          (col("ttot") + DsirBuckets).cast("double"))
      val scored = feats
        .join(broadcast(stats.crossJoin(totals)), Seq("b"))
        .select(col("doc_id"), ratio.as("ratio"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feat"),
          (sum(col("ratio").cast("decimal(38,28)")).cast("double") /
            count(lit(1))).as("dsir_score"))
        // one row per doc — tiny. globalRowNumber evaluates its input
        // three times (bounds aggregate, ranked side, offsets side) and
        // each evaluation would otherwise rebuild the stats broadcast
        // and re-join the occurrence stream — the round-12 adjudication
        // traced curate_dsir's recurring above-floor readings to exactly
        // this pile of fixed-cost re-evaluation jobs (the corpus is far
        // too small for the hashing itself to matter), which contention
        // multiplies. Score once, rank the checkpoint.
        .localCheckpoint()
      val ranked = ExtraRelationalQueries.globalRowNumber(
          scored, 32, "dsir_score", firstAsc = false,
          col("dsir_score").desc, col("doc_id").asc)
        .select(col("doc_id"), col("n_feat"), col("dsir_score"),
          (col("global_rn") * 4 <= col("total")).as("selected"))
      docs.select(col("doc_id"))
        .join(ranked, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_feat"), lit(0L)).as("n_feat"),
          col("dsir_score"),
          coalesce(col("selected"), lit(false)).as("selected"))
    }))

  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private[graft] val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Fixed seed for [[queries]]' `curate_shuffle` — a pipeline would take
    * this per training run. */
  private val ShuffleSeed = "graft-shuffle-42"

  /** Hashed-feature space size for `curate_dsir`. Bounds the model at
    * 4096 rows regardless of corpus size (DSIR uses 10^4; the fixture
    * vocabulary is small enough that 2^12 keeps buckets from being
    * 1-occurrence degenerate while still exercising collisions). */
  private[graft] val DsirBuckets = 4096

  /** ta_bpe_encode's token bracketing (see the query's mechanics note):
    * every token travels as \x02tok\x03; a merge joins two tokens with
    * \x01. Control chars absent from the fixture text — and even a
    * pathological token containing them goes through the IDENTICAL
    * transform in both engines, so exactness never rests on absence. */
  private[graft] val TokOpen = "\u0002"
  private[graft] val TokClose = "\u0003"
  private[graft] val MergeJoin = "\u0001"

  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** DuckDB oracle for ta_bpe_encode, GENERATED as a 20-deep replace
    * cascade. The merge table is RE-DERIVED in SQL (the ta_bpe_merges
    * CTE + rank) — not embedded as literals — because it is
    * data-derived model state, the ivfChainSql rule; each rank's
    * pattern/replacement is a scalar subquery over it, COALESCEd to a
    * never-matching chr(4) so absent ranks no-op exactly like Spark's
    * shorter foldLeft when the corpus has <20 distinct pairs. */
  /** Shared WITH-prefix for the BPE cascade oracles: merge-table
    * derivation + the 20-deep replace chain, ending in a `cnt` CTE of
    * (doc_id, n_raw, n_bpe). ta_bpe_encode selects it directly;
    * ta_fertility aggregates it per language. */
  private def bpeCascadePrefix: String = {
    val pat = (rn: Int) =>
      "COALESCE((SELECT chr(2) || replace(pair, ' ', chr(3) || chr(2)) " +
        s"|| chr(3) FROM m WHERE rn = $rn), chr(4))"
    val rep = (rn: Int) =>
      "COALESCE((SELECT chr(2) || replace(pair, ' ', chr(1)) " +
        s"|| chr(3) FROM m WHERE rn = $rn), chr(4))"
    val chain = (1 to 20).foldLeft("s0") { (acc, rn) =>
      s"replace($acc, ${pat(rn)}, ${rep(rn)})"
    }
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |bg AS (SELECT
       |  unnest(list_transform(generate_series(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i + 1])) AS pair
       |  FROM t WHERE len(w) >= 2),
       |m AS (SELECT pair,
       |        ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair ASC) AS rn
       |      FROM bg GROUP BY pair
       |      ORDER BY COUNT(*) DESC, pair ASC LIMIT 20),
       |enc AS (SELECT doc_id, n_raw, $chain AS enc_s
       |  FROM (SELECT doc_id, len(w) AS n_raw,
       |          CASE WHEN len(w) = 0 THEN ''
       |               ELSE chr(2) || array_to_string(w, chr(3) || chr(2))
       |                    || chr(3) END AS s0
       |        FROM t)),
       |cnt AS (SELECT doc_id, n_raw,
       |  len(enc_s) - len(replace(enc_s, chr(2), '')) AS n_bpe
       |  FROM enc)""".stripMargin
  }

  // NB: suffixes are stripMargin'd SEPARATELY and concatenated — an
  // outer stripMargin over the interpolated prefix would re-strip a
  // pipe from any prefix line whose content begins with `||` (the
  // double-stripMargin trap; it ate a concat operator here once).
  private def bpeEncodeOracle: String =
    bpeCascadePrefix + "\nSELECT doc_id, n_raw, n_bpe FROM cnt"

  private def fertilityOracle: String =
    bpeCascadePrefix + "\n" +
      """SELECT d.lang,
        |  CAST(SUM(c.n_raw) AS BIGINT) AS n_words,
        |  CAST(SUM(c.n_bpe) AS BIGINT) AS n_tokens,
        |  CASE WHEN SUM(c.n_raw) > 0 THEN
        |    CAST(FLOOR(CAST(SUM(c.n_bpe) AS DOUBLE) * 10000
        |      / CAST(SUM(c.n_raw) AS BIGINT)) AS BIGINT) END AS fertility_bp,
        |  CASE WHEN SUM(c.n_bpe) > 0 THEN
        |    CAST(FLOOR(CAST(SUM(d.n_chars) AS DOUBLE) * 10000
        |      / CAST(SUM(c.n_bpe) AS BIGINT)) AS BIGINT) END
        |    AS chars_per_token_bp
        |FROM cnt c JOIN documents d USING (doc_id)
        |GROUP BY d.lang""".stripMargin

  /** The rank-ordered merge list ta_bpe_encode applies — EXACTLY
    * ta_bpe_merges' result (same plan), collected once per dataset
    * (≤20 rows of bounded driver model state, the ivfModel precedent). */
  private[graft] def bpeMerges(s: SparkSession, d: String): Seq[String] =
    bpeMergeCache.computeIfAbsent(d, _ =>
      queries("ta_bpe_merges")(s, d)
        .select("pair").collect().map(_.getString(0)).toSeq)

  /** The bracketed replace cascade over a token-array column (see
    * ta_bpe_encode's mechanics note) — factored so CurationSpec can
    * drive it with planted token sequences and a chosen merge list. */
  private[graft] def bpeEncodeExpr(w: Column, merges: Seq[String]): Column = {
    val s0 = when(size(w) === 0, lit(""))
      .otherwise(concat(lit(TokOpen), concat_ws(TokClose + TokOpen, w),
        lit(TokClose)))
    merges.foldLeft(s0) { case (c, pair) =>
      replace(c,
        lit(TokOpen + pair.replace(" ", TokClose + TokOpen) + TokClose),
        lit(TokOpen + pair.replace(" ", MergeJoin) + TokClose))
    }
  }

  /** Token count of an encoded string = occurrences of the open
    * bracket (each surviving token carries exactly one). */
  private[graft] def bpeTokenCount(enc: Column): Column =
    (length(enc) - length(replace(enc, lit(TokOpen), lit("")))).cast("long")

  /** DuckDB oracle for curate_probe_train, GENERATED with one CTE
    * triple (predict / residual / gradient) per unrolled GD step: every
    * reduction rides the VARCHAR-mediated DECIMAL(38,28) exact-sum
    * recipe and the learning rate enters as a VARCHAR-parsed double, so
    * weights and scores are bit-identical to Spark's (see the query's
    * exactness note). */
  private def probeTrainOracle: String = {
    def decSum(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,28))) " +
        "AS VARCHAR) AS DOUBLE)"
    def gdStep(k: Int): String = {
      val (wPrev, p, r, g, wNext) =
        (s"w$k", s"p${k + 1}", s"r${k + 1}", s"g${k + 1}", s"w${k + 1}")
      s"""$p AS (SELECT f.doc_id, ${decSum(s"$wPrev.w")} AS pred
         |  FROM feats f JOIN $wPrev USING (b) GROUP BY 1),
         |$r AS (SELECT p.doc_id, p.pred - y.y AS r
         |  FROM $p p JOIN y USING (doc_id)),
         |$g AS (SELECT f.b, ${decSum("r.r")} / n.n AS g
         |  FROM feats f JOIN $r r USING (doc_id), n GROUP BY f.b, n.n),
         |$wNext AS (SELECT w.b,
         |  w.w - CAST('0.1' AS DOUBLE) * COALESCE(g.g, CAST(0 AS DOUBLE)) AS w
         |  FROM $wPrev w LEFT JOIN $g g USING (b))""".stripMargin
    }
    s"""WITH docs AS (SELECT doc_id, source,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |feats AS (SELECT DISTINCT doc_id, b FROM (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(
       |      unnest(list_transform(generate_series(1, len(w) - 1),
       |        i -> w[i] || ' ' || w[i + 1]))), 1, 8)) AS UBIGINT)
       |      % 64 AS b
       |  FROM docs WHERE len(w) >= 2)),
       |y AS (SELECT doc_id,
       |  CASE WHEN source = 'src0' THEN CAST(1 AS DOUBLE)
       |       ELSE CAST(0 AS DOUBLE) END AS y FROM documents),
       |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM feats),
       |w0 AS (SELECT DISTINCT b, CAST(0 AS DOUBLE) AS w FROM feats),
       |${gdStep(0)},
       |${gdStep(1)},
       |score AS (SELECT f.doc_id, ${decSum("w2.w")} AS score
       |  FROM feats f JOIN w2 USING (b) GROUP BY 1)
       |SELECT d.doc_id, s.score
       |FROM documents d LEFT JOIN score s USING (doc_id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // exact cross-set jaccard (the dedup_ngram_jaccard oracle restricted
    // to corpus×benchmark pairs): banding has no false negatives at this
    // fixture's match levels and the verify join removes false positives,
    // so the minhash query equals the exact answer. Same double-division
    // + ROUND determinism as the dedup jaccard family.
    "decontam_minhash" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |idx AS (SELECT doc_id, source, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS cdoc, b.doc_id AS bdoc, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s
        |  WHERE b.source = 'src0' AND a.source <> 'src0'
        |  GROUP BY 1, 2)
        |SELECT cdoc AS doc_id, bdoc AS bench_id,
        |  ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = cdoc
        |JOIN sizes sb ON sb.doc_id = bdoc
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin,
    // add-1 bigram LM predictability: each p is an IEEE division of
    // exact integer counts (bit-identical across engines); the per-doc
    // mean uses the shortest-repr decimal cast (CAST(CAST(x AS VARCHAR)
    // AS DECIMAL) mimics Spark's BigDecimal.decimal(d)) + exact DECIMAL
    // sum + cast-to-double-before-divide — the ivfCentroids technique
    // at (38,28) so a 17-digit double's shortest repr is never rounded.
    // The sum's decimal→double cast ALSO routes through VARCHAR: DuckDB's
    // direct DECIMAL(38,·)→DOUBLE converts the int128 scaled value with a
    // double-rounding (1 ULP off, observed at sf0.01), while Java's
    // BigDecimal.doubleValue (Spark's cast) and DuckDB's VARCHAR→DOUBLE
    // are both correctly rounded — string-mediating makes them agree.
    "curate_lm_score" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
        |  FROM docs WHERE len(w) >= 2),
        |perdoc AS (
        |  SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM big GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c2
        |       FROM perdoc GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1
        |       FROM perdoc GROUP BY 1),
        |voc AS (SELECT COUNT(DISTINCT t) AS vocab
        |        FROM (SELECT unnest(w) AS t FROM docs)),
        |scored AS (
        |  SELECT p.doc_id, CAST(SUM(p.cnt) AS BIGINT) AS n_bigrams,
        |    CAST(CAST(SUM(CAST(CAST(
        |        CAST((c2.c2 + 1) * p.cnt AS DOUBLE)
        |          / CAST(c1.c1 + voc.vocab AS DOUBLE)
        |      AS VARCHAR) AS DECIMAL(38,28))) AS VARCHAR) AS DOUBLE)
        |      / CAST(SUM(p.cnt) AS BIGINT) AS lm_score
        |  FROM perdoc p JOIN c2 USING (w1, w2) JOIN c1 USING (w1), voc
        |  GROUP BY 1)
        |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.lm_score
        |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin,
    // DSIR importance score: md5-bucketed bigrams (the curate_shuffle
    // '0x'||hex→UBIGINT recipe), ratio factors cast to DOUBLE before
    // multiplying exactly like the query, per-doc mean via the same
    // VARCHAR-mediated decimal(38,28) path as curate_lm_score. Ranking
    // compares bit-identical doubles with a doc_id tiebreak, so the
    // top-quarter cut needs no margin (exact bitwise ties are safe).
    "curate_dsir" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(
        |      unnest(list_transform(generate_series(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1]))), 1, 8)) AS UBIGINT)
        |      % 4096 AS b
        |  FROM docs WHERE len(w) >= 2),
        |stats AS (
        |  SELECT b, COUNT(*) AS r,
        |    COUNT(*) FILTER (WHERE source = 'src0') AS t
        |  FROM feats GROUP BY 1),
        |tot AS (SELECT SUM(r) AS rtot, SUM(t) AS ttot FROM stats),
        |scored AS (
        |  SELECT f.doc_id, COUNT(*) AS n_feat,
        |    CAST(CAST(SUM(CAST(CAST(
        |      (CAST(s.t + 1 AS DOUBLE) * CAST(tot.rtot + 4096 AS DOUBLE)) /
        |      (CAST(s.r + 1 AS DOUBLE) * CAST(tot.ttot + 4096 AS DOUBLE))
        |    AS VARCHAR) AS DECIMAL(38,28))) AS VARCHAR) AS DOUBLE)
        |      / COUNT(*) AS dsir_score
        |  FROM feats f JOIN stats s USING (b), tot
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT doc_id, n_feat, dsir_score,
        |    ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id ASC) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM scored)
        |SELECT d.doc_id, COALESCE(r.n_feat, 0) AS n_feat, r.dsir_score,
        |  COALESCE(r.rn * 4 <= r.n, FALSE) AS selected
        |FROM documents d LEFT JOIN ranked r USING (doc_id)""".stripMargin,
    // generated from the shared deterministic k-means chain
    // (SimilarityQueries.ivfChainSql); dist_sq is written with the SAME
    // left-to-right association the query uses ((v·v + c·c) − 2·v·c)
    // and every within-cluster adjacent gap is margin-pinned, so the
    // rankings agree decision-for-decision across engines
    "curate_probe_train" -> probeTrainOracle,
    // the D4 composition: dedup_semantic's un/dup CTEs, then the
    // curate_prototypes rank restricted to survivors, stage flags out
    "curate_d4" ->
      s"""${SimilarityQueries.ivfChainSql},
         |un AS (SELECT vec_id, cell,
         |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
         |       FROM af WHERE cell IS NOT NULL),
         |dup AS (SELECT x.vec_id FROM un x WHERE EXISTS (
         |  SELECT 1 FROM un y
         |  WHERE y.cell = x.cell AND y.vec_id < x.vec_id
         |    AND list_dot_product(x.u, y.u) >= ${DedupQueries.SemThreshold})),
         |dd AS (SELECT af.vec_id, af.cell,
         |         list_dot_product(af.v, af.v) + list_dot_product(c.v, c.v)
         |           - 2 * list_dot_product(af.v, c.v) AS dist_sq
         |       FROM af JOIN c2 c USING (cell)
         |       WHERE af.cell IS NOT NULL
         |         AND af.vec_id NOT IN (SELECT vec_id FROM dup)),
         |r AS (SELECT vec_id,
         |        row_number() OVER (PARTITION BY cell
         |          ORDER BY dist_sq DESC, vec_id) AS rn,
         |        count(*) OVER (PARTITION BY cell) AS n
         |      FROM dd)
         |SELECT un.vec_id, CAST(un.cell AS INTEGER) AS cell,
         |  un.vec_id IN (SELECT vec_id FROM dup) AS sem_dup,
         |  r.rn = 1 OR r.rn * 4 <= r.n * 3 AS proto_kept,
         |  COALESCE(r.rn = 1 OR r.rn * 4 <= r.n * 3, FALSE)
         |    AND un.vec_id NOT IN (SELECT vec_id FROM dup) AS survives
         |FROM un LEFT JOIN r USING (vec_id)""".stripMargin,
    "curate_prototypes" ->
      s"""${SimilarityQueries.ivfChainSql},
         |dd AS (SELECT af.vec_id, af.cell,
         |         list_dot_product(af.v, af.v) + list_dot_product(c.v, c.v)
         |           - 2 * list_dot_product(af.v, c.v) AS dist_sq
         |       FROM af JOIN c2 c USING (cell)),
         |r AS (SELECT vec_id, cell,
         |        row_number() OVER (PARTITION BY cell
         |          ORDER BY dist_sq DESC, vec_id) AS rn,
         |        count(*) OVER (PARTITION BY cell) AS n
         |      FROM dd)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
         |  rn = 1 OR rn * 4 <= n * 3 AS kept
         |FROM r""".stripMargin,
    "curate_shuffle" ->
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY
        |    CAST(('0x' || substring(md5('graft-shuffle-42' ||
        |      CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) ASC,
        |    doc_id ASC) AS pos
        |FROM documents""".stripMargin,
    // Bloom prefilter has no false negatives and candidates are verified
    // by the exact join ⇒ identical to the unfiltered sweep.
    "decontam_bloom" -> PipelineQueries.oracles("decontam_overlap"),
    "dedup_substr_seen" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 5 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-4),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |           w[i+3] || ' ' || w[i+4]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |idx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |o AS (SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY s) AS first_owner FROM idx)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(FLOOR(CAST(SUM(CASE WHEN first_owner < doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) * 10000 / COUNT(*)) AS BIGINT) AS seen_bp
        |FROM o GROUP BY doc_id""".stripMargin,
    "q55_decile_bucket" ->
      """WITH r AS (
        |  SELECT n_chars,
        |    NTILE(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS decile
        |  FROM documents)
        |SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM r GROUP BY decile""".stripMargin,
    "mix_sources_target" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(CAST(substring(source, 4) AS INTEGER) % 4 + 1 AS DOUBLE) AS wt
        |  FROM documents GROUP BY source),
        |r AS (SELECT source,
        |  (MIN(CAST(n AS DOUBLE) / wt) OVER ()) * wt / n AS rate FROM c)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |        AS UBIGINT) / 4294967296.0 < r.rate""".stripMargin,
    "ta_bpe_merges" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (SELECT
        |  unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |  FROM t WHERE len(toks) >= 2)
        |SELECT pair, COUNT(*) AS cnt FROM bg GROUP BY pair
        |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "ta_bpe_encode" -> bpeEncodeOracle,
    "ta_fertility" -> fertilityOracle,
    "ta_boilerplate" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |thr AS (SELECT GREATEST(5, CAST(CEIL(0.004 * COUNT(*)) AS BIGINT)) AS k
        |        FROM documents),
        |toks AS (SELECT doc_id, i AS pos, w[i] AS tok
        |         FROM docs, unnest(generate_series(1, len(w))) t(i)),
        |grams AS (SELECT doc_id, i AS start, w[i]||' '||w[i+1]||' '||w[i+2] AS g
        |          FROM docs, unnest(generate_series(1, len(w)-2)) t(i)),
        |hot AS (SELECT g FROM grams GROUP BY g
        |        HAVING COUNT(DISTINCT doc_id) >= (SELECT k FROM thr)),
        |cov AS (SELECT DISTINCT gr.doc_id, gr.start + o AS pos
        |        FROM grams gr JOIN hot USING (g), unnest([0,1,2]) t(o)),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c
        |           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |          string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.clean_text, '') AS clean_text,
        |  CAST(len(list_filter(string_split(d.text,' '), x -> x <> ''))
        |    AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    "pipeline_e2e" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text,' '), x -> x <> '') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, text,
        |  len(toks) >= 30 AND len(toks) <= 80 AND
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) >= 1
        |    AS pq FROM t),
        |e AS (SELECT doc_id, text,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS ec
        |  FROM q WHERE pq),
        |canon AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM e WHERE doc_id = ec),
        |sht AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM canon),
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
        |  SELECT e2.dst, r.root FROM r JOIN edges e2 ON e2.src = r.node),
        |comp AS (SELECT node, MIN(root) AS cluster FROM r GROUP BY node)
        |SELECT q.doc_id, q.pq AS passed_quality,
        |  COALESCE(q.doc_id <> e.ec, FALSE) AS exact_dup,
        |  COALESCE(c.cluster <> q.doc_id, FALSE) AS near_dup,
        |  q.pq AND NOT COALESCE(q.doc_id <> e.ec, FALSE)
        |       AND NOT COALESCE(c.cluster <> q.doc_id, FALSE) AS survives
        |FROM q
        |LEFT JOIN e ON e.doc_id = q.doc_id
        |LEFT JOIN comp c ON c.node = q.doc_id""".stripMargin,
    "sample_epochs" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text,' '), x -> x <> '')))
        |      AS BIGINT) AS tokens_avail
        |  FROM documents GROUP BY source),
        |g AS (SELECT source, n_docs, tokens_avail,
        |  CAST(SUM(tokens_avail) OVER () AS BIGINT) AS total,
        |  COUNT(*) OVER () AS nsrc FROM per)
        |SELECT source, n_docs, tokens_avail,
        |  CAST((2 * total) // nsrc AS BIGINT) AS tokens_target,
        |  CAST(((2 * total) // nsrc + tokens_avail - 1)
        |    // NULLIF(tokens_avail, 0) AS BIGINT) AS epochs,
        |  CAST(((2 * total) // nsrc * 10000)
        |    // NULLIF(tokens_avail, 0) AS BIGINT) AS overuse_bp
        |FROM g""".stripMargin,
    "ta_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{2}-\d{4}\b')) AS INTEGER) AS n_ssn,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ip
        |FROM documents""".stripMargin)
}
