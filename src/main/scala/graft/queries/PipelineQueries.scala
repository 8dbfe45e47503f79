package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond dedup/stats: repetition
  * filters, Gopher-style rule filters, per-shard sequence packing,
  * benchmark decontamination, stratified sampling.
  *
  * All ratios are reported as exact basis points (floor(k·10000/n)) so
  * Spark and the DuckDB oracle agree bit-for-bit (see TextQueries for
  * why round(double) is not cross-engine stable).
  *
  * Scale notes per operator are inline; none of these materializes on the
  * driver, and the only window function partitions by `source` (shard
  * key), never globally.
  */
object PipelineQueries {

  /** documents + materialized token array — the shared eval-once-barrier
    * helper (one definition, [[TextQueries.docsWithToks]]). */
  private def docsWithToks(s: SparkSession, d: String): DataFrame =
    TextQueries.docsWithToks(s, d)

  // zero-denominator guard: degenerate docs get NULL, not a job-killing
  // ANSI cast error on Inf (see RobustnessSpec)
  private def bp(num: Column, den: Column): Column =
    when(den > 0, floor(num.cast("double") * 10000 / den).cast("long"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Repetition detection (the Gopher/MassiveText "repetitious text"
    // family): duplicate-token ratio and the share of the most frequent
    // bigram among all bigrams. High values flag boilerplate/spam for
    // removal before training. Shape: one explode + two-level aggregate,
    // partial-agg friendly, no self-joins.
    "ta_repetition" -> ((s, d) => {
      val n = size(col("toks"))
      val base = docsWithToks(s, d).select(
        col("doc_id"), col("toks"), n.as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"))
      // when() keeps slice's negative length unevaluated for docs with
      // < 2 tokens (slice throws rather than clamping — RobustnessSpec)
      val bigrams = base.select(col("doc_id"), col("n_tokens"),
        explode(when(col("n_tokens") >= 2, zip_with(
          slice(col("toks"), lit(1), col("n_tokens") - 1),
          slice(col("toks"), lit(2), col("n_tokens") - 1),
          (x, y) => concat(x, lit(" "), y)))
          .otherwise(array().cast("array<string>"))).as("bg"))
      val topBg = bigrams
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("max_bg"))
      base.join(topBg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          bp(col("n_tokens") - col("n_distinct"), col("n_tokens"))
            .as("dup_token_bp"),
          when(col("n_tokens") > 1,
            bp(coalesce(col("max_bg"), lit(0L)), col("n_tokens") - 1))
            .otherwise(lit(0L)).as("top_bigram_bp"))
    }),

    // Gopher-style rule filter: each rule as a boolean column plus the
    // conjunctive keep flag — the standard pre-training quality gate.
    // Pure per-row map work (no shuffle at all): linear at any scale.
    "ta_gopher_filters" -> ((s, d) => {
      val n = size(col("toks"))
      val sumLen = aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
      val stopHits = size(filter(col("toks"),
        t => t.isin("the", "a", "of", "and", "is")))
      val alphaToks = size(filter(col("toks"),
        t => t.rlike("\\p{L}")))
      docsWithToks(s, d)
        .select(col("doc_id"), n.as("n_tokens"),
          when(n > 0, floor(sumLen.cast("double") * 100 / n).cast("long"))
            .as("mean_tok_len_c"),
          stopHits.cast("int").as("stop_hits"),
          bp(alphaToks, n).as("alpha_bp"))
        .select(col("doc_id"), col("n_tokens"), col("mean_tok_len_c"),
          col("stop_hits"), col("alpha_bp"),
          (col("n_tokens") >= 30 && col("n_tokens") <= 80).as("ok_len"),
          (col("mean_tok_len_c") >= 300 && col("mean_tok_len_c") <= 800)
            .as("ok_mean_len"),
          (col("stop_hits") >= 1).as("ok_stop"),
          (col("alpha_bp") >= 8000).as("ok_alpha"))
        .withColumn("keep",
          col("ok_len") && col("ok_mean_len") && col("ok_stop") &&
            col("ok_alpha"))
    }),

    // Per-shard sequence packing ("concat then split" into fixed
    // 128-token training bins): documents are concatenated in doc_id
    // order WITHIN each source shard and cut every 128 tokens; a doc
    // spanning a cut belongs to every bin it overlaps. The window
    // partitions by source — the shard key — so state per partition is
    // one running sum; there is no global window (the 100 TB version
    // packs each shard independently, exactly this plan).
    "pack_sequences" -> ((s, d) => {
      val binSz = 128L
      val w = Window.partitionBy("source").orderBy("doc_id")
      docsWithToks(s, d)
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("n"))
        .filter(col("n") > 0) // empty docs occupy no bin (and would
                              // otherwise yield a reversed bin sequence)
        .withColumn("cum_after", sum(col("n")).over(w))
        .withColumn("cum_before", col("cum_after") - col("n"))
        .select(col("source"), col("doc_id"), col("n").as("n_tokens"),
          explode(sequence(
            floor(col("cum_before").cast("double") / binSz).cast("long"),
            floor((col("cum_after") - 1).cast("double") / binSz)
              .cast("long"))).as("bin_id"))
    }),

    // Benchmark decontamination: flag corpus documents sharing any 3-gram
    // shingle with a "benchmark" set (stand-in: the src0 shard). The
    // benchmark shingle set is tiny relative to the corpus → broadcast
    // inner join against the corpus inverted index, count distinct shared
    // shingles per doc. This is the standard eval-contamination sweep:
    // corpus-side work is one shingle explode + a broadcast join.
    "decontam_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("source") === "src0")
        .select(explode(shingles(col("text"), 3)).as("s"))
        .distinct()
      val corpus = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
      corpus.join(broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(countDistinct(col("s")).as("n_shared"))
    }),

    // Temperature-flattened language sampling (α = 0.5): downsample each
    // language at rate √(n_min/n_l), so kept_l = √(n_min·n_l) — sizes are
    // pulled toward the geometric mean, the standard rebalancing step for
    // dominant languages/sources before training (the fixture's languages
    // are skewed ~4:1 en:zh; its sources are uniform). Deterministic
    // md5-hash selection (replay-stable, no rand); √ is IEEE-exact
    // cross-engine (a general α would need libm pow — not oracle-stable).
    // Shape: one tiny per-language stats aggregate broadcast back, then a
    // pure filter.
    "sample_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("n_min", min(col("n")).over(Window.partitionBy()))
        .withColumn("rate", sqrt(col("n_min").cast("double") / col("n")))
        .select("lang", "rate")
      val u = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("double") / 4294967296.0
      docs.join(broadcast(counts), "lang")
        .filter(u < col("rate"))
        .select(col("doc_id"), col("lang"))
    }),

    // Stratified (per-source quota) sampling, deterministic: keep the 5
    // docs per source that sort first by md5(doc_id) — replay-stable
    // (same winners every run and every engine), no rand(). Shape:
    // per-shard top-k via ranking window on the shard key; at 100 TB the
    // same plan holds because the partition key IS the stratum.
    "sample_stratified" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val w = Window.partitionBy("source").orderBy(h.asc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), h.as("hkey"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("source"), col("rn"))
    }),

    // Class-balanced downsampling: every language keeps exactly
    // n_min = |smallest class| docs — the majority-class downsample
    // before training on skewed data. Kept docs per class are the
    // n_min smallest md5 ranks (deterministic, replay-stable). Unlike
    // sample_stratified's fixed tiny k (a bounded WindowGroupLimit
    // heap), n_min is a large FRACTION of the table, so the per-class
    // rank uses the q54 two-pass ranged idiom keyed by the hash
    // itself: md5 is uniform by construction, so the first hex byte is
    // a 256-way equal-mass bucketing with LITERAL boundaries — no
    // stats job, no single-reducer class sort, no n_min-sized heap.
    // Bucket counts give the offsets, per-class totals, AND n_min from
    // ONE tiny aggregate (≤ 256·|langs| rows, broadcast back); the
    // in-bucket window ranks ~n/256 rows. Hex-prefix order == hkey
    // string order (fixed 32-char lowercase hex), so bucket-major +
    // in-bucket rank is the true per-class hash rank.
    "sample_balanced" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), h.as("hkey"))
        .withColumn("b",
          conv(substring(col("hkey"), 1, 2), 16, 10).cast("int"))
        .localCheckpoint() // re-read by the bucket-count and rank passes
      val bc = docs.groupBy("lang", "b").agg(count(lit(1)).as("c"))
        .localCheckpoint() // tiny; re-read by offsets and n_min
      val wB = Window.partitionBy("lang").orderBy("b")
      val offs = bc.select(col("lang"), col("b"),
        coalesce(sum(col("c")).over(
          wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("off"))
      val nmin = bc.groupBy("lang").agg(sum(col("c")).as("n"))
        .agg(min(col("n")).as("n_min"))
      val wIn = Window.partitionBy("lang", "b")
        .orderBy(col("hkey").asc, col("doc_id").asc)
      docs.join(broadcast(offs), Seq("lang", "b"))
        .withColumn("rn", col("off") + row_number().over(wIn))
        .crossJoin(broadcast(nmin))
        .filter(col("rn") <= col("n_min"))
        .select(col("doc_id"), col("lang"), col("rn"))
    }),

    // WEIGHTED sampling without replacement, per source (Efraimidis &
    // Spirakis 2006's exponential race, determinized): each doc draws
    // u ∈ (0,1] from md5(seed‖doc_id) and races with key −ln(u)/w,
    // weight w = n_chars (the quality-proxy stand-in — real pipelines
    // plug a classifier score in); the 5 SMALLEST keys per source win,
    // giving inclusion odds proportional to weight with replay-stable
    // winners (no rand()). Cross-engine exactness: the output is
    // integers only (the keys stay internal), ln differs by ≤ ~2 ULP
    // between engines, and every ordering decision the rank makes is
    // margin-pinned ≫ that wobble in PipelineSpec (the sample_temperature
    // note predates the margin-pin doctrine — a pinned ln IS
    // oracle-stable; exact bitwise ties break by doc_id identically).
    // Shape: pure per-row key, then the per-stratum ranking window on
    // the partition key — narrow columns only; at 100 TB swap the
    // window for the bounded-heap TopKAggregator per source if stratum
    // cardinality explodes (same winners, O(k) state).
    "sample_weighted" -> ((s, d) => {
      val u01 = (conv(substring(md5(concat(lit(WeightedSeed),
          col("doc_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("long") + 1).cast("double") / lit(4294967296.0)
      val w = Window.partitionBy("source")
        .orderBy(col("k").asc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("k", -log(u01) / col("n_chars").cast("double"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("source"), col("rk"))
    }),

    // UniMax language-balanced sampling (Chung et al. 2023, "UniMax:
    // Fairer and More Effective Language Sampling for Large-Scale
    // Multilingual Pretraining", arXiv:2304.09151): distribute a total
    // character budget across languages as uniformly as possible subject
    // to an epoch cap — visit languages SMALLEST-FIRST; each takes
    // min(maxEpochs·size, remaining_budget/remaining_langs), so small
    // languages cap at maxEpochs repeats (never oversampled into
    // memorization) and large ones split the rest evenly. Integerized
    // with floor divisions so every quantity is exact BIGINT arithmetic
    // in both engines — the oracle replays the waterfill as a recursive
    // CTE, hash-exact with zero FP machinery. Per-language epochs then
    // become per-doc repeat counts: floor(epochs) for everyone, plus one
    // extra epoch for the md5-ranked doc prefix whose cumulative chars
    // fit the fractional remainder (the replay-stable hash-order recipe
    // sample_stratified uses). Shape: the waterfill runs on a
    // #languages-row aggregate — bounded MODEL state on the driver, like
    // BPE's merge list; the allocation table is a k-row broadcast join;
    // the only window partitions by lang (at 100 TB a skewed giant
    // language swaps the prefix cut for the two-pass bucketed cumsum —
    // same winners, no single-reducer window; budget = total/2 and
    // maxEpochs = 3 are fixture-scale stand-ins for run config).
    "sample_unimax" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy("lang")
        .agg(sum("n_chars").as("chars")).as[(String, Long)].collect()
        .sortBy { case (lang, c) => (c, lang) }
      val maxEpochs = 3L
      var b = stats.map(_._2).sum / 2
      var k = stats.length.toLong
      val alloc = stats.map { case (lang, langChars) =>
        val a = math.min(maxEpochs * langChars, b / k)
        b -= a; k -= 1
        (lang, langChars, a)
      }
      val allocDf = broadcast(
        alloc.toSeq.toDF("lang", "lang_chars", "alloc"))
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val w = Window.partitionBy("lang").orderBy(h.asc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .join(allocDf, Seq("lang"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .select(col("doc_id"), col("lang"),
          (expr("alloc div greatest(lang_chars, 1L)") +
            when(col("cum") <= col("alloc") %
              greatest(col("lang_chars"), lit(1L)), 1L).otherwise(0L))
            .as("n_repeats"))
    }))

  /** Seed for sample_weighted's md5-uniform draw — fixed so a training
    * run's sample is reproducible; version it to re-roll. */
  private[graft] val WeightedSeed = "graft-wsample-7"

  val oracles: Map[String, String] = Map(
    "ta_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, toks, len(toks) AS n,
        |  len(list_distinct(toks)) AS nd FROM t),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |topbg AS (SELECT doc_id, MAX(c) AS max_bg FROM bgc GROUP BY 1)
        |SELECT base.doc_id,
        |  CAST(base.n AS INTEGER) AS n_tokens,
        |  CAST(FLOOR(CAST(base.n - base.nd AS DOUBLE) * 10000 / NULLIF(base.n, 0)) AS BIGINT) AS dup_token_bp,
        |  CASE WHEN base.n > 1 THEN
        |    CAST(FLOOR(CAST(COALESCE(topbg.max_bg, 0) AS DOUBLE) * 10000 / (base.n - 1)) AS BIGINT)
        |  ELSE 0 END AS top_bigram_bp
        |FROM base LEFT JOIN topbg ON base.doc_id = topbg.doc_id""".stripMargin,
    "ta_gopher_filters" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(FLOOR(CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE) * 100 / NULLIF(len(toks), 0)) AS BIGINT) AS mean_tok_len_c,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS INTEGER) AS stop_hits,
        |  CAST(FLOOR(CAST(len(list_filter(toks, x -> regexp_matches(x, '\p{L}'))) AS DOUBLE) * 10000 / NULLIF(len(toks), 0)) AS BIGINT) AS alpha_bp
        |  FROM t)
        |SELECT doc_id, n_tokens, mean_tok_len_c, stop_hits, alpha_bp,
        |  n_tokens >= 30 AND n_tokens <= 80 AS ok_len,
        |  mean_tok_len_c >= 300 AND mean_tok_len_c <= 800 AS ok_mean_len,
        |  stop_hits >= 1 AS ok_stop,
        |  alpha_bp >= 8000 AS ok_alpha,
        |  (n_tokens >= 30 AND n_tokens <= 80)
        |    AND (mean_tok_len_c >= 300 AND mean_tok_len_c <= 800)
        |    AND stop_hits >= 1 AND alpha_bp >= 8000 AS keep
        |FROM m""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
        |c AS (SELECT doc_id, source, n,
        |  SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS cum_after
        |  FROM t),
        |b AS (SELECT doc_id, source, n, cum_after,
        |  cum_after - n AS cum_before FROM c),
        |x AS (SELECT doc_id, source, n,
        |  unnest(generate_series(CAST(FLOOR(CAST(cum_before AS DOUBLE) / 128) AS BIGINT),
        |                         CAST(FLOOR(CAST(cum_after - 1 AS DOUBLE) / 128) AS BIGINT))) AS bin_id
        |  FROM b)
        |SELECT source, doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(bin_id AS BIGINT) AS bin_id
        |FROM x""".stripMargin,
    "decontam_overlap" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |idx AS (SELECT doc_id, source, unnest(shingles) AS s FROM sh),
        |bench AS (SELECT DISTINCT s FROM idx WHERE source = 'src0')
        |SELECT idx.doc_id, COUNT(DISTINCT idx.s) AS n_shared
        |FROM idx JOIN bench ON idx.s = bench.s
        |WHERE idx.source <> 'src0'
        |GROUP BY idx.doc_id""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |  sqrt(CAST((SELECT MIN(n) FROM c) AS DOUBLE) / n) AS rate FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |      / 4294967296.0 < r.rate""".stripMargin,
    "sample_stratified" ->
      """WITH h AS (SELECT doc_id, source,
        |  md5(CAST(doc_id AS VARCHAR)) AS hkey FROM documents),
        |r AS (SELECT doc_id, source,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |       ORDER BY hkey ASC, doc_id ASC) AS INTEGER) AS rn
        |  FROM h)
        |SELECT doc_id, source, rn FROM r WHERE rn <= 5""".stripMargin,
    "sample_balanced" ->
      """WITH h AS (SELECT doc_id, lang,
        |  md5(CAST(doc_id AS VARCHAR)) AS hkey FROM documents),
        |n AS (SELECT MIN(c) AS n_min FROM
        |  (SELECT COUNT(*) AS c FROM h GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |       ORDER BY hkey ASC, doc_id ASC) AS BIGINT) AS rn
        |  FROM h)
        |SELECT doc_id, lang, rn FROM r, n WHERE rn <= n.n_min""".stripMargin,
    // exponential-race keys recomputed with DuckDB's ln — safe because
    // every rank decision is margin-pinned ≫ ULP wobble (PipelineSpec)
    "sample_weighted" ->
      """WITH k AS (SELECT doc_id, source,
        |  -ln((CAST(('0x' || substring(md5('graft-wsample-7'
        |        || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 1)
        |      / 4294967296.0) / n_chars AS k
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |       ORDER BY k ASC, doc_id ASC) AS INTEGER) AS rk
        |  FROM k)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 5""".stripMargin,
    // the integerized UniMax waterfill replayed as a recursive CTE —
    // smallest-first visit order, floor divisions, LEAST caps: pure
    // BIGINT arithmetic end to end, so the compare needs no FP pins
    "sample_unimax" ->
      """WITH RECURSIVE stats AS (
        |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS L
        |  FROM documents GROUP BY 1),
        |ord AS (SELECT lang, L,
        |  CAST(row_number() OVER (ORDER BY L ASC, lang ASC) AS BIGINT) AS rn
        |  FROM stats),
        |tot AS (SELECT CAST(SUM(L) AS BIGINT) // 2 AS b0,
        |  CAST(COUNT(*) AS BIGINT) AS k0 FROM stats),
        |fill AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, b0 AS b, k0 AS k,
        |    CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS a,
        |    CAST(0 AS BIGINT) AS L
        |  FROM tot
        |  UNION ALL
        |  SELECT o.rn, f.b - LEAST(3 * o.L, f.b // f.k), f.k - 1,
        |    o.lang, LEAST(3 * o.L, f.b // f.k), o.L
        |  FROM fill f JOIN ord o ON o.rn = f.rn + 1),
        |alloc AS (SELECT lang, L, a FROM fill WHERE rn > 0),
        |c AS (SELECT d.doc_id, d.lang, al.a, al.L,
        |  SUM(d.n_chars) OVER (PARTITION BY d.lang
        |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents d JOIN alloc al USING (lang))
        |SELECT doc_id, lang,
        |  a // GREATEST(L, 1) +
        |    CASE WHEN cum <= a % GREATEST(L, 1) THEN 1 ELSE 0 END
        |    AS n_repeats
        |FROM c""".stripMargin)
}
