package graft.tools

import java.nio.file.{Files, Paths}
import graft.metrics.Recording
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev utility: inspect, time or audit registered queries by name.
  *
  *   QueryDebug explain <query>[,query...] [sfDir]    — physical plan dump
  *   QueryDebug explainf <query>[,query...] <outDir> <suffix> [sfDir]
  *                                                     — formatted plans to files
  *   QueryDebug time <sfDir> <query>[,query...] [reps] — wall clock, work
  *                                                     counters, codegen compilations
  *   QueryDebug audit [sfDir]                          — wide-shuffle audit
  *   QueryDebug plans <out.md> [sfDir]                 — regenerate PLANS.md
  *   QueryDebug codegen <sfDir> <query>[,query...]     — codegen working set
  *
  * Every mode runs on ONE session built by the rule every main uses
  * ([[graft.LocalSession]], log level ERROR). `audit` additionally turns
  * AQE off on that session.
  */
object QueryDebug {
  def main(args: Array[String]): Unit = {
    val run: (SparkSession, Array[String]) => Boolean =
      args.headOption.getOrElse("") match {
        case "explain"  => (s, a) => { explain(s, a); true }
        case "explainf" => (s, a) => { explainf(s, a); true }
        case "time"     => (s, a) => { time(s, a); true }
        case "plans"    => (s, a) => { plans(s, a); true }
        case "codegen"  => (s, a) => { codegen(s, a); true }
        case "audit"    => audit
        case other => sys.error(s"unknown mode '$other' " +
          "(expected explain|explainf|time|audit|plans|codegen)")
      }
    val spark = graft.LocalSession("ERROR")
    val clean = try run(spark, args.drop(1)) finally spark.stop()
    if (!clean) sys.exit(1)
  }

  private def sfDirArg(args: Array[String], i: Int): String =
    if (args.length > i) args(i) else "/root/testdata/sf0.01"

  /** The executed plan as `explain` and `plans` print it, cut at 4000
    * characters. `stable` masks what differs between two runs of the
    * same plan — expression ids, `plan_id`s, the JVM-wide counter in
    * lambda variable names (`x_5`, numbered by how many lambdas the
    * process built before) and the random suffixes of
    * graft's temp-directory names (`createTempDirectory`'s decimal one,
    * the IVF index's `_<pid>_<md5>`) — before the cut, so two dumps of
    * unchanged plans are byte-identical. */
  private def planText(df: DataFrame, stable: Boolean = false): String = {
    val p = df.queryExecution.executedPlan.toString
    (if (stable) runSpecific.foldLeft(p) { case (t, (re, to)) =>
      re.replaceAllIn(t, to) } else p).take(4000)
  }
  private val runSpecific = Seq(
    "#\\d+".r -> "#N",
    "plan_id=\\d+".r -> "plan_id=N",
    "(lambda \\w+?_)\\d+".r -> "$1N",
    "(/tmp/graft[a-z_-]*?)(?:_[0-9a-f]+_[0-9a-f]{32}|\\d+)".r -> "$1*")

  /** A registered query's plan as `plans` writes it: built and planned
    * with `spark.sql.maxMetadataStringLength` at its maximum, then
    * masked (`planText(_, stable = true)`). Spark cuts each scan
    * metadata value (`DataFilters`, `ReadSchema`, …) at that length when
    * it plans the scan, before any mask can run, so at the default of
    * 100 the cut moves with the digit count of the expression ids and
    * lambda counters inside it. The session's value is restored after. */
  private[graft] def stablePlan(
      spark: SparkSession, name: String, sfDir: String): String = {
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toString)
    try planText(graft.SparkEntry.queries(name)(spark, sfDir), stable = true)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** explainf <names,comma-sep> <outDir> <suffix> [sfDir]: writes each
    * query's `.explain("formatted")` output to <outDir>/<name>_<suffix>.txt
    * — the plans/r16 optimization-evidence artifact. */
  private def explainf(spark: SparkSession, args: Array[String]): Unit = {
    val names = args(0).split(",")
    val outDir = args(1)
    val suffix = args(2)
    val sfDir = sfDirArg(args, 3)
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
  }

  // raw source columns by substring; derived wide names (token arrays /
  // vectors / rewritten text, including self-join renames) exactly
  private val wideSub = Seq("text", "embedding")
  private val wideExact = Set("toks", "tok", "w", "word", "v", "u",
    "u_a", "u_b", "v_a", "v_b", "q_v", "c_v", "q_emb", "c_emb",
    "prior_u", "prior_v", "sh_a", "sh_b",
    "norm_text", "chunk_text", "scrubbed")
  private def isWide(n: String) =
    wideSub.exists(n.contains) || wideExact.contains(n)

  /** Wide PAYLOAD columns carried by each shuffle exchange of a
    * physical plan, one entry per offending exchange. A wide column that
    * is part of the exchange's PARTITIONING KEY is not flagged — keying
    * by a token/shingle is how inverted indexes and token aggregates
    * work; the scale-killer is wide data riding along as payload. The
    * exchanges are found by `Parallelism.exchanges`, which walks an AQE
    * root's current plan (AuditSpec pins detection under both AQE
    * settings, before and after execution). */
  private[graft] def wideShuffles(plan: SparkPlan): Seq[Seq[String]] =
    graft.operators.Parallelism.exchanges(plan).collect {
      case e: ShuffleExchangeExec =>
        val keyNames = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.collect {
            case a: Attribute => a.name.toLowerCase
          }.toSet
          case _ => Set.empty[String]
        }
        e.output.map(_.name.toLowerCase)
          .filter(n => isWide(n) && !keyNames.contains(n))
    }.filter(_.nonEmpty)

  private[graft] def wideShuffles(df: DataFrame): Seq[Seq[String]] =
    wideShuffles(df.queryExecution.executedPlan)

  /** The wide shuffles of one registered query as it EXECUTES: run it
    * evaluating every output column (`CodegenWorkingSet.touchAll`; a
    * `count()` would let column pruning strip the very payload columns
    * the walk looks for) and walk the plan of every SQL execution it ran
    * — each eager or lazy checkpoint, each memoized build and each child
    * session's query is an execution of its own, and a recording
    * collects them all. The RDDs it left persisted are dropped after, as
    * `time` does. */
  private[graft] def auditQuery(
      spark: SparkSession, name: String, sfDir: String): Seq[Seq[String]] = {
    val (_, rec) = Recording.of(spark)(
      CodegenWorkingSet.touchAll(graft.SparkEntry.queries(name)(spark, sfDir)))
    rec.persisted.foreach(_.unpersist(blocking = false))
    rec.plans.flatMap(wideShuffles)
  }

  /** Raw-width shuffle audit: EXECUTE every registered query
    * ([[auditQuery]]) and flag any shuffle exchange whose output carries
    * a raw or derived wide column (text/embedding/token arrays/vectors)
    * — the scale-killer class (wide columns crossing the wire for
    * something an aggregate or narrow projection should have reduced
    * first). AQE is off on the session, so the plans are the static
    * shapes the allowlist describes. Not clean (exit code 1) on any
    * non-allowlisted hit, AND on any query that failed to execute (a
    * broken audit must not read as a passing one). */
  private def audit(spark: SparkSession, args: Array[String]): Boolean = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sfDir = sfDirArg(args, 0)
    // Known-inherent wide shuffles — each entry must justify WHY the
    // operator cannot reduce the column before the exchange. Anything
    // not listed here fails the audit.
    val allowed = Map(
      "sim_knn_banded" -> (Set("v") ->
        ("band equi-join must deliver candidate vectors to the cosine " +
          "verify -- co-locating by band IS the operator")),
      "ta_boilerplate" -> (Set("w") ->
        ("one-time doc_id co-partitioning INVESTMENT before the index " +
          "checkpoint: the covered-position anti-join and reassembly " +
          "groupBy then plan shuffle-free on the exploded token side -- " +
          "strictly fewer bytes than re-shuffling every (doc_id, pos, " +
          "tok) row per consumer (round-5 measurement)")),
      // broadcast at fixture scale (no exchange in the audited plan);
      // listed for the at-scale shape, where the cell equi-join becomes
      // a co-partitioned SMJ: cluster-locality IS SemDeDup -- the
      // unit-dot verify needs both unit vectors in the cluster's
      // partition, and the unit vector IS the reduced representation
      // (64 doubles standing in for the document)
      "dedup_semantic" -> (Set("u", "prior_u") ->
        ("SemDeDup cell self-join must co-locate cluster members for " +
          "the within-cluster unit-dot verify -- the embedding is the " +
          "operator's reduced representation, never the raw text")),
      // Parallelism.floor exchanges (r17): round-robin repartition of
      // the streamed side of a QUADRATIC all-pairs stage, engaged only
      // when the scan provides fewer partitions than
      // spark.sql.shuffle.partitions (at real scale the scan is split
      // and NO exchange exists; the audit's sf0.01 single-file fixture
      // always engages it). Bytes moved are one linear pass of the
      // vector table vs |other side| x that in compute above -- the
      // one shape where manufacturing parallelism is always amortized
      // (measured sf1: eval_ann_recall 79 -> 19 s, dedup_embedding
      // 17.5 -> 4.1 s).
      "eval_ann_recall" -> (Set("v") ->
        ("parallelism floor for the exact-ground-truth all-pairs join " +
          "-- engaged only below the shuffle-partition count; one " +
          "linear vector pass vs |Q|x compute above it")),
      "dedup_embedding" -> (Set("u_a") ->
        ("parallelism floor for the all-pairs BNLJ baseline -- engaged " +
          "only below the shuffle-partition count; one linear vector " +
          "pass vs |corpus|x compute above it")))
    var hits = 0
    var errors = 0
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        auditQuery(spark, name, sfDir).foreach { carried =>
          val justification = allowed.get(name)
            .collect { case (cs, why) if carried.forall(cs) => why }
          justification match {
            case Some(why) =>
              println(s"ALLOWED $name: ${carried.mkString(",")} — $why")
            case None =>
              hits += 1
              println(s"WIDE-SHUFFLE $name: ${carried.mkString(",")}")
          }
        }
      } catch { case e: Throwable =>
        errors += 1
        println(s"AUDIT-ERROR $name: ${e.getClass.getSimpleName}")
      }
    }
    println(s"audit: $hits wide shuffles, $errors errors across " +
      s"${graft.SparkEntry.queries.size} queries")
    hits == 0 && errors == 0
  }

  private def explain(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = sfDirArg(args, 1)
    for (n <- args(0).split(",")) {
      println(s"===== $n")
      println(planText(graft.SparkEntry.queries(n)(spark, sfDir)))
    }
  }

  /** Representative queries for PLANS.md, each with what its plan shows
    * — the artifact backing the "audit every plan" design rule. */
  private val picks: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "scan-heavy multi-aggregate: pushed filter + pruned columns + partial/final HashAggregate",
    "q3_customers_per_region" -> "dim chain: both dims broadcast, zero shuffles on the fact side before the tiny agg exchange",
    "q4_revenue_by_priority" -> "fact-fact join (AQE picks broadcast at this SF; SMJ at scale)",
    "q9_rank_orders_per_customer" -> "window rank: single hash-partition exchange + sort, WindowGroupLimit pushes the rn<=3 limit below the full window",
    "q11_top_orders" -> "global top-k: TakeOrderedAndProject (per-partition heap + driver merge of k rows, no global sort)",
    "q33_asof_last_click" -> "as-of via union + running window (one shuffle on user_id)",
    "q41_asof_custom" -> "as-of via the custom AsOfJoinExec: co-partitioned exchanges + in-partition (key,time) sorts + O(n+m) merge",
    "dedup_minhash_lsh" -> "MinHash-LSH per row: one graft_minhash_bands call per document above the scan (no shingle index, no aggregate), only (band_idx, band_hash, doc_id) reaches the grouping exchange and graft_ordered_pairs turns each bucket into pairs inside one codegen stage; the checkpointed candidate pairs drive a broadcast semi-join that rescans only candidate documents, their shingle arrays are broadcast ONCE for both sides of the pair join, and one array_intersect per pair feeds the threshold generator",
    "sim_topk_bruteforce" -> "brute-force ANN baseline: broadcast query vector, codegen'd graft_dot, TakeOrderedAndProject",
    "dedup_ngram_prefix" -> "PPJoin prefix filter: rarity-ranked per-doc prefix index feeds the pair join (hot shingles excluded); exact-jaccard verify over semi-joined candidate docs",
    "dedup_embedding_lsh" -> "banded projection join: band equi-joins replace the BroadcastNestedLoop all-pairs, recall 1.0 by the Cauchy-Schwarz band containment",
    "decontam_overlap" -> "decontamination sweep: distinct benchmark shingles broadcast against the corpus inverted index",
    "pack_sequences" -> "per-shard sequence packing: source-partitioned running-sum window (no global window), generator explode for spanning docs",
    "sample_stratified" -> "stratified quota sample: per-shard ranking window on md5 order, WindowGroupLimit bounds each partition's sort",
    "sample_weighted" -> "Efraimidis-Spirakis weighted sample: per-row −ln(u)/w race key then the same per-stratum ranking window shape as sample_stratified (WindowGroupLimit, narrow columns only)",
    "dedup_clusters" -> "connected components: one narrow left join against the MEMOIZED label table (the components fixpoint runs once per dataset and persists to scratch parquet - the ivfIndex precedent; clusters/canonical/split_leakage_safe all read it)",
    "dedup_canonical" -> "survivor selection: the memoized label table joined to per-doc token counts, then ONE narrow window over (cluster_id, n_tokens, doc_id) picks the longest member — token counts cross the wire, text never does",
    "q48_salted_agg" -> "two-stage salted aggregation: both shuffles keyed (key,salt) then key — hot keys spread across reducers",
    "decontam_bloom" -> "Bloom-prefiltered decontamination: codegen'd bit-test predicate (literal filter array) ahead of the exact broadcast verify join",
    "q55_decile_bucket" -> "scalable NTILE: deterministic quantile-boundary buckets + per-bucket local ranks + broadcast offsets (window runs over #buckets rows only; integer bucket math)",
    "dedup_paragraph" -> "paragraph-level corpus dedup: WindowGroupLimit prunes to the first occurrence per chunk before the final window; reassembly is one doc_id-keyed collect_list aggregate",
    "curate_shard_assign" -> "balanced shard assignment: literal CASE-chain bucket projection (codegen'd), one bucket exchange + broadcast offsets, then the per-shard aggregate",
    "sketch_cms_topk" -> "count-min heavy hitters: counter matrix built via partial_countminaggregator below the exchange; estimates are pure literal-array lookups beside the exact counts",
    "q62_bitmap_distinct" -> "exact distinct via mergeable bitmaps: (group, bucket) segments OR map-side — no Expand re-shuffle of raw ids, no estimate",
    "q65_salted_join" -> "skew-salted join: deterministic fact salt + buckets× dim replication, join on (key, salt) — a hot key spans 8 reducers",
    "q60_sessionize" -> "gap-rule sessionization: lag + running-sum windows stacked on ONE user_id exchange; the session aggregate reuses the same partitioning",
    "dedup_substr_remove" -> "ExactSubstr span removal: gram-keyed first-occurrence window, covered positions anti-joined on (doc_id,pos), collect_list reassembly",
    "dedup_embedding" -> "all-pairs exact embedding dedup (oracle baseline): fused graft_cosine inside WholeStageCodegen over the BroadcastNestedLoop pairs",
    "q56_zorder_key" -> "Z-order key: pure mask-shift projection above the scan, one aggregate exchange on the bucket",
    "q66_outer_explode" -> "OUTER generator: explode + partial/final count — the only exchange carries (doc_id, count), never the raw text (parallelism is reader splits, not a repartition)",
    "q58_funnel_steps" -> "ordered funnel: per-step user-keyed aggregates chained on one partitioning; event_type filters pushed to the parquet scan",
    "ta_boilerplate" -> "boilerplate span removal: hot-gram set broadcast into the occurrence scan, covered positions anti-joined on (doc_id,pos), order-preserving reassembly as one partial+final collect_list aggregate",
    "pipeline_e2e" -> "end-to-end curation verdict: stage outputs are checkpointed seams (quality -> NARROW fingerprint-window exact dedup -> CC over canonicals), final verdict is two doc_id-keyed left joins",
    "sim_ann_batch" -> "batched-query ANN: native graft_nearest_cells probe ranking inline in the explode (one codegen stage), probe set broadcast into the cell join (corpus vectors never shuffle), per-query top-k via partial_topkaggregator heaps, coverage left-join broadcasting the k-per-query top-k side (no sort-merge)",
    "sim_ann_ivf_indexed" -> "persisted IVF probe: cell IN (...) lands in PartitionFilters — only nProbe cell directories are listed, broadcast query vector, TakeOrderedAndProject",
    "dedup_simhash_md5" -> "oracle-checked SimHash twin: md5-derived 60-bit token hashes; the signature build (partial_simhashaggregator below one doc exchange) sits under the checkpoint feeding both sides of the 16-bit piece-blocked self-join; the build's exchange is in the checkpoint's own execution, which `QueryDebug audit` walks",
    "curate_shuffle" -> "seeded global permutation: md5 hash key projection + quantile-bucketed global rank — no single-partition window, no wide columns in any exchange",
    "sim_quantize_int8" -> "fused native graft_quantize_int8: zero exchanges — maxabs computed inside the expression's own loop (no CollapseProject quadratic trap, no barrier)",
    "dedup_semantic" -> "SemDeDup: checkpointed (cell-filtered, unit-normalized) assignment feeds both self-join sides; cell self-join broadcasts at this SF (co-partitioned SMJ at scale), one graft_dot per pair inside the semi-join condition, dup flag via narrow id left-join",
    "curate_prototypes" -> "D4 prototypicality pruning: k-row broadcast centroid join, vector DROPPED before the per-cell window exchange — only (vec_id, cell, dist_sq) crosses the wire",
    "curate_lm_score" -> "bigram LM quality score: model build is two narrow-token-key aggregates (map-side combine), vocab scalar broadcast; scoring join shuffles (doc_id,w1,w2) on the bigram key — model is vocab-scale, NOT broadcast at 100 TB; per-doc mean partial-aggregates before its exchange",
    "curate_dsir" -> "DSIR importance resampling: hashed-feature model is ≤4096 rows at ANY corpus size → broadcast into the occurrence stream (zero model shuffles, contrast curate_lm_score); per-doc mean partial-aggregates; top-quarter cut via the quantile-bucketed global row number (no single-partition window)",
    "sim_rp_reduce" -> "JL random projection 64→16: the k×d matrix is a LITERAL folded into one whole-stage-codegen projection — no model table, no join, zero exchanges at any corpus size; runs map-side in the scan stage like sim_quantize_int8",
    "ta_bpe_encode" -> "BPE encode with the learned merge list: ≤20-row model collected once per dataset (ivfModel precedent) and folded into a 20-deep replace cascade — encoding is a pure per-row projection, zero exchanges beyond the trainer's narrow (pair,cnt) aggregate; the encoded string never crosses a shuffle",
    "decontam_minhash" -> "fuzzy benchmark decontamination: benchmark bands + shingle sets broadcast (eval suites stay KBs at any corpus size); corpus pays ONE signature aggregate (64 longs per doc via partial_minhashaggregator, shingles stay in the index build) and a broadcast band join; exact-jaccard verify runs only over candidate docs",
    "mm_phash_dct" -> "real integer-DCT pHash: graft_phash is ONE codegen'd scalar above the scan (payloads never shuffle; only (doc_id, sig) enters the checkpointed piece-blocked self-join); contrast mm_phash_dedup's explode+vote pipeline",
    "mm_pipeline_e2e" -> "composed multimodal pipeline over the REAL decode chain (round 15: corpus = text families + planted strict-PNM filmstrips with captions): gate + align screen are narrow projections over the checkpointed corpus; graft_phash genuinely decodes+DCTs conformers map-side; the pair join sees only gated+aligned (doc_id, sig) rows; per-frame hashBand perceptual hashes explode only for final survivors; verdict = three doc_id-keyed left joins",
    "stats_ks_drift" -> "exact KS drift, fully lazy: percentile_approx boundary array broadcast-crossed onto the distinct-value grid (no driver stats job at construction); running CDFs via broadcast bucket offsets + in-bucket windows")

  /** plans <out.md> [sfDir]: writes every pick's executed plan
    * ([[stablePlan]]) under its note, then carries over
    * verbatim everything from the hand-annotated marker on in the
    * existing <out.md> — condensed plan sketches, not regenerable dumps. */
  private def plans(spark: SparkSession, args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val sfDir = sfDirArg(args, 1)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries " +
      s"(${Paths.get(sfDir).getFileName}, auto-generated by graft.tools.QueryDebug plans)\n\n")
    sb.append("Regenerate: `tools/run.sh graft.tools.QueryDebug plans PLANS.md`. " +
      "Expression ids (`#N`), `plan_id`s and temp-directory suffixes (`*`) " +
      "are masked, so two runs over unchanged plans write the same file.\n")
    picks.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(stablePlan(spark, name, sfDir))
      sb.append("\n```\n")
    }
    val marker = "<!-- HAND-ANNOTATED BELOW"
    val tail =
      if (Files.exists(out)) {
        val cur = Files.readString(out)
        val i = cur.indexOf(marker)
        if (i >= 0) "\n" + cur.substring(i) else ""
      } else ""
    Files.writeString(out, sb.toString + tail)
    println(s"wrote $out")
  }

  private def time(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // work counters per rep, one recording each: wall clock swings ±50%
    // with a bandwidth co-tenant, counts and bytes are the plan's own
    val verbose = sys.env.get("GRAFT_TIME_JOBS").contains("1")
    for (r <- 1 to reps; n <- names) {
      val ((cnt, compiled, wall), rec) = Recording.of(spark) {
        val t0 = System.nanoTime()
        // classes Spark compiled from generated code (JVM-wide): a warm
        // rep that still compiles is missing Spark's codegen cache
        val (cnt, compiled) = CodegenWorkingSet.counting(
          graft.SparkEntry.queries(n)(spark, sfDir).count())
        (cnt, compiled, (System.nanoTime() - t0) / 1e9)
      }
      val w = rec.work
      println(f"rep$r $n%-28s $wall%6.2f s  rows=$cnt  " +
        f"jobs=${w.jobs}%-3d stages=${w.stages}%-3d tasks=${w.tasks}%-5d " +
        f"taskTime=${w.runMs / 1000.0}%7.1f s  " +
        f"shufW=${w.shuffleWrite / 1048576.0}%8.2f MB shufR=${w.shuffleRead / 1048576.0}%8.2f MB " +
        f"input=${w.input / 1048576.0}%8.2f MB compiled=$compiled")
      if (verbose) {
        for (j <- rec.jobs; ms <- j.durationMs if ms >= 50) {
          val desc = if (j.execution.nonEmpty) j.execution
            else j.stages.headOption.fold("")(_.name)
          println(f"    job${j.id}%-5d ${ms / 1000.0}%6.2f s  ${desc.take(110)}")
        }
        for (s <- rec.stages if s.runMs >= 300)
          println(f"    stage${s.id}%-5d taskTime=${s.runMs / 1000.0}%7.1f s " +
            f"tasks=${s.tasks}%-4d shufR=${s.shuffleRead / 1048576.0}%7.1f MB " +
            f"in=${s.input / 1048576.0}%7.1f MB  ${s.name.take(90)}")
      }
      // an unpersisted local checkpoint cannot be recomputed: safe only
      // because every query rebuilds its state per rep and the memo
      // caches hold driver values and on-disk paths, never DataFrames
      rec.persisted.foreach(_.unpersist(blocking = false))
    }
  }

  /** codegen <sfDir> <names,comma-sep>: the warm codegen working set of
    * a pass over the named queries (each run once, in order, evaluating
    * every output column). After a cold and a warm pass it prints each
    * query's entries measured alone from an empty cache, the whole
    * pass's entries the same way, and the compilations of two further
    * passes on the cache as the pass left it, at this JVM's
    * `spark.sql.codegen.cache.maxEntries`. */
  private def codegen(spark: SparkSession, args: Array[String]): Unit = {
    import CodegenWorkingSet.{Entries, measure}
    val Array(sfDir, names) = args.take(2)
    def run(n: String): Unit =
      CodegenWorkingSet.touchAll(graft.SparkEntry.queries(n)(spark, sfDir))
    def pass(): Unit = names.split(",").foreach(run)
    def show(label: String, e: Entries): Unit =
      println(f"$label%-28s entries=${e.wholeStage + e.expression}%-3d " +
        s"(whole-stage ${e.wholeStage}, expression ${e.expression}) " +
        s"compiled=${e.compiled}")
    pass(); pass()
    names.split(",").foreach(n => show(n, measure(run(n))._2))
    show("pass", measure(pass())._2)
    for (i <- 1 to 2)
      println(f"${s"pass+$i"}%-28s compiled=" +
        CodegenWorkingSet.counting(pass())._2)
  }
}
