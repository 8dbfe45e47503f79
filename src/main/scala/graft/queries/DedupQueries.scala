package graft.queries

import graft.Tables
import graft.operators.Checkpoint.CheckpointOps
import graft.functions.TextFunctions._
import graft.functions.{MinHashBands, OrderedPairs, VectorFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is a hash shuffle on a fingerprint, never on raw text;
  *  - n-gram Jaccard finds candidates by *inverted-index self-join on
  *    shingles* (exact superset of every pair with jaccard > 0), then
  *    verifies with exact set arithmetic — no O(n²) cross join anywhere;
  *  - MinHash/LSH replaces the shingle join with a banded-signature join
  *    (constant 8 keys per doc instead of |shingles|), the scalable path
  *    when common shingles would explode the inverted index;
  *  - SimHash pairs via 4×16-bit piece blocking (pigeonhole: hamming ≤ 3
  *    ⇒ at least one exact 16-bit piece match);
  *  - embedding near-dup is brute-force here (oracle-checkable) with the
  *    LSH-bucketed variant in SimilarityQueries as the scale path.
  */
object DedupQueries {

  private val JaccardThreshold = 0.8

  /** dedup_semantic's within-cluster cosine threshold — same 0.4 the
    * embedding near-dup family uses (this fixture has no tighter
    * clusters); DedupSimilaritySpec pins every same-cell pair's
    * |cos − τ| ≫ ULP at both scales so the cross-engine oracle's
    * threshold decisions cannot flip. */
  private[graft] val SemThreshold = 0.4

  /** (doc_id, shingle) inverted index — distinct 3-gram shingles. NO
    * exchange of its own (the raw text is never shuffled; scan
    * parallelism is reader splits). Callers that checkpoint the index
    * key it on doc_id first (`buildCheckpointBy("doc_id")`): the
    * checkpoint fixes the partition count every consumer runs at (scan
    * splits = one task on a single-file corpus — the 1.27M-pair probe
    * regressed 74% when a round-5 sweep dropped this, review-caught),
    * and the doc_id partitioning feeds prefixJaccard's full-index window
    * for free.
    * That exchange is the one-time BUILD cost of the reusable index —
    * at 100 TB the index is a persisted table and this is its write. */
  private[graft] def shingleIndex(s: SparkSession, d: String): DataFrame =
    shingleIndex(Tables.documents(s, d))

  /** [[shingleIndex]] over an already-loaded documents table. */
  private[graft] def shingleIndex(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))

  /** Exact-jaccard pairs over a shingle index (doc_id, s): |A∩B| via
    * co-occurrence count, sizes joined in,
    * jaccard = inter/(|A|+|B|-inter).
    *
    * `pruneSingletons` semi-joins the pair join's input to the df ≥ 2
    * shingle subset first. Exactness-preserving either way (df=1 shingles
    * join with nothing, and sizes na/nb always count the FULL shingle
    * sets — DedupSpec pins both paths equal); whether it *pays* depends on
    * the corpus, hence [[singletonPruningPaysOff]]. At the bench scale
    * (sf0.1: 31-word vocabulary, distinct/total ≈ 0.10, nearly every
    * shingle common) the extra aggregation pass measured net-negative
    * (14s → 19s) and the heuristic correctly keeps it off; the tiny SFs
    * have ratio ≈ 0.61 where it votes to prune. The registered queries go
    * through [[exactJaccardPairs]], which makes this decision from the
    * one-pass corpus stats — the call a real pipeline would make on an
    * unknown corpus. */
  private[graft] def exactJaccardOn(
      sh: DataFrame, pruneSingletons: Boolean = false): DataFrame = {
    // doc-count table: ~|docs| rows, referenced TWICE by the verify tail
    // (na and nb joins) — lazy checkpoint so the second reference reads
    // the materialized rows instead of re-scanning the index (r16 opt)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val joinSide =
      if (pruneSingletons) {
        val df2 = sh.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2).select("s")
        // semi-join reorders columns key-first; restore (doc_id, s)
        sh.join(df2, Seq("s"), "left_semi").select("doc_id", "s")
      } else sh
    val a = joinSide.toDF("doc_a", "s")
    val b = joinSide.toDF("doc_b", "s")
    val inter = a.join(b, "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** Corpus-stats heuristic for the `pruneSingletons` guard: pruning pays
    * when a large share of index rows are df=1 shingles (big vocabulary,
    * little repetition — the realistic web-corpus case), and costs an
    * extra pass for nothing when the vocabulary is tiny and every shingle
    * is hot (this fixture). The ratio distinct/total approximates the
    * singleton share from cheap one-pass stats (exact singleton counting
    * would itself be the aggregation being guarded). */
  private[graft] def shouldPruneSingletons(
      distinctShingles: Long, totalShingles: Long): Boolean =
    totalShingles > 0 && distinctShingles.toDouble / totalShingles >= 0.5

  /** One cheap aggregate over the index (count + HLL distinct) feeding
    * [[shouldPruneSingletons]] — how a pipeline decides the guard for an
    * unknown corpus. The `.head()` is bounded model state (two scalars),
    * same category as the bench calibration probes. */
  private[graft] def singletonPruningPaysOff(sh: DataFrame): Boolean = {
    val row = sh.agg(count(lit(1)).as("total"),
      approx_count_distinct(col("s")).as("distinct")).head()
    shouldPruneSingletons(row.getLong(1), row.getLong(0))
  }

  /** The registered exact-jaccard entry point: materialize the index once
    * (sizes + both self-join sides + the stats pass share it), then let
    * the corpus stats choose the df≥2 pruning guard adaptively. Either
    * choice is exactness-preserving (DedupSpec pins pruned == unpruned);
    * only the candidate-join economics change, so the decision belongs to
    * measured corpus shape, not to a constant tuned on one fixture.
    *
    * The repartition before the checkpoint sets the PARALLELISM AND
    * PARTITIONING of the materialized index: the checkpoint otherwise
    * inherits scan splits (one task on a single-file corpus), and every
    * consumer — the pair-join probe, the sizes aggregate — runs at the
    * checkpoint's partition count. Measured without it: the 1.27M-pair
    * probe ran single-task and dedup_ngram_jaccard regressed 1.6 → 2.8 s
    * (review-caught). This exchange materializes the index itself —
    * the one-time build cost of a reusable artifact, not a per-query
    * wide-payload shuffle. */
  private[graft] def exactJaccardPairs(s: SparkSession, d: String): DataFrame =
    exactJaccardPairs(Tables.documents(s, d))

  /** [[exactJaccardPairs]] over an already-loaded documents table. */
  private[graft] def exactJaccardPairs(documents: DataFrame): DataFrame = {
    val sh = shingleIndex(documents).buildCheckpointBy("doc_id")
    exactJaccardOn(sh, pruneSingletons = singletonPruningPaysOff(sh))
  }

  /** Prefix-filtered exact jaccard (the SSJoin/PPJoin candidate rule):
    * sort each doc's shingles by global rarity (df, then shingle), and
    * index only the first |X| − ⌈t·|X|⌉ + 1 per doc. EXACT for pairs with
    * jaccard ≥ t: J(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉, and if
    * the prefixes were disjoint, the first common element in the global
    * order would sit after one doc's prefix, capping the intersection at
    * ⌈t·|X|⌉ − 1 — contradiction. (DedupSpec pins prefix == naive; the
    * DuckDB oracle re-checks end-to-end.)
    *
    * Why this is the at-scale shape: the pair join touches ~(1−t) of the
    * index instead of all of it, and — decisively for skew — the kept
    * fraction is each doc's RAREST shingles, so hot shingles (whose f²
    * candidate blowup is the inverted-index scale risk) stay out of the
    * join unless a doc contains almost nothing else. Verification then
    * runs [[exactJaccardOn]] over the candidate docs' full shingle sets
    * (semi-join pushdown). */
  private[graft] def prefixJaccardPairs(
      s: SparkSession, d: String, t: Double = JaccardThreshold): DataFrame = {
    // Materialize the index ONCE (localCheckpoint cuts lineage): this
    // pipeline references it from five places, and each DataFrame
    // reference re-expands the whole upstream plan — measured 40 parquet
    // scans / 40 shingle evaluations for this one query without the
    // checkpoint. (.cache() is NOT the tool: registering these big plans
    // in the session cache manager measurably slowed the PLANNING of
    // every later query in the suite — plan-match lookups — while
    // localCheckpoint keeps the materialization query-local and lets the
    // ContextCleaner reap it. At 100 TB the index would be a persisted
    // table; "build the inverted index once" is part of the operator.)
    // index-build exchange (see exactJaccardPairs); doubly needed here —
    // the per-doc rank/size window below runs over the FULL index on
    // doc_id, so the checkpoint's partitioning lets it plan
    // exchange-free instead of re-shuffling every (doc_id, s, df) row
    val sh = shingleIndex(s, d).buildCheckpointBy("doc_id")
    // df via hash aggregate (sort-free) broadcast back; per-doc rank and
    // size share ONE window shuffle on doc_id
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id")
    val prefixed = sh
      .join(broadcast(dfreq), "s")
      .withColumn("rk", row_number().over(wDoc.orderBy(col("df"), col("s"))))
      .withColumn("n", count(lit(1)).over(wDoc))
      // ε guards the half-ulp case where n·t is an exact integer but the
      // double product lands just above it (t = 0.8 is not representable),
      // which would shorten the prefix by one and break the exactness proof
      .filter(col("rk") <= col("n") - ceil(col("n") * t - lit(1e-9)) + 1)
      .select("doc_id", "s")
      // plain: the candidate self-join reads both sides through one
      // reused exchange, so an s-keyed stamp only adds a stage (sf0.1:
      // 19 → 20 stages, shuffle 14.7 → 17.0 MB)
      .localCheckpoint() // both sides of the candidate self-join
    val cand = prefixed.toDF("doc_a", "s")
      .join(prefixed.toDF("doc_b", "s"), "s")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
      .localCheckpoint() // candDocs + the verification join
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val candSh = sh
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select("doc_id", "s")
    cand.join(exactJaccardOn(candSh), Seq("doc_a", "doc_b"))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Connected components over the near-dup pair graph by iterative
    * min-label propagation (the "label = min(label, neighbors' labels)"
    * Pregel step, run to fixpoint): turns PAIRS into CLUSTERS with one
    * canonical doc per component — the step an actual dedup pipeline
    * needs before dropping rows (A~B, B~C must keep ONE of {A,B,C}, which
    * pairwise output alone cannot express).
    *
    * Distributed shape: each iteration is one equi-join of the edge list
    * with the label table + a min-aggregate, PLUS a pointer-jumping hop
    * (label ← label[label], one more narrow equi-join): neighbor-min
    * alone needs component-DIAMETER rounds, and a 100 TB near-dup graph
    * can chain (A~B~C~… from incremental crawls); shortcutting follows
    * the current label one hop per round, so chains collapse in
    * O(log diameter) rounds. Safe because labels are monotone
    * non-increasing and labels[x] ≤ x always (init label=id, min-only
    * updates), so the hop can only tighten toward the component min —
    * same fixpoint, fewer rounds (DedupSimilaritySpec's chain case pins
    * the result; the DuckDB recursive-CTE oracle re-checks end-to-end).
    * Everything is localCheckpoint'ed so the loop's plan doesn't grow.
    * The driver sees only the per-iteration change COUNT (a scalar) —
    * labels never leave the cluster. Deterministic: min is order-free. */
  /** Memoized near-dup component labels, persisted to scratch parquet
    * once per dataset — the ivfIndex precedent (one model serves the
    * whole family): `dedup_clusters`, `dedup_canonical` and
    * `split_leakage_safe` all consume the SAME jaccard-pairs fixpoint,
    * and a real pipeline materializes the label table once rather than
    * re-running components per consumer (at sf1 the standalone fixpoint
    * is ~35 s — ×3 for the family without the memo). On disk rather
    * than a cached DataFrame because cross-query caches must survive
    * the harness's per-query unpersist (and a checkpoint's blocks can't
    * be recomputed once dropped). `createTempDirectory` is unique per
    * JVM, so concurrent test JVMs can't collide; the shutdown hook
    * removes the scratch like the IVF index's. Empty corpora write a
    * 0-row single-partition file so read-back keeps the schema. */
  private val ccLabelsBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def componentLabels(
      s: SparkSession, d: String): DataFrame = {
    val p = ccLabelsBuilt.computeIfAbsent(d, _ => {
      val pairs = exactJaccardPairs(s, d)
        .filter(col("jaccard") >= JaccardThreshold)
        .select("doc_a", "doc_b")
      val out = java.nio.file.Files
        .createTempDirectory("graft-cc-labels").toString
      connectedComponents(pairs).toDF("doc_id", "cluster")
        .repartition(1)
        .write.mode("overwrite").parquet(out)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(java.nio.file.Paths.get(out))))
      out
    })
    s.read.parquet(p)
  }

  /** Shared verification tail of the containment family: join sizes,
    * gate on the cheap least() test (drops the ~all pairs qualifying in
    * neither direction before the explode), then emit both directions
    * from ONE pass over the pair table — a union of two filtered
    * branches would re-run the co-occurrence join per branch (measured
    * 3× at sf1). Pure integer arithmetic throughout (inter·10 ≥ 9·n;
    * basis points via div — zero FP, cross-engine exact). */
  private def directedContainment(
      inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 9)
      .select(explode(array(
        when(col("inter") * 10 >= col("na") * 9,
          struct(col("doc_a").as("contained"), col("doc_b").as("container"),
            expr("(inter * 10000) div na").as("containment_bp"))),
        when(col("inter") * 10 >= col("nb") * 9,
          struct(col("doc_b").as("contained"), col("doc_a").as("container"),
            expr("(inter * 10000) div nb").as("containment_bp"))))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.contained").as("contained"),
        col("r.container").as("container"),
        col("r.containment_bp").as("containment_bp"))

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // Keyed: the edge table by dst for every round's neighbor join, the
    // init label table by id for the first round's joins. The per-ROUND
    // label checkpoint stays plain: it flows through
    // localCheckpointCounting (the fused convergence count).
    // A null endpoint is not a node: such a pair is no edge. Kept, its
    // null label would count as changed in every round and the fixpoint
    // would never end.
    // Both directions come from ONE pass over the pairs: a union would
    // evaluate `pairs` twice once nothing below it is a reusable exchange.
    val edges = pairs.toDF("a", "b").na.drop()
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select("e.src", "e.dst")
      .buildCheckpointBy("dst")
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .buildCheckpointBy("id")
    // One round: label ← min(label, neighbors' labels, label[label]).
    // The final left join follows the candidate label one hop through
    // the PREVIOUS round's label table (pointer jumping); every label
    // value is itself a node id, so the hop always resolves (left +
    // coalesce is belt-and-braces). `old_label` rides through so the
    // fixpoint test is a filter+count over already-materialized
    // partitions — not an extra equi-join per round.
    def round(labels: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(labels.toDF("dst", "nl"), "dst")
        .groupBy("src").agg(min(col("nl")).as("nbr_label"))
      labels.toDF("id", "old_label")
        .join(nbrMin.toDF("id", "nbr_label"), Seq("id"), "left")
        .select(col("id"), col("old_label"),
          least(col("old_label"),
            coalesce(col("nbr_label"), col("old_label"))).as("mid"))
        .join(labels.toDF("mid", "jump"), Seq("mid"), "left")
        .select(col("id"), col("old_label"),
          least(col("mid"), coalesce(col("jump"), col("mid"))).as("label"))
    }
    // Convergence count folded into the checkpoint materialization
    // (r17 opt, VERDICT item 1): one job per round instead of
    // checkpoint + a second full filter/count pass over the rows it
    // just materialized. Labels are non-null longs (ids; null endpoints
    // were dropped above), so a converged round counts 0.
    var changed = 1L
    while (changed > 0) {
      val (next, ch) = org.apache.spark.sql.GraftBridge
        .localCheckpointCounting(round(labels), "label", "old_label")
      changed = ch
      labels = next.select("id", "label")
    }
    labels
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Near-dup clustering: n-gram jaccard pairs -> connected components ->
    // one canonical (min doc_id) per cluster, over the FULL corpus
    // (singleton docs are their own canonical). The complete dedup
    // verdict a training pipeline filters on.
    "dedup_clusters" -> ((s, d) => {
      val comp = componentLabels(s, d)
      Tables.documents(s, d)
        .select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster_id"),
          (coalesce(col("cluster"), col("doc_id")) =!= col("doc_id"))
            .as("is_dup"))
    }),

    // Survivor selection: dedup_clusters tells a pipeline WHICH docs are
    // duplicates; this op decides WHICH MEMBER TO KEEP — the standard
    // curation step after clustering. Per near-dup cluster the longest
    // member survives (most tokens; exact-integer, so cross-engine), doc
    // id breaking ties — the "keep the superset" heuristic that pairs
    // with containment dedup (an excerpt loses to the document quoting
    // it). Scale shape: the cluster labels reuse the components loop
    // (id-only shuffles, see dedup_clusters); selection adds ONE narrow
    // window over (cluster_id, n_tokens, doc_id) — token counts cross
    // the wire, text never does.
    "dedup_canonical" -> ((s, d) => {
      val comp = componentLabels(s, d)
      val scored = Tables.documents(s, d)
        .select(col("doc_id"),
          coalesce(size(filter(split(col("text"), " "),
            x => x =!= "")), lit(0)).cast("long").as("n_tokens"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster_id"),
          col("n_tokens"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      scored.withColumn("keep", row_number().over(w) === 1)
    }),

    // Exact dedup: canonical = min doc_id among identical texts. Shuffles
    // on an md5 fingerprint (16 bytes), not the full text — at 100 TB the
    // shuffle payload is keys, not documents.
    "dedup_exact" -> ((s, d) => {
      val w = Window.partitionBy(md5(col("text").cast("binary")))
      Tables.documents(s, d)
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("canonical_id"),
          (col("doc_id") =!= col("canonical_id")).as("is_dup"))
    }),

    // Soft deduplication (SoftDeDup, He et al. 2024, arXiv:2407.06654):
    // instead of DROPPING duplicates, downweight them — every member of
    // an exact-duplicate cluster gets sampling weight 1/cluster_size,
    // so the cluster contributes one document's worth of training
    // signal in expectation while keeping all surface variation
    // downstream stages might use. The paper shows this beats hard
    // removal on perplexity at the same token budget. Weight emitted as
    // exact basis points (10000 div n — pure integer arithmetic, zero
    // FP). Shape: identical to dedup_exact — ONE hash-partitioned
    // window, fingerprint-only shuffle.
    "dedup_soft_weights" -> ((s, d) => {
      val w = Window.partitionBy(md5(col("text").cast("binary")))
      Tables.documents(s, d)
        .withColumn("cluster_size", count(lit(1)).over(w))
        .select(col("doc_id"), col("cluster_size"),
          expr("10000 div cluster_size").as("weight_bp"))
    }),

    // N-gram Jaccard near-dup: inverted-index candidates + exact verify,
    // with the df>=2 singleton-pruning guard decided adaptively from
    // one-pass corpus stats (big vocab -> prune; this fixture's hot
    // vocabulary at sf0.1 -> don't). Fastest on THIS fixture (hot
    // vocabulary keeps the pair join cheap: 1.27M raw pairs join in
    // ~1.8s, less than the prefix index costs to build) —
    // dedup_ngram_prefix below is the same semantics with the skew-proof
    // candidate rule for corpora where f² explodes.
    "dedup_ngram_jaccard" -> ((s, d) =>
      exactJaccardPairs(s, d)
        .filter(col("jaccard") >= JaccardThreshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
          .as("jaccard"))),

    // Containment / subset-duplicate detection (Broder 1997's asymmetric
    // resemblance): DIRECTED pairs where ≥ 90% of the contained doc's
    // 3-gram shingles appear in the container — the quote/excerpt/
    // boilerplate-inclusion case jaccard MISSES by construction (a short
    // doc fully inside a long one has tiny jaccard but containment 1.0).
    // Same inverted-index co-occurrence machinery as the jaccard family
    // (one shingle equi-join, unordered-pair counts), then each pair is
    // tested in BOTH directions with pure integer arithmetic
    // (inter·10 ≥ 9·n, inter·10⁴ div n basis points — zero FP). Scale
    // shape identical to dedup_ngram_jaccard; for hot-shingle corpora
    // the PPJoin prefix rule applies unchanged (containment ≥ t bounds
    // the intersection by ⌈t·|contained|⌉, same pigeonhole).
    "dedup_containment" -> ((s, d) => {
      val sh = shingleIndex(s, d).buildCheckpointBy("doc_id")
      // read twice by the verify tail — lazy checkpoint (r16 opt)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false)
      // the jaccard family's adaptive df≥2 pruning applies verbatim:
      // a df=1 shingle joins with nothing, and sizes always count the
      // FULL sets — exactness preserved, measured 2× at sf1 where the
      // grown vocabulary makes singletons the bulk of the index
      val joinSide =
        if (singletonPruningPaysOff(sh)) {
          val df2 = sh.groupBy("s").agg(count(lit(1)).as("df"))
            .filter(col("df") >= 2).select("s")
          sh.join(df2, Seq("s"), "left_semi").select("doc_id", "s")
        } else sh
      val inter = joinSide.toDF("doc_a", "s")
        .join(joinSide.toDF("doc_b", "s"), "s")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      directedContainment(inter, sizes)
    }),

    // At-scale twin of dedup_containment (same oracle): the PPJoin
    // prefix rule, adapted to DIRECTED containment. C(A→B) ≥ 0.9 forces
    // |A∩B| ≥ ⌈0.9·|A|⌉, so among the first |A| − ⌈0.9·|A|⌉ + 1 of A's
    // shingles in global rarity order at least one must appear in B —
    // if they all missed, the intersection would fit inside A's
    // remaining ⌈0.9·|A|⌉ − 1 positions, a contradiction. Unlike the
    // jaccard twin the rule is ONE-SIDED: the contained side contributes
    // its ~10% rarest shingles, the container side its FULL set (a huge
    // container can hold a tiny excerpt, so its own prefix proves
    // nothing). Candidate generation therefore costs Σ_s dfP(s)·df(s)
    // instead of Σ_s df(s)² — and the prefix keeps each doc's RAREST
    // shingles, so hot shingles enter the probe side only for docs with
    // almost nothing else. df=1 shingles are dropped from BOTH sides
    // unconditionally (a cross-doc match implies df ≥ 2 — exactness-
    // preserving, not a heuristic; sizes always count full sets).
    // Verification reruns the fused both-direction test over the
    // candidate docs' full (df≥2) sets, as the jaccard twin does.
    // Vocab broadcast matches prefixJaccardPairs; at 100 TB both become
    // a persisted df-annotated index.
    "dedup_containment_prefix" -> ((s, d) => {
      // plain checkpoint — KEYED STAMPS TRIED AND REVERTED (r17): at
      // sf1 the doc_id/s stamped pair below measured jobs 19→28, tasks
      // 440→751, shuffle 1535→2318 MB, wall +7..+40% (both A/B
      // rounds) — this query's candidate probe reads the PREFIX table
      // (tiny) against the full index, so the pinned-count stamps cost
      // more than the exchanges they remove at every size measured,
      // unlike the minhash/pagerank sites where the stamp pays.
      val sh = shingleIndex(s, d).repartition(col("doc_id"))
        .localCheckpoint()
      // sizes: ~|docs| rows, read twice by the verify tail; dfreq:
      // vocab-sized, read twice (prefix broadcast + the df≥2 filter) —
      // lazy checkpoints so neither re-aggregates the index (r16 opt)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false)
      val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .localCheckpoint(eager = false)
      val wDoc = Window.partitionBy("doc_id")
      // rank over the FULL set (positions in the pigeonhole argument are
      // full-set positions; n from the same window), then drop df=1 —
      // dropping only moves survivors EARLIER, so the kept first-k is a
      // superset of the provable prefix ∩ {df≥2}: still exact
      val prefixed = sh
        .join(broadcast(dfreq), "s")
        .withColumn("rk", row_number().over(wDoc.orderBy(col("df"), col("s"))))
        .withColumn("n", count(lit(1)).over(wDoc))
        .filter(col("rk") <= col("n") - ceil(col("n") * 0.9 - lit(1e-9)) + 1)
        .filter(col("df") >= 2)
        .select("doc_id", "s")
      val df2 = dfreq.filter(col("df") >= 2).select("s")
      // plain checkpoint — the s-stamp was tried and reverted with the
      // sh site above (r17 sf1 A/B; r16 had measured the always-on
      // stamp at +0.4 s at bench scale for the same reason)
      val full = sh.join(df2, Seq("s"), "left_semi").select("doc_id", "s")
        .localCheckpoint() // candidate probe + verification both read it
      val cand = prefixed.toDF("doc_a", "s")
        .join(full.toDF("doc_b", "s"), "s")
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct()
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      val candSh = full
        .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .select("doc_id", "s")
      val inter = candSh.toDF("doc_a", "s")
        .join(candSh.toDF("doc_b", "s"), "s")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      directedContainment(inter, sizes)
    }),

    // Prefix-filtered exact jaccard (see prefixJaccardPairs): provably the
    // same output, candidates cut 10× on this fixture (122k vs 1.27M raw
    // pairs) and asymptotically immune to hot-shingle f² blowup — the
    // at-scale twin of dedup_ngram_jaccard, oracle-checked against the
    // identical SQL.
    "dedup_ngram_prefix" -> ((s, d) => prefixJaccardPairs(s, d)),

    // Edit-distance similarity join (PassJoin, Li et al. VLDB 2012):
    // pairs of documents whose normalized 40-char prefixes are within
    // Levenshtein distance K=3, WITHOUT the O(n²) all-pairs scan — and
    // with PROVABLE exact recall, unlike dedup_editdist below whose
    // candidate step inherits the jaccard ≥ 0.5 index's recall. The
    // pigeonhole rule: split each string into K+1 segments — any pair
    // with ed ≤ K must leave at least one segment untouched, and an
    // untouched segment reappears verbatim in the partner at a position
    // shifted by at most K (the net indels before it). So candidates come
    // from ONE equi-join: an index of each string's K+1 even-partition
    // segments against probe substrings extracted at every admissible
    // (source length, segment, ±K shift) placement — a constant
    // ≤(2K+1)(K+1)² fan-out per row (the tight shift budget below cuts
    // the naive (2K+1)²(K+1) roughly in half), not n per row. Exact recall by
    // construction (both directions of the pigeonhole hold, so the
    // doc_a < doc_b orientation is safe); precision restored by a
    // levenshtein verify on the deduped candidates.
    //
    // 100 TB shape: index O((K+1)·n) rows and probe O(K²·(K+1)·n) rows
    // of ≤⌈P/(K+1)⌉-char keys — fingerprint-sized shuffles, raw text
    // only rejoined for the verify of surviving candidates. A corpus-hot
    // segment (shared boilerplate prefix) skews the equi-join exactly
    // like a hot shingle: AQE skew-join is the documented default
    // (SCALE.md §Skew), and the candidate set stays bounded by the
    // verify's |Δlen| ≤ K gate. Strings shorter than K+1 chars cannot
    // feed the pigeonhole (some segment is empty), so the degenerate
    // ≤(2K)-char class pairs through a bounded nested-loop fallback —
    // at most alphabet^(2K) distinct such strings exist, a constant
    // class; the fixture (min 48 chars) never exercises it but
    // RobustnessSpec's empty/whitespace docs do.
    "dedup_editdist_passjoin" -> ((s, d) => {
      val K = 3; val Segs = K + 1; val Pref = 40
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), lower(substring(col("text"), 1, Pref)).as("pre"))
        .withColumn("len", length(col("pre")))
      // index: the K+1 even-partition segments (first len%Segs one longer)
      val segIdx = docs
        .withColumn("i", explode(sequence(lit(0), lit(Segs - 1))))
        .withColumn("seg_len",
          expr(s"len div $Segs") + when(col("i") < col("len") % Segs, 1).otherwise(0))
        .filter(col("seg_len") >= 1)
        .withColumn("start",
          col("i") * expr(s"len div $Segs") + least(col("i"), col("len") % Segs))
        .select(col("doc_id").as("doc_a"), col("len").as("la"), col("i"),
          col("pre").substr(col("start") + 1, col("seg_len")).as("seg"))
      // probes: for every admissible partner length la ∈ [len−K, len+K],
      // segment i, and shift δ, the substring this string would have to
      // contain if the partner's segment i went untouched. δ is bounded
      // by the TIGHT pigeonhole budget |δ| + |Δ−δ| ≤ K (Δ = len−la):
      // the untouched segment's shift equals the net indels BEFORE it
      // (≥ |δ| edits), the remaining edits must close the length gap
      // after it (≥ |Δ−δ| edits), and the two groups share one budget
      // of K. Cuts the per-(la, i) shift window from 2K+1 to ≤ K+1
      // placements (3 instead of 7 at equal lengths) with zero recall
      // loss — the bound is implied, not heuristic.
      val laSeq = {
        val lo = greatest(lit(Segs), col("len") - K)
        val hi = least(lit(Pref), col("len") + K)
        when(hi >= lo, sequence(lo, hi)).otherwise(array().cast("array<int>"))
      }
      val probes = docs
        .withColumn("pla", explode(laSeq))
        .withColumn("pi", explode(sequence(lit(0), lit(Segs - 1))))
        .withColumn("dlt", explode(sequence(lit(-K), lit(K))))
        .filter(abs(col("dlt")) + abs(col("len") - col("pla") - col("dlt")) <= K)
        .withColumn("p_len",
          expr(s"pla div $Segs") + when(col("pi") < col("pla") % Segs, 1).otherwise(0))
        .withColumn("p_pos",
          col("pi") * expr(s"pla div $Segs") + least(col("pi"), col("pla") % Segs)
            + col("dlt"))
        .filter(col("p_len") >= 1 && col("p_pos") >= 0 &&
          col("p_pos") + col("p_len") <= col("len"))
        .select(col("doc_id").as("doc_b"), col("pla"), col("pi"),
          col("pre").substr(col("p_pos") + 1, col("p_len")).as("sub"))
      val cand = segIdx.join(probes,
          segIdx("la") === probes("pla") && segIdx("i") === probes("pi") &&
            segIdx("seg") === probes("sub") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
      // degenerate fallback: any qualifying pair with a side shorter than
      // Segs has BOTH sides ≤ Segs−1+K chars — a bounded constant class
      val near = docs.filter(col("len") <= Segs - 1 + K)
      val tinyCand = near.select(col("doc_id").as("doc_a"), col("len").as("lna"))
        .join(broadcast(near.select(col("doc_id").as("doc_b"), col("len").as("lnb"))),
          col("doc_a") < col("doc_b") &&
            abs(col("lna") - col("lnb")) <= K &&
            (col("lna") < Segs || col("lnb") < Segs))
        .select(col("doc_a"), col("doc_b"))
      val byA = docs.select(col("doc_id").as("doc_a"), col("pre").as("pre_a"),
        col("len").as("len_a"))
      val byB = docs.select(col("doc_id").as("doc_b"), col("pre").as("pre_b"),
        col("len").as("len_b"))
      cand.union(tinyCand).distinct()
        .join(byA, "doc_a").join(byB, "doc_b")
        .filter(abs(col("len_a") - col("len_b")) <= K)
        // threshold form: banded O(K·n) DP with early abort instead of
        // the full O(n²) matrix; returns −1 above K, so `dist ≥ 0` IS
        // the `dist ≤ K` filter and kept rows carry the exact distance
        .withColumn("dist", levenshtein(col("pre_a"), col("pre_b"), K))
        .filter(col("dist") >= 0)
        .select(col("doc_a"), col("doc_b"), col("dist"))
    }),

    // Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD 1995 — the
    // merge/purge method): sort the corpus ONCE by a discriminating key
    // (the normalized 40-char prefix), then compare each record only to
    // its w=8 sort neighbors and keep pairs passing the banded
    // edit-distance verify (same ed ≤ 3 predicate as the passjoin).
    // The classic third blocking family next to LSH (minhash/simhash)
    // and prefix filtering (PPJoin/PassJoin): candidates come from
    // LOCALITY IN A SORT ORDER, trading the passjoin's provable recall
    // for a single sort + O(w·n) candidates — the cheapest credible
    // pass, and the standard first stage of multi-pass merge/purge
    // (additional passes = different keys; DedupSpec pins containment
    // in the passjoin's exact-recall set).
    //
    // 100 TB shape: the global sort is the q54 bucket idiom — the first
    // 7 UTF-8 BYTES of the prefix as a zero-right-padded base-256
    // number (max 2⁵⁶−1, so it can never wrap a Long negative — a
    // codepoint-based key would overflow at position 0 for any
    // codepoint ≥ 128). Byte order IS Spark's UTF8String order and
    // DuckDB's binary collation, so the key is monotone, non-strict,
    // w.r.t. the oracle's ORDER BY pre: zero-padding only COARSENS
    // ties, never reorders; exact order restored by (key, prefix,
    // doc_id) inside each bucket.
    // Neighbor pairs are ONE equi-join on rn+offset (w rows exploded per
    // doc, prefix-width payloads); nothing quadratic, nothing wide.
    "dedup_snm" -> ((s, d) => {
      val w = 8; val K = 3; val Pref = 40
      val docs = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          lower(substring(col("text"), 1, Pref)).as("pre"))
      val skey = conv(
        rpad(hex(substring(encode(col("pre"), "UTF-8"), 1, 7)), 14, "0"),
        16, 10).cast("long")
      val ranked = ExtraRelationalQueries.globalRowNumber(
        docs.withColumn("__skey", skey), 32, "__skey", firstAsc = true,
        col("__skey").asc, col("pre").asc, col("doc_id").asc)
        .select(col("doc_id"), col("pre"), col("global_rn").as("rn"))
      val probes = ranked
        .withColumn("off", explode(sequence(lit(1), lit(w))))
        .select((col("rn") + col("off")).as("rn2"),
          col("doc_id").as("id_a"), col("pre").as("pre_a"))
      probes
        .join(ranked.select(col("rn").as("rn2"),
          col("doc_id").as("id_b"), col("pre").as("pre_b")), Seq("rn2"))
        .filter(levenshtein(col("pre_a"), col("pre_b"), K) >= 0)
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"))
    }),

    // MinHash(64) + LSH(8 bands × 8 rows) candidates, then exact-jaccard
    // verification of candidate docs only. Probabilistic recall (>0.99 at
    // j≥0.9); pinned against dedup_ngram_jaccard in DedupSpec.
    //
    // Cost shape: every step but candidate grouping is per-row work.
    //  - one scan, and per document ONE native graft_minhash_bands call
    //    over its shingle array: 64 minima and 8 band hashes in a JVM
    //    loop, no exploded (doc_id, shingle) index, no aggregate; only
    //    (doc_id, band_idx, band_hash) rows reach the grouping shuffle;
    //  - bucket pairs come from groupBy+collect_list instead of a
    //    self-join; the candidate pairs are the query's one checkpoint
    //    (candDocs and the verification join both read them);
    //  - verification rescans only the candidate documents (broadcast
    //    semi-join on doc_id), recomputes their shingle arrays and takes
    //    |A∩B| with array_intersect per pair: the same long-to-double
    //    division as exactJaccardOn, so the doubles are identical.
    "dedup_minhash_lsh" -> ((s, d) => {
      // one read: each Tables.documents call infers the schema in a job
      val docs = Tables.documents(s, d)
      def docShingles(of: DataFrame) =
        of.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      // docs without a shingle (null text, under 3 tokens) get NULL bands
      // and explode to no rows: all of them would share one signature,
      // collide in every band and verify as 0/0 (see MinHashBands). The
      // bands stay inline in the generator: over an attribute, Spark
      // would infer a `size(bands) > 0` filter and evaluate them twice.
      val cand = docShingles(docs)
        .select(col("doc_id"), posexplode(MinHashBands(col("sh"), 8, 8))
          .as(Seq("band_idx", "band_hash")))
        .groupBy("band_idx", "band_hash")
        .agg(collect_list("doc_id").as("ids"))
        .select(inline(OrderedPairs(col("ids"), "doc_a", "doc_b")))
        .distinct()
        .localCheckpoint() // candDocs + the verification join
      // a semi-join ignores duplicate keys: no union, no distinct
      val candDocs = cand.select(
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      // broadcast, so that both sides of the pair join read ONE exchange
      // and the candidate documents are scanned and shingled once. It
      // holds one shingle array per id of the candidate-id broadcast:
      // documents that share an LSH band with another document, a small
      // fraction of the corpus (sf0.1 fixture: 477 of 5000 documents,
      // 0.4 of 4.3 MB of shingle text). Partitioning it instead would
      // shuffle the arrays.
      val candSh = broadcast(docShingles(
        docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")))
      val ratio = col("inter").cast("double") / (col("nab") - col("inter"))
      cand
        .join(candSh.toDF("doc_a", "sh_a"), "doc_a")
        .join(candSh.toDF("doc_b", "sh_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
            .as("inter"),
          (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long"))
            .as("nab"))
        // the threshold is applied by the generator (no row below it), not
        // by a filter: Spark would push a filter into the join condition
        // with `inter` inlined and intersect every pair's arrays twice
        .select(col("doc_a"), col("doc_b"), explode(
          when(ratio >= JaccardThreshold, array(round(ratio, 6))))
          .as("jaccard"))
    }),

    // SimHash near-dup: 64-bit signatures, blocked by 16-bit pieces
    // (hamming ≤ 3 guarantees ≥1 identical piece), verified by bit_count.
    // Signatures via the native SimHashAggregator over codegen-hashed
    // exploded tokens (same pattern as MinHash — no interpreted HOFs).
    // xxhash64 has no DuckDB twin ⇒ rows-only; the md5-hashed twin below
    // shares every downstream step and IS oracle-checked.
    "dedup_simhash" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), xxhash64(col("tok")).as("h")))),

    // Oracle-checked SimHash twin: identical pipeline (same aggregator,
    // same blocking, same verify) with the token hash drawn from md5
    // instead of xxhash64 — 15 hex chars = 60 bits, which both fits a
    // signed long exactly (conv → cast never overflows) and reproduces in
    // DuckDB as ('0x' || substr(md5(tok),1,15))::UBIGINT. Signature bits
    // 60–63 see only −1 votes and stay 0 in both engines, so the DuckDB
    // mirror sums j ∈ [0,60). SimHash quality is hash-family-independent
    // (hamming distance tracks token-multiset overlap), so this twin
    // oracle-checks the whole simhash dataflow, not a weakened variant.
    "dedup_simhash_md5" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("h")))),

    // Incremental near-dup — the daily-ingestion production shape: a
    // DELTA of new documents (source ≠ src0) is deduped against the
    // existing BASE corpus (src0) and against itself, and the base is
    // never compared with itself — the pair join filters base-base
    // combinations BEFORE the co-occurrence aggregate, so adding a delta
    // costs |delta|·avg_df join work, not a full-corpus re-dedup. At
    // 100 TB the base's shingle index is a persisted table built once;
    // this query is exactly the dataflow that consumes it. Verdict per
    // delta doc: near-dup of base (jaccard ≥ 0.8), near-dup of an
    // earlier delta doc, or genuinely new.
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = docs
        .select(col("doc_id"), (col("source") === "src0").as("in_base"),
          explode(shingles(col("text"), 3)).as("s"))
        // index-build exchange: consumers run at the checkpoint's
        // partition count (see exactJaccardPairs)
        .buildCheckpointBy("doc_id") // sizes + both sides of the pair join
      val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = idx.toDF("doc_a", "a_base", "s")
      val b = idx.toDF("doc_b", "b_base", "s")
      val pairs = a.join(b, "s")
        .filter(col("doc_a") < col("doc_b") &&
          !(col("a_base") && col("b_base")))
        .groupBy("doc_a", "a_base", "doc_b", "b_base")
        .agg(count(lit(1)).as("inter"))
        .join(sizes.toDF("doc_a", "na"), "doc_a")
        .join(sizes.toDF("doc_b", "nb"), "doc_b")
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")) >= 0.8)
        .select("doc_a", "a_base", "doc_b", "b_base")
      // each qualifying pair, seen from its delta member(s)' perspective
      val nbrs = pairs
        .select(col("doc_a").as("doc_id"), col("a_base").as("me_base"),
          col("doc_b").as("nbr"), col("b_base").as("nbr_base"))
        .unionAll(pairs
          .select(col("doc_b").as("doc_id"), col("b_base").as("me_base"),
            col("doc_a").as("nbr"), col("a_base").as("nbr_base")))
        .filter(!col("me_base"))
      val verdict = nbrs.groupBy("doc_id").agg(
        bool_or(col("nbr_base")).as("dup_vs_base"),
        bool_or(!col("nbr_base") && col("nbr") < col("doc_id"))
          .as("dup_in_delta"))
      docs.filter(col("source") =!= "src0")
        .select(col("doc_id"))
        .join(verdict, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_vs_base"), lit(false)).as("dup_vs_base"),
          coalesce(col("dup_in_delta"), lit(false)).as("dup_in_delta"))
        .withColumn("is_new", !col("dup_vs_base") && !col("dup_in_delta"))
    }),

    // Character-level near-dup — the fourth dedup granularity (document
    // fingerprint → shingle set → substring span → CHARACTER): candidates
    // from the shingle inverted index at a loose jaccard ≥ 0.5, verified
    // by exact Levenshtein distance ≤ 5% of the longer text. Catches
    // small in-place edits whose set-semantics jaccard is noisy, with
    // cross-engine-exact integer arithmetic (dist·20 ≤ max_len).
    //
    // Scale: the O(len²) edit-distance DP is the expensive part, so it
    // runs ONLY on index-join candidates (256 pairs of the 12.5M possible
    // at sf0.1) after texts are joined back by doc_id — never as a
    // pairwise text join.
    "dedup_editdist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val texts = docs.select(col("doc_id"), col("text"))
      val cand = exactJaccardPairs(docs)
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
      cand
        .join(texts.toDF("doc_a", "text_a"), "doc_a")
        .join(texts.toDF("doc_b", "text_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("text_a"), col("text_b")).as("dist"),
          greatest(length(col("text_a")), length(col("text_b")))
            .as("max_len"))
        .filter(col("dist") * 20 <= col("max_len"))
        .select(col("doc_a"), col("doc_b"), col("dist"))
    }),

    // Embedding near-dup: all pairs with cosine ≥ 0.4 (fixture has no
    // tighter clusters). Brute force n²/2 — oracle-checkable baseline;
    // dedup_embedding_lsh below is the same semantics without the
    // all-pairs nested-loop join.
    "dedup_embedding" -> ((s, d) => {
      val unit = unitEmbeddings(s, d)
      // streamed-side parallelism floor for the all-pairs BNLJ (r17,
      // the eval_ann_recall lesson): the streamed side arrives as scan
      // splits (2 tasks on the single-file fixture) while every row
      // costs |corpus| dot products above the exchange — sf1 measured
      // 17.5 → 4.1 s. Engages only when the scan provides fewer
      // partitions than spark.sql.shuffle.partitions (Parallelism.
      // floor); the banded twin (dedup_embedding_lsh) stays the
      // at-scale answer.
      val a = graft.operators.Parallelism.floor(unit.toDF("vec_a", "u_a"))
      val b = unit.toDF("vec_b", "u_b")
      a.join(b, col("vec_a") < col("vec_b"))
        // compute the dot ONCE into a column, filter on it, round after:
        // filter(dot >= t).select(round(dot)) evaluated the 64-element
        // loop twice per pair — measured 2x on the 200M-pair sf1 corpus
        .select(col("vec_a"), col("vec_b"),
          VectorFunctions.dot(col("u_a"), col("u_b")).as("cos_raw"))
        .filter(col("cos_raw") >= 0.4)
        .select(col("vec_a"), col("vec_b"),
          round(col("cos_raw"), 6).as("cos"))
    }),

    // Embedding near-dup via banded projection join — SAME results as
    // dedup_embedding (recall 1.0 guaranteed, not probabilistic), but the
    // candidate step is a shuffle equi-join on a band key instead of a
    // BroadcastNestedLoopJoin over all n²/2 pairs:
    //
    //   unit vectors with cos(a,b) ≥ t satisfy ‖a−b‖₂ ≤ √(2−2t); for any
    //   unit direction w, Cauchy–Schwarz gives |w·a − w·b| ≤ ‖a−b‖₂.
    //   Banding the projection axis at width W = √(2−2t) therefore puts
    //   every qualifying pair in the same or adjacent band — candidates
    //   are exactly the ≤1-band-apart pairs, verified by exact cosine.
    //
    // (Sign-bit LSH bucketing cannot do this: measured on this fixture the
    // qualifying pairs span bucket-hamming 0..6 of 6 bits, so probing to
    // full recall would visit every bucket. The projection band carries a
    // proof, not a probability.)
    //
    // Scale: pruning power = band width vs projection spread (σ = 1/√dim
    // on unit vectors, so ±~0.5 at dim 64). MEASURED at sf1 (200M pairs,
    // SCALE.md §Band selectivity, measured): a single direction prunes
    // NOTHING at any practical threshold — W = √(2−2t)
    // is 1.095/0.775/0.447 at t = 0.4/0.7/0.9, always ≥ the spread, so
    // the corpus occupies 2-4 bands and ±1-band candidates are ~100% of
    // all pairs. The single-direction win is hash-join vs nested loop
    // (measured 3×), not pruning. Real pruning needs AND-ed independent
    // directions (composite band tuple, 3^p offsets, ≈ f^p) on the
    // clustered corpora where near-dup structure exists at all.
    "dedup_embedding_lsh" -> ((s, d) => {
      val t = 0.4
      val bandW = math.sqrt(2 - 2 * t)
      // deterministic unit direction: the SAME normalized first
      // fixed-seed hyperplane sim_knn_banded and its oracle share
      val w = SimilarityQueries.bandW0
      val banded = unitEmbeddings(s, d)
        .withColumn("band",
          floor(VectorFunctions.dot(col("u"), typedlit(w)) / bandW)
            .cast("long"))
      val a = banded.toDF("vec_a", "u_a", "band_a")
      val b = banded.toDF("vec_b", "u_b", "band_b")
      // |band_a − band_b| ≤ 1 as three equi-joins (each pair matches
      // exactly one offset, so the union is duplicate-free). The full
      // predicate lives in the JOIN condition with the cheap id
      // compare written BEFORE the cosine threshold: the conjunct
      // order survives into the join residual, and short-circuiting
      // on vec_a < vec_b halves the 64-element dot evaluations
      // (measured 11-12 s → ~8 s on the 200M-pair sf1 corpus vs the
      // pushed-filter form, whose residual ran the dot first). The
      // output dot is re-evaluated only for the ~0.05% survivors.
      Seq(-1, 0, 1).map { off =>
          a.join(b, col("band_b") === col("band_a") + off &&
            col("vec_a") < col("vec_b") &&
            VectorFunctions.dot(col("u_a"), col("u_b")) >= t)
        }.reduce(_ unionAll _)
        .select(col("vec_a"), col("vec_b"),
          round(VectorFunctions.dot(col("u_a"), col("u_b")), 6)
            .as("cos"))
    }),

    // Composite AND-band near-dup join — the production pruning path the
    // single-direction measurement (SCALE.md §Band selectivity) points
    // to: TWO orthonormal deterministic directions, a pair is a
    // candidate iff BOTH banded projections are ≤1 cell apart. Same
    // recall-1.0 proof as dedup_embedding_lsh applied per direction
    // (|wᵢ·a − wᵢ·b| ≤ ‖a−b‖₂ ≤ √(2−2t) for every unit wᵢ), so the
    // output is identical to dedup_embedding and shares its brute-force
    // oracle. Pruning multiplies across independent directions — the
    // fᵖ law measured to ~1% on a clustered 200M-pair corpus
    // (SCALE.md §Composite AND-bands, measured: f=0.753 per direction
    // at t=0.99 → 0.563 at p=2, 0.442 at p=3). The same measurement
    // bounds the approach: random-
    // direction f = P(|Δproj| ≤ W) never gets small at practical
    // thresholds, and each extra direction multiplies the join count
    // by 3 while pruning only ×f — AND-bands pay where per-match work
    // dominates per-join overhead (large n, tight thresholds, real
    // cluster structure); subquadratic candidate generation requires
    // dedup_minhash_lsh (probabilistic) or dedup_semantic (k-means
    // cells) — this operator is the exact-recall middle rung.
    //
    // Plan shape: 3² = 9 broadcast equi-joins on a PACKED single-long
    // cell key, one per neighbor offset, unioned. Each qualifying pair
    // matches exactly one offset, so the union is duplicate-free by
    // construction — no distinct needed.
    "dedup_embedding_lsh_and" -> ((s, d) => {
      val t = 0.4
      val bandW = math.sqrt(2 - 2 * t)
      val dirs = SimilarityQueries.bandDirs(2)
      val banded = unitEmbeddings(s, d)
        .select(col("vec_id"), col("u"),
          floor(VectorFunctions.dot(col("u"), typedlit(dirs(0))) / bandW)
            .cast("long").as("b0"),
          floor(VectorFunctions.dot(col("u"), typedlit(dirs(1))) / bandW)
            .cast("long").as("b1"))
      // Two formulation choices, both MEASURED on the 200M-pair sf1
      // corpus at equal candidate counts:
      //  - pack the two band indices into ONE long key (|band| ≤
      //    1/W + 1 ≪ 2^20 at any threshold) so the broadcast hash
      //    relation stays on the primitive-long fast path;
      //  - one equi-join PER neighbor offset with the offset folded
      //    into the streamed side's key arithmetic (the
      //    dedup_embedding_lsh shape), NOT one join against a 3²-way
      //    exploded probe table: the exploded single-join form ran
      //    ~3× slower at identical match counts (35 s vs 12 s for
      //    p=1; 20-32 s vs ~13 s for this query).
      // Each pair still matches exactly one offset tuple — the union
      // is duplicate-free by construction.
      val pack = (c0: org.apache.spark.sql.Column,
                  c1: org.apache.spark.sql.Column) =>
        (c0 + lit(1L << 20)) * lit(1L << 21) + (c1 + lit(1L << 20))
      val a = banded.toDF("vec_a", "u_a", "a0", "a1")
      val b = banded
        .select(col("vec_id").as("vec_b"), col("u").as("u_b"),
          pack(col("b0"), col("b1")).as("cell_b"))
      (for { o0 <- -1 to 1; o1 <- -1 to 1 } yield
        a.join(b, col("cell_b") ===
          pack(col("a0") + o0, col("a1") + o1) &&
          col("vec_a") < col("vec_b")))
        .reduce(_ unionAll _)
        // single dot evaluation per candidate (see dedup_embedding)
        .select(col("vec_a"), col("vec_b"),
          VectorFunctions.dot(col("u_a"), col("u_b")).as("cos_raw"))
        .filter(col("cos_raw") >= t)
        .select(col("vec_a"), col("vec_b"),
          round(col("cos_raw"), 6).as("cos"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
    // corpus scale = k-means-cluster the embedding space with a coarse
    // quantizer, then prune cosine near-duplicates ONLY within each
    // cluster — the published trick that turns the O(N²) pairwise scan
    // into Σᵢ O(nᵢ²) cluster-local work (with k grown ∝ N in production,
    // per-cluster cost stays bounded; the paper uses k=11k for LAION).
    // Reuses the SHARED memoized IVF model (SimilarityQueries.ivfModel),
    // exactly as a production pipeline trains one quantizer and serves
    // clustering, ANN, and dedup from it — and what makes the oracle
    // exact: the generated k-means CTE chain already reproduces cell
    // assignments bit-for-bit in DuckDB. Keep rule: deterministic
    // lowest-id-wins within a near-dup relation (the paper keeps a
    // pseudo-random representative and measures the choice as
    // inconsequential — §3; lowest-id makes it reproducible). A row is
    // a dup iff SOME lower-id row in its cluster is within the cosine
    // threshold — the same prefix semantics every other dedup op here
    // uses. Only cluster-LOCAL pairs are compared, so the self-join
    // equi-key is the cell: at fixture scale Catalyst broadcasts the
    // prior side; at 100 TB it becomes a co-partitioned SMJ on cell —
    // cluster locality IS the operator (the audit allowlists u across
    // that exchange for exactly this reason). Cell comes from RAW
    // vectors (the oracle chain's assignment); the pairwise compare
    // normalizes once per row and dots unit vectors — the same
    // one-dot-per-pair economy the unitEmbeddings family uses, ~3×
    // fewer flops in the Σ O(nᵢ²) hot loop than per-pair raw cosine.
    // Rows whose assignment is undefined (wholly-NULL / degenerate
    // vector → NULL cell) are excluded in BOTH engines, per the
    // ivfChainSql degenerate-row doctrine.
    "dedup_semantic" -> ((s, d) =>
      semanticDups(SimilarityQueries.rawVecs(s, d),
        SimilarityQueries.ivfModel(s, d))))

  /** dedup_semantic's verdict (vec_id, cell, is_dup) over `rawVecs`
    * output and the IVF model, so curate_d4 can share one embeddings
    * read with it. */
  private[graft] def semanticDups(
      e: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    if (centroids.isEmpty)
      e.select(col("vec_id"), lit(0).as("cell"), lit(false).as("is_dup"))
        .limit(0)
    else {
      val a = SimilarityQueries.assignCells(e, centroids)
        .filter(col("cell").isNotNull)
        .select(col("vec_id"),
          graft.functions.UnitNormalize.unit(col("v")).as("u"),
          col("cell"))
        .localCheckpoint() // three consumers: both self-join sides + output spine
      val prior = a.toDF("prior_id", "prior_u", "prior_cell")
      val dupIds = a.join(prior,
          col("prior_cell") === col("cell") &&
            col("prior_id") < col("vec_id") &&
            VectorFunctions.dot(col("u"), col("prior_u")) >=
              SemThreshold,
          "left_semi")
        .select(col("vec_id"))
      a.select(col("vec_id"), col("cell"))
        .join(dupIds.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
    }

  /** Embeddings normalized to unit vectors — (vec_id, u). Normalize once
    * per vector, so every pair costs ONE dot product instead of three.
    * The fused native UnitNormalize computes the norm in its own loop —
    * no cross-expression nrm reference, no CollapseProject quadratic
    * trap, no exchange barrier; the plan below the checkpoint is
    * shuffle-free and bit-identical to the old barrier form
    * (DotProductSpec pins it). Oracles mirror the normalize-then-dot op
    * order for bit-stable doubles. */
  private def unitEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.UnitNormalize.unit(col("embedding")).as("u"))
      .localCheckpoint() // both self-join sides, in two queries

  /** Shared SimHash pipeline over pre-hashed tokens (doc_id, h):
    * per-doc signature via the ±1 bit-vote aggregator, candidate pairs by
    * 16-bit piece blocking (hamming ≤ 3 over ≤64 bits ⇒ pigeonhole
    * guarantees ≥1 of the 4 pieces identical — no all-pairs join), exact
    * bit_count verify. The hash column is the only thing dedup_simhash
    * (xxhash64) and dedup_simhash_md5 (md5-derived, oracle-checked) do
    * differently. */
  private[graft] def simhashPairs(hashed: DataFrame): DataFrame = {
    val simhashAgg = udaf(graft.functions.SimHashAggregator)
    signaturePairs(hashed
      .groupBy("doc_id").agg(simhashAgg(col("h")).as("sig")))
  }

  /** Hot-piece threshold for [[signaturePairs]]' skew guard. A piece
    * bucket of size c contributes c·(c−1)/2 candidate pairs landing on
    * ONE reducer of the piece self-join — harmless at fixture scale but
    * a straggler (or OOM) key at 100 TB when a degenerate signature
    * family dominates (all-identical payloads, sig 0 from constant
    * planes). Buckets past the threshold go through the salted A×B
    * path instead ([[graft.operators.Salting.saltedJoin]]): the left
    * side salts by hash(doc_id), the right side replicates to every
    * salt, so the bucket's quadratic work spreads over the salts'
    * reducers while the pair set stays EXACTLY the plain join's
    * (RobustnessSpec pins set equality on an all-identical corpus).
    * The 10k default keeps the guard inert on every fixture (largest
    * observed bucket ≪ 1k) while capping any reducer at ~10k²/salts
    * candidate pairs; specs pass a smaller one. */
  private val HotPieceThreshold = 10000L
  private val SaltBuckets = 16
  /** Salt ceiling: right-side replication costs |hot rows|·salts, so the
    * adaptive count (SaltBuckets · maxBucket/threshold, advisor round-13
    * — a constant 16 leaves ~c²/16 on one reducer for a very large
    * degenerate family) is capped where replication would start to
    * dominate the win. */
  private val MaxSaltBuckets = 256
  /** Hot-bucket lists beyond this row count are joined by shuffle
    * instead of broadcast (advisor round-13: the ≤ |pieces|/threshold
    * bound can reach hundreds of millions of rows at 100 TB if many
    * buckets sit just over threshold — an uncapped broadcast there is a
    * driver OOM). 100k rows of (int, long) is comfortably under every
    * broadcast default. */
  private val HotListBroadcastCap = 100000L

  /** Candidate pairs from per-doc ≤64-bit signatures (doc_id, sig):
    * 16-bit piece blocking (pigeonhole-exact for hamming ≤ 3), exact
    * bit_count verify. Factored from [[simhashPairs]] so signature
    * families that are COMPUTED per row rather than voted per token —
    * the DCT pHash — share the identical pair machinery. A driver-side
    * hot-piece probe on every call (ONE row off a tiny aggregate over
    * the checkpointed signatures — bounded state, like the IVF centroid
    * collects) picks between the plain self-join and the
    * skew-guarded plan; see [[HotPieceThreshold]]. */
  private[graft] def signaturePairs(sigsIn: DataFrame,
      hotPieceThreshold: Long = HotPieceThreshold,
      hotListBroadcastCap: Long = HotListBroadcastCap): DataFrame = {
    val sigs =
      sigsIn.localCheckpoint() // both sides of the piece-blocked self-join
    val pieces = sigs.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)), p =>
        call_function("shiftright", col("sig"), (p * 16).cast("int"))
          .bitwiseAND(lit(0xFFFFL))))
        .as(Seq("piece_idx", "piece")))
    val hotAgg = pieces.groupBy("piece_idx", "piece")
      .agg(count(lit(1)).as("n")).filter(col("n") > hotPieceThreshold)
    // ONE probe job yields both decisions — how many buckets are hot
    // AND how hot the worst one is (drives the adaptive salt count)
    val probe = hotAgg
      .agg(count(lit(1)).as("c"), coalesce(max("n"), lit(0L)).as("m"))
      .head()
    val (nHot, maxBucket) = (probe.getLong(0), probe.getLong(1))
    // explicit renames, NOT positional toDF: a usingColumns semi/anti
    // join reorders its output (join keys first), so a positional rename
    // downstream would scramble doc_id into piece_idx (review-caught on
    // the first draft of the salted path)
    def side(df: DataFrame, doc: String, sig: String): DataFrame =
      df.select(col("doc_id").as(doc), col("sig").as(sig),
        col("piece_idx"), col("piece"))
    def verified(joined: DataFrame): DataFrame = joined
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
    val pairs =
      if (nHot == 0L)
        verified(side(pieces, "doc_a", "sig_a")
          .join(side(pieces, "doc_b", "sig_b"), Seq("piece_idx", "piece")))
      else {
        // cold buckets: the plain join, restricted to rows outside the
        // hot bucket set. The hot list is ≤ |pieces|/threshold rows —
        // usually tiny, but NOT bounded (a 100 TB corpus where many
        // buckets sit just over threshold), so broadcast only under the
        // cap and let a shuffle semi/anti join carry the pathological case
        val hotCk = hotAgg.select("piece_idx", "piece").localCheckpoint()
        val hotB =
          if (nHot <= hotListBroadcastCap) broadcast(hotCk) else hotCk
        val cold = pieces.join(hotB, Seq("piece_idx", "piece"), "left_anti")
        val coldPairs = verified(side(cold, "doc_a", "sig_a")
          .join(side(cold, "doc_b", "sig_b"), Seq("piece_idx", "piece")))
        // hot buckets: salted A×B, so each pair meets exactly once per
        // bucket and each reducer sees ~1/salts of the bucket's
        // quadratic work. The salt count scales with the worst observed
        // bucket (c²/16 on one reducer is still a straggler when
        // c ≫ threshold) and is capped where right-side replication
        // (|hot rows|·salts) would dominate.
        val salts = math.min(MaxSaltBuckets.toLong,
          math.max(SaltBuckets.toLong,
            maxBucket / math.max(hotPieceThreshold, 1L) * SaltBuckets))
        val hotRows = pieces.join(hotB, Seq("piece_idx", "piece"),
          "left_semi")
        val hotPairs = verified(graft.operators.Salting.saltedJoin(
          side(hotRows, "doc_a", "sig_a"), side(hotRows, "doc_b", "sig_b"),
          Seq("piece_idx", "piece"), col("doc_a"), salts.toInt))
        coldPairs.unionAll(hotPairs)
      }
    pairs
      .distinct()
      .filter(col("hamming") <= 3)
  }

  val oracles: Map[String, String] = Map(
    // SNM: the sort key prefix is monotone-encoded in Spark only for
    // BUCKETING; the authoritative order is (pre, doc_id) — which is
    // what the oracle sorts by directly (DuckDB's default collation is
    // the same binary UTF-8 order Spark uses)
    "dedup_snm" ->
      """WITH p AS (
        |  SELECT doc_id, lower(substr(text, 1, 40)) AS pre
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id, pre,
        |    ROW_NUMBER() OVER (ORDER BY pre, doc_id) AS rn
        |  FROM p)
        |SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |  GREATEST(a.doc_id, b.doc_id) AS doc_b
        |FROM r a JOIN r b
        |  ON b.rn - a.rn BETWEEN 1 AND 8
        | AND levenshtein(a.pre, b.pre) <= 3""".stripMargin,
    // MinHash+LSH is probabilistic in general, but DedupSpec pins its
    // recall == exact n-gram Jaccard on this fixture (64 hashes, 8×8
    // bands, j ≥ 0.8 ⇒ P(miss) < 1e-6), and the final jaccard column is
    // the exact verified value — so it legitimately shares the exact
    // oracle. Doubles as a regression tripwire if recall ever drops.
    "dedup_minhash_lsh" -> dedupNgramJaccardOracle,
    "dedup_ngram_prefix" -> dedupNgramJaccardOracle,
    // Exact mirror of the md5 SimHash twin: same 60-bit md5-derived token
    // hash, same ±1 bit votes (ties and all-(−1) bits → 0, hence j<60
    // suffices), same hamming ≤ 3 — verified by brute-force O(n²)
    // self-join (the oracle doesn't need the piece-blocking trick, whose
    // completeness the pigeonhole argument + shared result guarantee).
    "dedup_simhash_md5" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h, range(0, 60) r(j)
        |  GROUP BY doc_id, j),
        |sigs AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
        |             ELSE 0 END) AS sig
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(CAST(a.sig AS BIGINT), CAST(b.sig AS BIGINT)))
        |       AS INTEGER) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(CAST(a.sig AS BIGINT), CAST(b.sig AS BIGINT))) <= 3""".stripMargin,
    // connected components via recursive CTE: root r reaches node n along
    // the (bidirectional) dup edges ⇒ same component; min reachable root
    // = the canonical id the Spark label propagation converges to
    "dedup_clusters" ->
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
        |comp AS (SELECT node, MIN(root) AS cluster FROM r GROUP BY node)
        |SELECT d.doc_id,
        |  COALESCE(c.cluster, d.doc_id) AS cluster_id,
        |  COALESCE(c.cluster, d.doc_id) <> d.doc_id AS is_dup
        |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""".stripMargin,
    // same component construction as dedup_clusters, then per-cluster
    // survivor = most tokens, min doc_id on ties (exact integers only)
    "dedup_canonical" ->
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
        |scored AS (
        |  SELECT d.doc_id,
        |    COALESCE(c.cluster, d.doc_id) AS cluster_id,
        |    CAST(COALESCE(len(list_filter(string_split(d.text,' '),
        |      x -> x <> '')), 0) AS BIGINT) AS n_tokens
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT doc_id, cluster_id, n_tokens,
        |  ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY n_tokens DESC, doc_id) = 1 AS keep
        |FROM scored""".stripMargin,
    // identical semantics by the band-containment proof above — shares the
    // brute-force oracle
    "dedup_embedding_lsh" -> dedupEmbeddingOracle,
    // per-direction band containment ⇒ exact recall for the AND of two
    // directions too — same brute-force oracle
    "dedup_embedding_lsh_and" -> dedupEmbeddingOracle,
    // generated from the same deterministic k-means chain as the IVF
    // oracles (SimilarityQueries.ivfChainSql — shortest-repr decimal
    // casts, margin-pinned assignments); the dup rule is a correlated
    // EXISTS over cluster-local lower-id pairs, normalize-then-dot
    // exactly as the query computes it (x / sqrt(Σx²) mirrors
    // UnitNormalize bit-for-bit, pinned in DotProductSpec; threshold
    // decisions margin-pinned in DedupSimilaritySpec). NULL-cell rows
    // (undefined assignment) are excluded on both sides.
    "dedup_semantic" ->
      s"""${SimilarityQueries.ivfChainSql},
         |un AS (SELECT vec_id, cell,
         |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
         |       FROM af WHERE cell IS NOT NULL),
         |dup AS (SELECT x.vec_id FROM un x WHERE EXISTS (
         |  SELECT 1 FROM un y
         |  WHERE y.cell = x.cell AND y.vec_id < x.vec_id
         |    AND list_dot_product(x.u, y.u) >= $SemThreshold))
         |SELECT un.vec_id, CAST(un.cell AS INTEGER) AS cell,
         |  un.vec_id IN (SELECT vec_id FROM dup) AS is_dup
         |FROM un""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents""".stripMargin,
    "dedup_soft_weights" ->
      """SELECT doc_id,
        |  COUNT(*) OVER (PARTITION BY md5(text)) AS cluster_size,
        |  10000 // COUNT(*) OVER (PARTITION BY md5(text)) AS weight_bp
        |FROM documents""".stripMargin,
    "dedup_ngram_jaccard" -> dedupNgramJaccardOracle,
    "dedup_containment" -> dedupContainmentOracle,
    // prefix-filtered twin: provably identical output, same oracle
    "dedup_containment_prefix" -> dedupContainmentOracle,
    "dedup_editdist_passjoin" ->
      """WITH p AS (SELECT doc_id, lower(substr(text, 1, 40)) AS pre
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.pre, b.pre) AS INTEGER) AS dist
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.pre) - length(b.pre)) <= 3
        |  AND levenshtein(a.pre, b.pre) <= 3""".stripMargin,
    "dedup_embedding" -> dedupEmbeddingOracle,
    "dedup_incremental" ->
      """WITH docs AS (
        |  SELECT doc_id, source = 'src0' AS in_base,
        |    list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, in_base, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |idx AS (SELECT doc_id, in_base, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, a.in_base AS a_base,
        |         b.doc_id AS doc_b, b.in_base AS b_base, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  WHERE NOT (a.in_base AND b.in_base)
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (
        |  SELECT doc_a, a_base, doc_b, b_base FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
        |nbrs AS (
        |  SELECT doc_a AS doc_id, a_base AS me_base, doc_b AS nbr,
        |         b_base AS nbr_base FROM pairs
        |  UNION ALL
        |  SELECT doc_b, b_base, doc_a, a_base FROM pairs),
        |verdict AS (
        |  SELECT doc_id, BOOL_OR(nbr_base) AS dup_vs_base,
        |    BOOL_OR(NOT nbr_base AND nbr < doc_id) AS dup_in_delta
        |  FROM nbrs WHERE NOT me_base GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(v.dup_vs_base, FALSE) AS dup_vs_base,
        |  COALESCE(v.dup_in_delta, FALSE) AS dup_in_delta,
        |  NOT COALESCE(v.dup_vs_base, FALSE)
        |    AND NOT COALESCE(v.dup_in_delta, FALSE) AS is_new
        |FROM documents d LEFT JOIN verdict v ON v.doc_id = d.doc_id
        |WHERE d.source <> 'src0'""".stripMargin,
    "dedup_editdist" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |idx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5)
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
        |FROM cand
        |JOIN documents a ON a.doc_id = doc_a
        |JOIN documents b ON b.doc_id = doc_b
        |WHERE levenshtein(a.text, b.text) * 20 <=
        |      GREATEST(LENGTH(a.text), LENGTH(b.text))""".stripMargin)

  private lazy val dedupEmbeddingOracle: String =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  ROUND(list_dot_product(a.u, b.u), 6) AS cos
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.u, b.u) >= 0.4""".stripMargin

  /** Shared by dedup_containment and its prefix-filtered twin — the
    * twin's whole claim is output identity, so one oracle serves both. */
  private lazy val dedupContainmentOracle: String =
    """WITH docs AS (
      |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
      |    list_distinct(list_transform(generate_series(1, len(w)-2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |    ELSE [] END AS shingles
      |  FROM docs),
      |idx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT doc_a, doc_b, i, sa.n AS na, sb.n AS nb
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b)
      |SELECT doc_a AS contained, doc_b AS container,
      |  (i * 10000) // na AS containment_bp
      |FROM wide WHERE i * 10 >= na * 9
      |UNION ALL
      |SELECT doc_b AS contained, doc_a AS container,
      |  (i * 10000) // nb AS containment_bp
      |FROM wide WHERE i * 10 >= nb * 9""".stripMargin

  private lazy val dedupNgramJaccardOracle: String =
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |idx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin
}
