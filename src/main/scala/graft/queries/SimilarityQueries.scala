package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (`array<float>` 64-dim).
  *
  *  - brute-force cosine top-k: the exact baseline — broadcast the query
  *    vector, one linear scan, TakeOrderedAndProject for the top-k (heap
  *    per partition + driver merge of k rows; no global sort);
  *  - LSH-bucketed ANN: random-hyperplane signatures shrink the candidate
  *    set; the scale path for 100 TB (bucket join instead of full scan per
  *    query). Approximate ⇒ rows-only + recall pinned in SimilaritySpec.
  */
object SimilarityQueries {

  /** Deterministic random hyperplanes (fixed seed) for the ANN bucketer. */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** sim_knn_banded's band geometry, shared between the query and its
    * generated DuckDB oracle: any neighbor with cos ≥ [[bandThreshold]]
    * projects within [[bandW]] of the query, and [[bandW0]] is the unit
    * projection direction. */
  private[graft] val bandThreshold = 0.2
  private[graft] lazy val bandW: Double = math.sqrt(2 - 2 * bandThreshold)
  private[graft] lazy val bandW0: Seq[Double] = {
    val p = hyperplanes(1, 64).head
    val n = math.sqrt(p.map(x => x * x).sum)
    p.map(_ / n)
  }

  /** p orthonormal deterministic projection directions for composite
    * AND-band joins (dedup_embedding_lsh_and). Gram–Schmidt over the
    * fixed-seed hyperplanes, so `bandDirs(p).head == bandW0` (same first
    * plane, same seed) and the remaining directions are orthogonal —
    * independence is what makes AND-ed pruning multiply (≈ fᵖ) instead
    * of re-measuring the same axis. The per-direction recall proof
    * (Cauchy–Schwarz band containment) needs only unit norm, which
    * Gram–Schmidt preserves. */
  private[graft] def bandDirs(p: Int): Seq[Seq[Double]] = {
    val raw = hyperplanes(p, 64)
    raw.foldLeft(Seq.empty[Seq[Double]]) { (acc, v) =>
      val ortho = acc.foldLeft(v) { (u, w) =>
        val proj = u.zip(w).map { case (a, b) => a * b }.sum
        u.zip(w).map { case (a, b) => a - proj * b }
      }
      val n = math.sqrt(ortho.map(x => x * x).sum)
      acc :+ ortho.map(_ / n)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact top-10 nearest (cosine) to the vec_id=0 embedding.
    "sim_topk_bruteforce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")))
      e.filter(col("vec_id") =!= 0)
        .join(q)
        .select(col("vec_id"),
          round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // KNN-join flavor: for every label-0 vector, its nearest label-1
    // neighbor (exact, windowed rank over the filtered cross product —
    // both sides small after the label filter; at scale the right side
    // would be LSH-bucketed first).
    "sim_nn_cross_label" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val a = e.filter(col("label") === 0).select(col("vec_id").as("qid"),
        col("embedding").as("q_emb"))
      val b = e.filter(col("label") === 1).select(col("vec_id").as("cid"),
        col("embedding").as("c_emb"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_raw").desc, col("cid").asc)
      a.join(broadcast(b))
        .select(col("qid"), col("cid"),
          cosine(col("q_emb"), col("c_emb")).as("cos_raw"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid"), col("cid").as("nn_id"),
          round(col("cos_raw"), 6).as("cos"))
    }),

    // Two-stage truncated-dimension rerank (the Matryoshka retrieval
    // pattern, Kusupati et al. NeurIPS 2022): stage 1 scores candidates
    // with only the first 16 of 64 dims (4× less FLOPs and memory
    // traffic per candidate) and keeps the top M=40 per probe; stage 2
    // reranks ONLY those 40 with the full-dimension exact cosine and
    // keeps the top 5. Both stages are deterministic (ties broken by
    // cid), so the composed semantics is SQL-expressible and the query
    // stays hash-exact — a rare cross-engine pin on a rerank pipeline.
    //
    // 100 TB shape: the value of the operator is the STAGE STRUCTURE,
    // not stage 1's scan — here stage 1 is the brute-force scan so the
    // oracle can replay it, but it composes with any registered
    // candidate generator (sim_ann_ivf / sim_ann_pq_adc produce exactly
    // the (qid, cid) shape stage 2 consumes). The production layout
    // stores the 16-dim prefix as its own column (scan reads 1/4 of the
    // vector bytes; same trick as PQ codes-only scans). No vector ever
    // rides a shuffle: stage 1's per-probe exchange carries only
    // (qid, cid, coarse), and stage 2 re-fetches full vectors by
    // BROADCASTING the ≤ nProbes·M survivor id pairs back against the
    // corpus scan (the sim_ann_batch idiom) — corpus vectors stream,
    // never shuffle. Both top cuts compile to WindowGroupLimit bounded
    // heaps; at fleet query volume the TopKAggregator (q35) replaces
    // the window.
    "sim_rerank_truncated" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 8)
      val survivors = e.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("cid"),
          slice(col("embedding"), 1, 16).as("c16"))
        .join(broadcast(probes.select(col("vec_id").as("qid"),
          slice(col("embedding"), 1, 16).as("q16"))))
        .select(col("qid"), col("cid"),
          dot(col("c16"), col("q16")).as("coarse"))
        .withColumn("crn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("coarse").desc, col("cid").asc)))
        .filter(col("crn") <= 40)
        .select(col("qid"), col("cid"))
      broadcast(survivors)
        .join(e.filter(col("vec_id") >= 8)
          .select(col("vec_id").as("cid"), col("embedding").as("c_emb")), "cid")
        .join(broadcast(probes.select(col("vec_id").as("qid"),
          col("embedding").as("q_emb"))), "qid")
        .select(col("qid"), col("cid"),
          cosine(col("c_emb"), col("q_emb")).as("cos_raw"))
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cos_raw").desc, col("cid").asc)))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("cid"), col("rank"),
          round(col("cos_raw"), 6).as("cos"))
    }),

    // Late-interaction MaxSim retrieval (the ColBERT scoring rule,
    // Khattab & Zaharia SIGIR 2020): each vector is treated as 4
    // sub-vectors of 16 dims (the multi-vector layout — per-token /
    // per-patch embeddings stored as one flat array), and
    // score(q, c) = Σ_i max_j ⟨qᵢ, cⱼ⟩ — every query sub-vector finds
    // its best-matching candidate sub-vector, summed. Richer than a
    // single dot product (captures partial/term-level matches), still
    // embarrassingly scannable.
    //
    // 100 TB shape: the score is ONE codegen'd projection per (q, c)
    // pair — 16 native dot products fused by greatest()+adds, no
    // explode (a subvector explode would 4× the corpus rows AND force a
    // (pair, i, j)-shaped shuffle/re-aggregate; as a pure expression the
    // corpus streams once). Queries broadcast; per-query top-5 compiles
    // to WindowGroupLimit bounded heaps. Composes with the ANN
    // candidate generators the way sim_rerank_truncated does: IVF/PQ
    // prunes on the pooled vector, MaxSim reranks survivors.
    "sim_maxsim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      def subs(c: Column): Seq[Column] =
        (0 until 4).map(i => slice(c, 1 + 16 * i, 16))
      val q = broadcast(e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb")))
      val score = subs(col("q_emb"))
        .map(qs => greatest(subs(col("c_emb")).map(cs => dot(qs, cs)): _*))
        .reduce(_ + _)
      e.filter(col("vec_id") >= 4)
        .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
        .join(q)
        .select(col("qid"), col("cid"), score.as("ms_raw"))
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("ms_raw").desc, col("cid").asc)))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("cid"), col("rank"),
          round(col("ms_raw"), 6).as("maxsim"))
    }),

    // Maximum-inner-product search (MIPS) — the recommender/linear-head
    // retrieval objective where magnitude MATTERS (un-normalized ⟨x,q⟩,
    // not cosine): top-10 per query by raw inner product, exact. The
    // scan is one codegen'd native dot per (query, candidate) with the
    // queries broadcast and per-query top-10 via WindowGroupLimit —
    // identical shape to sim_topk_bruteforce but ranking a different
    // functional.
    //
    // 100 TB path: MIPS reduces EXACTLY to unit-sphere NN by the
    // augmentation of Bachrach et al. (RecSys 2014): x ↦ [x, √(M²−‖x‖²)]
    // (M = max corpus norm), q ↦ [q, 0] — all augmented corpus vectors
    // have norm M, so cos(aug) = ⟨x,q⟩/(M‖q‖) and the ORDER of inner
    // products is the order of augmented cosines. Every registered
    // cosine-ANN path (sim_ann_lsh / ivf / pq) therefore serves MIPS
    // unchanged on the augmented column; DedupSimilaritySpec pins the
    // reduction (rank-for-rank agreement + the norm law) on fixtures.
    "sim_mips" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = broadcast(e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb")))
      e.filter(col("vec_id") >= 4)
        .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
        .join(q)
        .select(col("qid"), col("cid"),
          dot(col("c_emb"), col("q_emb")).as("ip_raw"))
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("ip_raw").desc, col("cid").asc)))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("cid"), col("rank"),
          round(col("ip_raw"), 6).as("ip"))
    }),

    // The at-scale KNN-join twin of sim_nn_cross_label: both sides banded
    // on one unit projection (the dedup_embedding_lsh machinery) and
    // joined only within ±1 band — a shuffle equi-join whose cost tracks
    // band co-occupancy instead of |A|×|B|. Approximate for *nearest*
    // (argmax has no distance threshold to carry the band-containment
    // proof, so a true NN further than the band width W from the query's
    // projection can be missed) ⇒ rows-only; SimilaritySpec pins coverage
    // (every query answered) and recall vs the exact cross product. Band
    // width here = √(2−2·0.2): any neighbor with cos ≥ 0.2 is inside the
    // probe window, i.e. misses can only happen for queries whose true NN
    // is barely better than random.
    "sim_knn_banded" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), col("label"), col("v"),
          floor(dot(col("v"), typedlit(bandW0)) / bandW)
            .cast("long").as("band"))
        // barrier: materializes `band` as an attribute so the six join
        // branches below ReuseExchange one computed subtree instead of
        // re-running the projection dot product per branch
        .repartition(col("vec_id"))
      val a = e.filter(col("label") === 0)
        .select(col("vec_id").as("qid"), col("v").as("q_v"),
          col("band").as("q_band"))
      val b = e.filter(col("label") === 1)
        .select(col("vec_id").as("cid"), col("v").as("c_v"),
          col("band").as("c_band"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_raw").desc, col("cid").asc)
      val nn = Seq(-1, 0, 1).map { off =>
          a.join(b, col("c_band") === col("q_band") + off)
        }.reduce(_ unionAll _)
        .select(col("qid"), col("cid"),
          cosine(col("q_v"), col("c_v")).as("cos_raw"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid"), col("cid").as("nn_id"),
          round(col("cos_raw"), 6).as("cos"))
      // left-join back to the query set: a query whose probe window holds
      // no label-1 candidate surfaces as (qid, null, null) instead of
      // silently vanishing — coverage is observable, not fixture luck
      a.select(col("qid")).join(nn, Seq("qid"), "left")
    }),

    // ANN: 6-bit random-hyperplane signatures (64 buckets — sized so a
    // bucket + its hamming-1 probes hold ~10% of this corpus; more planes
    // as the corpus grows); candidates = query bucket or a flip-1-bit
    // neighbor, then exact cosine rerank. Rows-only (approximate).
    "sim_ann_lsh" -> ((s, d) => {
      val planes = hyperplanes(6, 64)
      val e = Tables.embeddings(s, d)
        .withColumn("bucket", lshBucket(col("embedding"), planes))
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket")))
      // multi-probe: buckets within hamming radius 2. On this fixture the
      // true neighbors sit at cos 0.4–0.55 (≈60° — barely tighter than
      // random), so per-bit agreement is only ~0.65 and a radius-1 probe
      // finds almost nothing; radius 2 trades ~1/3 of the corpus as
      // candidates for ~2/3 recall. Clustered real-world embeddings
      // (cos ≥ 0.8) would use more planes and radius 1.
      e.filter(col("vec_id") =!= 0)
        .join(q)
        .filter(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= 2)
        .select(col("vec_id"),
          round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // IVF (inverted-file) ANN — the other classic scale path next to LSH:
    // a k-means coarse quantizer partitions the corpus into cells; a query
    // probes only the nProbe nearest cells and exact-reranks inside them.
    // Cell assignment is the fused native NearestCell argmin over the
    // broadcast centroid matrix (|v−c|² argmin ≡ argmin of |c|²−2·v·c,
    // row norm cancels);
    // at 100 TB the scan per query touches nProbe/k of the data and the
    // cell column doubles as the partition key for vector storage.
    // Deterministic (fixed seed-by-id init, fixed Lloyd iterations).
    // Approximate ⇒ rows-only; recall vs brute force pinned in spec.
    "sim_ann_ivf" -> ((s, d) => {
      val e = rawVecs(s, d)
      val centroids = ivfModel(s, d)
      if (centroids.isEmpty) emptyIvfResult(e)
      else ivfProbeTopK(e, assignCells(e, centroids), centroids)
    }),

    // IVF with a PERSISTED index — the production shape the in-memory
    // sim_ann_ivf stands in for: `assigned` is written ONCE per dataset
    // as a cell-partitioned parquet table (Layout.writePartitioned — the
    // cell column IS the directory key; [[ivfIndex]] memoizes the write
    // exactly like ivfModel memoizes training, because a production
    // index is built once and served many times), and the probe reads it
    // back with `cell IN (probed)` pruned at file-LISTING time, so only
    // nProbe of k cell directories are ever opened (DedupSimilaritySpec
    // pins inputFiles ⊆ probed cells, result equality with the in-memory
    // twin, AND that a second invocation performs no write). At 100 TB
    // this is the difference between an ANN query scanning nProbe/k of
    // the corpus and scanning all of it.
    "sim_ann_ivf_indexed" -> ((s, d) => {
      val e = rawVecs(s, d)
      val centroids = ivfModel(s, d)
      if (centroids.isEmpty) emptyIvfResult(e)
      else ivfProbeTopK(e, s.read.parquet(ivfIndex(s, d)), centroids)
    }),

    // Batched-query ANN — the access pattern a retrieval/dedup pipeline
    // actually runs at 100 TB: a query TABLE joined against the IVF index
    // with per-query top-k, not one driver-resident probe vector.
    //   - query set: the label-0 vectors (stand-in for an incoming query
    //     batch); corpus: every vector (self-matches excluded);
    //   - probe cells are computed PER QUERY ROW — the composed
    //     (distance, cell) struct array sorted and sliced to nProbe; k
    //     dot products per query row, zero driver arithmetic per query;
    //   - candidate retrieval: the probe set (qid, cell, q_v) is
    //     BROADCAST and hash-joined on cell, so corpus vectors never
    //     cross a shuffle — the query batch is the small side by
    //     construction, and at 100 TB the corpus side is a
    //     cell-partitioned scan this join prunes;
    //   - per-query top-k via the bounded-heap TopKAggregator: O(k) state
    //     per query through partial aggregation — never a full window
    //     sort of all candidates;
    //   - coverage left-join back to the query set: a query whose probed
    //     cells hold no candidates surfaces as (qid, null, null, null)
    //     instead of silently vanishing.
    // Approximate (IVF probes miss cells) ⇒ rows-only; per-query recall
    // vs brute force + coverage pinned in DedupSimilaritySpec.
    "sim_ann_batch" -> ((s, d) => annBatch(Tables.embeddings(s, d), d, nProbe = 4)),

    // ANN quality evaluation — recall@10 and reciprocal rank of the
    // batched IVF path against the exact ground truth, per query: the
    // measurement a pipeline MUST run before trusting any approximate
    // index (the spec-pinned recall curves sample a few probes; this is
    // the full-query-set audit as a first-class operator). Ground truth
    // is the brute-force top-10 ordered by ROUNDED cosine (6 dp) with
    // id tie-breaks — the one ordering that is cross-engine stable by
    // construction (sim_topk_bruteforce's rule), so the eval integers
    // are hash-exact even though they compare two ranked lists.
    // n_hits = |ANN ∩ GT| (0–10); rr_bp = ⌊10⁴/rank of GT's best hit
    // in the ANN list⌋, 0 when missed.
    //
    // 100 TB shape: the ANN side is the registered serving path; the
    // GT side is deliberately brute force — an eval runs over a query
    // SAMPLE (here the full label-0 set, the fixture's stand-in), and
    // its per-query cost is one broadcast of the sample against a
    // corpus scan, the dedup_embedding-style exact pass scoped to
    // |sample| ≪ |corpus|. Both top-10 cuts compile to
    // WindowGroupLimit bounded heaps; only (qid, id, rank) integers
    // ever shuffle.
    "eval_ann_recall" -> ((s, d) => {
      val k = 10
      // |queries|·k rows, referenced TWICE (hit count + MRR probe) — the
      // lazy checkpoint stops the second reference re-expanding (and
      // re-running) the ENTIRE annBatch serving plan, which alone halves
      // this query's 200 KB formatted plan (r16 opt)
      val emb = Tables.embeddings(s, d)
      val ann = annBatch(emb, d, nProbe = 4).localCheckpoint(eager = false)
      // GT pair-join parallelism floor (r17, measured at sf1): the
      // corpus side arrives as scan splits — 2 tasks on the single-file
      // fixture — while the exact ground truth multiplies every corpus
      // row by |Q| cosines (2033 at sf1), so the brute-force stage ran
      // 117 s of taskTime on 2 of 32 cores; flooring it read 79 → 19 s.
      // Engages ONLY when the scan provides fewer partitions than
      // spark.sql.shuffle.partitions (see Parallelism.floor) — at real
      // scale the scan is already split and no bytes move. (The rawVecs
      // no-repartition rule is right for every LINEAR consumer; this
      // quadratic one is the documented exception.)
      val e = graft.operators.Parallelism.floor(rawVecs(emb))
      val qset = emb.filter(col("label") === 0)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("q_v"))
      val wq = Window.partitionBy("qid")
        .orderBy(col("cos_r").desc, col("vec_id").asc)
      val gt = e.join(broadcast(qset), col("vec_id") =!= col("qid"))
        .select(col("qid"),
          round(cosine(col("v"), col("q_v")), 6).as("cos_r"), col("vec_id"))
        .withColumn("grank", row_number().over(wq))
        .filter(col("grank") <= k)
        .select(col("qid"), col("vec_id").as("nn_id"), col("grank"))
        .localCheckpoint() // re-read by the hit count and the MRR probe
      val hits = ann.join(gt, Seq("qid", "nn_id"))
        .groupBy("qid").agg(count(lit(1)).as("h"))
      val rr = gt.filter(col("grank") === 1)
        .join(ann, Seq("qid", "nn_id"))
        .select(col("qid"),
          expr("CAST(10000 DIV rank AS BIGINT)").as("r"))
      qset.select("qid")
        .join(hits, Seq("qid"), "left")
        .join(rr, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hits"),
          coalesce(col("r"), lit(0L)).as("rr_bp"))
    }),

    // int8 quantization — vector preprocessing for storage/ANN at scale.
    "sim_quantize_int8" -> quantizeQuery,

    // Johnson–Lindenstrauss random projection 64→16 — the standard
    // pre-ANN dimensionality reduction (reduced vectors shrink index
    // storage 4× and every downstream dot product 4×, at a distance
    // distortion bounded by JL; the spec pins the realized distortion
    // on this fixture). Pure narrow projection: the k×d Gaussian
    // matrix (scaled 1/√k) is a LITERAL folded into whole-stage
    // codegen — no model table, no join, ZERO shuffles at any corpus
    // size; at 100 TB this runs map-side in the same stage as the
    // scan, exactly like sim_quantize_int8.
    //
    // Cross-engine exactness WITHOUT decimal machinery: each component
    // is the literal left-associative chain v[1]·w₁ + v[2]·w₂ + ⋯ —
    // the SAME IEEE ops in the SAME order in Spark and in the
    // generated DuckDB SQL (Catalyst's ReorderAssociativeOperator
    // only touches integral types, so the FP chain is never
    // reassociated; Double.toString literals round-trip bit-exactly).
    // Output is long-form (vec_id, dim, val) — bit-identical doubles,
    // hash-exact, no round() hedge.
    "sim_rp_reduce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val comps = rpMatrix.zipWithIndex.map { case (w, j) =>
        struct(lit(j).as("dim"), rpComponent(col("v"), w).as("val"))
      }
      e.select(col("vec_id"), explode(array(comps: _*)).as("p"))
        .select(col("vec_id"), col("p.dim").as("dim"), col("p.val").as("val"))
    }),

    // Greedy k-center coreset selection (Sener & Savarese 2018,
    // arXiv:1708.00489 — the geometric data-selection method: pick the
    // point FARTHEST from everything chosen so far, 8 rounds, then
    // assign every vector to its nearest center; the selected set is a
    // 2-approximation of the optimal k-center cover, used to pick
    // maximally-diverse training subsets). Deterministic: seed = lowest
    // vec_id, farthest-point ties break to the smaller vec_id. Shape:
    // each round is ONE distributed argmax (TakeOrderedAndProject —
    // no shuffle of vectors) against the ≤8-vector center set held as
    // bounded driver model state (the ivfCentroids pattern); the final
    // assignment is a pure NearestCell projection. Output is
    // DECISIONS only (vec_id, center_id, sel_round) — no float column,
    // so cross-engine exactness needs only the selection/assignment
    // margins pinned in DedupSimilaritySpec, no rounding machinery.
    "sample_kcenter" -> ((s, d) => {
      import s.implicits._
      val e = rawVecs(s, d)
      val seed = e.orderBy("vec_id").limit(1)
        .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
        .collect().headOption
      if (seed.isEmpty)
        e.select(col("vec_id"), lit(0L).as("center_id"),
          lit(0).as("sel_round")).limit(0)
      else {
        var centers = Vector(seed.get)
        for (_ <- 2 to 8) {
          // min over chosen centers of |c|²−2·v·c, plus the row's own
          // |v|² — the same (d, cell) structs the IVF family ranks with
          val mind = array_min(cellDistStructs(col("v"),
            centers.map(_._2))).getField("d") + dot(col("v"), col("v"))
          val next = e
            .select(col("vec_id"), col("v"), mind.as("mind"))
            .orderBy(col("mind").desc, col("vec_id").asc).limit(1)
            .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
            .head()
          centers :+= next
        }
        val roundOf = centers.zipWithIndex
          .map { case ((id, _), i) => (id, i + 1) }
        e.select(col("vec_id"),
          graft.functions.NearestCell.nearest(col("v"),
            centers.map(_._2)).as("cidx"))
          .select(col("vec_id"),
            element_at(typedlit(centers.map(_._1)), col("cidx") + 1)
              .as("center_id"))
          .join(broadcast(roundOf.toDF("center_id", "sel_round")),
            Seq("center_id"), "left")
          .select(col("vec_id"), col("center_id"),
            coalesce(col("sel_round"), lit(0)).as("sel_round"))
      }
    }),

    // Product-quantization ADC scan (Jégou, Douze, Schmid 2011, "Product
    // Quantization for Nearest Neighbor Search", IEEE TPAMI — the third
    // classic ANN scale path next to LSH and IVF, and the one that
    // compresses MEMORY: the 64-dim vector splits into pqM=4 subspaces
    // of pqSub=16 dims, each with its own 16-centroid codebook trained
    // by the SAME deterministic Lloyd recipe as the IVF coarse
    // quantizer, so a corpus vector stores as 4 small codes — 4 bytes
    // instead of 256, a 64× shrink that is what lets a 100 TB corpus'
    // index live in cluster RAM. Query scoring is asymmetric distance
    // computation (ADC): the query builds one 4×16 lookup table of
    // subspace distances DRIVER-SIDE (bounded model-scale arithmetic),
    // and every candidate's approximate |q−v|² is 4 array lookups + 3
    // adds — no per-candidate dot product. Scale shape: encode+score is
    // a pure projection (codes would be PRECOMPUTED at 100 TB exactly
    // like sim_ann_ivf_indexed persists cells; computed inline here),
    // top-10 via TakeOrderedAndProject — zero shuffles of vectors.
    // Production PQ uses m=8–16 subspaces × 256 centroids; sized to the
    // fixture here, same machinery.
    //
    // Cross-engine exactness doctrine = the IVF family's: codebook
    // centroids are bit-identical in both engines (decimal-exact means,
    // shortest-repr casts), code assignment and the top-10 cut have
    // margins ≫ ULP (pinned in DedupSimilaritySpec), and the emitted
    // adc rounds to 6 places — so the generated DuckDB oracle (four
    // unrolled per-subspace k-means chains + the same LUT arithmetic)
    // is a REAL hash-exact oracle, not rows-only.
    "sim_ann_pq_adc" -> ((s, d) => {
      import s.implicits._
      val e = rawVecs(s, d)
      val cbs = pqModel(s, d)
      if (cbs.exists(_.isEmpty))
        e.filter(lit(false)).select(col("vec_id"),
          lit(null).cast("double").as("adc"))
      else {
        val qv = e.filter(col("vec_id") === 0).select("v")
          .as[Seq[Double]].head()
        e.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), round(pqAdc(qv, cbs), 6).as("adc"))
          .orderBy(col("adc").asc, col("vec_id").asc)
          .limit(10)
      }
    }),

    // IVF-PQ — the COMPOSED system from Jégou et al. 2011 §V and every
    // production vector store (FAISS IVFPQ): the IVF coarse quantizer
    // prunes the search to nProbe=4 of 16 cells, and the candidates
    // inside those cells score by the PQ ADC lookup — so at 100 TB a
    // query touches nProbe/k of the corpus AND reads 4-byte codes
    // instead of 256-byte vectors. Both models are the memoized ones
    // the rest of the ANN family serves (one quantizer + one codebook
    // set per dataset, as production trains them). The oracle chains
    // the two existing generated SQL derivations (coarse k-means +
    // four subspace k-means) and filters the ADC ranking to the probed
    // cells; margins inherit from both families' pins, plus the
    // subset-specific rounding pin in DedupSimilaritySpec.
    "sim_ann_ivfpq" -> ((s, d) => {
      import s.implicits._
      val e = rawVecs(s, d)
      val coarse = ivfModel(s, d)
      val cbs = pqModel(s, d)
      if (coarse.isEmpty || cbs.exists(_.isEmpty))
        e.filter(lit(false)).select(col("vec_id"),
          lit(null).cast("double").as("adc"))
      else {
        val qv = e.filter(col("vec_id") === 0).select("v")
          .as[Seq[Double]].head()
        val probe = coarse.zipWithIndex
          .map { case (c, i) =>
            (i, c.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum) }
          .sortBy(_._2).take(4).map(_._1)
        assignCells(e, coarse)
          .filter(col("vec_id") =!= 0 && col("cell").isin(probe: _*))
          .select(col("vec_id"), round(pqAdc(qv, cbs), 6).as("adc"))
          .orderBy(col("adc").asc, col("vec_id").asc)
          .limit(10)
      }
    }))

  /** The PQ ADC scoring expression shared by sim_ann_pq_adc and
    * sim_ann_ivfpq: per-subspace driver-built lookup tables
    * dj(cell) = (|c|²−2·q_j·c)+|q_j|² — the same associativity the
    * oracles' SQL uses, so the doubles agree to ≪ the pinned rounding
    * margin — indexed by the fused NearestCell code assignment and
    * summed left-associatively. */
  private[graft] def pqAdc(
      qv: Seq[Double], cbs: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column = {
    val luts: Seq[Seq[Double]] = cbs.zipWithIndex.map { case (cb, j) =>
      val qj = qv.slice(j * pqSub, (j + 1) * pqSub)
      val qSq = qj.map(x => x * x).sum
      cb.map { c =>
        val cSq = c.map(x => x * x).sum
        val qc = c.zip(qj).map { case (a, b) => a * b }.sum
        (cSq - 2 * qc) + qSq
      }
    }
    (0 until pqM).map { j =>
      element_at(typedlit(luts(j)),
        graft.functions.NearestCell.nearest(
          slice(col("v"), j * pqSub + 1, pqSub), cbs(j)) + 1)
    }.reduce(_ + _)
  }

  /** JL projection matrix for sim_rp_reduce: 16×64 Gaussians scaled by
    * 1/√16 (own seed — NOT [[hyperplanes]]' 42, so the LSH planes and
    * the projection stay independent draws). A literal in both engines:
    * Spark embeds the doubles directly, the oracle via Double.toString
    * (shortest round-trip). */
  private[graft] lazy val rpMatrix: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(1337)
    Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian() * 0.25))
  }

  /** One projected component as the literal left-assoc IEEE chain
    * v[1]·w₁ + v[2]·w₂ + ⋯ (see sim_rp_reduce's exactness note). */
  private[graft] def rpComponent(
      v: org.apache.spark.sql.Column, w: Seq[Double]): org.apache.spark.sql.Column =
    w.zipWithIndex.map { case (wi, i) =>
      element_at(v, i + 1) * lit(wi)
    }.reduce(_ + _)

  /** The sim_ann_batch body, parameterized over nProbe/k so the recall
    * curve is measurable (DedupSimilaritySpec pins recall@10 vs nProbe —
    * monotone by construction, since probeCells(n) is a prefix of
    * probeCells(n+1) and so candidate pools grow superset-wise; at
    * nProbe = k(cells) the pool is the whole corpus and recall is
    * exactly 1.0). The registered query serves nProbe=4. `emb` is the
    * embeddings table of `d` as the caller loaded it (each load infers
    * the parquet schema in a job, so a query reads it once); `d` keys
    * the IVF model memo. */
  private[graft] def annBatch(
      emb: DataFrame, d: String, nProbe: Int, k: Int = 10): DataFrame = {
    val e = rawVecs(emb)
    val centroids = ivfModel(emb.sparkSession, d)
    if (centroids.isEmpty) {
      // empty corpus -> no model and no queries; empty result with the
      // query's schema instead of an analysis-time crash
      e.select(col("vec_id").as("qid"), lit(0).cast("int").as("rank"),
        col("vec_id").as("nn_id"), lit(0.0).as("cos")).limit(0)
    } else {
      val assigned = assignCells(e, centroids)
      // no join against rawVecs for the label: that equi-join would
      // shuffle vectors as payload — project label in the same scan
      val qset = emb.filter(col("label") === 0)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("q_v"))
      // the probe ranking stays inline in the generator: over an
      // attribute, Spark would infer a `size(probe) > 0` filter and rank
      // every query twice
      val probes = qset.select(col("qid"), col("q_v"),
        explode(probeCells(col("q_v"), centroids, nProbe)).as("cell"))
      val scored = assigned.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("qid")) // queries ARE corpus rows here
        .select(col("qid"), cosine(col("v"), col("q_v")).as("cos_raw"),
          col("vec_id"))
      // the top-k side is at most k rows per query of the batch that is
      // already broadcast above, so the coverage join broadcasts it too
      // instead of sorting and shuffling both sides
      qset.select(col("qid"))
        .join(broadcast(topkRanked(scored, k)), Seq("qid"), "left")
    }
  }

  // No repartition: a shuffle here moves every raw vector across the wire
  // purely to manufacture local parallelism (the fixture is one parquet
  // file). At scale the scan is already split across files
  // (spark.sql.files.maxPartitionBytes); the cast is a per-row map.
  private[graft] def rawVecs(s: SparkSession, d: String): DataFrame =
    rawVecs(Tables.embeddings(s, d))

  /** (vec_id, v) over an already-loaded embeddings table. */
  private[graft] def rawVecs(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Memoized IVF coarse quantizer per dataset path: the three IVF
    * queries (single-probe, persisted-index, batched) and the streaming
    * server share one deterministic model exactly as a production
    * pipeline trains the quantizer once and serves every query from it.
    * Takes (session, path) — NOT a caller-supplied DataFrame — so a
    * cached hit can never silently return a model trained on different
    * data than the caller passed (review-caught API hole); the training
    * input is always the full rawVecs of `d`. Safe to cache:
    * [[ivfCentroids]] is bit-deterministic (seed-by-id init, DECIMAL
    * mean) and the fixture datasets are immutable; the value is k×dim
    * doubles — bounded model state. */
  /** PQ geometry: pqM subspaces of pqSub dims each (pqM·pqSub = 64, the
    * fixture embedding dim), 16 centroids per subspace codebook. */
  private[graft] val pqM = 4
  private[graft] val pqSub = 16

  /** Memoized per-dataset PQ codebooks: one deterministic Lloyd run per
    * subspace over the sliced subvectors — the identical recipe (and
    * bit-stability argument) as [[ivfModel]], keyed by path for the same
    * API-hole reason. */
  private val pqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Double]]]]
  private[graft] def pqModel(
      s: SparkSession, d: String): Seq[Seq[Seq[Double]]] =
    pqModelCache.computeIfAbsent(d,
      _ => {
        // the pqM subspace trainings are INDEPENDENT Lloyd runs — submit
        // them from driver threads so their per-iteration jobs overlap
        // (guide §2.6 "overlap independent jobs") instead of running
        // 4×(seed + 2 iterations) collects strictly in sequence.
        // Deterministic: each subspace's result is identical to the
        // sequential run's, and the Seq is assembled by index.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val futs = (0 until pqM).map { j =>
          Future(ivfCentroids(rawVecs(s, d).select(col("vec_id"),
            slice(col("v"), j * pqSub + 1, pqSub).as("v")),
            k = 16, iters = 2))
        }
        futs.map(Await.result(_, Duration.Inf))
      })

  private val ivfModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()
  private[graft] def ivfModel(s: SparkSession, d: String): Seq[Seq[Double]] =
    ivfModelCache.computeIfAbsent(d,
      _ => ivfCentroids(rawVecs(s, d), k = 16, iters = 2))

  /** Empty-corpus IVF result: no model and no query vector; empty result
    * with the query's schema instead of an analysis-time crash
    * (RobustnessSpec's empty-corpus sweep). */
  private def emptyIvfResult(e: DataFrame): DataFrame =
    e.select(col("vec_id"), lit(0.0).as("cos")).limit(0)

  /** Deterministic per-dataset location for the persisted IVF index —
    * a scratch stand-in for the warehouse table a production pipeline
    * would maintain. Keyed by an md5 of the FULL dataset path (32-bit
    * String.hashCode collides across paths — review-caught) plus a
    * per-JVM token, so two concurrent JVMs sharing java.io.tmpdir (e.g.
    * parallel test runs) can never overwrite each other's index while
    * the other is probing it. */
  private lazy val jvmToken: String =
    java.lang.Long.toHexString(ProcessHandle.current().pid())
  private[graft] def ivfIndexPath(d: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_ivf_index_${jvmToken}_$md5"
  }

  /** Write-once persisted IVF index per dataset path (memoized like
    * [[ivfModel]]): the first caller in a JVM pays the cell-partitioned
    * write; every later invocation — including plan-walking tools that
    * build the DataFrame without executing it — reuses the on-disk
    * table, so constructing the query no longer rewrites the index
    * another run may be probing (review-caught side effect). Takes
    * (session, path) and trains/fetches the centroids ITSELF via
    * [[ivfModel]] — not a caller-supplied model — so a memo hit can
    * never return an index built from different centroids than the
    * caller holds (the same API hole ivfModel closed, review-caught
    * again here). The scratch dirs are removed on JVM exit, and stale
    * dirs orphaned by crashed JVMs (shutdown hooks don't run under
    * SIGKILL/OOM) are swept on first use — the pid in the dir name
    * makes liveness checkable. [[ivfIndexWrites]] counts actual writes
    * so the write-once contract is spec-observable. */
  private[graft] val ivfIndexWrites = new java.util.concurrent.atomic.AtomicLong
  private val ivfIndexBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def ivfIndex(s: SparkSession, d: String): String =
    ivfIndexBuilt.computeIfAbsent(d, _ => {
      sweepStaleIndexes
      val p = ivfIndexPath(d)
      graft.operators.Layout.writePartitioned(
        assignCells(rawVecs(s, d), ivfModel(s, d)), p, Seq("cell"))
      ivfIndexWrites.incrementAndGet()
      deleteOnExit(p)
      p
    })

  /** Recursive scratch-dir cleanup at JVM exit (the persisted index is a
    * tmpdir stand-in for a warehouse table — it must not accumulate
    * across runs). */
  private def deleteOnExit(path: String): Unit =
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(java.nio.file.Paths.get(path))))

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.sortBy(-_.getNameCount).foreach(p =>
        try Files.delete(p) catch { case _: java.io.IOException => () })
    }
  }

  /** One-time sweep of index dirs left by JVMs that died without running
    * their shutdown hook (SIGKILL, OOM killer): every dir embeds its
    * owner's pid, so a dir whose pid is no longer alive is garbage. Runs
    * before the first index write of this JVM — accumulation across
    * crashed runs stays bounded at one generation. */
  private lazy val sweepStaleIndexes: Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(Paths.get(sys.props("java.io.tmpdir")))
    try dirs.iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_ivf_index_"))
      .foreach { p =>
        val pid = p.getFileName.toString
          .stripPrefix("graft_ivf_index_").takeWhile(_ != '_')
        val alive = scala.util.Try(java.lang.Long.parseLong(pid, 16))
          .toOption.exists { id =>
            val h = ProcessHandle.of(id)
            h.isPresent && h.get.isAlive
          }
        if (!alive) deleteRecursively(p)
      }
    finally dirs.close()
  }

  /** Shared IVF probe + exact rerank: nearest nProbe centroids to the
    * vec_id=0 query (O(k·dim) driver arithmetic on already-materialized
    * model state), cell filter on `assigned` (in-memory or the persisted
    * cell-partitioned table — for the latter the filter prunes
    * directories at listing time), broadcast query, exact cosine top-10. */
  private def ivfProbeTopK(
      e: DataFrame, assigned: DataFrame, centroids: Seq[Seq[Double]],
      nProbe: Int = 4): DataFrame = {
    import e.sparkSession.implicits._
    val qv = e.filter(col("vec_id") === 0).select("v")
      .as[Seq[Double]].head()
    val probe = centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum) }
      .sortBy(_._2).take(nProbe).map(_._1)
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("q_v")))
    assigned.filter(col("vec_id") =!= 0 &&
        col("cell").isin(probe: _*))
      .join(q)
      .select(col("vec_id"),
        round(cosine(col("v"), col("q_v")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Nearest-centroid cell per vector: argmin |v−c|² = argmin |c|² − 2·v·c
    * (the row's own norm cancels), via the fused native
    * [[graft.functions.NearestCell]] — one tiny two-level loop with the
    * centroid matrix as a reference object, instead of a k-dot-product
    * literal projection that Janino recompiled on every Lloyd-iteration
    * action. Bit-identical to the composed array_min form (pinned in
    * DedupSimilaritySpec), so centroids — and therefore every
    * IVF result — are unchanged. */
  private[graft] def assignCells(
      e: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    e.withColumn("cell",
      graft.functions.NearestCell.nearest(col("v"), centroids))

  /** (distance, cell) struct per centroid over a vector column:
    * |c|² − 2·v·c (the row's own norm cancels in any argmin/ranking
    * use), one graft_dot per centroid, struct order (d, cell) so
    * lexicographic min/sort breaks distance ties toward the smaller
    * cell index. ONE definition shared by the composed assignment
    * (array_min) and the batched probe's nProbe ranking (array_sort +
    * slice) so the two cell orderings can never diverge. */
  private[graft] def cellDistStructs(
      v: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      val cSq = c.map(x => x * x).sum
      struct((lit(cSq) - dot(v, typedlit(c)) * 2).as("d"),
        lit(i).as("cell"))
    }: _*)

  /** nProbe best cells for a query-vector column, as array<int>, via
    * the native [[graft.functions.NearestCells]]: the ranking of the
    * shared (distance, cell) structs, compiled into the probe's stage.
    * ONE definition serves the offline batch query and the streaming
    * server (StreamingJobs.annServe) so probe orderings cannot diverge. */
  private[graft] def probeCells(
      qv: org.apache.spark.sql.Column, centroids: Seq[Seq[Double]],
      nProbe: Int): org.apache.spark.sql.Column =
    graft.functions.NearestCells.nearest(qv, centroids, nProbe)

  /** The composed form probeCells replaced — kept for the parity spec:
    * the shared (distance, cell) structs sorted and sliced. */
  private[graft] def probeCellsComposed(
      qv: org.apache.spark.sql.Column, centroids: Seq[Seq[Double]],
      nProbe: Int): org.apache.spark.sql.Column =
    transform(slice(array_sort(cellDistStructs(qv, centroids)), 1, nProbe),
      p => p.getField("cell"))

  /** Per-query top-k formatting shared by the batched ANN query and the
    * streaming server: bounded-heap top-k over (cos_raw, vec_id) per
    * qid (O(k) state, map-side combined — never a window sort), exploded
    * to (qid, rank, nn_id, cos) with cos rounded to 6 places and ties
    * broken toward the smaller id. */
  private[graft] def topkRanked(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(graft.functions.TopKAggregator(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long)]())
    scored.groupBy("qid")
      .agg(topk(col("cos_raw"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("t._2").as("nn_id"), round(col("t._1"), 6).as("cos"))
  }

  /** The composed form assignCells replaced — kept for the parity spec:
    * array_min over the shared (distance, cell) structs. */
  private[graft] def assignCellsComposed(
      e: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    e.withColumn("cell",
      array_min(cellDistStructs(col("v"), centroids)).getField("cell"))

  /** Lloyd's k-means for the IVF coarse quantizer: deterministic init
    * (the k lowest vec_ids), `iters` assignment/update rounds. Each round
    * collects exactly the k×dim centroid matrix to the driver — bounded
    * MODEL state, not data (the same thing Spark MLlib's KMeans does per
    * iteration); everything row-scaled stays distributed (assignment is a
    * map, the update is a positional-explode aggregate). Empty cells keep
    * their previous centroid. The per-(cell,pos) mean sums through
    * DECIMAL — exact, order-independent addition — so centroids are
    * bit-stable across runs regardless of shuffle fetch order (a plain
    * double avg() could drift at ULP level and flip boundary cell
    * assignments). The exact sum is cast to double BEFORE the division
    * (not decimal-divided then cast): same determinism, but the whole
    * mean is now reproducible outside Spark without replicating Spark's
    * decimal-division scale rules — that is what lets sim_ann_ivf carry
    * a real DuckDB oracle (the per-element double→decimal cast goes
    * through the shortest string representation in both engines:
    * Spark's BigDecimal.decimal(d), DuckDB via CAST(x AS VARCHAR)). */
  private[graft] def ivfCentroids(
      e: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    import e.sparkSession.implicits._
    var centroids: Seq[Seq[Double]] = e.orderBy("vec_id").limit(k)
      .select("v").as[Seq[Double]].collect().toSeq
    if (centroids.isEmpty) return centroids // empty corpus: no model
    for (_ <- 0 until iters) {
      // collect the k×dim (cell, pos, mean) rows directly — assembling the
      // centroid matrix on the driver skips a second shuffle per iteration
      val means = assignCells(e, centroids)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x").cast("decimal(30,20)")).cast("double") /
          count(lit(1))).as("m"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1)
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_._2).map(_._3).toSeq }
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        means.getOrElse(i, old)
      }
    }
    centroids
  }

  private def quantizeQuery: (SparkSession, String) => DataFrame = (s, d) => {
    // int8 symmetric quantization: q = floor(x*127/maxabs + 0.5).
    // floor of identically-computed doubles is cross-engine exact (unlike
    // round(), which goes through shortest-repr BigDecimal in Spark).
    // The fused native QuantizeInt8 computes maxabs inside its own loop,
    // so there is no cross-expression maxabs reference, no CollapseProject
    // quadratic trap, no exchange barrier — zero shuffles, one linear
    // projection. `scale` re-derives maxabs as its own top-level column
    // (evaluated once; nothing nests it in a lambda). q8 is the canonical
    // comma-joined string: the verification driver's pandas row sort
    // cannot handle array-typed columns.
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        graft.functions.QuantizeInt8.quantize(col("v")).as("q8"),
        array_max(transform(col("v"), x => abs(x))).as("scale"))
  }

  /** DuckDB oracle for sim_ann_lsh, GENERATED from the same fixed-seed
    * hyperplanes the query hashes with (embedded as double literals —
    * Double.toString is shortest-round-trip, so DuckDB parses back the
    * identical bit pattern): the query is approximate as ANN but every
    * step is deterministic, so the exact result is SQL-expressible —
    * bucket = Σ (dot(v, pᵢ) > 0 ? 2ⁱ : 0), hamming-≤2 candidate filter
    * via bit_count(xor(...)), exact cosine rerank. Sign agreement across
    * engines is safe because no |dot| in the fixtures comes near the
    * boundary (min |dot| pinned ≫ accumulated ULP error in
    * DedupSimilaritySpec). */
  private def lshOracle: String = {
    val bucketExpr = hyperplanes(6, 64).zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
       |SELECT b.vec_id,
       |  ROUND(list_dot_product(b.v, q.qv) /
       |        sqrt(list_dot_product(b.v, b.v) * list_dot_product(q.qv, q.qv)),
       |        6) AS cos
       |FROM b, q WHERE b.vec_id <> 0
       |  AND bit_count(xor(bucket, qb)) <= 2
       |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** DuckDB oracle for sim_ann_ivf (and its persisted-index twin, whose
    * result equality is spec-pinned): the full deterministic pipeline —
    * seed-by-id init, TWO unrolled Lloyd iterations, nProbe=4 probe,
    * exact cosine rerank — re-expressed in SQL. Cross-engine exactness
    * rests on three pins:
    *  - the per-element double→decimal(30,20) cast goes through the
    *    shortest string representation in BOTH engines (Spark's
    *    BigDecimal.decimal(d); DuckDB via CAST(x AS VARCHAR)) — a bare
    *    DuckDB CAST(x AS DECIMAL) rounds the exact binary expansion
    *    instead and diverges at the 16th digit (measured);
    *  - the decimal sum is exact/order-free, cast to double BEFORE the
    *    count division (matching [[ivfCentroids]]);
    *  - assignment and probe decisions have margins ≫ ULP wobble, so
    *    the d = |c|² − 2·v·c comparisons pick identical cells even
    *    though accumulation order may differ at the last bit
    *    (DedupSimilaritySpec pins the margins). */
  /** Shared CTE chain: e (vectors + label) → c0 (seed-by-id init) → two
    * unrolled Lloyd iterations → c2 (final centroids) → af (final
    * assignment of every vector). Both IVF oracles append their probe +
    * rerank on top. */
  private[graft] def ivfChainSql: String = {
    // Degenerate-row doctrine (review round 2 proved a CASE guard here
    // is DEAD CODE — DuckDB decorrelates the assignment subquery and
    // evaluates the dot products regardless of the WHEN): a null
    // ELEMENT or dimension mismatch fails LOUDLY in both engines
    // (DuckDB: list_inner_product errors; Spark: NULL cell from
    // NearestCell crashes the non-nullable Int decode in training), and
    // a wholly-NULL vector — the one case DuckDB would otherwise
    // silently assign to cell 0 via an all-NULL ORDER BY — is excluded
    // in the e CTE below, matching Spark (posexplode drops it from
    // means; its NULL cell never passes isin/joins; a NULL in the SEED
    // crashes Spark loudly, never silently greens). The margin spec
    // pins fixtures clean of all three shapes.
    def assign(prev: String) =
      s"""SELECT e.vec_id, e.v,
         |  (SELECT c.cell FROM $prev c
         |   ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(e.v, c.v), c.cell
         |   LIMIT 1) AS cell
         |FROM e""".stripMargin
    def mean(a: String) =
      s"""SELECT cell, pos,
         |  CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(30,20))) AS DOUBLE)
         |    / COUNT(*) AS m
         |FROM (SELECT cell, unnest(v) AS x,
         |             generate_subscripts(v, 1) - 1 AS pos FROM $a)
         |GROUP BY cell, pos""".stripMargin
    def rebuild(prevC: String, m: String) =
      s"""SELECT $prevC.cell, COALESCE(n.v, $prevC.v) AS v
         |FROM $prevC LEFT JOIN
         |  (SELECT cell, list(m ORDER BY pos) AS v FROM $m GROUP BY cell) n
         |  USING (cell)""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
       |       FROM e ORDER BY vec_id LIMIT 16),
       |a0 AS (${assign("c0")}),
       |m0 AS (${mean("a0")}),
       |c1 AS (${rebuild("c0", "m0")}),
       |a1 AS (${assign("c1")}),
       |m1 AS (${mean("a1")}),
       |c2 AS (${rebuild("c1", "m1")}),
       |af AS (${assign("c2")})""".stripMargin
  }

  private def ivfOracle: String =
    s"""$ivfChainSql,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT c.cell FROM c2 c, q
       |          ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(q.qv, c.v), c.cell
       |          LIMIT 4)
       |SELECT af.vec_id,
       |  ROUND(list_dot_product(af.v, q.qv) /
       |        sqrt(list_dot_product(af.v, af.v) * list_dot_product(q.qv, q.qv)),
       |        6) AS cos
       |FROM af, q
       |WHERE af.vec_id <> 0 AND af.cell IN (SELECT cell FROM probe)
       |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin

  /** DuckDB oracle for sim_ann_batch: per-query probe ranking (the
    * probeCells struct sort = row_number over the same d = |c|²−2·v·c,
    * ties to the smaller cell), candidate join on cell minus self,
    * per-query top-10 by RAW cosine desc / id asc (TopKAggregator's
    * comparator), rank from position, coverage left join. Raw-cos
    * ordering is the one new cross-engine surface vs [[ivfOracle]]:
    * safe because adjacent distinct candidate cosines per query are
    * pinned ≫ ULP apart (exact bitwise ties — duplicate vectors — order
    * by id identically in both engines). */
  /** The batched-IVF CTE chain up to the per-query top-10 (`topk`) —
    * shared by [[batchOracle]] and the eval_ann_recall oracle. */
  private def batchChainSql: String =
    s"""$ivfChainSql,
       |qs AS (SELECT vec_id AS qid, v AS q_v FROM e WHERE label = 0),
       |pr AS (SELECT qid, q_v, cell FROM (
       |        SELECT qs.qid, qs.q_v, c.cell,
       |          row_number() OVER (PARTITION BY qs.qid
       |            ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(qs.q_v, c.v), c.cell) AS rn
       |        FROM qs, c2 c) WHERE rn <= 4),
       |cand AS (SELECT pr.qid, af.vec_id,
       |           list_dot_product(af.v, pr.q_v) /
       |             sqrt(list_dot_product(af.v, af.v) * list_dot_product(pr.q_v, pr.q_v)) AS cos_raw
       |         FROM pr JOIN af USING (cell) WHERE af.vec_id <> pr.qid),
       |topk AS (SELECT qid, CAST(rn AS INTEGER) AS rank, vec_id AS nn_id,
       |           ROUND(cos_raw, 6) AS cos FROM (
       |          SELECT qid, vec_id, cos_raw,
       |            row_number() OVER (PARTITION BY qid
       |              ORDER BY cos_raw DESC, vec_id ASC) AS rn
       |          FROM cand) WHERE rn <= 10)""".stripMargin

  private def batchOracle: String =
    s"""$batchChainSql
       |SELECT qs.qid, topk.rank, topk.nn_id, topk.cos
       |FROM qs LEFT JOIN topk USING (qid)""".stripMargin

  /** DuckDB oracle for eval_ann_recall: the same batched-IVF chain as
    * [[batchOracle]] plus a brute-force ground truth ordered by ROUNDED
    * cosine / id (the cross-engine-stable rule — see the query's
    * comment); outputs are pure integers over ID-set joins. */
  private def evalRecallOracle: String =
    s"""$batchChainSql,
       |gts AS (SELECT qs.qid, e2.vec_id,
       |          ROUND(list_dot_product(e2.v, qs.q_v) /
       |            sqrt(list_dot_product(e2.v, e2.v) * list_dot_product(qs.q_v, qs.q_v)),
       |            6) AS cos_r
       |        FROM qs, e e2 WHERE e2.vec_id <> qs.qid),
       |gt AS (SELECT qid, vec_id AS nn_id, rn AS grank FROM (
       |        SELECT qid, vec_id, cos_r,
       |          row_number() OVER (PARTITION BY qid
       |            ORDER BY cos_r DESC, vec_id ASC) AS rn
       |        FROM gts) WHERE rn <= 10),
       |h AS (SELECT qid, COUNT(*) AS n_hits
       |      FROM topk JOIN gt USING (qid, nn_id) GROUP BY qid),
       |r AS (SELECT gt.qid, CAST(10000 // topk.rank AS BIGINT) AS rr_bp
       |      FROM gt JOIN topk USING (qid, nn_id) WHERE gt.grank = 1)
       |SELECT qs.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(r.rr_bp, 0) AS BIGINT) AS rr_bp
       |FROM qs LEFT JOIN h USING (qid) LEFT JOIN r USING (qid)""".stripMargin

  /** DuckDB oracle for sim_knn_banded — deterministic despite being
    * approximate as NN: band = floor(dot(v, w0)/W) with the unit
    * direction embedded as literals, candidates within ±1 band, argmax
    * by raw cosine with ties to the smaller cid, coverage left join.
    * Cross-engine surfaces, each margin-pinned in DedupSimilaritySpec:
    * floor flips need dot/W near an integer (distance to the nearest
    * integer pinned ≫ ULP), and the per-query argmax needs a best vs
    * second-best raw-cos gap (exact bitwise ties order by cid
    * identically). */
  private def bandedOracle: String = {
    val w0 = bandW0.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |bb AS (SELECT vec_id, label, v,
       |         CAST(FLOOR(list_dot_product(v, $w0) / $bandW) AS BIGINT) AS band
       |       FROM e),
       |a AS (SELECT vec_id AS qid, v AS q_v, band AS q_band FROM bb WHERE label = 0),
       |b AS (SELECT vec_id AS cid, v AS c_v, band AS c_band FROM bb WHERE label = 1),
       |scored AS (SELECT a.qid, b.cid,
       |             list_dot_product(a.q_v, b.c_v) /
       |               sqrt(list_dot_product(a.q_v, a.q_v) * list_dot_product(b.c_v, b.c_v)) AS cos_raw
       |           FROM a JOIN b ON b.c_band BETWEEN a.q_band - 1 AND a.q_band + 1),
       |nn AS (SELECT qid, cid AS nn_id, ROUND(cos_raw, 6) AS cos FROM (
       |        SELECT qid, cid, cos_raw,
       |          row_number() OVER (PARTITION BY qid
       |            ORDER BY cos_raw DESC, cid ASC) AS rn
       |        FROM scored) WHERE rn = 1)
       |SELECT a.qid, nn.nn_id, nn.cos FROM a LEFT JOIN nn USING (qid)""".stripMargin
  }

  /** DuckDB oracle for sim_rp_reduce, GENERATED with the projection
    * matrix inline: one UNION ALL branch per output dim, each val the
    * same literal left-assoc chain the query builds (see the query's
    * exactness note — identical IEEE ops in identical order, so the
    * doubles are bit-identical and the compare is hash-exact).
    *
    * Weights MUST go through CAST('…' AS DOUBLE): a bare decimal
    * literal parses as DECIMAL(18,17) and DuckDB's decimal→double
    * conversion double-rounds (int→double, then ÷10^s), landing 1 ULP
    * off the Java double the Spark plan embeds (measured: 2718/8000
    * cells drifted). The VARCHAR parse is correctly rounded, so the
    * literal round-trips bit-exactly. The bare-literal lshOracle /
    * bandedOracle are unaffected — they only need sign/margin
    * agreement, not bit equality. */
  private def rpOracle: String = {
    val branches = rpMatrix.zipWithIndex.map { case (w, j) =>
      val chain = w.zipWithIndex
        .map { case (wi, i) => s"v[${i + 1}] * CAST('$wi' AS DOUBLE)" }
        .mkString(" + ")
      s"SELECT vec_id, $j AS dim, $chain AS val FROM e"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
       |$branches""".stripMargin
  }

  /** DuckDB oracle for sim_ann_pq_adc, GENERATED: four unrolled
    * per-subspace Lloyd chains (the [[ivfChainSql]] recipe applied to
    * the v[lo:hi] slice — same seed-by-id init, same VARCHAR-mediated
    * DECIMAL(30,20) exact means), per-subspace ADC lookup tables with
    * the query's exact associativity ((|c|² − 2·q·c) + |q|²), and the
    * left-assoc ADC sum l0+l1+l2+l3 matching the query's reduce. The
    * cross-engine pins are the IVF family's (centroids bit-identical;
    * assignment + rounding margins in DedupSimilaritySpec). */
  /** One subspace's CTE chunk (training chain + assignment + ADC LUT)
    * — shared by pqOracle and ivfpqOracle. Expects `e` (vec_id, v) and
    * `q` (qv) CTEs in scope. */
  private def pqChainSql(j: Int): String = {
    val lo = j * pqSub + 1
    val hi = (j + 1) * pqSub
    def assign(prev: String) =
      s"""SELECT e.vec_id, e.v,
         |  (SELECT c.cell FROM $prev c
         |   ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(e.v, c.v), c.cell
         |   LIMIT 1) AS cell
         |FROM e$j e""".stripMargin
    def mean(a: String) =
      s"""SELECT cell, pos,
         |  CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(30,20))) AS DOUBLE)
         |    / COUNT(*) AS m
         |FROM (SELECT cell, unnest(v) AS x,
         |             generate_subscripts(v, 1) - 1 AS pos FROM $a)
         |GROUP BY cell, pos""".stripMargin
    def rebuild(prevC: String, m: String) =
      s"""SELECT $prevC.cell, COALESCE(n.v, $prevC.v) AS v
         |FROM $prevC LEFT JOIN
         |  (SELECT cell, list(m ORDER BY pos) AS v FROM $m GROUP BY cell) n
         |  USING (cell)""".stripMargin
    s"""e$j AS (SELECT vec_id, v[$lo:$hi] AS v FROM e),
       |c0_$j AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
       |          FROM e$j ORDER BY vec_id LIMIT 16),
       |a0_$j AS (${assign(s"c0_$j")}),
       |m0_$j AS (${mean(s"a0_$j")}),
       |c1_$j AS (${rebuild(s"c0_$j", s"m0_$j")}),
       |a1_$j AS (${assign(s"c1_$j")}),
       |m1_$j AS (${mean(s"a1_$j")}),
       |c2_$j AS (${rebuild(s"c1_$j", s"m1_$j")}),
       |af$j AS (SELECT vec_id, cell FROM (${assign(s"c2_$j")})),
       |lut$j AS (SELECT c.cell,
       |  list_dot_product(c.v, c.v) - 2 * list_dot_product(q.qv[$lo:$hi], c.v)
       |    + list_dot_product(q.qv[$lo:$hi], q.qv[$lo:$hi]) AS dj
       |  FROM c2_$j c, q)""".stripMargin
  }

  private def pqAfLutJoins: (String, String, String) = (
    (1 until pqM).map(j => s"JOIN af$j USING (vec_id)").mkString(" "),
    (0 until pqM).map(j => s"JOIN lut$j l$j ON af$j.cell = l$j.cell")
      .mkString("\n  "),
    (0 until pqM).map(j => s"l$j.dj").mkString(" + "))

  private def pqOracle: String = {
    val (afJoins, lutJoins, adcSum) = pqAfLutJoins
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |${(0 until pqM).map(pqChainSql).mkString(",\n")}
       |SELECT af0.vec_id, ROUND($adcSum, 6) AS adc
       |FROM af0 $afJoins
       |  $lutJoins
       |WHERE vec_id <> 0
       |ORDER BY adc ASC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** DuckDB oracle for sim_ann_ivfpq: the coarse-quantizer chain
    * ([[ivfChainSql]] — defines e with label, c2, af) composed with the
    * four subspace chains, the ivfOracle probe, and the ADC ranking
    * filtered to candidates whose COARSE cell is probed. */
  private def ivfpqOracle: String = {
    val (afJoins, lutJoins, adcSum) = pqAfLutJoins
    s"""$ivfChainSql,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT c.cell FROM c2 c, q
       |          ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(q.qv, c.v), c.cell
       |          LIMIT 4),
       |${(0 until pqM).map(pqChainSql).mkString(",\n")}
       |SELECT af.vec_id, ROUND($adcSum, 6) AS adc
       |FROM af JOIN af0 USING (vec_id) $afJoins
       |  $lutJoins
       |WHERE af.vec_id <> 0 AND af.cell IN (SELECT cell FROM probe)
       |ORDER BY adc ASC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** DuckDB oracle for sample_kcenter, GENERATED with one (center,
    * distance-update) CTE pair per greedy round: farthest-point argmax
    * ranked by the running LEAST of |c|²−2·v·c plus the row's own |v|²
    * (identical associativity to the query's struct-min + dot), ties to
    * the smaller vec_id; assignment mirrors NearestCell's (d, index)
    * ordering via (d, rnd). Decisions only — margins pinned in
    * DedupSimilaritySpec, no float output. */
  private def kcenterOracle: String = {
    def distTo(c: String, row: String) =
      s"(SELECT list_dot_product(c.v, c.v) - 2 * list_dot_product($row.v, c.v) FROM $c c)"
    val rounds = (2 to 8).map { k =>
      val sel =
        s"""c$k AS (SELECT vec_id, v FROM d${k - 1}
           |  ORDER BY p + list_dot_product(v, v) DESC, vec_id ASC
           |  LIMIT 1)""".stripMargin
      val upd = if (k < 8)
        s""",
           |d$k AS (SELECT d.vec_id, d.v,
           |  LEAST(d.p, ${distTo(s"c$k", "d")}) AS p
           |  FROM d${k - 1} d)""".stripMargin
      else ""
      sel + upd
    }.mkString(",\n")
    val cent = (1 to 8)
      .map(k => s"SELECT $k AS rnd, vec_id, v FROM c$k")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1),
       |d1 AS (SELECT e.vec_id, e.v, ${distTo("c1", "e")} AS p FROM e),
       |$rounds,
       |cent AS (
       |  $cent),
       |asg AS (SELECT e.vec_id,
       |  (SELECT c.vec_id FROM cent c
       |   ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(e.v, c.v), c.rnd
       |   LIMIT 1) AS center_id
       |  FROM e)
       |SELECT a.vec_id, a.center_id, CAST(c.rnd AS INTEGER) AS sel_round
       |FROM asg a JOIN cent c ON c.vec_id = a.center_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "sample_kcenter" -> kcenterOracle,
    "sim_ann_pq_adc" -> pqOracle,
    "sim_ann_ivfpq" -> ivfpqOracle,
    "sim_rp_reduce" -> rpOracle,
    "sim_ann_lsh" -> lshOracle,
    "sim_knn_banded" -> bandedOracle,
    "sim_ann_ivf" -> ivfOracle,
    "sim_ann_ivf_indexed" -> ivfOracle,
    "sim_ann_batch" -> batchOracle,
    "eval_ann_recall" -> evalRecallOracle,
    // the CASE mirrors the native expression's deliberate NULL semantics
    // (null element or all-zero vector -> NULL q8) so the oracle stays
    // exact even if a degenerate vector ever enters a fixture
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e)
        |SELECT vec_id,
        |  CASE WHEN len(list_filter(v, x -> x IS NULL)) > 0 THEN NULL
        |       WHEN len(v) > 0 AND maxabs = 0 THEN NULL
        |       ELSE array_to_string(list_transform(v,
        |         x -> CAST(FLOOR(x * 127 / maxabs + 0.5) AS INTEGER)), ',')
        |  END AS q8,
        |  maxabs AS scale
        |FROM m""".stripMargin,
    "sim_topk_bruteforce" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  ROUND(list_dot_product(e.v, q.qv) /
        |        sqrt(list_dot_product(e.v, e.v) * list_dot_product(q.qv, q.qv)),
        |        6) AS cos
        |FROM e, q WHERE e.vec_id <> 0
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sim_nn_cross_label" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    list_dot_product(a.v, b.v) /
        |      sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos_raw
        |  FROM e a JOIN e b ON a.label = 0 AND b.label = 1),
        |ranked AS (
        |  SELECT qid, cid, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid ASC) AS rn
        |  FROM pairs)
        |SELECT qid, cid AS nn_id, ROUND(cos_raw, 6) AS cos
        |FROM ranked WHERE rn = 1""".stripMargin,
    "sim_rerank_truncated" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |p AS (SELECT vec_id AS qid, list_slice(v, 1, 16) AS q16, v AS qv
        |      FROM e WHERE vec_id < 8),
        |c AS (SELECT vec_id AS cid, list_slice(v, 1, 16) AS c16, v AS cv
        |      FROM e WHERE vec_id >= 8),
        |coarse AS (
        |  SELECT qid, cid, cv, qv,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY list_dot_product(c16, q16) DESC, cid ASC) AS crn
        |  FROM c, p),
        |rr AS (
        |  SELECT qid, cid,
        |    list_dot_product(cv, qv) /
        |      sqrt(list_dot_product(cv, cv) * list_dot_product(qv, qv)) AS cos_raw
        |  FROM coarse WHERE crn <= 40),
        |ranked AS (
        |  SELECT qid, cid, cos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos_raw DESC, cid ASC) AS rank
        |  FROM rr)
        |SELECT qid, cid, CAST(rank AS INTEGER) AS rank, ROUND(cos_raw, 6) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,
    // sum order matters for FP-exactness: the four greatest() terms add
    // left-to-right in BOTH engines (Scala reduce(_ + _) is left-assoc,
    // as is SQL's a + b + c + d), and each dot is the same sequential
    // IEEE loop (graft_dot == list_dot_product)
    "sim_maxsim" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT vec_id AS qid,
        |    list_slice(v, 1, 16) AS q0, list_slice(v, 17, 32) AS q1,
        |    list_slice(v, 33, 48) AS q2, list_slice(v, 49, 64) AS q3
        |  FROM e WHERE vec_id < 4),
        |c AS (SELECT vec_id AS cid,
        |    list_slice(v, 1, 16) AS c0, list_slice(v, 17, 32) AS c1,
        |    list_slice(v, 33, 48) AS c2, list_slice(v, 49, 64) AS c3
        |  FROM e WHERE vec_id >= 4),
        |s AS (SELECT qid, cid,
        |    greatest(list_dot_product(q0, c0), list_dot_product(q0, c1),
        |             list_dot_product(q0, c2), list_dot_product(q0, c3))
        |  + greatest(list_dot_product(q1, c0), list_dot_product(q1, c1),
        |             list_dot_product(q1, c2), list_dot_product(q1, c3))
        |  + greatest(list_dot_product(q2, c0), list_dot_product(q2, c1),
        |             list_dot_product(q2, c2), list_dot_product(q2, c3))
        |  + greatest(list_dot_product(q3, c0), list_dot_product(q3, c1),
        |             list_dot_product(q3, c2), list_dot_product(q3, c3)) AS ms
        |  FROM c, q),
        |r AS (SELECT qid, cid, ms,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY ms DESC, cid ASC) AS rank
        |  FROM s)
        |SELECT qid, cid, CAST(rank AS INTEGER) AS rank,
        |  ROUND(ms, 6) AS maxsim
        |FROM r WHERE rank <= 5""".stripMargin,
    "sim_mips" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id >= 4),
        |s AS (SELECT qid, cid, list_dot_product(cv, qv) AS ip_raw FROM c, q),
        |r AS (SELECT qid, cid, ip_raw,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY ip_raw DESC, cid ASC) AS rank
        |  FROM s)
        |SELECT qid, cid, CAST(rank AS INTEGER) AS rank,
        |  ROUND(ip_raw, 6) AS ip
        |FROM r WHERE rank <= 10""".stripMargin)
}
