package graft

import java.security.MessageDigest

import graft.queries.CorpusQueries
import org.apache.spark.sql.functions._

/** Invariants for the round-4 corpus-curation operators (exact values are
  * oracle-checked by the driver; these pin semantics on planted data the
  * fixture can't reach plus structural properties at sf0.01). */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val plantedDir: String = {
    val dir = tempDir("graft-corpus").toString
    val chunkA = (1 to 16).map(i => s"tok$i").mkString(" ")
    val chunkB = (17 to 32).map(i => s"tok$i").mkString(" ")
    val chunkC = (1 to 16).map(i => s"other$i").mkString(" ")
    Seq(
      (1L, s"$chunkA $chunkB", "en", "src0", 200L),
      // doc 2 repeats doc 1's first chunk, then adds its own
      (2L, s"$chunkA $chunkC", "en", "src1", 210L),
      (3L, "entirely fresh words", "en", "src2", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_paragraph: later occurrence of a repeated chunk is removed") {
    val out = CorpusQueries.queries("dedup_paragraph")(spark, plantedDir)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    val chunkA = (1 to 16).map(i => s"tok$i").mkString(" ")
    val chunkB = (17 to 32).map(i => s"tok$i").mkString(" ")
    val chunkC = (1 to 16).map(i => s"other$i").mkString(" ")
    assert(out(1L) == ((s"$chunkA $chunkB", 0L)), "first occurrence intact")
    assert(out(2L) == ((chunkC, 1L)), "repeated chunk dropped, own kept")
    assert(out(3L) == (("entirely fresh words", 0L)), "short doc untouched")
  }

  test("dedup_paragraph: kept chunks across the corpus are exactly the distinct chunks") {
    val out = CorpusQueries.queries("dedup_paragraph")(spark, sf001)
    val keptChunks = out
      .select(explode(split(col("clean_text"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    // distinct 16-token chunks, re-derived independently via SQL on the
    // raw table (chunking mirrored from the oracle, not the query)
    Tables.documents(spark, sf001).createOrReplaceTempView("corpus_docs")
    val distinctChunkTokens = spark.sql("""
      WITH t AS (SELECT doc_id,
        filter(split(text, ' '), x -> x <> '') AS w FROM corpus_docs),
      c AS (SELECT posexplode(sequence(1, size(w), 16)) AS (ci, start), w
        FROM t WHERE size(w) > 0),
      ch AS (SELECT DISTINCT concat_ws(' ', slice(w, start, 16)) AS chunk
        FROM c)
      SELECT SUM(size(split(chunk, ' '))) AS n FROM ch
    """).head.getLong(0)
    assert(keptChunks == distinctChunkTokens,
      s"kept token total $keptChunks != distinct-chunk token total $distinctChunkTokens")
  }

  test("dedup_substr_remove: copied span excised at every alignment, first occurrence intact") {
    val out = CorpusQueries.queries("dedup_substr_remove")(spark, plantedDir)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    val chunkA = (1 to 16).map(i => s"tok$i").mkString(" ")
    val chunkB = (17 to 32).map(i => s"tok$i").mkString(" ")
    val chunkC = (1 to 16).map(i => s"other$i").mkString(" ")
    // doc 1 owns every gram it contains -> untouched
    assert(out(1L) == ((s"$chunkA $chunkB", 0L)))
    // doc 2 recycles chunkA: positions covered by doc-1-owned 5-grams
    // (the 16-token prefix) are removed; the boundary grams spanning
    // into chunkC are unique to doc 2, so chunkC survives whole
    assert(out(2L) == ((chunkC, 16L)))
    // under 5 tokens -> no grams -> untouched
    assert(out(3L) == (("entirely fresh words", 0L)))
  }

  test("dedup_paragraph and dedup_substr_remove are idempotent (fixpoint after one pass)") {
    // run a dedup, write its cleaned corpus back as a documents table,
    // run again: the second pass must remove nothing
    for (name <- Seq("dedup_paragraph", "dedup_substr_remove")) {
      val out1 = CorpusQueries.queries(name)(spark, sf0001)
      val dir2 = tempDir(s"graft-idem-$name").toString
      out1.select(col("doc_id"), col("clean_text").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("clean_text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
      val out2 = CorpusQueries.queries(name)(spark, dir2)
      val removedAgain = out2.agg(sum("n_removed")).head.getLong(0)
      assert(removedAgain == 0L, s"$name not a fixpoint: $removedAgain")
    }
  }

  test("curate_domain_cap: at most 50 per source, ranks contiguous from 1") {
    val out = CorpusQueries.queries("curate_domain_cap")(spark, sf001)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min("rn").as("lo"), max("rn").as("hi"))
      .as[(String, Long, Int, Int)].collect()
    assert(out.nonEmpty)
    out.foreach { case (src, n, lo, hi) =>
      assert(n <= 50, s"$src over cap: $n")
      assert(lo == 1 && hi.toLong == n, s"$src ranks not contiguous")
    }
  }

  test("curate_shard_assign: 8 shards, counts balanced within 1, all docs assigned") {
    val rows = CorpusQueries.queries("curate_shard_assign")(spark, sf001)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == (0 to 7))
    val counts = rows.map(_._2)
    assert(counts.max - counts.min <= 1, "round-robin must balance counts")
    val total = Tables.documents(spark, sf001).count()
    assert(counts.sum == total)
  }

  test("split_assign: deterministic, near-target shares, holdout stable across corpus growth") {
    val a = CorpusQueries.queries("split_assign")(spark, sf001)
      .as[(String, String, Long, Long)].collect().toSet
    val b = CorpusQueries.queries("split_assign")(spark, sf001)
      .as[(String, String, Long, Long)].collect().toSet
    assert(a == b, "assignment must be replay-stable")
    val bySplit = a.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val total = bySplit.values.sum
    assert(bySplit("train").toDouble / total > 0.85)
    assert(bySplit("val") > 0 && bySplit("test") > 0)
    // the split of a given doc_id is a pure hash — growing the corpus
    // (sf0.001 -> sf0.01) must never reassign an existing document
    import graft.Tables
    val u = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val split = when(u < 0.90, "train").when(u < 0.95, "val")
      .otherwise("test")
    val small = Tables.documents(spark, sf0001)
      .select(col("doc_id"), split.as("s")).as[(Long, String)].collect().toMap
    val big = Tables.documents(spark, sf001)
      .select(col("doc_id"), split.as("s")).as[(Long, String)].collect().toMap
    small.foreach { case (id, s) =>
      assert(big.get(id).forall(_ == s), s"doc $id reassigned")
    }
  }

  test("split_leakage_safe: no near-dup pair straddles splits; singletons match split_assign's per-doc hash") {
    import graft.queries.DedupQueries
    val assign = CorpusQueries.queries("split_leakage_safe")(spark, sf001)
      .select("doc_id", "cluster_id", "split")
    // THE leakage property, checked through the pair table (the
    // property, not the construction): every jaccard >= 0.8 pair lands
    // in one split
    val pairs = DedupQueries.exactJaccardPairs(spark, sf001)
      .filter(col("jaccard") >= 0.8).select("doc_a", "doc_b")
    val straddling = pairs
      .join(assign.select(col("doc_id").as("doc_a"),
        col("split").as("sa")), "doc_a")
      .join(assign.select(col("doc_id").as("doc_b"),
        col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
    assert(pairs.count() > 0)         // the fixture exercises the guard
    assert(straddling.count() == 0L)
    // ...which split_assign's per-doc hash does NOT guarantee: the same
    // pairs under a doc_id hash must be shown straddling somewhere on
    // SOME corpus for this operator to have a reason to exist; at this
    // fixture the doc-hash assignment of cluster members differs from
    // the cluster-hash assignment for at least one doc (else the test
    // proves nothing)
    val u = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val perDoc = assign.withColumn("doc_split",
      when(u < 0.90, "train").when(u < 0.95, "val").otherwise("test"))
    assert(perDoc.filter(col("cluster_id") =!= col("doc_id"))
      .filter(col("split") =!= col("doc_split")).count() > 0 ||
      perDoc.filter(col("cluster_id") =!= col("doc_id")).count() == 0)
    // singletons (the corpus bulk) split exactly as split_assign would
    assert(perDoc.filter(col("cluster_id") === col("doc_id"))
      .filter(col("split") =!= col("doc_split")).count() == 0L)
  }

  test("sketch_cms_topk: never undercounts; exact on a collision-free vocabulary") {
    // real fixture: one-sided error on every reported word
    val rows = CorpusQueries.queries("sketch_cms_topk")(spark, sf001)
      .as[(String, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (w, exact, est) =>
      assert(est >= exact, s"CMS undercounted '$w': est=$est exact=$exact")
    }
    // planted 3-word vocabulary: far below Width, so the min over Depth
    // rows hits an uncollided counter and the estimate is exact
    val planted = CorpusQueries.queries("sketch_cms_topk")(spark, plantedDir)
      .as[(String, Long, Long)].collect()
    planted.foreach { case (w, exact, est) =>
      assert(est == exact, s"collision on tiny vocab for '$w': $est != $exact")
    }
  }

  test("curate_classifier_score: margin matches an independent md5 computation") {
    val out = CorpusQueries.queries("curate_classifier_score")(spark, plantedDir)
      .select("doc_id", "margin", "keep").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def weight(g: String): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16) % 7 - 3
    }
    def margin(text: String): Long = {
      val w = text.split(" ").filter(_.nonEmpty)
      w.sliding(2).filter(_.length == 2)
        .map(p => weight(p.mkString(" "))).sum
    }
    Seq(1L, 2L, 3L).foreach { id =>
      val text = spark.read.parquet(s"$plantedDir/documents.parquet")
        .filter(col("doc_id") === id).head.getAs[String]("text")
      val exp = margin(text)
      assert(out(id) == ((exp, exp > 0)), s"doc $id margin mismatch")
    }
  }

  test("retrieve_bm25: exact-integer BM25 matches a BigInt replay") {
    val terms = Seq("spark", "join", "window")
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val n = BigInt(toks.length)
    val tTot = BigInt(toks.map(_._2.length.toLong).sum)
    val df = terms.map(t => t -> BigInt(toks.count(_._2.contains(t)))).toMap
    val expected = toks.flatMap { case (id, w) =>
      if (!terms.exists(w.contains(_))) None
      else {
        val dl = BigInt(w.length)
        val score = terms.map { t =>
          val tf = BigInt(w.count(_ == t))
          if (tf == 0) BigInt(0)
          // BigInt `/` truncates; operands are positive so it equals the
          // floor division Spark's `div` / DuckDB's `//` perform
          else (BigInt(10000) * (2 * n - 2 * df(t) + 1) * 44 * tTot * tf) /
            ((2 * df(t) + 1) * (BigInt(20) * tTot * tf + 6 * tTot + 18 * dl * n))
        }.sum
        Some(id -> score.toLong)
      }
    }.toMap
    val out = graft.queries.TextQueries.queries("retrieve_bm25")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(out == expected)
    assert(out.nonEmpty && out.valuesIterator.exists(_ > 0))
  }

  test("retrieve_bm25_batch: per-query top-10 matches a BigInt replay") {
    val queries = Map(
      1L -> Seq("spark", "join"), 2L -> Seq("window", "table"),
      3L -> Seq("data", "query", "filter"))
    val allTerms = queries.values.flatten.toSet
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val n = BigInt(toks.length)
    val tTot = BigInt(toks.map(_._2.length.toLong).sum)
    val df = allTerms.map(t => t -> BigInt(toks.count(_._2.contains(t)))).toMap
    val expected = queries.toSeq.flatMap { case (qid, terms) =>
      toks.flatMap { case (id, w) =>
        val dl = BigInt(w.length)
        val score = terms.map { t =>
          val tf = BigInt(w.count(_ == t))
          if (tf == 0) BigInt(0)
          else (BigInt(10000) * (2 * n - 2 * df(t) + 1) * 44 * tTot * tf) /
            ((2 * df(t) + 1) * (BigInt(20) * tTot * tf + 6 * tTot + 18 * dl * n))
        }.sum
        if (terms.exists(w.contains(_))) Some((id, score.toLong)) else None
      }.sortBy { case (id, sc) => (-sc, id) }.take(10)
        .zipWithIndex.map { case ((id, sc), i) => (qid, id, i + 1, sc) }
    }.toSet
    val out = graft.queries.TextQueries.queries("retrieve_bm25_batch")(spark, sf0001)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(out == expected)
    assert(out.size == 30)
  }

  test("ta_collocations: exact-integer lift matches a BigInt replay") {
    val ws = Tables.documents(spark, sf0001)
      .select(col("text")).as[String].collect()
      .map(_.split(" ").filter(_.nonEmpty).toSeq)
    val bigrams = ws.flatMap(w => w.zip(w.drop(1)))
    val cxy = bigrams.groupBy(identity).map { case (k, v) => k -> BigInt(v.length) }
    val unic = ws.flatten.groupBy(identity).map { case (k, v) => k -> BigInt(v.length) }
    val tBig = cxy.values.sum
    val tUni = unic.values.sum
    val expected = cxy.collect { case ((w1, w2), n) if n >= 5 =>
      (s"$w1 $w2", n.toLong,
        ((BigInt(10000) * n * tUni * tUni) /
          (tBig * unic(w1) * unic(w2))).toLong)
    }.toSet
    val out = graft.queries.TextQueries.queries("ta_collocations")(spark, sf0001)
      .as[(String, Long, Long)].collect().toSet
    assert(out == expected)
    // independence sanity: lift centers on 10000 bp for this word-salad
    // corpus (no real collocational structure), never collapses to 0
    assert(out.nonEmpty && out.forall(_._3 > 0))
  }

  test("sketch_kmv_intersect: small-set branch is the exact common count") {
    val dir = tempDir("graft-kmv").toString
    // sets far below k=256: the sketch is exhaustive, est_n must be the
    // true distinct-shingle intersection (A∩B = {a b c, b c d} -> 2)
    Seq(
      (1L, "a b c d e", "en", "srcA", 9L),
      (2L, "a b c d x", "en", "srcB", 9L),
      (3L, "p q r s t", "en", "srcC", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CorpusQueries.queries("sketch_kmv_intersect")(spark, dir)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map(
      ("srcA", "srcB") -> ((2L, 2L)),   // shared "a b c", "b c d"
      ("srcA", "srcC") -> ((0L, 0L)),
      ("srcB", "srcC") -> ((0L, 0L))), s"got $out")
  }

  test("sketch_kmv_intersect: estimator tracks the exact intersection at sf0.01") {
    import graft.functions.TextFunctions.shingles
    val sh = Tables.documents(spark, sf001)
      .select(col("source"), explode(shingles(col("text"), 3)).as("s"))
      .distinct()
    val a = sh.select(col("source").as("src_a"), col("s"))
    val b = sh.select(col("source").as("src_b"), col("s"))
    val exact = a.join(b, Seq("s")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val union = sh.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val out = CorpusQueries.queries("sketch_kmv_intersect")(spark, sf001)
      .as[(String, String, Long, Long)].collect()
    assert(out.length == 190) // 20 choose 2
    out.foreach { case (sa, sb, _, est) =>
      val ex = exact.getOrElse((sa, sb), 0L)
      val un = union(sa) + union(sb) - ex
      // KMV rel. std ≈ 1/√(k−1) ≈ 6.3% of the UNION size projected onto
      // the intersection estimate; allow 5σ of union-scale noise + slack
      val tol = math.max(0.32 * un, 16.0)
      assert(math.abs(est - ex) <= tol,
        s"($sa,$sb): est $est vs exact $ex (union $un, tol $tol)")
    }
    // and the estimator is not degenerate. The honest accuracy law for
    // KMV intersection is UNION-scale noise (σ ≈ √(ρ(1−ρ)/k)·|A∪B|), so
    // at low Jaccard the RELATIVE error on the small intersection is
    // large by construction (the theta-sketch literature's documented
    // weakness) — pin the absolute error against the union, where the
    // law lives: mean |est−exact|/union ≪ 1σ·5
    val unionErrs = out.map { case (sa, sb, _, est) =>
      val ex = exact.getOrElse((sa, sb), 0L)
      val un = union(sa) + union(sb) - ex
      math.abs(est - ex).toDouble / un
    }
    assert(unionErrs.sum / unionErrs.length < 0.05,
      s"mean union-scale err ${unionErrs.sum / unionErrs.length}")
  }

  test("sim_mips: the exact MIPS->unit-sphere reduction preserves ranking") {
    val all = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().map { case (id, e) => id -> e.map(_.toDouble) }
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val queries = all.filter(_._1 < 4)
    val corpus = all.filter(_._1 >= 4)
    val m2 = corpus.map { case (_, v) => dot(v, v) }.max
    val mNorm = math.sqrt(m2)
    // augmented corpus: [x, sqrt(M^2 - |x|^2)] has norm M for every x
    val aug = corpus.map { case (id, v) =>
      (id, v :+ math.sqrt(m2 - dot(v, v))) }
    aug.foreach { case (id, av) =>
      assert(math.abs(math.sqrt(dot(av, av)) - mNorm) < 1e-9, s"norm law $id")
    }
    queries.foreach { case (qid, qv) =>
      val aq = qv :+ 0.0
      val byIp = corpus.map { case (cid, cv) => (cid, dot(cv, qv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(10).map(_._1)
      val byAugCos = aug.map { case (cid, av) =>
        (cid, dot(av, aq) / (math.sqrt(dot(av, av)) * math.sqrt(dot(aq, aq)))) }
        .sortBy { case (cid, s) => (-s, cid) }.take(10).map(_._1)
      assert(byIp.toSeq == byAugCos.toSeq, s"query $qid: reduction reordered")
      // and the registered query returns exactly the ip ranking
      val out = graft.queries.SimilarityQueries.queries("sim_mips")(spark, sf0001)
        .filter(col("qid") === qid).orderBy(col("rank"))
        .select(col("cid")).as[Long].collect().toSeq
      assert(out == byIp.toSeq, s"query $qid: engine vs replay")
    }
  }
}
