package graft

import graft.queries.PipelineQueries
import org.apache.spark.sql.functions._

/** Invariants for the curation operators (values are oracle-checked by the
  * driver; these pin semantic properties and at-scale plan shape). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("pack_sequences: bins are contiguous per shard and cover all tokens") {
    val out = PipelineQueries.queries("pack_sequences")(spark, sf001)
    // every shard's bins form 0..maxBin with no gaps
    val gaps = out.select("source", "bin_id").distinct()
      .groupBy("source")
      .agg(min("bin_id").as("lo"), max("bin_id").as("hi"),
        countDistinct("bin_id").as("n"))
      .filter(col("lo") =!= 0 || col("n") =!= col("hi") + 1)
      .count()
    assert(gaps == 0L)
    // a doc of n tokens covers a contiguous token range of length n, which
    // touches at most floor((n+126)/128)+1 bins (ceil over bin width plus
    // one possible alignment straddle)
    val docs = out.groupBy("source", "doc_id")
      .agg(countDistinct("bin_id").as("nb"), first("n_tokens").as("n"))
      .filter(col("nb") > floor((col("n") + 126) / 128) + 1)
      .count()
    assert(docs == 0L)
  }

  test("pack_sequences plan: window partitions by shard key, no global sort") {
    val plan = PipelineQueries.queries("pack_sequences")(spark, sf001)
      .queryExecution.executedPlan.toString
    // a global (unpartitioned) window would print an empty partition spec
    assert(!plan.contains("windowspecdefinition(")
      || plan.contains("windowspecdefinition(source"), plan.take(800))
  }

  test("gopher filters: keep == conjunction of rule columns") {
    val bad = PipelineQueries.queries("ta_gopher_filters")(spark, sf001)
      .filter(col("keep") =!=
        (col("ok_len") && col("ok_mean_len") && col("ok_stop") && col("ok_alpha")))
      .count()
    assert(bad == 0L)
    // the thresholds actually split the fixture (a filter that keeps or
    // drops everything tests nothing)
    val dist = PipelineQueries.queries("ta_gopher_filters")(spark, sf001)
      .groupBy("keep").count().as[(Boolean, Long)].collect().toMap
    assert(dist.getOrElse(true, 0L) > 0 && dist.getOrElse(false, 0L) > 0)
  }

  test("decontam: every flagged doc really shares a shingle with src0") {
    import graft.functions.TextFunctions._
    val docs = Tables.documents(spark, sf001)
    val benchShingles = docs.filter(col("source") === "src0")
      .select(explode(shingles(col("text"), 3)).as("s"))
      .as[String].collect().toSet
    assert(benchShingles.nonEmpty)
    val flagged = PipelineQueries.queries("decontam_overlap")(spark, sf001)
    val ids = flagged.select("doc_id").as[Long].collect()
    assert(ids.nonEmpty)
    val texts = docs.filter(col("doc_id").isin(ids.take(20): _*))
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
      .as[(Long, String)].collect().groupBy(_._1)
    texts.foreach { case (id, sh) =>
      assert(sh.map(_._2).exists(benchShingles), s"doc $id has no overlap")
    }
  }

  test("stratified sample: exactly min(5, shard size) docs per source, deterministic") {
    val out = PipelineQueries.queries("sample_stratified")(spark, sf001)
    val sizes = Tables.documents(spark, sf001)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val got = out.groupBy("source").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (src, n) =>
      assert(got.getOrElse(src, 0L) == math.min(5L, n), s"source=$src")
    }
    // determinism: two runs pick identical winners
    val a = out.select("doc_id").as[Long].collect().sorted.toSeq
    val b = PipelineQueries.queries("sample_stratified")(spark, sf001)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("sample_balanced: planted classes equalized to n_min by exact md5 rank") {
    val dir = tempDir("graft-bal").toString
    // A: 2 docs, B: 3, C: 5 -> n_min = 2, every class keeps exactly 2
    val rows = (1L to 2L).map((_, "A")) ++ (3L to 5L).map((_, "B")) ++
      (6L to 10L).map((_, "C"))
    rows.map { case (id, l) => (id, s"text $id", l, "s", 7L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = rows.groupBy(_._2).flatMap { case (l, ds) =>
      ds.map { case (id, _) => (id, l, md5hex(id.toString)) }
        .sortBy { case (id, _, h) => (h, id) }.take(2).zipWithIndex
        .map { case ((id, lg, _), i) => (id, lg, (i + 1).toLong) }
    }.toSet
    val planted = PipelineQueries.queries("sample_balanced")(spark, dir)
      .as[(Long, String, Long)].collect().toSet
    assert(planted == expected, s"got $planted vs $expected")

    // fixture: every language keeps exactly n_min docs; ranks are
    // 1..n_min per class; deterministic across invocations
    val out = PipelineQueries.queries("sample_balanced")(spark, sf001)
      .as[(Long, String, Long)].collect()
    val nMin = Tables.documents(spark, sf001)
      .groupBy("lang").count().as[(String, Long)].collect().map(_._2).min
    out.groupBy(_._2).foreach { case (l, ds) =>
      assert(ds.length == nMin.toInt, s"lang=$l kept ${ds.length}")
      assert(ds.map(_._3).sorted.toSeq == (1L to nMin), s"lang=$l ranks")
    }
    val again = PipelineQueries.queries("sample_balanced")(spark, sf001)
      .as[(Long, String, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("weighted sample: min(5, shard) per source, weight-biased winners, " +
    "rank margins dwarf ULP wobble (cross-engine oracle safety)") {
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "source", "n_chars")
      .as[(Long, String, Long)].collect()
    val out = PipelineQueries.queries("sample_weighted")(spark, sf001)
      .as[(Long, String, Int)].collect()
    // exact quota per stratum
    val sizes = docs.groupBy(_._2).map { case (s, g) => s -> g.size }
    out.groupBy(_._2).foreach { case (src, g) =>
      assert(g.length == math.min(5, sizes(src)), s"source=$src")
      assert(g.map(_._3).sorted.toSeq == (1 to g.length), s"ranks $src")
    }
    assert(out.groupBy(_._2).keySet == sizes.keySet)
    // the race equals a plain-Scala reimplementation (same md5 draw, JVM ln)
    def key(id: Long, w: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-wsample-7$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      -math.log((java.lang.Long.parseLong(h, 16) + 1L) / 4294967296.0) / w
    }
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, g) =>
      g.toSeq.map { case (id, _, w) => (id, src, key(id, w)) }
        .sortBy { case (id, _, k) => (k, id) }.take(5).zipWithIndex
        .map { case ((id, s, _), i) => (id, s, i + 1) }
    }.toSet
    assert(out.toSet == expected)
    // weighting bites: winners are longer than their strata on average
    val meanAll = docs.map(_._3.toDouble).sum / docs.length
    val sel = out.map(_._1).toSet
    val meanSel = docs.filter(d => sel(d._1)).map(_._3.toDouble).sum / sel.size
    assert(meanSel > meanAll,
      s"selected mean n_chars $meanSel !> corpus mean $meanAll")
    // margin pin: every rank decision (all adjacent pairs in each
    // stratum's full key order) has relative gap >> the ~1e-15 by which
    // the two engines' ln can differ — so the oracle ordering cannot flip
    val minGap = docs.groupBy(_._2).values.map { g =>
      val ks = g.map { case (id, _, w) => (key(id, w), id) }.sorted.map(_._1)
      ks.zip(ks.drop(1)).map { case (a, b) =>
        (b - a) / math.max(math.abs(a), math.abs(b)) }.foldLeft(2.0)(_ min _)
    }.min
    assert(minGap > 1e-9, s"min adjacent relative key gap $minGap")
  }

  test("temperature sampling flattens language sizes toward sqrt(n_min*n)") {
    val before = Tables.documents(spark, sf001)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val after = PipelineQueries.queries("sample_temperature")(spark, sf001)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val nMin = before.values.min
    before.foreach { case (lang, n) =>
      val expected = math.sqrt(nMin.toDouble * n)
      val kept = after.getOrElse(lang, 0L).toDouble
      // md5 selection is Bernoulli(rate) per doc — allow generous noise
      assert(math.abs(kept - expected) <= 4 * math.sqrt(expected) + 2,
        s"lang=$lang n=$n kept=$kept expected≈$expected")
    }
    // the dominant language is actually downsampled
    val (maxLang, maxN) = before.maxBy(_._2)
    assert(after(maxLang) < maxN)
    // determinism: repeated run keeps the identical doc set
    val a = PipelineQueries.queries("sample_temperature")(spark, sf001)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = PipelineQueries.queries("sample_temperature")(spark, sf001)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("unimax: epoch cap, budget conservation, smallest-first fairness") {
    // Pins the integerized UniMax waterfill's invariants at both fixture
    // scales (the oracle already proves Spark == DuckDB; this proves
    // both match the PAPER's contract):
    //  - no language exceeds the epoch cap (n_repeats ≤ 3 for every doc);
    //  - assigned chars per language ≤ its allocation, allocations sum
    //    to ≤ the budget, and the leftover is < the remaining languages'
    //    headroom (the fill is maximal up to floor rounding);
    //  - non-capped allocations are non-decreasing in visit order
    //    (uniformity: later/larger languages never get less).
    Seq(sf001, sf01).foreach { sf =>
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .as[(Long, String, Long)].collect()
      val byLang = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val budget = byLang.values.sum / 2
      val out = graft.queries.PipelineQueries
        .queries("sample_unimax")(spark, sf)
        .as[(Long, String, Long)].collect()
      assert(out.length == docs.length)
      assert(out.forall { case (_, _, r) => r >= 0 && r <= 3 },
        s"$sf epoch cap violated: ${out.filter(_._3 > 3).take(3).toSeq}")
      // replay the waterfill
      val stats = byLang.toSeq.sortBy { case (l, c) => (c, l) }
      var b = budget
      var k = stats.length.toLong
      val alloc = stats.map { case (lang, c) =>
        val a = math.min(3 * c, b / k); b -= a; k -= 1; (lang, c, a)
      }
      assert(alloc.map(_._3).sum <= budget)
      // maximal fill: leftover only from floor rounding or every lang
      // at cap — less than one char per remaining lang plus cap slack
      val uncapped = alloc.filter { case (_, c, a) => a < 3 * c }
      assert(b < math.max(uncapped.size, 1),
        s"$sf leftover $b with ${uncapped.size} uncapped langs")
      // fairness: uncapped allocations non-decreasing in visit order
      uncapped.map(_._3).sliding(2).foreach { w =>
        if (w.size == 2) assert(w(0) <= w(1), s"$sf fairness: $uncapped")
      }
      // per-language assigned chars = Σ n_repeats·n_chars ≤ allocation,
      // and within one max-doc of it (the prefix cut wastes < 1 doc)
      val nc = docs.map(t => t._1 -> t._3).toMap
      val assigned = out.groupBy(_._2).view
        .mapValues(_.map { case (id, _, r) => nc(id) * r }.sum).toMap
      alloc.foreach { case (lang, _, a) =>
        val got = assigned.getOrElse(lang, 0L)
        val maxDoc = docs.filter(_._2 == lang).map(_._3).max
        assert(got <= a, s"$sf $lang assigned $got > alloc $a")
        assert(a - got <= maxDoc,
          s"$sf $lang left ${a - got} unfilled > max doc $maxDoc")
      }
    }
  }

  test("repetition: planted repetitive text scores high, varied text low") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
      .repartition(2)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
    // reuse the registered query's formula via a local recomputation:
    // dup_token_bp = (n - n_distinct)/n
    val stats = df.select(col("doc_id"),
      size(col("toks")).as("n"),
      size(array_distinct(col("toks"))).as("nd"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(stats(1L) == (10, 1)) // 90% duplicate tokens
    assert(stats(2L) == (10, 10)) // 0%
  }
}
