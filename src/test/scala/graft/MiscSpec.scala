package graft

import graft.queries.{MiscQueries, RelationalQueries}
import org.apache.spark.sql.functions._

class MiscSpec extends SparkSpec {
  import spark.implicits._

  test("topk aggregator output equals window-rank top-3 exactly") {
    val viaAgg = MiscQueries.queries("q35_topk_agg")(spark, sf001)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .collect().map(_.toSeq).toSet
    val viaWindow = RelationalQueries.queries("q9_rank_orders_per_customer")(
      spark, sf001).collect().map(_.toSeq).toSet
    assert(viaAgg == viaWindow)
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = MiscQueries.queries("q37_approx_distinct")(spark, sf001)
      .select("event_type", "approx_users").as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sf001)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (t, n) =>
      val a = approx(t)
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$t: approx=$a exact=$n")
    }
  }

  test("range join: pairs bounded by window, symmetric-free, gap correct") {
    val rows = MiscQueries.queries("q36_range_join")(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, _, gap) => gap >= 0 && gap <= 300000000L })
    // no pair appears in both directions
    val set = rows.map(r => (r._2, r._3)).toSet
    assert(rows.forall(r => !set.contains((r._3, r._2)) || r._2 == r._3) ||
      rows.map(r => (r._2, r._3)).distinct.length == rows.length)
  }

  test("q62 bitmap distinct == countDistinct; plan has no Expand and two agg levels") {
    val bm = MiscQueries.queries("q62_bitmap_distinct")(spark, sf001)
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sf001).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(bm == exact)
    // the whole point: distinct-set state travels as mergeable bitmap
    // segments, not as the Expand+re-aggregate countDistinct plans
    val plan = MiscQueries.queries("q62_bitmap_distinct")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "bitmap path must not Expand")
    assert(plan.contains("bitmap_construct_agg") ||
      plan.toLowerCase.contains("bitmapconstructagg"))
  }

  test("stats_table_profile: values match recomputation; every branch " +
    "scan is pruned to its single column") {
    val out = MiscQueries.queries("stats_table_profile")(spark, sf001)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    val li = Tables.lineitem(spark, sf001)
    Seq("l_orderkey", "l_quantity", "l_discount").foreach { c =>
      val want = li.select(
        count(lit(1)), sum(when(col(c).isNull, 1L).otherwise(0L)),
        countDistinct(col(c)),
        min(col(c)).cast("double"), max(col(c)).cast("double"))
        .head()
      assert(out(c) == ((want.getLong(0), want.getLong(1),
        want.getLong(2), want.getDouble(3), want.getDouble(4))), c)
    }
    // column pruning per branch: each union arm reads ONE field
    val plan = MiscQueries.queries("stats_table_profile")(spark, sf001)
      .queryExecution.executedPlan.toString
    Seq("l_orderkey", "l_tax").foreach { c =>
      assert(plan.contains(s"ReadSchema: struct<$c:"),
        s"branch for $c not pruned: ${plan.take(400)}")
    }
  }

  test("graph_pagerank: mass conservation, positivity, and a plain-Scala " +
    "power-iteration replay agrees bit-for-bit") {
    val out = MiscQueries.queries("graph_pagerank")(spark, sf001)
      .as[(String, Long, Double)].collect()
    // undirected + no dangling nodes ⇒ total mass stays 1 (up to FP)
    val mass = out.map(_._3).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
    assert(out.forall(_._3 > 0))
    assert(out.map(r => (r._1, r._2)).distinct.length == out.length)
    // replay: 3 damped iterations with exact BigDecimal contribution
    // sums over the same edge list must reproduce every double exactly
    val edges = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf001)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().as[(Long, Long)].collect()
    val bi = edges ++ edges.map { case (a, b) => (b, a) }
    val deg = bi.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nn = deg.size
    var r = deg.keys.map(_ -> 1.0 / nn).toMap
    for (_ <- 1 to 3) {
      val sums = scala.collection.mutable.Map[Long, BigDecimal]()
      bi.foreach { case (s, t) =>
        val c = r(s) / deg(s)
        // mirror Spark's double→decimal(38,28) shortest-repr cast
        val dec = BigDecimal(c.toString).setScale(28,
          BigDecimal.RoundingMode.HALF_UP)
        sums(t) = sums.getOrElse(t, BigDecimal(0)) + dec
      }
      r = sums.map { case (node, sm) =>
        node -> (0.15 / nn + 0.85 * sm.toDouble) }.toMap
    }
    val want = r.map { case (node, pr) =>
      ((if (node % 2 == 0) "customer" else "supplier"), node / 2, pr) }.toSet
    assert(out.toSet == want,
      s"diff=${out.toSet.diff(want).take(3)} / ${want.diff(out.toSet).take(3)}")
  }

  test("q79_apriori: planted baskets mine exactly; fixture obeys downward closure") {
    val dir = tempDir("graft-apriori").toString
    // 4 baskets over 3 brands; with nb=4 the 0.1% relative threshold
    // admits sup>=1, so the full hand-computed lattice must appear
    Seq((1L, "Brand#A"), (2L, "Brand#B"), (3L, "Brand#C"))
      .map { case (k, b) => (k, s"part$k", b, "T", 1, 1.0) }
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val baskets = Seq(10L -> Seq(1L, 2L, 3L), 20L -> Seq(1L, 2L),
      30L -> Seq(1L, 3L), 40L -> Seq(2L, 3L))
    baskets.flatMap { case (oid, parts) => parts.zipWithIndex.map {
      case (p, i) => (oid, p, 1L, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
        0L) } }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = MiscQueries.queries("q79_apriori")(spark, dir)
      .as[(Int, String, Long)].collect().toSet
    val want = Set((1, "Brand#A", 3L), (1, "Brand#B", 3L),
      (1, "Brand#C", 3L), (2, "Brand#A,Brand#B", 2L),
      (2, "Brand#A,Brand#C", 2L), (2, "Brand#B,Brand#C", 2L),
      (3, "Brand#A,Brand#B,Brand#C", 1L))
    assert(out == want, s"diff=${out.diff(want)} / ${want.diff(out)}")

    // fixture: downward closure + support monotonicity
    val fx = MiscQueries.queries("q79_apriori")(spark, sf0001)
      .as[(Int, String, Long)].collect()
    val sup = fx.map(r => r._2 -> r._3).toMap
    assert(fx.exists(_._1 == 2), "no frequent pairs at sf0.001")
    fx.filter(_._1 >= 2).foreach { case (_, itemset, s2) =>
      val items = itemset.split(",")
      items.combinations(items.length - 1).foreach { sub =>
        val key = sub.mkString(",")
        assert(sup.contains(key), s"$itemset frequent but $key missing")
        assert(sup(key) >= s2, s"support not monotone: $key < $itemset")
      }
    }
  }

  test("dq_constraints: planted violations counted exactly; fixture RI holds") {
    val dir = tempDir("graft-dq").toString
    Seq((1L, "c1")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // custkey 9 dangles; duplicate orderkey 100; null orderdate; bad
    // priority; bad status
    Seq((100L, 1L, "O", 1.0, Some("2024-01-01"), "1-URGENT"),
      (100L, 1L, "F", 1.0, Some("2024-01-02"), "9-BAD"),
      (101L, 9L, "X", 1.0, None, "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // orderkey 999 dangles; dup (orderkey, linenumber); discount 0.5
    // out of range; quantity 0; returnflag X; null shipdate
    Seq((100L, 1L, 1L, 1, 1.0, 1.0, 0.5, 0.0, "N", "O", Some("2024-01-01")),
      (100L, 1L, 1L, 1, 0.0, 1.0, 0.0, 0.0, "X", "O", None),
      (999L, 1L, 1L, 2, 1.0, 1.0, 0.05, 0.0, "A", "F", Some("2024-01-03")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, Some(1000L), 1L, "view", 1.0, "{}"),
      (2L, None, 1L, "view", Double.NaN, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "", Some("en"), "web", 0L), (2L, "hello", None, "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = MiscQueries.queries("dq_constraints")(spark, dir)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out(("orders", "ri_custkey")) == ((1L, 3L)))
    assert(out(("orders", "unique_orderkey")) == ((1L, 3L)))
    assert(out(("orders", "completeness_orderdate")) == ((1L, 3L)))
    assert(out(("orders", "accepted_priority")) == ((1L, 3L)))
    assert(out(("orders", "accepted_status")) == ((1L, 3L)))
    assert(out(("lineitem", "ri_orderkey")) == ((1L, 3L)))
    assert(out(("lineitem", "unique_line")) == ((1L, 3L)))
    assert(out(("lineitem", "range_discount")) == ((1L, 3L)))
    assert(out(("lineitem", "range_quantity")) == ((1L, 3L)))
    assert(out(("lineitem", "accepted_returnflag")) == ((1L, 3L)))
    assert(out(("lineitem", "completeness_shipdate")) == ((1L, 3L)))
    assert(out(("events", "completeness_ts")) == ((1L, 2L)))
    assert(out(("events", "completeness_value")) == ((1L, 2L)))
    assert(out(("documents", "completeness_text")) == ((1L, 2L)))
    assert(out(("documents", "completeness_lang")) == ((1L, 2L)))

    // fixture: the generated data passes every constraint EXCEPT
    // unique_line — the generator assigns l_linenumber randomly, so
    // (l_orderkey, l_linenumber) genuinely collides (a real defect the
    // suite surfaced on first run; pinned here as the fixture's known
    // quality baseline)
    val fx = MiscQueries.queries("dq_constraints")(spark, sf0001)
      .as[(String, String, Long, Long)].collect()
    assert(fx.length == 15)
    assert(fx.forall(_._4 > 0L), "every total positive")
    val (dirty, clean) = fx.partition(_._2 == "unique_line")
    assert(dirty.head._3 > 0L, "unique_line should flag the fixture")
    assert(clean.forall(_._3 == 0L),
      s"fixture violations: ${clean.filter(_._3 != 0L).mkString(",")}")
  }

  test("stats_corr_matrix: BigInt replay agrees; self-corr is exactly 10000") {
    val rows = Tables.lineitem(spark, sf0001)
      .select(col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .as[(Double, Double, Double, Double)].collect()
      .map { case (q, e, dd, t) => Seq(q, e, dd, t).map(v =>
        BigInt(new java.math.BigDecimal(v).setScale(2,
          java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact())) }
    val names = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val n = BigInt(rows.length)
    def s(i: Int) = rows.map(_(i)).sum
    def sxy(i: Int, j: Int) = rows.map(r => r(i) * r(j)).sum
    def cov(i: Int, j: Int) = n * sxy(i, j) - s(i) * s(j)
    val out = MiscQueries.queries("stats_corr_matrix")(spark, sf0001)
      .as[(String, String, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out.size == 10)
    for (i <- 0 until 4; j <- i until 4) {
      val (nn, c, bp) = out((names(i), names(j)))
      assert(nn == rows.length)
      assert(c == cov(i, j).toDouble, s"cov(${names(i)},${names(j)})")
      val expBp = math.floor(10000.0 * (cov(i, j).toDouble /
        math.sqrt(cov(i, i).toDouble * cov(j, j).toDouble))).toLong
      assert(bp == expBp, s"corr_bp(${names(i)},${names(j)}): $bp vs $expBp")
      assert(bp >= -10000 && bp <= 10000)
      if (i == j) assert(bp == 10000L, s"self-corr ${names(i)}")
    }
  }

  test("graph_linkpred: planted scores exact; hub guard fires; fixture replays") {
    val dir = tempDir("graft-lp").toString
    // path 1-2-3 plus 1-4-3: non-edges (1,3) cn=2 via centers {2,4} and
    // (2,4) cn=2 via {1,3}; all degrees 2 -> jac = 2/(2+2-2) = 10000.
    // Hub: center 90 with 70 spokes (deg 70 > 64) — spoke pairs get NO
    // common-neighbor credit through it.
    val base = Seq((101L, 1L), (101L, 2L), (102L, 2L), (102L, 3L),
      (103L, 1L), (103L, 4L), (104L, 4L), (104L, 3L))
    val hub = (1 to 70).flatMap { i =>
      Seq((200L + i, 90L), (200L + i, 1000L + i)) }
    (base ++ hub).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (Seq(1L, 2L, 3L, 4L, 90L) ++ (1001L to 1070L)).map(k => (k, 1))
      .toDF("p_partkey", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val planted = MiscQueries.queries("graph_linkpred")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(planted == Set((1L, 3L, 2L, 10000L), (2L, 4L, 2L, 10000L)),
      s"got $planted")

    // fixture: exact plain-Scala replay of the full pipeline at sf0.001
    val edges = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(spark, sf0001).filter(col("p_size") <= 5)
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .as[(Long, Long)].collect().distinct
      .groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length)
          yield (ps(i), ps(j))
      }.toSet
    val deg = edges.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val cn = scala.collection.mutable.Map.empty[(Long, Long), Long]
    nbrs.foreach { case (ctr, ns) =>
      if (deg(ctr) <= 64) {
        val sorted = ns.toSeq.sorted
        for (i <- sorted.indices; j <- i + 1 until sorted.length) {
          val k = (sorted(i), sorted(j))
          if (!edges.contains(k)) cn(k) = cn.getOrElse(k, 0L) + 1
        }
      }
    }
    val expected = cn.toSeq.map { case ((u, v), c) =>
      (u, v, c, 10000L * c / (deg(u) + deg(v) - c)) }
      .sortBy { case (u, v, c, j) => (-j, -c, u, v) }.take(100).toSet
    val out = MiscQueries.queries("graph_linkpred")(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == expected,
      s"diff=${out.diff(expected).take(3)} / ${expected.diff(out).take(3)}")
  }

  test("stats_ks_drift: planted D exact; fixture matches BigInt brute force") {
    val dir = tempDir("graft-ks").toString
    val m = 60L * 1000000000L // 1 min in nanos
    // view = {1,2,3,4}; click = {3,4,5,6} -> D = 1/2; signup = view -> D = 0
    val rows = Seq(1.0, 2.0, 3.0, 4.0).map(("view", _)) ++
      Seq(3.0, 4.0, 5.0, 6.0).map(("click", _)) ++
      Seq(1.0, 2.0, 3.0, 4.0).map(("signup", _))
    rows.zipWithIndex.map { case ((t, v), i) =>
      (i.toLong, i * m, 1L, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = MiscQueries.queries("stats_ks_drift")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(planted == Map("click" -> ((4L, 4L, 5000L)),
      "signup" -> ((4L, 4L, 0L))), s"got $planted")

    // fixture: exact replay in BigInt over the collected sf0.001 values
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect()
    val byType = ev.groupBy(_._1).map { case (t, vs) =>
      t -> vs.map(_._2).sorted }
    val ref = byType("view")
    def ks(cmp: Array[Double]): (Long, Long, Long) = {
      val n1 = BigInt(ref.length); val n2 = BigInt(cmp.length)
      val xs = (ref ++ cmp).distinct.sorted
      val d = xs.map { x =>
        val c1 = BigInt(ref.count(_ <= x)); val c2 = BigInt(cmp.count(_ <= x))
        (c1 * n2 - c2 * n1).abs }.max
      (n1.toLong, n2.toLong, (BigInt(10000) * d / (n1 * n2)).toLong)
    }
    val out = MiscQueries.queries("stats_ks_drift")(spark, sf0001)
      .as[(String, Long, Long, Long)].collect()
    assert(out.length == byType.size - 1)
    out.foreach { case (t, n1, n2, bp) =>
      val (en1, en2, ebp) = ks(byType(t))
      assert((n1, n2, bp) == ((en1, en2, ebp)), s"$t: got ($n1,$n2,$bp)")
      assert(bp >= 0 && bp <= 10000)
    }
  }

  test("stats_ks_drift: construction is lazy; null values carry no CDF mass") {
    // nulls: same planted distributions as the exact test plus null
    // `value` rows on both types — D must be unchanged (drift is over
    // OBSERVED values; unfiltered nulls would diverge cross-engine:
    // Spark windows order NULLS FIRST, DuckDB NULLS LAST, and nulls
    // never match the grid's full-outer equi keys)
    val dir = tempDir("graft-ksnull").toString
    val m = 60L * 1000000000L
    val rows: Seq[(String, Option[Double])] =
      Seq(1.0, 2.0, 3.0, 4.0).map(v => ("view", Option(v))) ++
        Seq(3.0, 4.0, 5.0, 6.0).map(v => ("click", Option(v))) ++
        Seq(("view", None), ("click", None), ("click", None))
    rows.zipWithIndex.map { case ((t, v), i) =>
      (i.toLong, i * m, 1L, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = MiscQueries.queries("stats_ks_drift")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(planted == Map("click" -> ((4L, 4L, 5000L))), s"got $planted")

    // laziness: CONSTRUCTING the query must run no job beyond the
    // parquet schema-footer read every scan pays and the materialization
    // of its own eager checkpoints, allowed by the call site Spark names
    // their SQL executions with (their stages run on AQE's threads, so
    // stage names do not carry it) — pins the fix for the
    // approxQuantile-at-construction defect (boundaries are now derived
    // in-plan). The recording's closing drain delivers every job start
    // posted during construction.
    val checkpointSite = "localCheckpoint at MiscQueries.scala:"
    val (_, rec) = graft.metrics.Recording.of(spark)(
      MiscQueries.queries("stats_ks_drift")(spark, sf0001)) // construct only
    val unexpected = rec.jobs.filterNot { j =>
      j.execution.startsWith(checkpointSite) ||
        j.stages.exists(_.name.contains("parquet at"))
    }.map(j => s"${j.execution}: ${j.stages.map(_.name).mkString(" | ")}")
    assert(unexpected.isEmpty,
      s"construction ran data job(s): ${unexpected.mkString("; ")}")
  }

  test("graph_triangles: planted triangle found once; matches a brute-force Scala count") {
    val dir = tempDir("graft-tri").toString
    // order 1 buys parts {1,2,3} -> triangle; order 2 repeats edge (1,2);
    // order 3 adds the dangling edge (3,4)
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (3L, 3L), (3L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1L to 4L).map(k => (k, 1)).toDF("p_partkey", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val planted = MiscQueries.queries("graph_triangles")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(planted == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $planted")

    // fixture check: per-node counts equal an independent brute-force
    // count over the same co-purchase edge set
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(spark, sf0001).filter(col("p_size") <= 5)
        .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().as[(Long, Long)].collect()
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, s) => n -> s.map(_._2) }
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    edges.foreach { case (u, v) =>
      (adj(u) intersect adj(v)).foreach { w =>
        // count each triangle once per node via its (u<v<w) witness
        if (w > v) Seq(u, v, w).foreach(n =>
          expected(n) = expected.getOrElse(n, 0L) + 1L)
      }
    }
    val out = MiscQueries.queries("graph_triangles")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(out == expected.toMap,
      s"diff=${out.toSet.diff(expected.toSet).take(3)} / " +
        s"${expected.toSet.diff(out.toSet).take(3)}")
  }
}
