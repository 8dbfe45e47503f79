package graft

import graft.queries.ExtraRelationalQueries
import org.apache.spark.sql.functions._

/** Invariants for round-3 relational additions (exact values are driver
  * oracle-checked where SQL-expressible; these pin properties). */
class ExtraRelationalSpec extends SparkSpec {
  import spark.implicits._

  test("q56_zorder_key: buckets partition all orders; zkey range sane") {
    val out = ExtraRelationalQueries.queries("q56_zorder_key")(spark, sf001)
      .as[(Long, Long, Long, Long)].collect()
    val total = Tables.orders(spark, sf001).count()
    assert(out.map(_._2).sum == total)
    // interleaved 16+16 bits stay under 2^32, and bucket bounds nest
    assert(out.forall { case (b, _, lo, hi) =>
      lo >= 0 && hi < (1L << 32) && (lo >> 20) == b && (hi >> 20) == b })
  }

  test("zorder locality: neighbors in zkey are close in both dimensions") {
    // decode: compressing the even bits of zkey recovers x & 65535 —
    // checked via a round-trip on planted coordinates
    val days = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val sample = Tables.orders(spark, sf001)
      .select(col("o_custkey"), days.as("days"))
      .limit(100).as[(Long, Int)].collect()
    def spread(v: Long): Long = {
      var x = v & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      (x | (x << 1)) & 0x55555555L
    }
    def compact(v: Long): Long = {
      var x = v & 0x55555555L
      x = (x | (x >> 1)) & 0x33333333L
      x = (x | (x >> 2)) & 0x0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FFL
      (x | (x >> 8)) & 0x0000FFFFL
    }
    sample.foreach { case (ck, dd) =>
      val z = spread(ck) | (spread(dd.toLong) << 1)
      assert(compact(z) == (ck & 0xFFFFL))
      assert(compact(z >> 1) == (dd.toLong & 0xFFFFL))
    }
  }

  test("q58_funnel_steps: step counts are monotonically non-increasing") {
    val steps = ExtraRelationalQueries.queries("q58_funnel_steps")(spark, sf001)
      .as[(Int, Long)].collect().toMap
    assert(steps.keySet == Set(1, 2, 3))
    assert(steps(1) >= steps(2) && steps(2) >= steps(3))
    assert(steps(1) > 0)
  }

  test("q59_cohort_retention: offsets non-negative, offset-0 covers cohorts") {
    val rows = ExtraRelationalQueries
      .queries("q59_cohort_retention")(spark, sf001)
      .as[(java.sql.Date, Int, Long)].collect()
    assert(rows.forall(_._2 >= 0))
    // every cohort has an offset-0 cell (its own first week), and the
    // offset-0 user count is the cohort's full size (everyone is active
    // in the week of their first event)
    val byCohort = rows.groupBy(_._1)
    assert(byCohort.values.forall(_.exists(_._2 == 0)))
    byCohort.foreach { case (_, cells) =>
      val atZero = cells.find(_._2 == 0).get._3
      assert(cells.forall(_._3 <= atZero))
    }
  }

  test("globalRowNumber == single-window row_number on seeded random data, both directions") {
    val rnd = new scala.util.Random(42)
    // duplicate-heavy keys so bucket boundaries land INSIDE tie runs
    val df = (1 to 5000).map(i => (i.toLong, rnd.nextInt(40).toLong))
      .toDF("id", "k")
    for (asc <- Seq(true, false)) {
      val sort =
        if (asc) Seq(col("k").asc, col("id").asc)
        else Seq(col("k").desc, col("id").asc)
      val got = ExtraRelationalQueries
        .globalRowNumber(df, 16, "k", asc, sort: _*)
        .select(col("id"), col("global_rn"))
        .as[(Long, Long)].collect().toMap
      val w = org.apache.spark.sql.expressions.Window.orderBy(sort: _*)
      val exp = df.withColumn("rn", row_number().over(w).cast("long"))
        .select(col("id"), col("rn")).as[(Long, Long)].collect().toMap
      assert(got == exp, s"asc=$asc")
    }
  }

  test("globalRowNumber rejects null and NaN leading keys instead of mis-bucketing") {
    for (bad <- Seq(null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(Double.NaN))) {
      val df = Seq[(Long, java.lang.Double)]((1L, 2.0), (2L, bad), (3L, 5.0))
        .toDF("id", "k")
      val e = intercept[Exception] {
        ExtraRelationalQueries
          .globalRowNumber(df, 4, "k", firstAsc = true,
            col("k").asc, col("id").asc)
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("must be non-null and non-NaN")),
        s"bad=$bad got=${msgs(e).take(2)}")
    }
  }

  test("q60_sessionize: planted gaps split sessions exactly at the 30-min rule") {
    val dir = tempDir("graft-sess").toString
    val m = 60L * 1000000000L // one minute in NANOS (Tables.events divides)
    // user 1: events at 0, 29, 60, 120 min -> gaps 29/31/60 -> sessions
    // {0,29}, {60}, {120}; user 2: single event -> one session
    Seq(
      (0L, 0L * m, 1L, "view", 1.0, "{}"),
      (1L, 29L * m, 1L, "view", 1.0, "{}"),
      (2L, 60L * m, 1L, "view", 1.0, "{}"),
      (3L, 120L * m, 1L, "view", 1.0, "{}"),
      (4L, 15L * m, 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtraRelationalQueries.queries("q60_sessionize")(spark, dir)
      .as[(Long, Int, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4 / 60000000L, r._5 / 60000000L)))
      .toMap
    assert(out == Map(
      (1L, 1) -> ((2L, 0L, 29L)),
      (1L, 2) -> ((1L, 60L, 60L)),
      (1L, 3) -> ((1L, 120L, 120L)),
      (2L, 1) -> ((1L, 15L, 15L))))
  }

  test("q71_attribution: inclusive window boundaries, exact to the microsecond") {
    // pin the interval semantics cross-engine: a click exactly AT the
    // 30-min horizon and exactly AT the purchase instant are both
    // attributed; one microsecond outside either end is not. Integer
    // micros arithmetic — no FP tie hazard.
    val dir = tempDir("graft-attrib").toString
    val pUs = 6000000000L // purchase at 100 min
    val hUs = 1800000000L // 30-min horizon
    Seq(
      (10L, pUs * 1000L, 1L, "purchase", 1.0, "{}"),
      (1L, (pUs - hUs) * 1000L, 1L, "click", 1.0, "{}"), // at horizon: in
      (2L, (pUs - hUs - 1L) * 1000L, 1L, "click", 1.0, "{}"), // 1us out
      (3L, pUs * 1000L, 1L, "click", 1.0, "{}"), // at purchase: in
      (4L, (pUs + 1L) * 1000L, 1L, "click", 1.0, "{}"), // after: out
      (5L, (pUs - 600L) * 1000L, 2L, "click", 1.0, "{}")) // other user
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtraRelationalQueries.queries("q71_attribution")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._4)).toSet
    assert(out == Set((10L, 1L, hUs), (10L, 3L, 0L)), s"got $out")
  }

  test("q73_winsorize: thresholds are the exact order statistics; BigDecimal replay agrees") {
    val out = ExtraRelationalQueries.queries("q73_winsorize")(spark, sf0001)
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    val vals = Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_extendedprice").cast("decimal(12,2)"))
      .as[(String, java.math.BigDecimal)].collect()
    vals.groupBy(_._1).foreach { case (g, rows) =>
      val sorted = rows.map(_._2).sorted
      val n = sorted.length
      val lo = sorted((n + 19) / 20 - 1)      // ceil(0.05n)-th smallest
      val hi = sorted((19 * n + 19) / 20 - 1) // ceil(0.95n)-th smallest
      val r = out(g)
      assert(r.getAs[Double]("p05") == lo.doubleValue, s"$g p05")
      assert(r.getAs[Double]("p95") == hi.doubleValue, s"$g p95")
      assert(r.getAs[Long]("n_clipped_low") == sorted.count(_.compareTo(lo) < 0))
      assert(r.getAs[Long]("n_clipped_high") == sorted.count(_.compareTo(hi) > 0))
      val sum = sorted.map(v =>
        if (v.compareTo(lo) < 0) lo else if (v.compareTo(hi) > 0) hi else v)
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      assert(r.getAs[Double]("sum_winsorized") == sum.doubleValue, s"$g sum")
      assert(r.getAs[Long]("n_rows") == n)
      // exactly ~5% clipped each side (within the ceil granularity)
      assert(math.abs(r.getAs[Long]("n_clipped_low") - n / 20L) <= 1)
    }
  }

  test("q72_pit_join: half-open version boundaries, no leakage, one match per fact") {
    // planted SCD2 timeline for user 1 (micros): click-run from 1000,
    // view-run from 3000, click-run from 5000 -> versions
    // [1000,3000) click, [3000,5000) view, [5000,inf) click
    val dir = tempDir("graft-pit").toString
    Seq(
      (1L, 1000L * 1000L, 1L, "click", 1.0, "{}"),
      (2L, 2000L * 1000L, 1L, "click", 1.0, "{}"),
      (3L, 3000L * 1000L, 1L, "view", 1.0, "{}"),
      (4L, 5000L * 1000L, 1L, "click", 1.0, "{}"),
      (100L, 500L * 1000L, 1L, "purchase", 1.0, "{}"),   // before v1: no match
      (101L, 1000L * 1000L, 1L, "purchase", 1.0, "{}"),  // at v1 start: v1
      (102L, 2999L * 1000L, 1L, "purchase", 1.0, "{}"),  // inside v1
      (103L, 3000L * 1000L, 1L, "purchase", 1.0, "{}"),  // boundary: NEW version
      (104L, 10000L * 1000L, 1L, "purchase", 1.0, "{}"), // open-ended last
      (105L, 4000L * 1000L, 2L, "purchase", 1.0, "{}"))  // user with no dim
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtraRelationalQueries.queries("q72_pit_join")(spark, dir)
      .select(col("purchase_id"), col("state_type"), col("valid_from_us"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (101L, "click", 1000L), (102L, "click", 1000L),
      (103L, "view", 3000L), (104L, "click", 5000L)), s"got $out")
    // fixture-wide invariants: at most one version per purchase, and the
    // matched version never starts after the purchase (no feature leakage)
    val fx = ExtraRelationalQueries.queries("q72_pit_join")(spark, sf001)
      .as[(Long, Long, String, Long, Long, Long)].collect()
    assert(fx.map(_._1).distinct.length == fx.length, "duplicate match")
    fx.foreach { case (pid, _, _, _, from, pUs) =>
      assert(from <= pUs, s"purchase $pid joined a FUTURE version")
    }
    assert(fx.nonEmpty)
  }

  test("q61_resample: contiguous per-user spine, events conserved, gaps zero-filled") {
    val rows = ExtraRelationalQueries.queries("q61_resample")(spark, sf001)
      .as[(Long, Long, Long, Double)].collect()
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, cells) =>
      val hrs = cells.map(_._2).sorted
      assert(hrs.head + hrs.length - 1 == hrs.last,
        s"user $u spine not contiguous")
      assert(hrs.distinct.length == hrs.length, s"user $u duplicate buckets")
    }
    val totalEvents = Tables.events(spark, sf001).count()
    assert(rows.map(_._3).sum == totalEvents, "bucket counts must conserve events")
    assert(rows.exists(r => r._3 == 0L && r._4 == 0.0),
      "an idle hour should be zero-filled (fixture spans idle hours)")
  }

  test("q68_value_islands: islands conserve events, are maximal, and " +
    "reassemble the per-user timeline") {
    val ev = Tables.events(spark, sf001)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, Long, String, Long)].collect()
    val out = ExtraRelationalQueries.queries("q68_value_islands")(spark, sf001)
      .as[(Long, Long, String, Long, Long, Long)].collect()
    // conservation: island event counts sum to the event total
    assert(out.map(_._6).sum == ev.length)
    // replay: compressing each user's (us, event_id)-ordered type
    // sequence must reproduce the islands exactly — order, type, span
    ev.groupBy(_._1).foreach { case (uid, rows) =>
      val seq = rows.sortBy(r => (r._4, r._2))
      val runs = scala.collection.mutable.Buffer[(String, Long, Long, Long)]()
      seq.foreach { case (_, _, t, us) =>
        if (runs.nonEmpty && runs.last._1 == t) {
          val l = runs.last
          runs(runs.size - 1) = (l._1, l._2, us, l._4 + 1)
        } else runs += ((t, us, us, 1L))
      }
      val got = out.filter(_._1 == uid).sortBy(_._2)
        .map(r => (r._3, r._4, r._5, r._6)).toSeq
      assert(got == runs.toSeq, s"user $uid islands drifted")
      // maximality: adjacent islands always change type
      got.lazyZip(got.drop(1)).foreach { case (a, b) =>
        assert(a._1 != b._1, s"user $uid has mergeable adjacent islands")
      }
    }
  }

  test("q69_merge_upsert: the three MERGE branches account for every " +
    "target and source row exactly once") {
    val tgtKeys = Tables.customer(spark, sf001)
      .select(col("c_custkey")).as[Long].collect().toSet
    val srcKeys = Tables.events(spark, sf001).filter(col("ts").isNotNull)
      .select(col("user_id")).distinct().as[Long].collect().toSet
    val out = ExtraRelationalQueries.queries("q69_merge_upsert")(spark, sf001)
      .as[(Long, Double, String)].collect()
    assert(out.length == (tgtKeys ++ srcKeys).size)
    assert(out.map(_._1).toSet == (tgtKeys ++ srcKeys))
    val byAction = out.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byAction.getOrElse("insert", Set()) == srcKeys.diff(tgtKeys))
    assert(byAction.getOrElse("keep", Set()) == tgtKeys.diff(srcKeys))
    assert(byAction.getOrElse("update", Set()) == tgtKeys.intersect(srcKeys))
  }

  test("q70_mad_outliers: medians are true order statistics and the " +
    "3xMAD rule matches a plain-Scala recomputation") {
    val rows = Tables.orders(spark, sf001)
      .join(Tables.customer(spark, sf001),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .as[(String, Long, Double)].collect()
    val out = ExtraRelationalQueries.queries("q70_mad_outliers")(spark, sf001)
      .as[(String, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val segs = rows.groupBy(_._1)
    assert(out.keySet == segs.keySet)
    segs.foreach { case (seg, g) =>
      def lowerMedian(vs: Seq[(Double, Long)]): Double = {
        val sorted = vs.sortBy { case (v, id) => (v, id) }
        sorted(((sorted.size + 1) / 2) - 1)._1
      }
      val med = lowerMedian(g.map(r => (r._3, r._2)).toSeq)
      val mad = lowerMedian(g.map(r => (math.abs(r._3 - med), r._2)).toSeq)
      val nOut = g.count(r => math.abs(r._3 - med) > 3.0 * mad)
      assert(out(seg) == ((g.length.toLong, med, mad, nOut.toLong)),
        s"$seg: got ${out(seg)} want ${(g.length, med, mad, nOut)}")
      // outliers must be a small tail, or the 3xMAD screen is broken
      assert(nOut < g.length / 4, s"$seg flags $nOut of ${g.length}")
    }
  }

  test("q57_approx_quantile tracks exact order statistics") {
    val approx = ExtraRelationalQueries
      .queries("q57_approx_quantile")(spark, sf001)
      .as[(String, String)].collect().toMap
      .map { case (k, v) => k -> v.split(",").map(_.toDouble) }
    val exact = Tables.lineitem(spark, sf001)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        expr("percentile(l_quantity, 0.99)").as("p99"))
      .as[(String, Double, Double, Double)].collect()
    exact.foreach { case (flag, p50, p90, p99) =>
      val a = approx(flag)
      // percentile_approx returns actual data values; exact interpolates —
      // allow one unit of the integer-valued quantity domain
      assert(math.abs(a(0) - p50) <= 1.0, s"$flag p50: ${a(0)} vs $p50")
      assert(math.abs(a(1) - p90) <= 1.0, s"$flag p90: ${a(1)} vs $p90")
      assert(math.abs(a(2) - p99) <= 1.0, s"$flag p99: ${a(2)} vs $p99")
    }
  }

  test("q74_concurrency: planted overlap pattern; touching intervals not concurrent") {
    // all values plant dur via (|floor(v)| % 30) + 1 minutes; ts in NANOS
    // (the long-layout branch of Tables.events). One type, one day.
    def ev(id: Long, startMin: Long, durMin: Long, typ: String) =
      (id, startMin * 60L * 1000000000L, 1L, typ, (durMin - 1).toDouble, "{}")
    val dir = tempDir("graft-conc").toString
    Seq(
      ev(1, 0, 10, "call"),   // [0,10)
      ev(2, 5, 10, "call"),   // [5,15)  overlaps 1
      ev(3, 8, 1, "call"),    // [8,9)   overlaps 1+2 -> peak 3
      ev(4, 15, 5, "call"),   // [15,20) starts exactly when 2 ends: NOT +1
      ev(5, 0, 1, "view"),    // separate type partition
      ev(6, 2, 1, "view"))    // disjoint -> peak 1
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtraRelationalQueries.queries("q74_concurrency")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(out == Map("call" -> ((4L, 3L)), "view" -> ((2L, 1L))), s"got $out")

    // fixture-wide invariants: intervals conserved, peaks within bounds
    val fx = ExtraRelationalQueries.queries("q74_concurrency")(spark, sf001)
      .as[(String, Long, Long, Long)].collect()
    val nSrc = Tables.events(spark, sf001)
      .filter(col("ts").isNotNull && col("value").isNotNull).count()
    assert(fx.map(_._3).sum == nSrc, "every interval counted exactly once")
    fx.foreach { case (t, day, n, peak) =>
      assert(peak >= 1 && peak <= n, s"($t,$day): peak $peak of $n")
    }
  }

  test("q77_event_pattern: planted sessions match the right patterns") {
    val dir = tempDir("graft-cep").toString
    val m = 60L * 1000000000L // 1 min in nanos
    Seq(
      // user 1, one session: view->error->click->purchase (funnel, not
      // blind: a view precedes the purchase; single error doesn't retry)
      (1L, 0 * m, 1L, "view", 0.0, "{}"),
      (2L, 1 * m, 1L, "error", 0.0, "{}"),
      (3L, 2 * m, 1L, "click", 0.0, "{}"),
      (4L, 3 * m, 1L, "purchase", 0.0, "{}"),
      // user 1, second session (>30 min later): bounce
      (5L, 60 * m, 1L, "view", 0.0, "{}"),
      // user 2: blind buy (signup then purchase, no view), plus a
      // repeated error -> error_retry
      (6L, 0 * m, 2L, "signup", 0.0, "{}"),
      (7L, 1 * m, 2L, "error", 0.0, "{}"),
      (8L, 2 * m, 2L, "error", 0.0, "{}"),
      (9L, 3 * m, 2L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtraRelationalQueries.queries("q77_event_pattern")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().head
    // 3 sessions: "vecp" (funnel), "v" (bounce), "seep" (blind+retry)
    assert(out == ((3L, 1L, 1L, 1L, 1L)), s"got $out")

    // fixture sanity: session count matches q60's sessionization, and
    // every pattern count is bounded by it
    val fx = ExtraRelationalQueries.queries("q77_event_pattern")(spark, sf001)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val nSess = ExtraRelationalQueries.queries("q60_sessionize")(spark, sf001)
      .count()
    assert(fx._1 == nSess, s"sessions ${fx._1} vs q60 $nSess")
    assert(Seq(fx._2, fx._3, fx._4, fx._5).forall(c => c >= 0 && c <= fx._1))
    // the fixture's sessions are short (~1 event avg), so the 3-step
    // funnel is legitimately rare-to-absent there; the planted corpus
    // above covers it. Bounces and blind buys must fire densely.
    assert(fx._5 > 0 && fx._4 > 0,
      s"bounce/blind_buy degenerate: ${fx._5}/${fx._4}")
  }

  test("q81_gap_fill: planted LOCF exact; fixture replays bit-for-bit") {
    val dir = tempDir("graft-locf").toString
    val h = 3600L * 1000000000L // 1 h in nanos
    // user 1: two same-ts events in hour 0 (event_id tie-break picks
    // v=2.0), a gap at hour 1, an observation at hour 2; user 2: one
    // observation only
    Seq((1L, 0L, 1L, "view", 1.0, "{}"), (2L, 0L, 1L, "view", 2.0, "{}"),
      (3L, 2 * h, 1L, "click", 5.0, "{}"),
      (4L, 5 * h, 2L, "view", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = ExtraRelationalQueries.queries("q81_gap_fill")(spark, dir)
      .as[(Long, Long, Double, Long, Int)].collect().toSet
    assert(planted == Set((1L, 0L, 2.0, 0L, 1), (1L, 1L, 2.0, 1L, 0),
      (1L, 2L, 5.0, 0L, 1), (2L, 5L, 7.0, 0L, 1)), s"got $planted")

    // fixture: same spine as q61; never-null fill; staleness 0 iff
    // observed; and a plain-Scala LOCF replay over a user subsample
    // agrees bit-for-bit
    val out = ExtraRelationalQueries.queries("q81_gap_fill")(spark, sf001)
    assert(out.count() ==
      ExtraRelationalQueries.queries("q61_resample")(spark, sf001).count())
    assert(out.filter(col("v_filled").isNull).count() == 0)
    assert(out.filter((col("staleness_hr") === 0) =!= (col("is_obs") === 1))
      .count() == 0)
    val sub = out.filter(col("user_id") % 97 === 0)
      .as[(Long, Long, Double, Long, Int)].collect()
      .groupBy(_._1).values
    val hrUs = 3600000000L
    val obs = Tables.events(spark, sf001)
      .filter(col("user_id") % 97 === 0)
      .select(col("user_id"), expr(s"unix_micros(ts) div $hrUs").as("hr"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .as[(Long, Long, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2)).map { case (k, vs) =>
        k -> vs.maxBy(r => (r._3, r._4))._5 }
    sub.foreach { rows =>
      var lastV = Double.NaN; var lastHr = -1L
      rows.sortBy(_._2).foreach { case (u, hr, vf, st, io) =>
        obs.get((u, hr)) match {
          case Some(v) =>
            lastV = v; lastHr = hr
            assert(io == 1 && st == 0L && vf == v, s"obs row ($u,$hr)")
          case None =>
            assert(io == 0 && vf == lastV && st == hr - lastHr,
              s"gap row ($u,$hr): $vf/$st vs $lastV/${hr - lastHr}")
        }
      }
    }
  }

  test("q78_skyline: planted frontier exact; fixture matches brute-force dominance") {
    val dir = tempDir("graft-sky").toString
    Seq((1L, 10.00, 5), (2L, 10.00, 5), (3L, 10.00, 4), (4L, 20.00, 7),
      (5L, 20.00, 7), (6L, 30.00, 6), (7L, 5.00, 1))
      .map { case (k, pr, sz) => (k, s"part$k", "B", "T", sz, pr) }
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val planted = ExtraRelationalQueries.queries("q78_skyline")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    // ties kept (1,2 and 4,5); same-price smaller (3) out; (6) dominated
    // by the cheaper-and-larger (4); the cheapest (7) always survives
    assert(planted == Set((7L, 500L, 1L), (1L, 1000L, 5L),
      (2L, 1000L, 5L), (4L, 2000L, 7L), (5L, 2000L, 7L)), s"got $planted")

    def centsOf(d: Double): Long =
      new java.math.BigDecimal(d).setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
    val pts = Tables.part(spark, sf001)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long"))
      .as[(Long, Double, Long)].collect()
      .map { case (k, pr, sz) => (k, centsOf(pr), sz) }
    val brute = pts.filter { case (k, p, z) =>
      !pts.exists { case (k2, p2, z2) =>
        p2 <= p && z2 >= z && (p2 < p || z2 > z) } }.toSet
    val out = ExtraRelationalQueries.queries("q78_skyline")(spark, sf001)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == brute,
      s"diff=${out.diff(brute).take(3)} / ${brute.diff(out).take(3)}")
  }

  test("q80_tag_join: planted exposure counts; plan is hash-join + explode, no BNLJ") {
    val dir = tempDir("graft-tag").toString
    // brands A (watched, size 50), B (watched), C (unwatched)
    Seq((1L, "Brand#A", 50), (2L, "Brand#B", 50), (3L, "Brand#C", 10),
      (4L, "Brand#A", 10)) // second A part, not size 50 — A still watched
      .map { case (k, b, sz) => (k, s"p$k", b, "T", sz, 1.0) }
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // order 10: {A(x2 via parts 1+4), C}; order 20: {B, C}; order 30: {C}
    Seq((10L, 1L), (10L, 4L), (10L, 3L), (20L, 2L), (20L, 3L), (30L, 3L))
      .map { case (o, p) => (o, p, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", 0L) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val q = ExtraRelationalQueries.queries("q80_tag_join")(spark, dir)
    // duplicate parts of one brand in one order count ONCE (the basket
    // is a set); unwatched C never appears
    assert(q.as[(String, Long)].collect().toSet ==
      Set(("Brand#A", 1L), ("Brand#B", 1L)))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan.take(600))
    assert(plan.contains("Generate"), plan.take(600))

    // fixture sanity: every watched brand's exposure is bounded by the
    // number of orders, and at least one watched brand appears
    val fx = ExtraRelationalQueries.queries("q80_tag_join")(spark, sf001)
      .as[(String, Long)].collect()
    val nOrders = Tables.orders(spark, sf001).count()
    assert(fx.nonEmpty && fx.forall(r => r._2 > 0 && r._2 <= nOrders))
  }

  test("q76_interval_coverage: union length merges overlaps, gross does not") {
    def ev(id: Long, startMin: Long, durMin: Long, typ: String) =
      (id, startMin * 60L * 1000000000L, 1L, typ, (durMin - 1).toDouble, "{}")
    val dir = tempDir("graft-cov").toString
    Seq(
      ev(1, 0, 10, "call"),   // [0,10)
      ev(2, 5, 10, "call"),   // [5,15)  overlap merges
      ev(3, 8, 1, "call"),    // [8,9)   nested, adds nothing
      ev(4, 15, 5, "call"),   // [15,20) touching extends the run
      ev(5, 0, 1, "view"),
      ev(6, 2, 1, "view"))    // disjoint: covered = gross
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val minUs = 60000000L
    val out = ExtraRelationalQueries.queries("q76_interval_coverage")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(out == Map(
      "call" -> ((4L, 20 * minUs, 26 * minUs)),  // union [0,20); gross 10+10+1+5
      "view" -> ((2L, 2 * minUs, 2 * minUs))), s"got $out")

    // fixture invariants vs q74 on the same sweep: covered <= gross
    // always; covered >= gross/peak (peak-way overlap is the worst case)
    val cov = ExtraRelationalQueries.queries("q76_interval_coverage")(spark, sf001)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._4, r._5))).toMap
    val peaks = ExtraRelationalQueries.queries("q74_concurrency")(spark, sf001)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(cov.keySet == peaks.keySet)
    cov.foreach { case (k, (covered, gross)) =>
      assert(covered <= gross, s"$k: covered $covered > gross $gross")
      assert(covered * peaks(k) >= gross, s"$k: peak bound violated")
    }
  }

  test("q75_hier_rollup: planted 7-node binary tree rolls up exactly") {
    // part keys 0..6 -> 1-based nodes 1..7; price = node id for easy sums.
    // Once on int64 keys and once on int32 keys: an int shift masks its
    // distance to 5 bits, so an unwidened int32 chain re-emits pk1 for
    // levels >= 32 and the duplicate closure rows inflate every count.
    val planted = Seq(
      (0 to 6).map(k => (k.toLong, s"part$k", "b", "t", 1, (k + 1).toDouble))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
          "p_retailprice"),
      (0 to 6).map(k => (k.toInt, s"part$k", "b", "t", 1, (k + 1).toDouble))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
          "p_retailprice"))
    planted.foreach { part =>
      val keyType = part.schema("p_partkey").dataType.simpleString
      val dir = tempDir("graft-hier").toString
      part.write.mode("overwrite").parquet(s"$dir/part.parquet")
      val out = ExtraRelationalQueries.queries("q75_hier_rollup")(spark, dir)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // node -> (depth, subtree_n, subtree_value); values are the keys
      assert(out == Map(
        1L -> ((0L, 7L, 28.0)),           // whole tree: 1+2+...+7
        2L -> ((1L, 3L, 11.0)),           // {2,4,5}
        3L -> ((1L, 3L, 16.0)),           // {3,6,7}
        4L -> ((2L, 1L, 4.0)), 5L -> ((2L, 1L, 5.0)),
        6L -> ((2L, 1L, 6.0)), 7L -> ((2L, 1L, 7.0))),
        s"$keyType keys: got $out")
    }

    // fixture invariants: root's subtree is the whole table; depth is
    // floor(log2(node)); every subtree value within the root's
    val fx = ExtraRelationalQueries.queries("q75_hier_rollup")(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect()
    val n = Tables.part(spark, sf0001).count()
    val root = fx.find(_._1 == 1L).get
    assert(root._3 == n, s"root subtree ${root._3} != $n parts")
    fx.foreach { case (node, depth, sn, _) =>
      assert(depth == (63 - java.lang.Long.numberOfLeadingZeros(node)),
        s"node $node depth $depth")
      assert(sn >= 1 && sn <= n)
    }
  }

  test("q75_hier_rollup: later executions reuse the generated code of the first") {
    // every execution builds its own child session; on the executors'
    // shared class loader its generated classes hit the codegen cache
    val runs = (1 to 3).map(_ => graft.tools.CodegenWorkingSet.counting(
      ExtraRelationalQueries.queries("q75_hier_rollup")(spark, sf0001)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq))
    assert(runs.map(_._1).distinct.size == 1 && runs.head._1.nonEmpty)
    assert(runs.tail.map(_._2) == Seq(0L, 0L),
      s"compilations per execution: ${runs.map(_._2)}")
  }

  test("q75_hier_rollup: recursion-limit overrides never touch the shared session") {
    // the overrides live on a child session — the SHARED session's 1M-row
    // recursion safety net must stay armed for every later query
    val rowBefore = spark.conf.get("spark.sql.cteRecursionRowLimit")
    val lvlBefore = spark.conf.get("spark.sql.cteRecursionLevelLimit")
    val out = ExtraRelationalQueries.queries("q75_hier_rollup")(spark, sf0001)
    assert(out.count() > 0) // construction AND execution both complete
    assert(spark.conf.get("spark.sql.cteRecursionRowLimit") == rowBefore)
    assert(spark.conf.get("spark.sql.cteRecursionLevelLimit") == lvlBefore)
    assert(spark.conf.get("spark.sql.cteRecursionRowLimit") != "-1",
      "the shared session's recursion row safety net was disarmed")
  }
}
