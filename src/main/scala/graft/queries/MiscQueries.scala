package graft.queries

import graft.Tables
import graft.functions.TopKAggregator
import graft.operators.Checkpoint.CheckpointOps
import graft.operators.Salting
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Additional operator coverage: bounded-heap top-k aggregate, banded
  * range join, sketches, percentiles, array aggregation.
  */
object MiscQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Same semantics as q9 (top-3 orders per customer) but via the
    // bounded-heap TopKAggregator: O(k) state per group with map-side
    // combine instead of a full per-partition sort — the 100 TB-safe
    // top-k-per-key plan. Shares q9's oracle.
    "q35_topk_agg" -> ((s, d) => {
      val topk = udaf(TopKAggregator(3),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("o_custkey"), col("t._2").as("o_orderkey"),
          col("t._1").as("o_totalprice"),
          (col("pos") + 1).cast("int").as("rn"))
    }),

    // ANALYZE-style table profiling — the statistics pass a cost-based
    // optimizer (and any data-quality monitor) runs before planning:
    // per-column row count, null count, EXACT distinct count, min/max.
    // One aggregate per column, unioned — each branch's scan is pruned
    // to ITS column (ReadSchema shows a single field), which is exactly
    // how per-column ANALYZE amortizes at 100 TB on columnar storage;
    // the single-distinct aggregate plans as a two-level agg (no
    // Expand). At petabyte NDV you'd flip n_distinct to the HLL sketch
    // (sketch_hll_union's machinery) and accept rows-only — exact here
    // keeps the oracle binding. All profiled columns are numeric, so
    // min/max cast to double losslessly (bigints ≪ 2^53).
    "stats_table_profile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      profiledColumns.map { c =>
        li.select(col(c).as("v"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).cast("double").as("min_v"),
            max(col("v")).cast("double").as("max_v"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_v"), col("max_v"))
      }.reduce(_ unionAll _)
    }),

    // PageRank (Page et al. 1999) over the customer–supplier bipartite
    // graph induced by orders⋈lineitem — the iterative graph operator
    // every entity-importance / spam-scoring pipeline runs, in the
    // Pregel shape Spark executes well: per iteration ONE edge-to-rank
    // join on the src key plus one dst-keyed aggregate, nothing but
    // (node, double) crossing the wire. The edge list is derived once
    // and checkpointed (three iterations + degree reuse it); N and the
    // iteration count are the only driver state (two scalars). Fixed 3
    // iterations, damping 0.85, undirected edges (every node has
    // degree ≥ 1 by construction — no dangling-mass term needed).
    //
    // Cross-engine exactness, with NO rounding hedge: r/deg and the
    // damping update are IEEE ops on identical inputs; the per-node
    // contribution sum — the one order-sensitive reduction — goes
    // through the shortest-repr decimal(38,28) exact-sum machinery
    // (the curate_lm_score recipe), so ranks are bit-identical doubles
    // after every iteration. Damping constants enter DuckDB as
    // CAST('0.15' AS DOUBLE) VARCHAR parses (a bare 0.15 literal is
    // DECIMAL(3,2) there and double-rounds — the rpOracle lesson).
    "graph_pagerank" -> ((s, d) => {
      val eo = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val bi = eo.unionAll(
        eo.select(col("dst").as("src"), col("src").as("dst")))
        // keyed: every iteration's edge join and the degree aggregate
        // read the edges on src
        .buildCheckpointBy("src") // 3 iterations + the degree build
      // deg deliberately NOT fused into the checkpointed edge table: an
      // sf0.1 A/B (one join per iteration vs two) showed no gain beyond
      // box noise — the deg build side is tiny either way, and fusing
      // widens every checkpointed row by a column. Keyed like the edges,
      // and materialized: with no exchange between it and the edges,
      // every reference would re-aggregate them.
      val deg = bi.groupBy("src").agg(count(lit(1)).as("deg"))
        .buildCheckpointBy("src") // count + every iteration's join
      val nn = deg.count() // bounded driver state: one scalar
      var ranks = deg.select(col("src").as("node"),
        lit(1.0 / nn).as("r"))
      for (_ <- 1 to 3) {
        val contrib = bi
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .join(deg, Seq("src"))
          .select(col("dst").as("node"),
            (col("r") / col("deg").cast("double")).as("c"))
        ranks = contrib.groupBy("node")
          .agg((lit(0.15 / nn) + lit(0.85) *
            sum(col("c").cast("decimal(38,28)")).cast("double")).as("r"))
      }
      ranks.select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier")
          .as("node_type"),
        expr("node div 2").as("id"), col("r").as("pagerank"))
    }),

    // Exact covariance/correlation matrix over the lineitem numerics —
    // the feature-statistics pass before whitening, feature selection,
    // or drift monitoring. ONE aggregate computes every moment (n, Σx
    // per column, Σxy per pair) as exact integer-cent sums in
    // DECIMAL(38); the 10 matrix cells are then pure arithmetic over
    // that single 1-row result (checkpointed — cells re-read one row,
    // not the table). Covariance numerators n·Σxy − Σx·Σy stay exact
    // integers (headroom: ~1e26 here, DECIMAL(38) holds to ~1e12 rows
    // of cent-scale pairs); the only FP is the final cast + one
    // division for corr_bp, identical IEEE ops in both engines.
    // Built-in corr()/covar_pop() are double-accumulating (order-
    // dependent) — this formulation is the oracle-bindable exact twin.
    "stats_corr_matrix" -> ((s, d) => {
      val colsMap = Seq("q" -> "l_quantity", "e" -> "l_extendedprice",
        "d" -> "l_discount", "t" -> "l_tax")
      def cents(c: String): Column =
        (col(c).cast(DecimalType(12, 2)) * 100).cast("long")
      val keys = colsMap.map(_._1)
      val byKey = colsMap.toMap
      val pairs = for (i <- keys.indices; j <- i until keys.length)
        yield (keys(i), keys(j))
      val sumCols =
        colsMap.map { case (k, c) =>
          sum(cents(c).cast(DecimalType(38, 0))).as(s"s_$k") } ++
        pairs.map { case (a, b) =>
          // per-row products fit LONG (≤1e14); only the sums need 38
          sum((cents(byKey(a)) * cents(byKey(b)))
            .cast(DecimalType(38, 0))).as(s"s_$a$b") }
      val row1 = Tables.lineitem(s, d)
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .localCheckpoint()
      val nD = col("n").cast(DecimalType(38, 0))
      def covNum(a: String, b: String): Column = {
        val key = if (keys.indexOf(a) <= keys.indexOf(b)) s"$a$b" else s"$b$a"
        nD * col(s"s_$key") - col(s"s_$a") * col(s"s_$b")
      }
      pairs.map { case (a, b) =>
        row1.select(
          lit(byKey(a)).as("col_x"), lit(byKey(b)).as("col_y"), col("n"),
          covNum(a, b).cast("double").as("cov_cents2"),
          // a CONSTANT column (or empty/1-row table) has zero variance:
          // correlation is UNDEFINED there, so report NULL rather than
          // the 0/0=NaN → floor artifact (Spark's floor(NaN).toLong
          // silently yields 0; DuckDB's BIGINT cast of NaN errors)
          when(covNum(a, a) === 0 || covNum(b, b) === 0,
            lit(null).cast("long"))
            .otherwise(floor(lit(10000.0) * (covNum(a, b).cast("double") /
              sqrt(covNum(a, a).cast("double") *
                covNum(b, b).cast("double")))))
            .as("corr_bp"))
      }.reduce(_ unionAll _)
    }),

    // Two-sample Kolmogorov–Smirnov drift statistic: each event_type's
    // `value` distribution vs the 'view' reference — the train/serve
    // feature-drift monitor next to stats_corr_matrix's moment pass.
    // D = max_x |F_ref(x) − F_t(x)| computed EXACTLY: per-(type, value)
    // counts first (the only event-volume shuffle — everything after
    // runs on the distinct-value table), a grid that full-outer-unions
    // each type's support with the reference's, then RUNNING counts via
    // the q54 two-pass ranged idiom — approx-quantile literal
    // boundaries shape ~32 value buckets, per-(type, bucket) totals
    // turn into broadcast cumulative offsets, and the in-bucket window
    // orders one bucket's distinct values, never a type's whole
    // distribution on one task. d_bp = ⌊10⁴·max|rc1·n2 − rc2·n1|/
    // (n1·n2)⌋ is pure long arithmetic (≤ 4e14 at sf1; swap the
    // products to DECIMAL(38) beyond ~3e4 ref×cmp count products of
    // long headroom). Values group and order by their exact double
    // bits — no FP arithmetic anywhere, so the stat is cross-engine
    // bit-exact.
    "stats_ks_drift" -> ((s, d) => {
      val refType = "view"
      // drift over OBSERVED values: null `value` rows carry no CDF mass
      // and would otherwise diverge cross-engine (Spark windows order
      // NULLS FIRST, DuckDB NULLS LAST, and nulls never match the grid's
      // full-outer equi keys) — same guard as the sweep-line queries
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val pv = ev.groupBy(col("event_type").as("t"), col("value").as("x"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // re-read by the ref slice and the cmp slice
      val refC = pv.filter(col("t") === refType)
        .select(col("x"), col("c").as("c1"))
      val cmp = pv.filter(col("t") =!= refType)
        .select(col("t"), col("x"), col("c").as("c2"))
      val types = cmp.select("t").distinct()
      val grid = broadcast(types).crossJoin(refC)
        .join(cmp, Seq("t", "x"), "full_outer")
        .select(col("t"), col("x"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
      // Bucket boundaries IN-PLAN (the query stays fully lazy — no job
      // runs until the returned DataFrame executes): one
      // percentile_approx aggregate over the CHECKPOINTED distinct-value
      // table yields a ≤31-element boundary array, broadcast-crossed
      // onto the grid; the bucket id is the count of boundaries strictly
      // below x — monotone in x, so any approximation (or duplicate
      // collapse) shapes balance only, never correctness.
      val boundsRow = pv.agg(array_sort(array_distinct(percentile_approx(
        col("x"), typedLit((1 until 32).map(_ / 32.0).toArray),
        lit(100)))).as("__bnds"))
      val gb = grid.crossJoin(broadcast(boundsRow))
        .withColumn("b",
          size(filter(col("__bnds"), bb => col("x") > bb)))
        .drop("__bnds")
        .localCheckpoint() // re-read by the offsets pass and the scan
      val wB = Window.partitionBy("t").orderBy("b")
      val whole = wB.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val offs = gb.groupBy("t", "b")
        .agg(sum(col("c1")).as("b1"), sum(col("c2")).as("b2"))
        .select(col("t"), col("b"),
          coalesce(sum(col("b1")).over(
            wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("off1"),
          coalesce(sum(col("b2")).over(
            wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("off2"),
          sum(col("b1")).over(whole).as("n1"),
          sum(col("b2")).over(whole).as("n2"))
      val wIn = Window.partitionBy("t", "b").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
      gb.join(broadcast(offs), Seq("t", "b"))
        .select(col("t"), col("n1"), col("n2"),
          (col("off1") + sum(col("c1")).over(wIn)).as("rc1"),
          (col("off2") + sum(col("c2")).over(wIn)).as("rc2"))
        .groupBy(col("t"))
        .agg(max(abs(col("rc1") * col("n2") - col("rc2") * col("n1")))
          .as("dmax"),
          max(col("n1")).as("n_ref"), max(col("n2")).as("n_cmp"))
        .select(col("t").as("event_type"), col("n_ref"), col("n_cmp"),
          expr("10000L * dmax DIV (n_ref * n_cmp)").as("d_bp"))
    }),

    // Frequent-itemset mining, Apriori (Agrawal & Srikant, VLDB 1994):
    // baskets = orders, items = the part BRANDS they contain (the
    // co-purchase granularity where supports are dense). Levels are the
    // classic relational ladder — L1 from one item scan; candidate
    // pairs ONLY over L1-surviving items; L3 candidates extend frequent
    // pair OCCURRENCES and must pass the full Apriori prune (all three
    // 2-subsets frequent) before support counting. Min-support is
    // RELATIVE (0.1% of baskets, the standard formulation) so the same
    // query is meaningful at every SF and the threshold never needs
    // retuning.
    //
    // 100 TB shape (reworked in the round-16 optimization pass): ONE
    // basket-array table replaces the oid self-joins. The old ladder
    // shuffled the (oid, item) table by oid on BOTH sides of the pair
    // join, again for the extension join, and re-evaluated the p2/l2
    // subtrees inside every downstream broadcast build (29 exchanges,
    // 6 sort-merge joins of the same 550k-row table at sf0.1). Now the
    // L1-filtered basket is aggregated once into a sorted item ARRAY
    // (one oid exchange, the only basket-volume shuffle after the
    // distinct); pairs explode LOCALLY from the array (identical rows
    // to the a.item < c.item self-join, zero exchanges — and the l2
    // count then partial-aggregates map-side to vocabulary size before
    // its shuffle); the L3 extension joins frequent-pair occurrences
    // back to the SAME checkpointed array table, co-partitioned on oid
    // (checkpoint partitioning is preserved, so no new exchange), and
    // explodes the z > y tail of the array — exactly the e.item > f.y
    // rows of the old extension join. L1/L2/nb are vocabulary-sized
    // (≤ brands, ≤ brand pairs, 1 row) and lazy-checkpointed so the
    // four prune-broadcast builds evaluate them once instead of
    // re-running the whole ladder per build. Candidates still extend
    // frequent pair OCCURRENCES only (the Apriori guarantee); the full
    // all-2-subsets prune is unchanged. Per-basket fan-out is the same
    // ΣC(k,2) the join produced — computed where the data sits.
    "q79_apriori" -> ((s, d) => {
      val b = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("oid"), col("p_brand").as("item"))
        .distinct()
        .localCheckpoint()
      val nb = b.agg(countDistinct(col("oid")).as("nb"))
        .localCheckpoint(eager = false)
      def freq(df: DataFrame, keys: Seq[String]): DataFrame =
        df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sup"))
          .crossJoin(broadcast(nb))
          .filter(col("sup") * 10000L >= lit(10L) * col("nb"))
          .select(keys.map(col) :+ col("sup"): _*)
      val l1 = freq(b, Seq("item")).localCheckpoint(eager = false)
      // one row per basket: the sorted L1-surviving item set (items are
      // distinct within a basket by the distinct() above, so i < j in
      // the sorted array IS the item_i < item_j pair orientation)
      val baskets = b.join(broadcast(l1.select("item")), Seq("item"),
        "left_semi")
        .groupBy("oid").agg(sort_array(collect_list(col("item"))).as("its"))
        .buildCheckpointBy("oid") // the L3 extension joins back on oid
      val p2 = baskets.select(col("oid"), explode(flatten(
        transform(col("its"), (x, i) => transform(
          slice(col("its"), i + lit(2),
            greatest(size(col("its")) - i - 1, lit(0))),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
        .select(col("oid"), col("p.x").as("x"), col("p.y").as("y"))
      val l2 = freq(p2, Seq("x", "y")).localCheckpoint(eager = false)
      val fp2 = p2.join(broadcast(l2.select("x", "y")), Seq("x", "y"),
        "left_semi")
      val tri = fp2.join(baskets, Seq("oid"))
        .select(col("oid"), col("x"), col("y"),
          explode(filter(col("its"), z => z > col("y"))).as("z"))
        .join(broadcast(l2.select(col("x"), col("y").as("z"))),
          Seq("x", "z"), "left_semi")
        .join(broadcast(l2.select(col("x").as("y"), col("y").as("z"))),
          Seq("y", "z"), "left_semi")
      val l3 = freq(tri, Seq("x", "y", "z"))
      l1.select(lit(1).as("level"), col("item").as("itemset"), col("sup"))
        .unionAll(l2.select(lit(2).as("level"),
          concat_ws(",", col("x"), col("y")).as("itemset"), col("sup")))
        .unionAll(l3.select(lit(3).as("level"),
          concat_ws(",", col("x"), col("y"), col("z")).as("itemset"),
          col("sup")))
    }),

    // Data-quality constraint suite (the Deequ / Great-Expectations
    // workload): declarative checks — completeness, domain/range,
    // accepted values, key uniqueness, referential integrity — each
    // reported as (table, check, violations, total). Every per-table
    // check family is ONE aggregate pass (stack() unpivots the counts);
    // the two referential checks are left joins against the DISTINCT
    // key column of the referenced table, counting unmatched probes.
    //
    // 100 TB shape: no check shuffles more than (key, 1) pairs — the
    // aggregates are map-side-combined counts over a single scan per
    // table, and the RI joins shuffle only the join key. Adding a check
    // to a table adds a column to its existing pass, not a new scan.
    "dq_constraints" -> ((s, d) => {
      def viol(c: Column): Column = sum(when(c, 1L).otherwise(0L))
      val lineitem = Tables.lineitem(s, d)
      val orders = Tables.orders(s, d)
      val li = lineitem.agg(
        count(lit(1)).as("total"),
        viol(col("l_discount") < 0 || col("l_discount") > 0.1)
          .as("v_disc"),
        viol(col("l_quantity") < 1 || col("l_quantity") > 50).as("v_qty"),
        viol(col("l_returnflag").isNull ||
          !col("l_returnflag").isin("A", "N", "R")).as("v_rf"),
        viol(col("l_shipdate").isNull).as("v_sd"),
        (count(lit(1)) - countDistinct(col("l_orderkey"),
          col("l_linenumber"))).as("v_uni"))
        .select(lit("lineitem").as("tbl"), expr(
          "stack(5, 'range_discount', v_disc, 'range_quantity', v_qty, " +
            "'accepted_returnflag', v_rf, 'completeness_shipdate', v_sd, " +
            "'unique_line', v_uni) AS (chk, violations)"), col("total"))
      val ord = orders.agg(
        count(lit(1)).as("total"),
        viol(col("o_orderpriority").isNull ||
          !col("o_orderpriority").rlike("^[1-5]-")).as("v_pri"),
        viol(col("o_orderdate").isNull).as("v_od"),
        viol(col("o_orderstatus").isNull ||
          !col("o_orderstatus").isin("O", "F", "P")).as("v_st"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uni"))
        .select(lit("orders").as("tbl"), expr(
          "stack(4, 'accepted_priority', v_pri, 'completeness_orderdate', " +
            "v_od, 'accepted_status', v_st, 'unique_orderkey', v_uni) " +
            "AS (chk, violations)"), col("total"))
      val ev = Tables.events(s, d).agg(
        count(lit(1)).as("total"),
        viol(col("ts").isNull).as("v_ts"),
        viol(col("value").isNull || isnan(col("value"))).as("v_val"))
        .select(lit("events").as("tbl"), expr(
          "stack(2, 'completeness_ts', v_ts, 'completeness_value', " +
            "v_val) AS (chk, violations)"), col("total"))
      val doc = Tables.documents(s, d).agg(
        count(lit(1)).as("total"),
        viol(col("text").isNull || col("text") === "").as("v_txt"),
        viol(col("lang").isNull).as("v_lang"))
        .select(lit("documents").as("tbl"), expr(
          "stack(2, 'completeness_text', v_txt, 'completeness_lang', " +
            "v_lang) AS (chk, violations)"), col("total"))
      def ri(probe: DataFrame, key: String, dim: DataFrame,
             dimKey: String, tblName: String, chkName: String): DataFrame =
        probe.select(col(key))
          .join(dim.select(col(dimKey)).distinct()
            .withColumn("__hit", lit(1)),
            col(key) === col(dimKey), "left")
          .agg(count(lit(1)).as("total"),
            viol(col("__hit").isNull).as("violations"))
          .select(lit(tblName).as("tbl"), lit(chkName).as("chk"),
            col("violations"), col("total"))
      val ris =
        ri(orders, "o_custkey", Tables.customer(s, d),
          "c_custkey", "orders", "ri_custkey") unionAll
          ri(lineitem, "l_orderkey", orders,
            "o_orderkey", "lineitem", "ri_orderkey")
      li.select("tbl", "chk", "violations", "total")
        .unionAll(ord.select("tbl", "chk", "violations", "total"))
        .unionAll(ev.select("tbl", "chk", "violations", "total"))
        .unionAll(doc.select("tbl", "chk", "violations", "total"))
        .unionAll(ris.select("tbl", "chk", "violations", "total"))
    }),

    // Triangle counting on the small-part co-purchase graph via
    // DEGREE-ORDERED orientation (the node-iterator++ / forward
    // algorithm, Schank & Wagner 2005; the MapReduce formulation is
    // Suri & Vassilvitskii WWW 2011) — the graph pattern-mining
    // workhorse behind clustering coefficients and community features.
    // Edges: two parts (p_size ≤ 5 — the filter prunes AT THE SCAN)
    // co-occurring in an order. Every edge is oriented from its
    // (degree, id)-smaller endpoint, turning the graph into a DAG whose
    // max out-degree is O(√m) REGARDLESS of skew — the hub that would
    // make naive wedge enumeration quadratic gets all its edges
    // pointed AT it, never out. Wedges (x→y, x→z) then close against
    // the oriented edge list with one more equi-join: each triangle is
    // found exactly once.
    //
    // 100 TB shape: two self-equi-joins on narrow (long, long) rows;
    // the orientation bound caps per-key join fan-out at √m, so the
    // wedge table is O(m^1.5) worst-case and ~3× the edges here
    // (measured sf0.1: 11k edges → 33k wedges → 1.8k triangles).
    // Degrees broadcast (≤ |parts| rows). The co-purchase edge build is
    // the only order-key shuffle; it is checkpointed once and re-read
    // by the degree pass, the orientation pass, and the closing join.
    "graph_triangles" -> ((s, d) => {
      // reverted to the round-15 shape after an interleaved A/B (r16
      // opt, measured): the keyed+stamped li/o2 checkpoints + lazy deg
      // cut the plan from 21 to 3 exchanges but regressed wall +0.8 s at
      // bench scale — AQE's runtime stage reuse already shared the
      // repeated exchange subtrees, and the pinned-count stages cost
      // more than they saved; see OPTIMIZATION_r16.md
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .join(Tables.part(s, d).filter(col("p_size") <= 5)
          .select(col("p_partkey")), col("pk") === col("p_partkey"))
        .select("ok", "pk").distinct()
      val e = li.as("a").join(li.as("b"),
          expr("a.ok = b.ok AND a.pk < b.pk"))
        .select(col("a.pk").as("pu"), col("b.pk").as("pv")).distinct()
        .localCheckpoint() // scanned by degree, orientation, and close
      val deg = e.select(explode(array(col("pu"), col("pv"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val ed = e
        .join(deg.withColumnRenamed("n", "pu").withColumnRenamed("deg", "du"),
          "pu")
        .join(deg.withColumnRenamed("n", "pv").withColumnRenamed("deg", "dv"),
          "pv")
      val fwd = col("du") < col("dv") ||
        (col("du") === col("dv") && col("pu") < col("pv"))
      val o = ed.select(when(fwd, col("pu")).otherwise(col("pv")).as("s"),
        when(fwd, col("pv")).otherwise(col("pu")).as("t"))
      val o2 = o.join(
        deg.withColumnRenamed("n", "t").withColumnRenamed("deg", "dt"), "t")
      val w = o2.as("x").join(o2.as("y"),
          expr("x.s = y.s AND (x.dt < y.dt OR (x.dt = y.dt AND x.t < y.t))"))
        .select(col("x.s").as("x"), col("x.t").as("y"), col("y.t").as("z"))
      w.join(o.withColumnRenamed("s", "y").withColumnRenamed("t", "z"),
          Seq("y", "z"))
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    }),

    // Link prediction by common-neighbor / Jaccard scoring over the
    // same co-purchase graph as graph_triangles — the feature behind
    // "customers also bought" candidate generation and graph-based
    // negative mining. For every NON-edge (u,v) sharing ≥ 1 neighbor:
    // cn = |N(u) ∩ N(v)| counted through wedge centers of degree ≤ 64
    // (the stopword-hub guard: a hub center certifies nothing about
    // its spokes and alone contributes O(deg²) wedges — the same
    // min-support move as q79's apriori threshold; degrees in the
    // Jaccard stay TRUE degrees), jac_bp = ⌊10⁴·cn/(du+dv−cn)⌋ exact
    // integer arithmetic. Top-100 by (jac_bp, cn, u, v) — a unique
    // total order, so the LIMIT boundary is deterministic cross-engine.
    //
    // 100 TB shape: wedge fan-out is capped at 64²/2 per center by the
    // hub guard (without it one celebrity node emits |corpus|² pairs);
    // the candidate table shrinks to true co-neighbor pairs; degrees
    // are vocabulary-sized broadcasts; the only big shuffles key on
    // (u,v) longs.
    "graph_linkpred" -> ((s, d) => {
      // reverted like graph_triangles (r16 opt, measured: +0.5 s)
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .join(Tables.part(s, d).filter(col("p_size") <= 5)
          .select(col("p_partkey")), col("pk") === col("p_partkey"))
        .select("ok", "pk").distinct()
      val e = li.as("a").join(li.as("b"),
          expr("a.ok = b.ok AND a.pk < b.pk"))
        .select(col("a.pk").as("pu"), col("b.pk").as("pv")).distinct()
        .localCheckpoint() // re-read by adjacency, anti-join
      val adj = e.select(col("pu").as("ctr"), col("pv").as("nb"))
        .unionAll(e.select(col("pv").as("ctr"), col("pu").as("nb")))
      val deg = adj.groupBy("ctr").agg(count(lit(1)).as("deg"))
        // lazy (r17): the eager form paid a dedicated materialization
        // job; the first broadcast build materializes it instead, the
        // other two reads reuse — one fewer driver job, same rows
        .localCheckpoint(eager = false) // ≤ |parts| rows; re-read 3×
      val sm = adj.join(broadcast(deg.filter(col("deg") <= 64)), Seq("ctr"))
        .select("ctr", "nb")
      val cn = sm.as("x").join(sm.as("y"),
          expr("x.ctr = y.ctr AND x.nb < y.nb"))
        .select(col("x.nb").as("u"), col("y.nb").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      cn.join(e, col("u") === col("pu") && col("v") === col("pv"),
          "left_anti")
        .join(broadcast(deg.select(col("ctr").as("u"),
          col("deg").as("du"))), Seq("u"))
        .join(broadcast(deg.select(col("ctr").as("v"),
          col("deg").as("dv"))), Seq("v"))
        .select(col("u"), col("v"), col("cn"),
          expr("CAST(10000 * cn DIV (du + dv - cn) AS BIGINT)")
            .as("jac_bp"))
        .orderBy(col("jac_bp").desc, col("cn").desc,
          col("u").asc, col("v").asc)
        .limit(100)
    }),

    // Banded range join: ordered event pairs of the same user within
    // 5 minutes. Spark-first shape: two equi-joins on (user, 5-min
    // bucket) and (user, bucket+1) — never an O(n²) theta join; work is
    // proportional to true pair density. Time arithmetic on exact
    // epoch-micros longs.
    "q36_range_join" -> ((s, d) => {
      val windowUs = 300000000L // 5 min in micros
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("bucket", expr(s"us div $windowUs"))
      val a = ev.toDF("user_id", "id_a", "us_a", "bucket_a")
      val b = ev.toDF("user_id", "id_b", "us_b", "bucket_b")
      def branch(off: Int) =
        a.join(b,
          a("user_id") === b("user_id") &&
            col("bucket_b") === col("bucket_a") + off &&
            col("us_b") >= col("us_a") &&
            col("us_b") - col("us_a") <= windowUs &&
            (col("us_b") > col("us_a") || col("id_b") > col("id_a")))
          .select(a("user_id"), col("id_a"), col("id_b"),
            (col("us_b") - col("us_a")).as("gap_us"))
      branch(0).unionAll(branch(1))
    }),

    // Log compaction / SCD-1 upsert resolution: the LATEST full record
    // per (user, event_type) from an append-only event log — the
    // keep-last twin of dedup_exact's keep-first, and the batch
    // resolution step behind every changelog-to-snapshot pipeline.
    // WindowGroupLimit pushes the rn=1 cut below the full window sort,
    // so each key retains one row per partial before the shuffle.
    "q67_compact_latest" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("us").desc, col("event_id").desc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("us"), col("value"))
    }),

    // OUTER generator semantics: posexplode_outer keeps zero-token
    // documents as a single null-element row where plain explode would
    // drop them — the generator-family distinction that silently loses
    // rows in curation pipelines when ignored (several robustness bugs
    // in earlier rounds traced to exactly this). Output: per-doc token
    // count INCLUDING empty docs as 0. No repartition of the raw text:
    // scan parallelism comes from file splits
    // (spark.sql.files.maxPartitionBytes), and the only exchange is the
    // partial-aggregate shuffle of (doc_id, count) — never the text.
    "q66_outer_explode" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode_outer(graft.functions.TextFunctions.tokens(col("text")))
            .as(Seq("pos", "tok")))
        .groupBy("doc_id")
        // count(col) skips nulls, so the all-null group an empty doc
        // produces through posexplode_outer counts as 0
        .agg(count(col("tok")).as("n_tokens"))
    }),

    // Skew-salted equi-join (the join-side twin of q48's salted
    // aggregation): fact rows carry a deterministic salt, the dim is
    // replicated buckets×, and the join key becomes (key, salt) — a hot
    // customer's orders spread across 8 reducers instead of one. Results
    // are identical to the plain join (shared oracle semantics); only
    // the partitioning differs. SaltingSpec pins equality and the
    // replication factor.
    "q65_salted_join" -> ((s, d) => {
      val fact = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Salting.saltedJoin(fact, dim, Seq("custkey"), col("o_orderkey"), 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("p")).cast("double").as("revenue"))
    }),

    // Fixed-width histogram of order totals — the profiling aggregate a
    // table optimizer persists. Bucketing is pure integer math on cents
    // (exact in both engines; no float boundary ambiguity), one
    // partial+final aggregate, linear at any scale.
    "q64_histogram" -> ((s, d) => {
      Tables.orders(s, d)
        .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 5000000")
          .as("bucket"), col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
    }),

    // EXACT distinct counting via mergeable bitmaps — the scale-out twin
    // of COUNT(DISTINCT): the first aggregate shuffles fixed-size 4 KB
    // bitmap segments keyed by (group, bucket) — distinct-set state is
    // spread across reducers and merges by OR, never a re-shuffle of raw
    // ids (what countDistinct's expand does) and never an estimate (what
    // HLL gives). The second aggregate sums per-bucket cardinalities —
    // a tiny rollup. Oracle = plain COUNT(DISTINCT).
    "q62_bitmap_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
    }),

    // HLL sketch distinct counts — estimates are engine-specific, so
    // rows-only here; MiscSpec pins them within 5% of exact.
    "q37_approx_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("n"))
    }),

    // Exact interpolated percentiles (Spark `percentile` = DuckDB
    // `quantile_cont`), over small-integer-valued doubles.
    "q38_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_quantity, 0.99)").as("p99"))
    }),

    // Array aggregation: ordered distinct collections per group. The array
    // is emitted as a canonical comma-joined string — the verification
    // driver sorts result rows with pandas, which cannot sort raw arrays.
    "q39_array_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",")
            .as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))
    }),

    // The first-class as-of join operator (custom LogicalPlan + Strategy
    // + SparkPlan, graft.plans.AsOfJoin): same semantics and oracle as
    // q33's union+window encoding, but executed as a co-partitioned
    // O(n+m) merge.
    "q41_asof_custom" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsOf.join(errors, clicks,
          "user_id", "c_user", "ts", "c_ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("c_ts").as("last_click_ts"))
    }),

    // Math + null-handling scalars. Only IEEE-deterministic functions
    // (abs/ceil/floor/sign/sqrt/mod, x*x) — transcendentals (ln/exp/pow)
    // are libm-dependent and not bit-stable across engines.
    "q42_math_null_funcs" -> ((s, d) => {
      Tables.customer(s, d).select(
        col("c_custkey"),
        abs(col("c_acctbal")).as("abs_bal"),
        ceil(col("c_acctbal")).as("ceil_bal"),
        floor(col("c_acctbal")).as("floor_bal"),
        signum(col("c_acctbal")).cast("double").as("sign_bal"),
        sqrt(abs(col("c_acctbal"))).as("sqrt_bal"),
        pmod(col("c_custkey"), lit(7L)).as("mod7"),
        (col("c_acctbal") * col("c_acctbal")).as("bal_sq"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
          lit("(building)")).as("seg_masked"))
    }),

    // The two at-scale join strategies, forced via hints (at fixture SFs
    // AQE broadcasts everything, so without these SMJ/SHJ never run):
    // sort-merge — the default for large fact-fact joins …
    "q44_smj_join" -> ((s, d) => {
      val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
        .hint("merge")
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
            .cast("double").as("sum_qty"))
    }),

    // … and shuffled-hash — lower memory than SMJ when one side is
    // moderately smaller but not broadcastable.
    "q45_shuffle_hash_join" -> ((s, d) => {
      val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .hint("shuffle_hash")
      val o = Tables.orders(s, d).select("o_custkey", "o_totalprice")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
            .cast("double").as("sum_price"))
    }),

    // Deterministic hash sampling: ~10% of documents selected by a
    // content-independent hash of the key — replay-stable (unlike
    // rand()-based sampling), cheap, and exactly reproducible in any
    // engine (md5 prefix as integer). The training-data subsampling op.
    "q43_hash_sample" -> ((s, d) => {
      val bucket = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100
      Tables.documents(s, d)
        .filter(bucket < 10)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Skew-safe aggregation as a first-class query: 60k rows over THREE
    // status keys is exactly the hot-key shape that pins a reducer at
    // scale. Two-stage salted aggregate (deterministic xxhash salt, 16
    // buckets): both shuffles bounded by keys × buckets. Oracle = the
    // plain GROUP BY — salting must be result-invisible.
    "q48_salted_agg" -> ((s, d) =>
      graft.operators.Salting.saltedCountSum(
          Tables.orders(s, d),
          col("o_orderstatus"),
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)),
          col("o_orderkey"))
        .select(col("k").as("o_orderstatus"), col("cnt"),
          col("sum_v").cast("double").as("sum_price"))),

    // Map construction + access: per-priority status->count map, queried
    // back out (map_from_entries / map_keys / element_at). Output stays in
    // oracle-comparable shapes (sorted key array + scalar lookups).
    "q40_map_funcs" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("o_orderpriority")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("o_orderstatus"), col("cnt")))))
          .as("m"))
        .select(col("o_orderpriority"),
          array_join(map_keys(col("m")), ",").as("statuses"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("n_f"),
          coalesce(element_at(col("m"), "O"), lit(0L)).as("n_o"))
    }))

  /** DuckDB oracle for graph_pagerank, GENERATED with one CTE per
    * iteration: the contribution sum rides the VARCHAR-mediated
    * DECIMAL(38,28) exact-sum recipe and the damping constants enter as
    * VARCHAR-parsed doubles, so every rank is bit-identical to Spark's
    * (see the query's exactness note). */
  private def pagerankOracle: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (SELECT b.dst AS node,
         |  CAST('0.15' AS DOUBLE) / n.nn + CAST('0.85' AS DOUBLE) *
         |    CAST(CAST(SUM(CAST(CAST(p.r / d.deg AS VARCHAR)
         |      AS DECIMAL(38,28))) AS VARCHAR) AS DOUBLE) AS r
         |  FROM bi b JOIN $prev p ON p.node = b.src
         |    JOIN deg d ON d.src = b.src, n
         |  GROUP BY b.dst, n.nn)""".stripMargin
    s"""WITH eo AS (SELECT DISTINCT o_custkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |bi AS (SELECT src, dst FROM eo
       |       UNION ALL SELECT dst AS src, src AS dst FROM eo),
       |deg AS (SELECT src, COUNT(*) AS deg FROM bi GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM deg),
       |r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / nn AS r FROM deg, n),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS node_type,
       |  node // 2 AS id, r AS pagerank
       |FROM r3""".stripMargin
  }

  /** Lineitem columns stats_table_profile profiles — ONE list drives
    * both the query and the generated oracle so they cannot drift. */
  private val profiledColumns = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def tableProfileOracle: String =
    profiledColumns.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS DOUBLE) AS min_v,
         |  CAST(MAX($c) AS DOUBLE) AS max_v
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Moment-for-moment mirror of stats_corr_matrix: same integer-cent
    * inputs, HUGEINT (128-bit) exact sums standing in for Spark's
    * DECIMAL(38,0), same final-cast-then-divide FP sequence. */
  private def corrMatrixOracle: String = {
    val cols = Seq("q" -> "l_quantity", "e" -> "l_extendedprice",
      "d" -> "l_discount", "t" -> "l_tax")
    val keys = cols.map(_._1)
    val byKey = cols.toMap
    val pairs = for (i <- keys.indices; j <- i until keys.length)
      yield (keys(i), keys(j))
    val centsSel = cols.map { case (k, c) =>
      s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT) AS $k" }
      .mkString(",\n    ")
    val sums = (cols.map { case (k, _) =>
      s"SUM(CAST($k AS HUGEINT)) AS s_$k" } ++
      pairs.map { case (a, b) =>
        s"SUM(CAST($a AS HUGEINT) * CAST($b AS HUGEINT)) AS s_$a$b" })
      .mkString(",\n    ")
    def cov(a: String, b: String): String = {
      val key = if (keys.indexOf(a) <= keys.indexOf(b)) s"$a$b" else s"$b$a"
      s"(n * s_$key - s_$a * s_$b)"
    }
    val branches = pairs.map { case (a, b) =>
      s"""SELECT '${byKey(a)}' AS col_x, '${byKey(b)}' AS col_y, n,
         |  CAST(${cov(a, b)} AS DOUBLE) AS cov_cents2,
         |  CAST(CASE WHEN ${cov(a, a)} = 0 OR ${cov(b, b)} = 0 THEN NULL
         |    ELSE FLOOR(10000 * (CAST(${cov(a, b)} AS DOUBLE) /
         |      SQRT(CAST(${cov(a, a)} AS DOUBLE) * CAST(${cov(b, b)} AS DOUBLE))))
         |    END AS BIGINT) AS corr_bp
         |FROM agg""".stripMargin }
    s"""WITH c AS (SELECT
       |    $centsSel
       |  FROM lineitem),
       |agg AS (SELECT COUNT(*) AS n,
       |    $sums
       |  FROM c)
       |""".stripMargin + branches.mkString("\nUNION ALL\n")
  }

  val oracles: Map[String, String] = Map(
    "stats_table_profile" -> tableProfileOracle,
    "stats_corr_matrix" -> corrMatrixOracle,
    "stats_ks_drift" ->
      """WITH pv AS (SELECT event_type AS t, value AS v, COUNT(*) AS c
        |            FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT v, c AS c1 FROM pv WHERE t = 'view'),
        |ty AS (SELECT DISTINCT t FROM pv WHERE t <> 'view'),
        |g1 AS (SELECT ty.t, r.v, r.c1 FROM ty CROSS JOIN r),
        |cm AS (SELECT t, v, c AS c2 FROM pv WHERE t <> 'view'),
        |grid AS (
        |  SELECT COALESCE(g1.t, cm.t) AS t, COALESCE(g1.v, cm.v) AS v,
        |         COALESCE(g1.c1, 0) AS c1, COALESCE(cm.c2, 0) AS c2
        |  FROM g1 FULL OUTER JOIN cm ON g1.t = cm.t AND g1.v = cm.v),
        |cum AS (
        |  SELECT t,
        |    SUM(c1) OVER (PARTITION BY t ORDER BY v) AS rc1,
        |    SUM(c2) OVER (PARTITION BY t ORDER BY v) AS rc2,
        |    SUM(c1) OVER (PARTITION BY t) AS n1,
        |    SUM(c2) OVER (PARTITION BY t) AS n2
        |  FROM grid)
        |SELECT t AS event_type,
        |       CAST(MAX(n1) AS BIGINT) AS n_ref,
        |       CAST(MAX(n2) AS BIGINT) AS n_cmp,
        |       CAST(10000 * MAX(ABS(rc1 * n2 - rc2 * n1))
        |         // (MAX(n1) * MAX(n2)) AS BIGINT) AS d_bp
        |FROM cum GROUP BY t""".stripMargin,
    "graph_linkpred" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 5),
        |e AS (SELECT DISTINCT a.pk AS pu, b.pk AS pv
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT pu AS ctr, pv AS nb FROM e
        |        UNION ALL SELECT pv, pu FROM e),
        |deg AS (SELECT ctr, COUNT(*) AS deg FROM adj GROUP BY ctr),
        |sm AS (SELECT adj.ctr, adj.nb FROM adj JOIN deg USING (ctr)
        |       WHERE deg.deg <= 64),
        |cn AS (SELECT x.nb AS u, y.nb AS v, COUNT(*) AS cn
        |       FROM sm x JOIN sm y ON x.ctr = y.ctr AND x.nb < y.nb
        |       GROUP BY 1, 2),
        |ne AS (SELECT cn.u, cn.v, cn.cn FROM cn LEFT JOIN e
        |       ON cn.u = e.pu AND cn.v = e.pv WHERE e.pu IS NULL)
        |SELECT ne.u, ne.v, CAST(ne.cn AS BIGINT) AS cn,
        |  CAST(10000 * ne.cn // (du.deg + dv.deg - ne.cn) AS BIGINT)
        |    AS jac_bp
        |FROM ne JOIN deg du ON ne.u = du.ctr
        |        JOIN deg dv ON ne.v = dv.ctr
        |ORDER BY jac_bp DESC, ne.cn DESC, ne.u ASC, ne.v ASC
        |LIMIT 100""".stripMargin,
    "q79_apriori" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS oid, p_brand AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT COUNT(DISTINCT oid) AS nb FROM b),
        |l1 AS (SELECT item, COUNT(*) AS sup FROM b GROUP BY 1
        |       HAVING COUNT(*) * 10000 >= 10 * (SELECT nb FROM nb)),
        |bf AS (SELECT * FROM b WHERE item IN (SELECT item FROM l1)),
        |p2 AS (SELECT a.oid, a.item AS x, c.item AS y
        |       FROM bf a JOIN bf c
        |         ON a.oid = c.oid AND a.item < c.item),
        |l2 AS (SELECT x, y, COUNT(*) AS sup FROM p2 GROUP BY 1, 2
        |       HAVING COUNT(*) * 10000 >= 10 * (SELECT nb FROM nb)),
        |fp2 AS (SELECT p2.* FROM p2
        |        WHERE EXISTS (SELECT 1 FROM l2
        |                      WHERE l2.x = p2.x AND l2.y = p2.y)),
        |tri AS (SELECT fp2.oid, fp2.x, fp2.y, e.item AS z
        |        FROM fp2 JOIN bf e
        |          ON fp2.oid = e.oid AND e.item > fp2.y),
        |cand AS (SELECT * FROM tri
        |         WHERE EXISTS (SELECT 1 FROM l2
        |                       WHERE l2.x = tri.x AND l2.y = tri.z)
        |           AND EXISTS (SELECT 1 FROM l2
        |                       WHERE l2.x = tri.y AND l2.y = tri.z)),
        |l3 AS (SELECT x, y, z, COUNT(*) AS sup FROM cand GROUP BY 1, 2, 3
        |       HAVING COUNT(*) * 10000 >= 10 * (SELECT nb FROM nb))
        |SELECT CAST(1 AS INTEGER) AS level, item AS itemset, sup FROM l1
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), x || ',' || y, sup FROM l2
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), x || ',' || y || ',' || z, sup
        |FROM l3""".stripMargin,
    "dq_constraints" ->
      """WITH li AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |        THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |        THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        |    CAST(SUM(CASE WHEN l_returnflag IS NULL
        |             OR l_returnflag NOT IN ('A', 'N', 'R')
        |        THEN 1 ELSE 0 END) AS BIGINT) AS v_rf,
        |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_sd,
        |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS v_uni
        |  FROM lineitem),
        |o AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL
        |             OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
        |        THEN 1 ELSE 0 END) AS BIGINT) AS v_pri,
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_od,
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL
        |             OR o_orderstatus NOT IN ('O', 'F', 'P')
        |        THEN 1 ELSE 0 END) AS BIGINT) AS v_st,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uni
        |  FROM orders),
        |e AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts,
        |    CAST(SUM(CASE WHEN value IS NULL OR isnan(value)
        |        THEN 1 ELSE 0 END) AS BIGINT) AS v_val
        |  FROM events),
        |d AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_txt,
        |    CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_lang
        |  FROM documents),
        |ric AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS violations
        |  FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer)
        |    ON o_custkey = c_custkey),
        |rio AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS violations
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders)
        |    ON l_orderkey = o_orderkey)
        |SELECT 'lineitem' AS tbl, chk, violations, total FROM (
        |  SELECT 'range_discount' AS chk, v_disc AS violations, total
        |    FROM li
        |  UNION ALL SELECT 'range_quantity', v_qty, total FROM li
        |  UNION ALL SELECT 'accepted_returnflag', v_rf, total FROM li
        |  UNION ALL SELECT 'completeness_shipdate', v_sd, total FROM li
        |  UNION ALL SELECT 'unique_line', v_uni, total FROM li)
        |UNION ALL
        |SELECT 'orders', chk, violations, total FROM (
        |  SELECT 'accepted_priority' AS chk, v_pri AS violations, total
        |    FROM o
        |  UNION ALL SELECT 'completeness_orderdate', v_od, total FROM o
        |  UNION ALL SELECT 'accepted_status', v_st, total FROM o
        |  UNION ALL SELECT 'unique_orderkey', v_uni, total FROM o)
        |UNION ALL
        |SELECT 'events', chk, violations, total FROM (
        |  SELECT 'completeness_ts' AS chk, v_ts AS violations, total FROM e
        |  UNION ALL SELECT 'completeness_value', v_val, total FROM e)
        |UNION ALL
        |SELECT 'documents', chk, violations, total FROM (
        |  SELECT 'completeness_text' AS chk, v_txt AS violations, total
        |    FROM d
        |  UNION ALL SELECT 'completeness_lang', v_lang, total FROM d)
        |UNION ALL
        |SELECT 'orders', 'ri_custkey', violations, total FROM ric
        |UNION ALL
        |SELECT 'lineitem', 'ri_orderkey', violations, total FROM rio""".stripMargin,
    "graph_pagerank" -> pagerankOracle,
    "graph_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 5),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |o2 AS (SELECT o.s, o.t, d.d AS dt FROM o JOIN deg d ON d.n = o.t),
        |w AS (SELECT a.s AS x, a.t AS y, b.t AS z
        |  FROM o2 a JOIN o2 b ON a.s = b.s AND (a.dt, a.t) < (b.dt, b.t)),
        |tri AS (SELECT x, y, z FROM w JOIN o ON o.s = w.y AND o.t = w.z)
        |SELECT node, COUNT(*) AS n_triangles FROM (
        |  SELECT unnest([x, y, z]) AS node FROM tri)
        |GROUP BY node""".stripMargin,
    "q35_topk_agg" -> RelationalQueries.oracles("q9_rank_orders_per_customer"),
    "q41_asof_custom" -> RelationalQueries.oracles("q33_asof_last_click"),
    "q44_smj_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q45_shuffle_hash_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q48_salted_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q43_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 10""".stripMargin,
    "q42_math_null_funcs" ->
      """SELECT c_custkey,
        |  ABS(c_acctbal) AS abs_bal,
        |  CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
        |  CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
        |  CAST(SIGN(c_acctbal) AS DOUBLE) AS sign_bal,
        |  SQRT(ABS(c_acctbal)) AS sqrt_bal,
        |  c_custkey % 7 AS mod7,
        |  c_acctbal * c_acctbal AS bal_sq,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(building)') AS seg_masked
        |FROM customer""".stripMargin,
    "q62_bitmap_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q67_compact_latest" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS us, value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin,
    "q66_outer_explode" ->
      """SELECT doc_id,
        |  CAST(COALESCE(len(list_filter(string_split(text, ' '),
        |    x -> x <> '')), 0) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "q65_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q64_histogram" ->
      """SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000
        |    AS bucket,
        |  COUNT(*) AS n_orders,
        |  MIN(o_totalprice) AS lo,
        |  MAX(o_totalprice) AS hi
        |FROM orders GROUP BY 1""".stripMargin,
    "q36_range_join" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) >= epoch_us(a.ts)
        | AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
        | AND (epoch_us(b.ts) > epoch_us(a.ts) OR b.event_id > a.event_id)""".stripMargin,
    "q38_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  quantile_cont(l_quantity, 0.99) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q39_array_agg" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |  COUNT(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q40_map_funcs" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o
        |FROM orders GROUP BY o_orderpriority""".stripMargin)
}
