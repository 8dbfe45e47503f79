package graft.tools

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}

/** Deterministic synthetic-data generator for scale testing (SCALE.md).
  *
  * Reproduces the fixture schema from TESTDATA.md (`region nation customer
  * supplier part orders lineitem events documents embeddings`) at any scale
  * factor, with the same value distributions the driver fixtures show at
  * sf0.001–sf0.1 (measured: per-order line fanout ≈ Poisson(4) conditioned
  * ≥ 1, event values ≈ Exp(mean 50), 30-word document vocabulary with 5%
  * planted near-duplicate docs, unit-normalized 64-dim gaussian embeddings,
  * NTZ microsecond timestamps).
  *
  * Scale design: every row is a PURE FUNCTION of (table, row id) through a
  * counter-based splitmix64 stream — no sequential dependency, no driver
  * state, no shuffle during generation (lineitem derives from orders by a
  * flatMap on the order row, so line counts and order attributes agree
  * without a join). The same code generates 100 TB on a cluster by raising
  * `sf` and `filesPerTable`; rows are identical regardless of partitioning.
  *
  * Usage: GenData <outDir> [sf=1.0] [filesPerTable=16]
  * With filesPerTable=1 each table lands as a single bare
  * `<outDir>/<name>.parquet` FILE (the exact fixture layout); otherwise a
  * DIRECTORY of at most filesPerTable part files, clamped per table to
  * ~>=10k rows/file so small dims stay single-file. Multi-file is the
  * default and the honest scale shape: a single 100 MB parquet file is
  * ONE Spark scan task, which serializes every downstream map-side
  * pipeline and makes trivially-linear queries read as superlinear
  * (measured at sf1: wordcount 6.2 s single-file vs the multi-file
  * parallel scan; at 100 TB data is always many files).
  * tools/check.py handles both layouts (bare file or directory).
  *
  * Never writes to /root/testdata — scale runs target /tmp (e.g. /tmp/sf1).
  */
object GenData {

  /** Counter-based splitmix64 stream; seed mixed from (42, table, id). */
  final class Rand(seed0: Long) {
    private var s: Long = seed0
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def nextGaussian(): Double = {
      val u1 = nextDouble(); val u2 = nextDouble()
      math.sqrt(-2.0 * math.log1p(-u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def rand(table: Int, id: Long): Rand = new Rand(mix(mix(42L + table) ^ id))

  private def round2(x: Double): Double = math.rint(x * 100.0) / 100.0

  // Poisson(4) conditioned >= 1 (fixture: P(1 line) = 0.0747 =
  // e^-4·4/(1-e^-4)); Knuth sampling, bounded retries.
  private def lineFanout(r: Rand): Int = {
    val L = math.exp(-4.0)
    var k = 0
    while (k == 0) {
      var kk = 0; var p = 1.0
      while (p > L) { kk += 1; p *= r.nextDouble() }
      k = kk - 1
    }
    k
  }

  // ---- row types (schemas match the fixture parquet exactly) ----
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String,
      c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String,
      s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double,
      o_orderdate: LocalDateTime, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: LocalDateTime)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  private val regions =
    Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Array(
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val adjs = Array(
    "blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Array(
    "anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val ptypes = Array(
    "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val etypes = Array("click", "error", "purchase", "signup", "view")
  private val langs = Array("es", "zh", "de", "fr") // en handled separately
  private val vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Table sizes at a given sf — the fixture's observed scaling laws. */
  final case class Sizes(sf: Double) {
    val nCust: Long = math.round(150000L * sf)
    val nSupp: Long = math.round(10000L * sf)
    val nPart: Long = math.round(200000L * sf)
    val nOrders: Long = math.round(1500000L * sf)
    val nEvents: Long = math.round(1000000L * sf)
    val nUsers: Long = math.max(1L, nCust / 10) // fixture: 1500 users at sf0.1
    val nDocs: Long = math.round(50000L * sf)
    // embeddings grow sub-linearly in the fixtures (500 at sf≤0.01,
    // 2000 at sf0.1); continue the sf0.1 line: 20000·sf, floored at 500
    val nEmb: Long = math.max(500L, math.round(20000L * sf))
  }

  // ---- per-row generators (pure in (table-salt, id)) ----
  def customer(id: Long, sz: Sizes): Customer = {
    val r = rand(3, id)
    Customer(id, f"Customer#$id%09d", r.nextInt(25),
      round2(-1000.0 + r.nextDouble() * 11000.0), segments(r.nextInt(5)))
  }
  def supplier(id: Long): Supplier = {
    val r = rand(4, id)
    Supplier(id, f"Supplier#$id%09d", r.nextInt(25),
      round2(-1000.0 + r.nextDouble() * 11000.0))
  }
  def part(id: Long): Part = {
    val r = rand(5, id)
    Part(id, adjs(r.nextInt(8)) + " " + nouns(r.nextInt(8)),
      "Brand#" + (1 + r.nextInt(25)), ptypes(r.nextInt(6)),
      1 + r.nextInt(50), 900.0 + (id % 1000) * 0.1)
  }
  def order(id: Long, sz: Sizes): Order = {
    val r = rand(6, id)
    val status = "FOP".charAt(r.nextInt(3)).toString
    Order(id, r.nextInt(sz.nCust.toInt).toLong, status,
      round2(1000.0 + r.nextDouble() * 499000.0),
      LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(r.nextInt(2405).toLong),
      priorities(r.nextInt(5)))
  }
  def lines(o: Order, sz: Sizes): Seq[Lineitem] = {
    val r = rand(7, o.o_orderkey)
    (1 to lineFanout(r)).map { ln =>
      Lineitem(o.o_orderkey, r.nextInt(sz.nPart.toInt).toLong,
        r.nextInt(sz.nSupp.toInt).toLong, ln, (1 + r.nextInt(50)).toDouble,
        round2(900.0 + r.nextDouble() * 104100.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".charAt(r.nextInt(3)).toString,
        "FO".charAt(r.nextInt(2)).toString,
        o.o_orderdate.plusDays((1 + r.nextInt(95)).toLong))
    }
  }
  def event(id: Long, sz: Sizes): Event = {
    val r = rand(8, id)
    val us = (r.nextDouble() * 30.0 * 86400.0 * 1e6).toLong
    Event(id, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(us * 1000L),
      r.nextInt(sz.nUsers.toInt).toLong, etypes(r.nextInt(5)),
      math.max(0.01, round2(-50.0 * math.log1p(-r.nextDouble()))),
      s"""{"k": ${r.nextInt(100)}}""")
  }

  /** Base word array of a document — pure in id so that near-dup copies
    * can regenerate their partner's words without a join. */
  private def baseWords(id: Long): Array[String] = {
    val r = rand(9, id)
    Array.fill(8 + r.nextInt(103))(vocab(r.nextInt(30)))
  }
  private def isDupDoc(id: Long): Boolean = id % 20 == 13 && id >= 20
  def doc(id: Long): Doc = {
    val r = rand(10, id)
    val words =
      if (!isDupDoc(id)) baseWords(id)
      else {
        // partner must be a base doc of >= 60 words so the planted pair's
        // 3-shingle jaccard stays >= ~0.90 — the fixture's measured pair
        // range (0.9-0.99), where banded-minhash recall is certain; near-
        // threshold pairs (j in 0.8-0.9 from short docs) make LSH recall
        // probabilistic and broke the generated-data gate at sf0.01
        var partner = id - 1 - r.nextInt(math.min(id, 1000L).toInt)
        while (isDupDoc(partner) || baseWords(partner).length < 60)
          partner = if (partner > 0) partner - 1 else id - 1
        val w = baseWords(partner).clone()
        w(r.nextInt(w.length)) = "dup" // exactly one substitution
        w
      }
    val text = words.mkString(" ")
    val lang =
      if (r.nextDouble() < 0.42) "en" else langs(r.nextInt(4))
    Doc(id, text, lang, "src" + r.nextInt(20), text.length.toLong)
  }
  def emb(id: Long): Emb = {
    val r = rand(11, id)
    val v = Array.fill(64)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    Emb(id, v.map(x => (x / n).toFloat), r.nextInt(10))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GenData <outDir> [sf] [filesPerTable]")
    val outDir = args(0)
    require(!outDir.startsWith("/root/testdata"),
      "refusing to write into the read-only driver fixtures")
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val filesRequested = if (args.length > 2) args(2).toInt else 16
    val sz = Sizes(sf)

    val spark = graft.LocalSession()
    import spark.implicits._

    def write(df: DataFrame, name: String, sortCols: Seq[String],
        approxRows: Long): Long = {
      // clamp: no point fragmenting small tables (>=10k rows per file)
      val files = math.max(1L, math.min(filesRequested.toLong,
        approxRows / 10000L)).toInt
      // range-partition on the sort key: files carry disjoint key ranges
      // with tight parquet min/max stats (the pruning-friendly layout a
      // production writer produces)
      val keyCols = sortCols.map(org.apache.spark.sql.functions.col)
      val sorted = (if (files == 1) df.repartition(1)
                    else df.repartitionByRange(files, keyCols: _*))
        .sortWithinPartitions(keyCols: _*)
      val tmp = s"$outDir/_tmp_$name"
      sorted.write.mode(SaveMode.Overwrite).parquet(tmp)
      val fs = new java.io.File(tmp)
      val parts = fs.listFiles().filter(_.getName.endsWith(".parquet"))
      val target = new java.io.File(s"$outDir/$name.parquet")
      if (files == 1) {
        // bare single file, the fixture layout
        if (target.exists()) {
          if (target.isDirectory)
            target.listFiles().foreach(_.delete())
          target.delete()
        }
        parts.head.renameTo(target)
        fs.listFiles().foreach(_.delete()); fs.delete()
      } else {
        if (target.exists() && target.isDirectory)
          target.listFiles().foreach(_.delete())
        target.delete(); target.mkdirs()
        parts.zipWithIndex.foreach { case (p, i) =>
          p.renameTo(new java.io.File(target, f"part-$i%05d.parquet"))
        }
        fs.listFiles().foreach(_.delete()); fs.delete()
      }
      spark.read.parquet(target.getPath).count()
    }

    new java.io.File(outDir).mkdirs()
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()

    counts("region") = write(
      regions.zipWithIndex.map { case (n, i) => Region(i, n) }.toSeq.toDF(),
      "region", Seq("r_regionkey"), 5L)
    counts("nation") = write(
      (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDF(),
      "nation", Seq("n_nationkey"), 25L)
    counts("customer") = write(
      spark.range(sz.nCust).map(customer(_, sz)).toDF(),
      "customer", Seq("c_custkey"), sz.nCust)
    counts("supplier") = write(
      spark.range(sz.nSupp).map(supplier(_)).toDF(),
      "supplier", Seq("s_suppkey"), sz.nSupp)
    counts("part") = write(
      spark.range(sz.nPart).map(part(_)).toDF(), "part", Seq("p_partkey"),
      sz.nPart)
    val ordersDs: Dataset[Order] = spark.range(sz.nOrders).map(order(_, sz))
    counts("orders") = write(ordersDs.toDF(), "orders", Seq("o_orderkey"),
      sz.nOrders)
    counts("lineitem") = write(
      ordersDs.flatMap(lines(_, sz)).toDF(),
      "lineitem", Seq("l_orderkey", "l_linenumber"), sz.nOrders * 4)
    counts("events") = write(
      spark.range(sz.nEvents).map(event(_, sz)).toDF(),
      "events", Seq("event_id"), sz.nEvents)
    counts("documents") = write(
      spark.range(sz.nDocs).map(doc(_)).toDF(), "documents", Seq("doc_id"),
      sz.nDocs)
    counts("embeddings") = write(
      spark.range(sz.nEmb).map(emb(_)).toDF(), "embeddings", Seq("vec_id"),
      sz.nEmb)

    println(counts.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", s""", "sf": $sf, "dir": "$outDir"}"""))
    spark.stop()
  }
}
