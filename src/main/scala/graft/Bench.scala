package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // warmup: absorb session/JIT/codegen/file-index cold-start so the
    // first timed query isn't charged for it
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // Fixed CPU-bound probe run before and after the suite: a load
    // calibration for the box the bench happens to run on. Quiet-box
    // reference is ~0.27 s at 32 threads (see BENCH.md); if calib comes
    // back inflated k×, the whole suite ran under ~k× CPU contention and
    // the total should be read against that, not against quiet numbers.
    def calib(): Double = {
      val t0 = System.nanoTime()
      // pmod keeps the running sum bounded (67M × 1e9 << Long.Max) — a
      // raw sum(xxhash64) overflows under ANSI mode and kills the run.
      // A failing probe must not lose the whole bench (that's exactly
      // the overloaded-box case it exists to measure) — report -1.
      try spark.range(1L << 26)
        .selectExpr("sum(pmod(xxhash64(id), 1000000000)) AS s").collect()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // IO-bound probe: a full lineitem scan-count — catches page-cache /
    // disk contention the CPU probe can't see (observed: a bench run
    // right after the test suite shows quiet CPU calib yet ~25% slower
    // scans across the board)
    def calibIo(): Double = {
      val t0 = System.nanoTime()
      try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // Memory-BANDWIDTH probe: stream a cache-defeating 256 MB array
    // twice. The roaming co-tenant saturates the memory controllers
    // while the CPU and IO probes read calm (round-13: a full sf1 run
    // read lf 0.92 with 39 queries 2-19x inflated, and only a
    // bandwidth probe saw it — ~25 ms quiet, 45-1000+ ms co-tenant at
    // 1 GB/s-scale theft). Recording it in the artifact lets a reader
    // attribute inflated per-query levels to bandwidth theft without a
    // side-channel log.
    // The buffer is allocated per probe and dropped right after: a
    // permanently-resident 256 MB array would add old-gen pressure to
    // the same JVM being measured, and all pre-round-13 floors were
    // settled without it. Allocation + the untimed first-touch pass
    // happen inside the call, outside the timed section.
    def calibBw(): Double = {
      // same failure discipline as calib()/calibIo(): a 256 MB
      // allocation failing in the END bracket (heap-pressured, after
      // the suite) must record -1, not throw away the run's artifact
      try {
        val bwBuf = new Array[Long](32 * 1024 * 1024)
        var warm = 0L
        var j = 0
        while (j < bwBuf.length) { warm += bwBuf(j); j += 1 } // page-in, untimed
        val t0 = System.nanoTime()
        var acc = warm
        var r = 0
        while (r < 2) {
          var i = 0
          while (i < bwBuf.length) { acc += bwBuf(i); i += 1 }
          r += 1
        }
        if (acc == 42L) println("") // defeat dead-code elimination
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
    calib() // untimed: absorb the probe's own codegen so start/end compare
    calibIo()
    calibBw() // untimed: absorb the probe's own codegen
    // locale-safe ms formatting (advisor round-15: the f interpolator
    // is locale-sensitive — a comma-decimal JVM default would emit
    // unparseable JSON in the one artifact whose job is being parsed)
    def ms1(s: Double): Double = math.round(s * 10000) / 10.0
    val calibStart = calib()
    val calibIoStart = calibIo()
    val calibBwStart = calibBw()
    val statStart = procStatCpu()
    // A thrown query must be VISIBLE in the artifact, not recorded as a
    // fast run: round 7 logged 16 analysis-broken queries as ~0.06 s
    // timings and the headline total silently claimed they executed.
    val errors = scala.collection.mutable.Map.empty[String, String]
    // Per-query brackets (round 16): a bandwidth probe + /proc/stat
    // steal reading at every query BOUNDARY, recorded in the detail
    // line as {"q":[bw_pre_ms,bw_post_ms,steal_ticks]}. Three sessions
    // of probe logs show the co-tenant leaves ~15 s gaps but never a
    // suite-length window — per-query brackets make each query's
    // measurement self-attributing (a poisoned record shows WHICH
    // queries the thief inflated). Probes are untimed (outside t0..t),
    // so per-query timings and the total are unaffected; the boundary
    // probe after query i doubles as the pre-probe of query i+1.
    def stealNow(): Long = procStatCpu().map(_._1).getOrElse(-1L)
    val brackets =
      scala.collection.mutable.Map.empty[String, (Double, Double, Long)]
    var bwPrev = calibBwStart
    var stealPrev = stealNow()
    val results: Map[String, Double] = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          errors(name) = e.getClass.getSimpleName
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      // Per-query isolation: drop the finished query's localCheckpoint
      // blocks NOW instead of waiting for a major GC to let the
      // ContextCleaner find them. Left to accumulate, the suite's
      // checkpoint blocks (dedup/graph/curation index builds) fill the
      // unified memory manager's storage side and squeeze execution
      // memory for every LATER query — measured at sf1 (round 10):
      // queries late in the map order ran 10-46x their solo time
      // (sim_nn_cross_label 163 s vs 7 s alone) purely from this
      // pressure. Safe across queries: nothing shares live DataFrames
      // between registry entries (cross-query caches hold driver values
      // and on-disk index paths only). Untimed — harness hygiene, not
      // query work.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val bwPost = calibBw()
      val stealPost = stealNow()
      val stealDelta =
        if (stealPrev >= 0 && stealPost >= 0) stealPost - stealPrev
        else -1L
      brackets(name) = (ms1(bwPrev), ms1(bwPost), stealDelta)
      bwPrev = bwPost
      stealPrev = stealPost
      name -> t
    }
    val calibEnd = calib()
    val calibIoEnd = calibIo()
    val calibBwEnd = calibBw()
    val statEnd = procStatCpu()
    // Fraction of the guest's CPU-time the hypervisor stole DURING the
    // suite. The bracket probes can't see roaming host contention (two
    // same-day sf1 runs read ~840 s with lf ≤ 1.03 and DISJOINT sets of
    // 5-23× inflated queries — the steal window moved); /proc/stat's
    // steal counter is cumulative, so its delta over the run is a
    // direct, zero-cost measure of exactly that. -1 = unreadable.
    val stealPct = (statStart, statEnd) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        (s1 - s0).toDouble / (t1 - t0).toDouble
      case _ => -1.0
    }
    val quietCalib = sys.env.get("SPARK_GRAFT_QUIET_CALIB")
      .flatMap(_.toDoubleOption).filter(_ > 0).getOrElse(0.30)
    val Seq(detailLine, totalLine) = summaryLines(results, sfDir,
      calibStart, calibEnd, calibIoStart, calibIoEnd, quietCalib,
      errors.toMap, stealPct, calibBwStart, calibBwEnd, brackets.toMap)
    println(detailLine)
    println(totalLine)
    // Stdout tail-captures have dropped the (long) per-query line before;
    // persist the full run locally so per-query timings always survive.
    // Path defaults to the invoking directory — never a hard-coded tree.
    // The default is BENCH_LAST_ATTEMPT.json (gitignored): BENCH_LAST.json
    // is the COMMITTED QUALIFIED record, written only on purpose through
    // SPARK_GRAFT_BENCH_OUT — every unqualified run used to land there
    // and dirty the working tree (round-9/10/11 recurring hygiene leak).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST_ATTEMPT.json")),
      detailLine + "\n" + totalLine + "\n")
    // a read-only tree must not fail the run; fatal errors still propagate
    catch { case scala.util.control.NonFatal(_) => }
    spark.stop()
  }

  /** (steal, total) cumulative jiffies from /proc/stat's aggregate cpu
    * line — fields: user nice system idle iowait irq softirq steal ….
    * None when the file is absent/malformed (non-Linux, restricted). */
  private def procStatCpu(): Option[(Long, Long)] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu "))
      line.flatMap { l =>
        val f = l.trim.split("\\s+").drop(1).flatMap(_.toLongOption)
        if (f.length >= 8) Some((f(7), f.sum)) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The two artifact lines, as a pure function so BenchFormatSpec can
    * pin the contract that killed the round-6 record: per-query detail
    * FIRST, then the headline total LAST and COMPACT (scalars only — a
    * bounded size regardless of query count). The driver tail-captures
    * stdout, so an over-long final line is truncated from the FRONT,
    * destroying the `"metric":"total"` head (BENCH_r06.json parsed
    * null).
    *
    * RAW total is the headline number; value_normalized is advisory
    * context only. Contention estimate = min(calibStart, calibEnd): a
    * correction applies ONLY when BOTH probes came back inflated (if
    * either probe saw a quiet box, the suite is presumed to have had
    * quiet stretches and raw stands). This deliberately under-corrects —
    * a one-sided average was observed (round 5) to scale a 62.8 s suite
    * below every quiet-box measurement off a single inflated start
    * probe. `quietCalib` is the settled 32-thread reference (BENCH.md),
    * overridable via SPARK_GRAFT_QUIET_CALIB for other thread counts
    * (parsed defensively — malformed/non-positive falls back to 0.30).
    * A failed probe (-1) leaves the raw total untouched.
    *
    * Failure honesty: each thrown query appears in the detail line's
    * `errors` map (name → exception class) and the total line carries
    * `nfailed`. `tools/benchcheck.py` refuses to qualify any record
    * with nfailed > 0 — a broken query can never pose as a fast one. */
  private[graft] def summaryLines(
      results: Map[String, Double], sfDir: String,
      calibStart: Double, calibEnd: Double,
      calibIoStart: Double, calibIoEnd: Double,
      quietCalib: Double,
      errors: Map[String, String] = Map.empty,
      stealPct: Double = -1.0,
      calibBwStart: Double = -1.0,
      calibBwEnd: Double = -1.0,
      brackets: Map[String, (Double, Double, Long)] = Map.empty): Seq[String] = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sorted
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // per-query brackets live in the DETAIL line (it already grows with
    // the query count); the total line stays compact+bounded
    val brs = brackets.toSeq.sortBy(_._1)
      .map { case (k, (b0, b1, st)) => s"\"" + k + s"""":[$b0,$b1,$st]""" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val probes = Seq(calibStart, calibEnd).filter(_ > 0)
    val loadFactor =
      if (probes.size == 2) probes.min / quietCalib else 1.0
    val normalized = if (loadFactor > 1.0) total / loadFactor else total
    // Self-assessed qualification stamp (round-16 verdict #5): the
    // judge must never be able to misread a bandwidth-poisoned
    // artifact as a measurement. Mirrors benchcheck's bracket gates
    // (lf <= 1.05, steal <= 2%, both bw brackets under the 40 ms
    // absolute cap, zero thrown queries); the reference
    // scan benchcheck additionally runs can only REVOKE a true here,
    // never grant one — so false is authoritative, true is necessary
    // but not sufficient (benchcheck's stamp writes the full verdict)
    val selfQ = errors.isEmpty &&
      loadFactor <= 1.05 && stealPct <= 0.02 &&
      calibBwStart > 0 && calibBwStart <= 0.040 &&
      calibBwEnd > 0 && calibBwEnd <= 0.040
    Seq(
      s"""{"metric":"queries","queries":$qs,"errors":$errs,"bw_brackets":$brs,"unmeasured":[],"sf":"$sfDir"}""",
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","nqueries":${results.size},"nfailed":${errors.size},"value_normalized":$normalized,"load_factor":$loadFactor,"calib_start":$calibStart,"calib_end":$calibEnd,"calib_io_start":$calibIoStart,"calib_io_end":$calibIoEnd,"steal_pct":$stealPct,"calib_bw_start":$calibBwStart,"calib_bw_end":$calibBwEnd,"self_qualified":$selfQ}""")
  }
}
