package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-artifact line contract whose violation killed the
  * round-6 gating record: the driver tail-captures stdout, so the FINAL
  * line must be the compact `"metric":"total"` summary with a size that
  * does not grow with the query count (round 6 embedded the ~4 KB
  * per-query map there and the truncated-from-the-front capture lost
  * the parseable head). Pure-function test — no SparkSession. */
class BenchFormatSpec extends AnyFunSuite with TempDirs {

  private val manyQueries =
    (1 to 500).map(i => s"q$i" -> i * 0.01).toMap

  private def lines(results: Map[String, Double],
      bwStart: Double = 0.025, bwEnd: Double = 0.025) =
    Bench.summaryLines(results, "/data/sf0.1",
      calibStart = 0.30, calibEnd = 0.31,
      calibIoStart = 0.20, calibIoEnd = 0.15, quietCalib = 0.30,
      calibBwStart = bwStart, calibBwEnd = bwEnd)

  test("final line is the total, compact, and bounded regardless of query count") {
    val Seq(detail, total) = lines(manyQueries)
    assert(total.startsWith("""{"metric":"total","value":"""))
    assert(!total.contains("\"queries\""),
      "per-query map leaked back into the final line (round-6 regression)")
    // bounded: scalars only — far under any plausible tail-capture window
    assert(total.length < 512, s"final line ${total.length}B")
    // the detail line carries the full map and comes FIRST
    assert(detail.startsWith("""{"metric":"queries""""))
    assert(detail.contains("\"q500\":"))
    Seq("value_normalized", "load_factor", "calib_start", "calib_end",
      "calib_io_start", "calib_io_end", "nqueries", "steal_pct").foreach(k =>
      assert(total.contains(s"\"$k\":"), s"missing $k"))
    // records of every vintage parse alike: the detail line still
    // carries an empty `unmeasured` list, the total line no wait tail
    assert(detail.contains("\"unmeasured\":[]"))
    assert(!total.contains("wait_expired") && !total.contains("unmeasured"))
  }

  test("per-query brackets land in the DETAIL line; total stays bounded") {
    val brs = manyQueries.map { case (k, _) => k -> (25.0, 26.0, 0L) }
    val Seq(detail, total) = Bench.summaryLines(manyQueries, "sf",
      0.30, 0.31, 0.2, 0.15, 0.30, brackets = brs)
    assert(detail.contains("\"bw_brackets\":"))
    assert(detail.contains("\"q500\":[25.0,26.0,0]"))
    assert(!total.contains("bw_brackets"),
      "per-query brackets must never grow the tail-captured final line")
    assert(total.length < 512, s"final line ${total.length}B")
  }

  test("self_qualified mirrors the bracket gates: true only when every gate passes") {
    def sq(s: String): Boolean =
      """"self_qualified":(true|false)""".r
        .findFirstMatchIn(s).get.group(1).toBoolean
    val base = Map("a" -> 1.0)
    assert(sq(lines(base)(1)), "clean run must self-qualify")
    assert(!sq(lines(base, bwEnd = 0.062)(1)), "hot bw bracket")
    assert(!sq(lines(base, bwStart = -1.0)(1)), "missing bracket")
    assert(!sq(Bench.summaryLines(base, "sf", 0.45, 0.44, 0.2, 0.15,
      0.30, calibBwStart = 0.025, calibBwEnd = 0.025)(1)), "hot lf")
    assert(!sq(Bench.summaryLines(base, "sf", 0.30, 0.31, 0.2, 0.15,
      0.30, stealPct = 0.05, calibBwStart = 0.025,
      calibBwEnd = 0.025)(1)), "hypervisor steal")
    assert(!sq(Bench.summaryLines(base, "sf", 0.30, 0.31, 0.2, 0.15,
      0.30, errors = Map("b" -> "X"), calibBwStart = 0.025,
      calibBwEnd = 0.025)(1)), "thrown query")
  }

  test("steal_pct is carried through and defaults to -1 (unreadable)") {
    val base = Map("a" -> 1.0)
    assert(lines(base)(1).contains("\"steal_pct\":-1.0"))
    val withSteal = Bench.summaryLines(base, "sf", 0.30, 0.31, 0.2, 0.15,
      0.30, Map.empty, stealPct = 0.0123)(1)
    assert(withSteal.contains("\"steal_pct\":0.0123"))
  }

  test("normalization only corrects when BOTH probes are inflated; failed probes leave raw") {
    def totalOf(s: String): Double =
      """"value":([0-9.E-]+)""".r.findFirstMatchIn(s).get.group(1).toDouble
    def normOf(s: String): Double =
      """"value_normalized":([0-9.E-]+)""".r
        .findFirstMatchIn(s).get.group(1).toDouble
    val base = Map("a" -> 6.0, "b" -> 4.0)
    // quiet box: raw == normalized
    val quiet = lines(base)(1)
    assert(totalOf(quiet) == 10.0 && normOf(quiet) == 10.0)
    // both probes 2x inflated -> normalized halves, raw untouched
    val hot = Bench.summaryLines(base, "sf", 0.60, 0.62, 0.2, 0.2, 0.30)(1)
    assert(totalOf(hot) == 10.0)
    assert(math.abs(normOf(hot) - 5.0) < 0.2)
    // one quiet probe -> min-of-probes says quiet stretches existed: raw stands
    val mixed = Bench.summaryLines(base, "sf", 0.60, 0.29, 0.2, 0.2, 0.30)(1)
    assert(normOf(mixed) == 10.0)
    // failed probe (-1) -> no correction
    val failed = Bench.summaryLines(base, "sf", -1.0, 0.60, 0.2, 0.2, 0.30)(1)
    assert(normOf(failed) == 10.0)
  }

  // ---- negative controls: the QUALIFICATION TOOLING itself ----
  // benchcheck.py is the gate that keeps contended runs from becoming
  // "records"; if a refactor defanged one of its rejection paths, the
  // next hostile-box run would sail through silently. Crafted synthetic
  // records pin each path (exit code AND the named reason).

  // These controls shell out to python3 (and, inside the tools, to git
  // from the repo root). On a box without the tooling the suite should
  // DEGRADE to canceled tests, not fail — hence the assume() guard.
  private lazy val python3Available: Boolean =
    try {
      import scala.sys.process._
      Process(Seq("python3", "--version")).!(ProcessLogger(_ => ())) == 0
    } catch { case scala.util.control.NonFatal(_) => false }

  // POLICY COUPLING, deliberate: the 'faithful record QUALIFIES' test
  // reads tools/bench_reference.json, so a commit that adds/renames a
  // registry query without updating the reference table IN THE SAME
  // COMMIT fails here — that is benchcheck's update-in-same-commit rule
  // (its docstring) enforced at unit-test time rather than discovered at
  // record-qualification time.
  private lazy val refQueries: Map[String, Double] = {
    val text = scala.io.Source.fromFile("tools/bench_reference.json")
      .mkString
    val body = text.substring(text.indexOf("\"queries\""))
    """"([^"]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Write a synthetic record and run tools/benchcheck.py over it. */
  private def benchcheck(recordLines: Seq[String]): (Int, String) = {
    assume(python3Available, "python3 not on PATH")
    val f = tempDir("graft-benchcheck")
      .resolve("BENCH_synthetic.json") // NOT BENCH_LAST: skip git paths
    java.nio.file.Files.writeString(f,
      recordLines.mkString("\n") + "\n")
    val out = new StringBuilder
    import scala.sys.process._
    val logger = ProcessLogger(l => { out.append(l).append('\n'); () })
    val code = Process(Seq("python3", "tools/benchcheck.py", f.toString),
      new java.io.File(".")).!(logger)
    (code, out.toString)
  }

  test("benchcheck: a faithful quiet full-registry record QUALIFIES") {
    assert(refQueries.size > 100, "reference parse failed")
    val (code, out) = benchcheck(lines(refQueries))
    assert(code == 0 && out.contains("QUALIFIED"), out)
  }

  test("benchcheck rejects steal_pct above the hypervisor gate") {
    val (code, out) = benchcheck(Bench.summaryLines(refQueries, "sf",
      0.30, 0.31, 0.2, 0.15, 0.30, Map.empty, stealPct = 0.05))
    assert(code != 0 && out.contains("steal_pct"), out)
  }

  test("benchcheck rejects a CPU-contended load factor") {
    val (code, out) = benchcheck(Bench.summaryLines(refQueries, "sf",
      0.45, 0.44, 0.2, 0.15, 0.30))
    assert(code != 0 && out.contains("load_factor"), out)
  }

  test("benchcheck rejects a bandwidth-poisoned or bracket-less record") {
    // co-tenant resident at either bracket (round-13 driver run read
    // calib_bw 62-64 ms against the 40 ms cap with lf 1.048 "quiet")
    val (c1, o1) = benchcheck(lines(refQueries, bwEnd = 0.062))
    assert(c1 != 0 && o1.contains("calib_bw_end"), o1)
    val (c2, o2) = benchcheck(lines(refQueries, bwStart = 0.055))
    assert(c2 != 0 && o2.contains("calib_bw_start"), o2)
    // a record with no bracket at all cannot qualify — it must carry
    // its own bandwidth evidence
    val (c3, o3) = benchcheck(lines(refQueries, bwStart = -1, bwEnd = -1))
    assert(c3 != 0 && o3.contains("bandwidth bracket"), o3)
  }

  test("benchcheck rejects the mid-suite contention signature (>5 inflated)") {
    val inflated = refQueries ++ refQueries.toSeq.sortBy(-_._2).take(6)
      .map { case (k, v) => k -> (v * 3 + 0.5) }
    val (code, out) = benchcheck(lines(inflated))
    assert(code != 0 && out.contains("contention signature"), out)
  }

  test("benchcheck rejects reference drift in BOTH directions") {
    // record subset -> stale reference entries must fail the run
    val (c1, o1) = benchcheck(lines(refQueries.drop(3)))
    assert(c1 != 0 && o1.contains("stale reference"), o1)
    // unknown query -> absent from reference must fail the run
    val (c2, o2) = benchcheck(lines(refQueries + ("q_fake_new" -> 0.2)))
    assert(c2 != 0 && o2.contains("absent from reference"), o2)
  }

  test("benchcheck rejects records with thrown queries or no total line") {
    val (c1, o1) = benchcheck(Bench.summaryLines(refQueries, "sf",
      0.30, 0.31, 0.2, 0.15, 0.30,
      errors = Map("q_broken" -> "AnalysisException")))
    assert(c1 != 0 && o1.contains("THREW"), o1)
    val detailOnly = lines(refQueries).take(1)
    val (c2, o2) = benchcheck(detailOnly)
    assert(c2 != 0 && o2.contains("no metric=total"), o2)
  }

  test("benchcheck without a record path prints its usage and exits 2") {
    // run bare it used to check the committed BENCH_LAST.json, which
    // read like a verdict on the run Bench had just written
    assume(python3Available, "python3 not on PATH")
    val out = new StringBuilder
    import scala.sys.process._
    val code = Process(Seq("python3", "tools/benchcheck.py"),
      new java.io.File(".")).!(ProcessLogger(l => { out.append(l); () }))
    assert(code == 2, out)
    assert(out.toString.contains("usage") &&
      out.toString.contains("BENCH_LAST_ATTEMPT.json"), out)
  }

  // ---- benchcheck verdict stamping (round-16 verdict #5) ----

  test("benchcheck stamps qualified into the artifact and round-trips it") {
    assume(python3Available, "python3 not on PATH")
    def run(recordLines: Seq[String]): (Int, String, java.nio.file.Path) = {
      val f = tempDir("graft-stampcheck")
        .resolve("BENCH_synthetic.json")
      java.nio.file.Files.writeString(f, recordLines.mkString("\n") + "\n")
      val out = new StringBuilder
      import scala.sys.process._
      val logger = ProcessLogger(l => { out.append(l).append('\n'); () })
      val code = Process(
        Seq("python3", "tools/benchcheck.py", f.toString),
        new java.io.File(".")).!(logger)
      (code, out.toString, f)
    }
    // refused record: the file itself must now say so
    val (c1, _, f1) = run(lines(refQueries, bwEnd = 0.062))
    assert(c1 != 0)
    val body1 = java.nio.file.Files.readString(f1)
    assert(body1.contains("\"qualified\": false")
      || body1.contains("\"qualified\":false"), body1.takeRight(400))
    // qualifying record stamps true, and re-running on the stamped
    // file round-trips (same verdict, file still parses)
    val (c2, _, f2) = run(lines(refQueries))
    assert(c2 == 0)
    val body2 = java.nio.file.Files.readString(f2)
    assert(body2.contains("\"qualified\":true"), body2.takeRight(400))
    import scala.sys.process._
    val rerun = Process(Seq("python3", "tools/benchcheck.py",
      f2.toString), new java.io.File(".")).!(ProcessLogger(_ => ()))
    assert(rerun == 0, "stamped artifact must re-qualify identically")
  }
}
