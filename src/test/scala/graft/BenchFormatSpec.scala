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

  test("wait-each expiry marks unmeasured queries; zero-unmeasured omits the fields") {
    val Seq(detail, total) = Bench.summaryLines(Map("a" -> 1.0), "sf",
      0.30, 0.31, 0.2, 0.15, 0.30, unmeasured = Seq("q_z", "q_y"))
    assert(total.contains("\"wait_expired\":true"))
    assert(total.contains("\"unmeasured_n\":2"))
    assert(detail.contains("\"unmeasured\":[\"q_y\",\"q_z\"]"))
    val Seq(d2, t2) = lines(Map("a" -> 1.0))
    assert(!t2.contains("wait_expired") && d2.contains("\"unmeasured\":[]"))
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
    assert(!sq(Bench.summaryLines(base, "sf", 0.30, 0.31, 0.2, 0.15,
      0.30, calibBwStart = 0.025, calibBwEnd = 0.025,
      unmeasured = Seq("c"))(1)), "unmeasured queries")
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

  // ---- negative controls for the sf1 self-qualification gate ----
  // (quietrun.py check-sf1): the sf1 record qualifies on bracket metrics
  // PLUS a per-query regression scan against the COMMITTED BENCH_sf1.json
  // — the scan is what catches the roaming bandwidth co-tenant the
  // bracket probes are blind to (round 11: lf 1.014 with the dedup
  // family at 3.5-5.1x). Each rejection path gets a crafted record.

  /** HEAD's committed sf1 per-query map (the scan's baseline). */
  private lazy val sf1Committed: Map[String, Double] = {
    import scala.sys.process._
    val out = new StringBuilder
    Process(Seq("git", "show", "HEAD:BENCH_sf1.json"),
      new java.io.File("."))
      .!(ProcessLogger(l => { out.append(l).append('\n'); () }))
    """"([^"]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r
      .findAllMatchIn(out.toString.linesIterator
        .find(_.contains("\"metric\":\"queries\"")).getOrElse(""))
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 > 0).toMap
  }

  private def checkSf1(recordLines: Seq[String]): (Int, String) = {
    assume(python3Available, "python3 not on PATH")
    val f = tempDir("graft-sf1check")
      .resolve("BENCH_sf1_synthetic.json")
    java.nio.file.Files.writeString(f, recordLines.mkString("\n") + "\n")
    val out = new StringBuilder
    import scala.sys.process._
    val logger = ProcessLogger(l => { out.append(l).append('\n'); () })
    val code = Process(
      Seq("python3", "tools/quietrun.py", "check-sf1", f.toString),
      new java.io.File(".")).!(logger)
    (code, out.toString)
  }

  private def sf1Lines(qs: Map[String, Double],
      lf: Double = 1.0, steal: Double = 0.0,
      errors: Map[String, String] = Map.empty,
      bwStart: Double = 0.025, bwEnd: Double = 0.025): Seq[String] =
    Bench.summaryLines(qs, "/tmp/sf1",
      calibStart = 0.30 * lf, calibEnd = 0.30 * lf,
      calibIoStart = 0.2, calibIoEnd = 0.15, quietCalib = 0.30,
      errors = errors, stealPct = steal,
      calibBwStart = bwStart, calibBwEnd = bwEnd)

  test("sf1 gate: a faithful clone of the committed record QUALIFIES") {
    assume(sf1Committed.size > 100, "no committed BENCH_sf1.json to scan")
    val (code, out) = checkSf1(sf1Lines(sf1Committed))
    assert(code == 0 && out.contains("OK"), out)
  }

  test("sf1 gate rejects >5 per-query regressions even with quiet brackets") {
    assume(sf1Committed.size > 100, "no committed BENCH_sf1.json to scan")
    // the round-11 co-tenant signature: lf reads quiet, but 6 queries
    // run >2x their committed level (+0.3s slack cleared via *4)
    val poisoned = sf1Committed ++ sf1Committed.toSeq.sortBy(-_._2).take(6)
      .map { case (k, v) => k -> (v * 4 + 1.0) }
    val (code, out) = checkSf1(sf1Lines(poisoned))
    assert(code != 0 && out.contains("regressions vs committed"), out)
    // exactly 5 regressions is within allowance — must still qualify
    val borderline = sf1Committed ++ sf1Committed.toSeq.sortBy(-_._2)
      .take(5).map { case (k, v) => k -> (v * 4 + 1.0) }
    val (c2, o2) = checkSf1(sf1Lines(borderline))
    assert(c2 == 0, o2)
  }

  test("sf1 gate rejects contended brackets and thrown queries") {
    assume(sf1Committed.size > 100, "no committed BENCH_sf1.json to scan")
    val (c1, o1) = checkSf1(sf1Lines(sf1Committed, lf = 1.2))
    assert(c1 != 0 && o1.contains("REJECT"), o1)
    val (c2, o2) = checkSf1(sf1Lines(sf1Committed, steal = 0.05))
    assert(c2 != 0 && o2.contains("REJECT"), o2)
    val (c3, o3) = checkSf1(sf1Lines(sf1Committed,
      errors = Map("q_broken" -> "AnalysisException")))
    assert(c3 != 0 && o3.contains("REJECT"), o3)
  }

  // ---- negative controls for the merge-sf1 per-run acceptance gate ----
  // (quietrun.py check-merge-accept): a solo-batch run is admitted into
  // the merged sf1 record only if its own brackets are clean AND the
  // post-run probes are calm — floor-relative and under the ABSOLUTE
  // 40 ms bandwidth cap (a polluted session floor must not launder a
  // bandwidth-poisoned level into the committed record).

  private def checkMergeAccept(recordLines: Seq[String],
      postBwMs: Double, bwFloorMs: Double,
      postSpin: Double, spinFloor: Double): (Int, String) = {
    assume(python3Available, "python3 not on PATH")
    val f = tempDir("graft-mergecheck")
      .resolve("subset.json")
    java.nio.file.Files.writeString(f, recordLines.mkString("\n") + "\n")
    val out = new StringBuilder
    import scala.sys.process._
    val logger = ProcessLogger(l => { out.append(l).append('\n'); () })
    val code = Process(
      Seq("python3", "tools/quietrun.py", "check-merge-accept",
        f.toString, postBwMs.toString, bwFloorMs.toString,
        postSpin.toString, spinFloor.toString),
      new java.io.File(".")).!(logger)
    (code, out.toString)
  }

  test("merge gate: clean run + calm probes ACCEPT; each rejection path refuses") {
    val clean = sf1Lines(Map("q_a" -> 1.0, "q_b" -> 2.0))
    // calm: bw 26 ms on a 25 ms floor, spin at floor
    val (c0, o0) = checkMergeAccept(clean, 26, 25, 0.70, 0.70)
    assert(c0 == 0 && o0.contains("ACCEPT"), o0)
    // post-run bandwidth over the ABSOLUTE cap, even with a floor that
    // would make it relatively calm (the polluted-floor laundering path)
    val (c1, o1) = checkMergeAccept(clean, 55, 50, 0.70, 0.70)
    assert(c1 != 0 && o1.contains("REJECT"), o1)
    // floor-relative violation under the absolute cap
    val (c2, o2) = checkMergeAccept(clean, 39, 25, 0.70, 0.70)
    assert(c2 != 0 && o2.contains("REJECT"), o2)
    // contended CPU brackets in the run itself
    val (c3, o3) = checkMergeAccept(
      sf1Lines(Map("q_a" -> 1.0), lf = 1.2), 26, 25, 0.70, 0.70)
    assert(c3 != 0 && o3.contains("REJECT"), o3)
    // a thrown query can never pose as a fast one
    val (c4, o4) = checkMergeAccept(
      sf1Lines(Map("q_a" -> 1.0),
        errors = Map("q_b" -> "AnalysisException")), 26, 25, 0.70, 0.70)
    assert(c4 != 0 && o4.contains("REJECT"), o4)
    // post-run spin probe off its floor (CPU co-tenant arrived mid-run)
    val (c5, o5) = checkMergeAccept(clean, 26, 25, 0.90, 0.70)
    assert(c5 != 0 && o5.contains("REJECT"), o5)
    // the record's OWN in-run bandwidth bracket over the absolute cap:
    // a co-tenant that arrives mid-run and leaves before the post
    // probe is visible only in calib_bw_end (advisor round-13)
    val (c6, o6) = checkMergeAccept(
      sf1Lines(Map("q_a" -> 1.0), bwEnd = 0.062), 26, 25, 0.70, 0.70)
    assert(c6 != 0 && o6.contains("REJECT"), o6)
    // ...or only in calib_bw_start (left before the run's own queries)
    val (c7, o7) = checkMergeAccept(
      sf1Lines(Map("q_a" -> 1.0), bwStart = 0.055), 26, 25, 0.70, 0.70)
    assert(c7 != 0 && o7.contains("REJECT"), o7)
    // a record with no bandwidth bracket at all (failed probe, -1) is
    // refused — an admission needs its own bandwidth evidence
    val (c8, o8) = checkMergeAccept(
      sf1Lines(Map("q_a" -> 1.0), bwStart = -1.0, bwEnd = -1.0),
      26, 25, 0.70, 0.70)
    assert(c8 != 0 && o8.contains("REJECT"), o8)
  }

  // ---- negative controls for the PER-QUERY admission gate ----
  // (quietrun.py check-merge-accept-query, round-16): a refused batch
  // still admits the queries whose OWN boundary brackets are calm —
  // both bandwidth probes under the absolute cap, zero steal, query
  // didn't throw. Each rejection path gets a crafted record.

  private def checkMergeAcceptQuery(recordLines: Seq[String],
      query: String): (Int, String) = {
    assume(python3Available, "python3 not on PATH")
    val f = tempDir("graft-mergeqcheck")
      .resolve("subset.json")
    java.nio.file.Files.writeString(f, recordLines.mkString("\n") + "\n")
    val out = new StringBuilder
    import scala.sys.process._
    val logger = ProcessLogger(l => { out.append(l).append('\n'); () })
    val code = Process(
      Seq("python3", "tools/quietrun.py", "check-merge-accept-query",
        f.toString, query),
      new java.io.File(".")).!(logger)
    (code, out.toString)
  }

  test("per-query gate: calm bracket ACCEPTs even in a batch-refused record; each rejection path refuses") {
    // the record as a whole is bandwidth-poisoned (end bracket 62 ms)
    // but q_calm's own boundary brackets are clean — the round-16
    // micro-window case: a ~15 s calm gap mid-run covered q_calm only
    val rec = Bench.summaryLines(
      Map("q_calm" -> 1.0, "q_hot" -> 2.0, "q_stolen" -> 1.5,
        "q_nopre" -> 0.5),
      "sf", 0.30, 0.31, 0.2, 0.15, 0.30,
      errors = Map("q_thrown" -> "AnalysisException"),
      calibBwStart = 0.025, calibBwEnd = 0.062,
      brackets = Map(
        "q_calm" -> (26.0, 31.0, 0L),    // both under 40 ms, no steal
        "q_hot" -> (26.0, 57.0, 0L),     // co-tenant arrived mid-query
        "q_stolen" -> (26.0, 27.0, 3L),  // hypervisor stole mid-query
        "q_nopre" -> (-1.0, 26.0, 0L),   // failed pre-probe
        "q_thrown" -> (26.0, 27.0, 0L))) // calm but THREW
    val (c0, o0) = checkMergeAcceptQuery(rec, "q_calm")
    assert(c0 == 0 && o0.contains("ACCEPT"), o0)
    for (q <- Seq("q_hot", "q_stolen", "q_nopre", "q_thrown")) {
      val (c, o) = checkMergeAcceptQuery(rec, q)
      assert(c != 0 && o.contains("REJECT"), s"$q: $o")
    }
    // a record predating per-query brackets has no bracket at all —
    // refused: an admission needs its own bandwidth evidence
    val legacy = sf1Lines(Map("q_a" -> 1.0))
      .map(_.replaceAll(""""bw_brackets":\{[^}]*\},""", ""))
    val (c9, o9) = checkMergeAcceptQuery(legacy, "q_a")
    assert(c9 != 0 && o9.contains("REJECT"), o9)
    // a CPU-contended run (hot load factor) must refuse even a
    // bandwidth-calm bracket: the bw probes are blind to a same-guest
    // CPU-only co-tenant, and the run-level lf is the gate that sees it
    val cpuHot = Bench.summaryLines(Map("q_calm" -> 1.0), "sf",
      0.45, 0.44, 0.2, 0.15, 0.30,
      calibBwStart = 0.025, calibBwEnd = 0.025,
      brackets = Map("q_calm" -> (26.0, 27.0, 0L)))
    val (c10, o10) = checkMergeAcceptQuery(cpuHot, "q_calm")
    assert(c10 != 0 && o10.contains("REJECT"), o10)
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
