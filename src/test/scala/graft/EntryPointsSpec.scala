package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.metrics.Recording
import graft.tools.CodegenWorkingSet
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, HashPartitioning}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange

/** The program's entry points are a closed, documented set: the CLI,
  * Bench, Verify and the four dev tools. A new `main` in `src/main`
  * (an experiment that belongs in a scratch copy, not in the library)
  * fails here until it is added to this list AND to README §7. The
  * scripts under `tools/` are pinned the same way, against the verify
  * notes that say how each one is run. The sources are also held to
  * the keyed-checkpoint rule and to "no graft conf key". */
class EntryPointsSpec extends SparkSpec {

  private val expected = Set(
    "graft.Bench", "graft.Verify", "graft.core.Main",
    "graft.tools.GenData", "graft.tools.TextExport",
    "graft.tools.FeedReplicate", "graft.tools.QueryDebug")

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)
    finally walk.close()
  }

  private def mainSources(): Seq[Path] = sources("src/main/scala")

  /** Fully-qualified name of every object in `src/main/scala` that
    * declares a `def main(`: the nearest `object` above each one. */
  private def mains(): Set[String] = {
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """\bobject\s+(\w+)""".r
    mainSources().flatMap { f =>
      val src = Files.readString(f)
      val prefix = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        val owner = obj.findAllMatchIn(src.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1))
          .getOrElse(fail(s"$f: def main outside an object"))
        prefix + owner
      }
    }.toSet
  }

  test("src/main declares exactly the documented entry points") {
    val found = mains()
    assert(found == expected,
      s"unexpected mains: ${(found -- expected).toSeq.sorted}; " +
        s"missing: ${(expected -- found).toSeq.sorted}")
  }

  test("README section 7 documents every entry point") {
    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("\n### 7.")
    assert(start >= 0, "README has no section 7")
    val end = readme.indexOf("\n### ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    val undocumented = expected.filterNot(section.contains)
    assert(undocumented.isEmpty,
      s"not listed in README section 7: ${undocumented.toSeq.sorted}")
  }

  // an inline listener would be a second copy of the recorder
  private val listener = """\b(?:extends|new|with)\s+(?:org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
  private def listeners(root: String): Seq[String] = sources(root).flatMap(f =>
    listener.findAllMatchIn(Files.readString(f)).map(_ => f.toString))

  test("src/main declares one SparkListener, the recorder in graft/metrics") {
    val found = listeners("src/main/scala")
    assert(found == Seq("src/main/scala/graft/metrics/Recording.scala"),
      s"SparkListener declarations: ${found.mkString(", ")}")
  }

  test("src/test declares no SparkListener") {
    // specs read Spark's events through graft.metrics.Recording
    val found = listeners("src/test/scala")
    assert(found.isEmpty, s"SparkListener declarations: ${found.mkString(", ")}")
  }

  test("src/main reads no graft conf key") {
    // graft's behaviour follows from its code and Spark's confs alone.
    // A quoted `graft.`/`spark.graft.` name is a conf key unless it
    // names a class of src/main (a DSv2 format name)
    val key = """"((?:spark\.)?graft\.[\w.]*)"""".r
    val root = Paths.get("src/main/scala")
    val classes = mainSources().map(f =>
      root.relativize(f).toString.stripSuffix(".scala").replace('/', '.')).toSet
    val found = mainSources().flatMap(f =>
      key.findAllMatchIn(Files.readString(f)).map(_.group(1))
        .filterNot(classes).map(k => s"$f: $k"))
    assert(found.isEmpty, s"graft conf keys: ${found.mkString(", ")}")
  }

  /** Every keyed checkpoint in `src/main`, by file and enclosing scope
    * (the registry entry or method it is written in), with the query
    * that runs it. */
  private val keyedSites = Map(
    ("CurationQueries.scala", "decontam_minhash") -> "decontam_minhash",
    ("CurationQueries.scala", "ta_boilerplate") -> "ta_boilerplate",
    ("CurationQueries.scala", "pipeline_e2e") -> "pipeline_e2e",
    ("DedupQueries.scala", "exactJaccardPairs") -> "dedup_ngram_jaccard",
    ("DedupQueries.scala", "prefixJaccardPairs") -> "dedup_ngram_prefix",
    ("DedupQueries.scala", "connectedComponents") -> "pipeline_e2e",
    ("DedupQueries.scala", "dedup_containment") -> "dedup_containment",
    ("DedupQueries.scala", "dedup_incremental") -> "dedup_incremental",
    ("MiscQueries.scala", "graph_pagerank") -> "graph_pagerank",
    ("MiscQueries.scala", "q79_apriori") -> "q79_apriori")

  /** Each `.buildCheckpointBy(...)` call in `src/main` as (file, scope,
    * keys). The scope is the nearest registry entry (`    "name" ->`) or
    * member `def` (two-space indent) above the call. */
  private def keyedCalls(): Seq[((String, String), Seq[String])] = {
    val scope = """(?m)^(?:    "(\w+)" ->|  (?:(?:private|protected)(?:\[\w+\])?\s+)?def\s+(\w+))""".r
    mainSources().flatMap { f =>
      val src = Files.readString(f)
      """\.buildCheckpointBy\(([^)]*)\)""".r.findAllMatchIn(src).map { m =>
        val owner = scope.findAllMatchIn(src.substring(0, m.start)).toSeq
          .lastOption.map(s => Option(s.group(1)).getOrElse(s.group(2)))
          .getOrElse(fail(s"$f: buildCheckpointBy outside a scope"))
        (f.getFileName.toString, owner) ->
          "\"(\\w+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
      }
    }
  }

  /** The RDD scans of `plan`, each with whether an operator that needs
    * its input clustered (a join, a final aggregate, a window) reads it
    * with no exchange in between. */
  private def keyedFeeds(plan: SparkPlan): Seq[(RDDScanExec, Boolean)] = {
    def walk(p: SparkPlan, keyed: Boolean): Seq[(RDDScanExec, Boolean)] =
      p match {
        case s: RDDScanExec => Seq(s -> keyed)
        case _: Exchange => p.children.flatMap(walk(_, keyed = false))
        case _ => p.children.zip(p.requiredChildDistribution).flatMap {
          case (c, _: ClusteredDistribution) => walk(c, keyed = true)
          case (c, _) => walk(c, keyed)
        }
      }
    walk(plan, keyed = false)
  }

  /** The keys of a stamped table's scan: its hash partitioning. A plain
    * checkpoint of a hash-partitioned plan carries one too when AQE is
    * off, so a stamp is told by the name `stampHashPartitioning` gives
    * its RDD. */
  private def stampKeys(s: RDDScanExec): Option[Seq[String]] =
    s.outputPartitioning match {
      case h: HashPartitioning
          if Option(s.rdd.name).exists(_.startsWith("keyed checkpoint")) =>
        Some(h.expressions.collect { case a: Attribute => a.name })
      case _ => None
    }

  test("every keyed checkpoint feeds a keyed consumer exchange-free") {
    val calls = keyedCalls()
    val unnamed = calls.map(_._1).filterNot(keyedSites.contains).distinct
    assert(unnamed.isEmpty, s"keyed checkpoints in no named query: $unnamed")
    val stale = keyedSites.keySet -- calls.map(_._1)
    assert(stale.isEmpty, s"named sites with no keyed checkpoint: $stale")
    // static plans, no broadcast below the threshold: the at-scale shapes
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val problems =
      try calls.groupBy { case (site, _) => keyedSites(site) }.toSeq
        .sortBy(_._1).flatMap { case (query, sites) =>
          val declared = sites.map(_._2).toSet
          val (_, rec) = Recording.of(spark)(CodegenWorkingSet.touchAll(
            SparkEntry.queries(query)(spark, sf001)))
          rec.persisted.foreach(_.unpersist(blocking = false))
          // each stamped table (by RDD), and whether any of its scans
          // feeds a keyed consumer
          val stamped = rec.plans.flatMap(keyedFeeds)
            .flatMap { case (s, fed) =>
              stampKeys(s).map(k => (s.rdd.id, k) -> fed) }
            .groupMapReduce(_._1)(_._2)(_ || _)
          declared.toSeq.filterNot(k => stamped.keys.exists(_._2 == k))
            .map(k => s"$query: no stamped table on ${k.mkString(",")}") ++
          stamped.collect { case ((_, k), false) =>
            s"$query: the table stamped on ${k.mkString(",")} feeds no " +
              "keyed consumer without an exchange" }
        }
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  private val expectedTools = Set("benchcheck.py", "bench_reference.json",
    "check.py", "run.sh", "scalecheck.py")

  test("tools/ holds exactly the documented scripts") {
    val listing = Files.list(Paths.get("tools"))
    val found =
      try listing.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSet
      finally listing.close()
    assert(found == expectedTools,
      s"unexpected: ${(found -- expectedTools).toSeq.sorted}; " +
        s"missing: ${(expectedTools -- found).toSeq.sorted}")
    val notes = Files.readString(Paths.get(".claude/skills/verify/SKILL.md"))
    val undocumented = expectedTools.filterNot(notes.contains)
    assert(undocumented.isEmpty,
      s"not named in the verify notes: ${undocumented.toSeq.sorted}")
  }
}
