package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are a closed, documented set: the CLI,
  * Bench, Verify and the four dev tools. A new `main` in `src/main`
  * (an experiment that belongs in a scratch copy, not in the library)
  * fails here until it is added to this list AND to README §7. The
  * scripts under `tools/` are pinned the same way, against the verify
  * notes that say how each one is run. */
class EntryPointsSpec extends AnyFunSuite {

  private val expected = Set(
    "graft.Bench", "graft.Verify", "graft.core.Main",
    "graft.tools.GenData", "graft.tools.TextExport",
    "graft.tools.FeedReplicate", "graft.tools.QueryDebug")

  private def mainSources(): Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

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

  test("src/main declares one SparkListener, the recorder in graft/metrics") {
    // an inline listener elsewhere would be a second copy of the recorder
    val listener = """\b(?:extends|new|with)\s+(?:org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    val found = mainSources().flatMap(f =>
      listener.findAllMatchIn(Files.readString(f)).map(_ => f.toString))
    assert(found == Seq("src/main/scala/graft/metrics/Recording.scala"),
      s"SparkListener declarations: ${found.mkString(", ")}")
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
