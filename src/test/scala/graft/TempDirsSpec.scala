package graft

import java.nio.file.{Files, Path}

import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event
import org.scalatest.funsuite.AnyFunSuite

/** [[TempDirs]] removes what a suite created, contents included, when
  * the suite ends, and nothing before. */
class TempDirsSpec extends AnyFunSuite {

  test("a suite's temporary directories and files are deleted when it ends") {
    var made = Seq.empty[Path]
    var keptDuringRun = false
    val suite = new AnyFunSuite with TempDirs {
      test("writes") {
        val dir = tempDir("graft-tempdirs")
        Files.createDirectories(dir.resolve("a/b"))
        Files.write(dir.resolve("a/b/c.txt"), "x".getBytes)
        made = Seq(dir, tempFile("graft-tempdirs", ".txt"))
      }
      test("reads them in a later test") {
        keptDuringRun = made.forall(Files.exists(_))
      }
    }
    val silent = new Reporter { def apply(e: Event): Unit = () }
    assert(suite.run(None, Args(silent)).succeeds())
    assert(made.size == 2 && keptDuringRun)
    assert(made.forall(Files.notExists(_)), s"left behind: $made")
  }
}
