package graft

import java.nio.file.Files

import graft.sink.FileDocumentStoreFactory
import graft.streaming.{LocalCheckpointFileManager, StreamingJobs}
import graft.tools.CodegenWorkingSet
import org.apache.spark.sql.GraftBridge

/** graft's streaming queries run on the executors' shared class loader
  * ([[GraftBridge.shareExecutorClassLoader]]), so a new query reuses the
  * code earlier ones compiled instead of compiling it again under a
  * loader of its own; an explicit user choice and session-scoped
  * artifacts keep Spark's per-session loader. */
class SharedClassLoaderSpec extends SparkSpec {

  private val Isolation = "spark.sql.artifact.isolation.enabled"
  private val Manager = LocalCheckpointFileManager.ConfKey

  /** Run `body` with the session's `key` set to `v` (unset on None),
    * then restore it. `getAll` holds only the values set explicitly. */
  private def withConf[T](key: String, v: Option[String])(body: => T): T = {
    val saved = spark.conf.getAll.get(key)
    def put(x: Option[String]): Unit =
      x.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    put(v)
    try body finally put(saved)
  }

  private lazy val input = {
    val dir = tempDir("graft-cl-in")
    Files.write(dir.resolve("a.txt"), "hi there\nhi\nhi sue bob\n".getBytes)
    Files.write(dir.resolve("b.txt"), "hi sue\nbob hi\nthere\n".getBytes)
    dir
  }
  private val AB = Map("hi" -> 5L, "there" -> 2L, "sue" -> 2L, "bob" -> 2L)
    .map { case (w, n) => w -> Map("count" -> n) }

  /** One `wordCountToStore` query over `input` into a fresh store and
    * checkpoint: the store's collection and the compilations it made. */
  private def wordCount() = CodegenWorkingSet.counting {
    val factory = new FileDocumentStoreFactory(tempDir("graft-cl-store").toString)
    val lines = spark.readStream.option("maxFilesPerTrigger", "1")
      .text(input.toString).toDF("text")
    val q = StreamingJobs.wordCountToStore(spark, lines, factory, "wc", 500,
      checkpoint = Some(tempDir("graft-cl-ckpt").toString))
    try q.processAllAvailable() finally q.stop()
    factory.readAll("wc")
  }

  test("prepare selects graft's checkpoint manager and the shared class loader, keeping explicit values") {
    withConf(Manager, None) {
      withConf(Isolation, None) {
        StreamingJobs.prepare(spark)
        StreamingJobs.prepare(spark)
        assert(spark.conf.get(Manager) == classOf[LocalCheckpointFileManager].getName)
        assert(spark.conf.get(Isolation) == "false")
      }
    }
    val other = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    withConf(Manager, Some(other)) {
      withConf(Isolation, Some("true")) {
        StreamingJobs.prepare(spark)
        assert(spark.conf.get(Manager) == other)
        assert(spark.conf.get(Isolation) == "true")
      }
    }
  }

  test("a second wordCountToStore query compiles no generated code and writes the same store") {
    withConf(Isolation, None) {
      val (first, _) = wordCount()
      val (second, compiled) = wordCount()
      assert(first == AB)
      assert(second == first)
      assert(compiled == 0,
        s"the second query compiled $compiled generated classes again")
    }
  }

  test("with isolation set to true, every wordCountToStore query compiles its code again") {
    withConf(Isolation, Some("true")) {
      val (first, _) = wordCount()
      val (second, compiled) = wordCount()
      assert(second == first && first == AB)
      assert(compiled > 0,
        "a query on its own session loader found another session's classes")
    }
  }

  test("a session with session-scoped artifacts keeps its own class loader") {
    val plain = spark.newSession()
    GraftBridge.shareExecutorClassLoader(plain)
    assert(plain.conf.get(Isolation) == "false")

    val withArtifact = spark.newSession()
    withArtifact.addArtifact(Array[Byte](1, 2, 3), "classes/graft/Probe.class")
    StreamingJobs.prepare(withArtifact)
    assert(withArtifact.conf.get(Isolation) == "true")
    assert(!withArtifact.conf.getAll.contains(Isolation))
  }
}
