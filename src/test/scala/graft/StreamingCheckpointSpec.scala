package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sink.FileDocumentStoreFactory
import graft.streaming.{LocalCheckpointFileManager, StreamingJobs}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Streaming checkpoints under graft's [[LocalCheckpointFileManager]]:
  * no child processes, the same layout as Spark's default manager in
  * both directions, and Spark's checkpoint checksums still enforced. */
class StreamingCheckpointSpec extends SparkSpec {

  private val Key = LocalCheckpointFileManager.ConfKey
  private val Graft = Some(classOf[LocalCheckpointFileManager].getName)
  private val SparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)

  /** Run `body` with the session's manager conf set to `cls` (unset on
    * None), then restore it. */
  private def withManager[T](cls: Option[String])(body: => T): T = {
    val saved = spark.conf.getOption(Key)
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    put(cls)
    try body finally put(saved)
  }

  private def inputDir(files: (String, String)*): Path = {
    val dir = tempDir("graft-ckpt-in")
    addInput(dir, files: _*)
    dir
  }
  private def addInput(dir: Path, files: (String, String)*): Unit =
    files.foreach { case (n, text) => Files.write(dir.resolve(n), text.getBytes) }

  /** One `wordCountToStore` run over `in`, one file per trigger, until
    * the input is drained; returns the store's collection. */
  private def wordCount(in: Path, ckpt: String, root: String) = {
    val factory = new FileDocumentStoreFactory(root)
    val lines = spark.readStream.option("maxFilesPerTrigger", "1")
      .text(in.toString).toDF("text")
    val q = StreamingJobs.wordCountToStore(
      spark, lines, factory, "wc", 500, checkpoint = Some(ckpt))
    try q.processAllAvailable() finally q.stop()
    factory.readAll("wc")
  }
  private def tmp(prefix: String) = tempDir(prefix).toString

  private val A = "a.txt" -> "hi there\nhi\nhi sue bob\n"
  private val B = "b.txt" -> "hi sue\nbob hi\nthere\n"
  private val AB = Map("hi" -> 5L, "there" -> 2L, "sue" -> 2L, "bob" -> 2L)
    .map { case (w, n) => w -> Map("count" -> n) }

  test("install selects graft's manager once and keeps an explicit choice") {
    withManager(None) {
      LocalCheckpointFileManager.install(spark)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.getOption(Key) == Graft)
    }
    withManager(SparkDefault) {
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.getOption(Key) == SparkDefault)
    }
  }

  test("a word-count stream starts no child process for its checkpoint") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val in = inputDir(A, B)
    val ckpt = tmp("graft-ckpt-forks")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val store =
      try {
        // a known child process: proves the recording sees them at all
        new ProcessBuilder("true").start().waitFor()
        // unset, so the manager is the one wordCountToStore installs
        withManager(None)(wordCount(in, ckpt, tmp("graft-ckpt-store")))
      } finally rec.stop()
    val jfr = tempFile("graft-forks", ".jfr")
    try {
      rec.dump(jfr)
      rec.close()
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => String.valueOf(e.getString("command")))
      assert(commands.contains("true"), s"recording missed the probe: $commands")
      val forks = commands.filter(_.contains(ckpt))
      assert(forks.isEmpty,
        s"${forks.size} child processes touched the checkpoint: ${forks.take(3)}")
    } finally Files.deleteIfExists(jfr)
    assert(store == AB)
    assert(Files.exists(Paths.get(ckpt, "commits", "1")), "expected two triggers")
  }

  test("a checkpoint resumes across Spark's manager and graft's, both ways") {
    for ((first, second) <- Seq(SparkDefault -> Graft, Graft -> SparkDefault)) {
      val in = inputDir(A)
      val (ckpt, root) = (tmp("graft-ckpt-compat"), tmp("graft-ckpt-store"))
      withManager(first)(wordCount(in, ckpt, root))
      addInput(in, B)
      // B alone counts hi=2: AB means the state and source log carried over
      val resumed = withManager(second)(wordCount(in, ckpt, root))
      assert(resumed == AB, s"$first -> $second")
    }
  }

  test("a corrupted state-store delta fails the restart on Spark's checksum") {
    val in = inputDir(A)
    val (ckpt, root) = (tmp("graft-ckpt-corrupt"), tmp("graft-ckpt-store"))
    withManager(Graft)(wordCount(in, ckpt, root))
    val delta = Files.walk(Paths.get(ckpt, "state")).iterator.asScala
      .filter(_.getFileName.toString == "1.delta")
      .maxBy(Files.size(_))
    val bytes = Files.readAllBytes(delta)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(delta, bytes)
    // and Hadoop's .crc sidecar: Spark's own checksum must catch it alone
    Files.delete(delta.resolveSibling(".1.delta.crc"))
    addInput(in, B)
    val e = intercept[Exception](withManager(Graft)(wordCount(in, ckpt, root)))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
    assert(chain.contains("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED") &&
      chain.contains(delta.toString), chain)
  }
}
