package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.streaming.{LocalCheckpointFileManager, NioCheckpointFileManager}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem,
  FileAlreadyExistsException, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** A `graftmock:` scheme over the local disk: a non-`file:` scheme,
  * which [[LocalCheckpointFileManager]] must hand to Spark's manager. */
class GraftMockRawFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftmock:///")
}
class GraftMockFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
  uri, new GraftMockRawFileSystem, conf, "graftmock", false)

/** The contract of graft's fork-free checkpoint file manager. Each case
  * fails against a manager that lacks the property it names. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def tempDir() = Files.createTempDirectory("graft-ckfm")
  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)
  private def sparkManager(dir: java.nio.file.Path) =
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
  private def fileIn(dir: java.nio.file.Path, name: String) =
    new Path(new Path(dir.toUri), name)

  private def publish(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  /** Every name in `dir`, hidden temp and `.crc` files included. */
  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("a no-overwrite publish onto an existing file fails and keeps the old bytes") {
    val dir = tempDir()
    val m = manager(dir)
    val p = fileIn(dir, "0")
    publish(m, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException] {
      publish(m, p, "new", overwrite = false)
    }
    assert(read(m, p) == "old")
    assert(names(dir) == Set("0", ".0.crc"), "the losing writer left files behind")
  }

  test("an overwrite replaces the file atomically, checksum included") {
    val dir = tempDir()
    val m = manager(dir)
    val p = fileIn(dir, "1.delta")
    publish(m, p, "old", overwrite = true)
    val reader = m.open(p) // opened before the overwrite
    val out = m.createAtomic(p, overwriteIfPossible = true)
    out.write("new and longer".getBytes(UTF_8))
    out.flush()
    assert(read(m, p) == "old", "an unfinished write is visible at the final name")
    out.close()
    // rename(2), not a rewrite in place: the earlier reader keeps the old file
    try assert(new String(reader.readAllBytes(), UTF_8) == "old")
    finally reader.close()
    // read through the checksummed file system: the new .crc moved along
    assert(read(m, p) == "new and longer")
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
  }

  test("cancel() leaves neither the temp file nor its .crc") {
    val dir = tempDir()
    val m = manager(dir)
    val out = m.createAtomic(fileIn(dir, "0"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("one flipped byte makes open fail with ChecksumException") {
    val dir = tempDir()
    val m = manager(dir)
    val p = fileIn(dir, "0")
    publish(m, p, "0123456789" * 200, overwrite = false)
    val raf = new java.io.RandomAccessFile(dir.resolve("0").toFile, "rw")
    try {
      raf.seek(1000)
      val b = raf.read()
      raf.seek(1000)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(m, p))
  }

  test("file: and local scheme-less paths are served without Spark's manager") {
    val dir = tempDir()
    assert(manager(dir).underlying.isInstanceOf[NioCheckpointFileManager])
    val schemeless = new LocalCheckpointFileManager(new Path(dir.toString), conf)
    assert(schemeless.underlying.isInstanceOf[NioCheckpointFileManager])
    assert(schemeless.isLocal)
  }

  test("a non-file: path is delegated to Spark's manager") {
    val mock = new Configuration()
    mock.set("fs.AbstractFileSystem.graftmock.impl", classOf[GraftMockFs].getName)
    val dir = tempDir()
    val m = new LocalCheckpointFileManager(new Path(s"graftmock:$dir"), mock)
    assert(m.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!m.isLocal)
    publish(m, new Path(s"graftmock:$dir/0"), "via spark", overwrite = false)
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "via spark")
    // scheme-less resolves against the default file system, here the mock
    mock.set("fs.defaultFS", "graftmock:///")
    val schemeless = new LocalCheckpointFileManager(new Path(dir.toString), mock)
    assert(schemeless.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("list, exists, mkdirs, delete and open on missing paths behave as Spark's default") {
    val dir = tempDir()
    def outcomes(m: CheckpointFileManager, root: Path): Seq[String] = {
      def o(f: => Any): String = Try(f) match {
        case Success(s: Array[FileStatus]) => s.map(_.getPath.getName).sorted.mkString(",")
        case Success(v) => String.valueOf(v)
        case Failure(e) => e.getClass.getName
      }
      val missing = new Path(root, "missing")
      val abc = new Path(root, "a/b/c")
      Seq(
        o(m.exists(missing)), o(m.list(missing)), o(m.open(missing)),
        o(publish(m, new Path(missing, "f"), "x", overwrite = false)),
        o(m.delete(missing)), o(m.delete(new Path(missing, "deeper"))),
        o(m.mkdirs(abc)), o(m.exists(abc)), o(m.mkdirs(abc)),
        o(m.list(new Path(root, "a"))), o(m.list(abc)),
        o(publish(m, new Path(abc, "f"), "x", overwrite = false)),
        o(m.list(abc)), o(m.delete(new Path(root, "a"))),
        o(m.exists(new Path(root, "a"))), o(m.list(root)))
    }
    val ours = outcomes(manager(dir), fileIn(dir, "graft"))
    val spark = outcomes(sparkManager(dir), fileIn(dir, "spark"))
    assert(ours == spark)
    assert(ours.contains(classOf[java.io.FileNotFoundException].getName))
  }

  test("files, .crc sidecars and directories get the modes Spark's default gives them") {
    val dir = tempDir()
    def modes(m: CheckpointFileManager, sub: String): Seq[String] = {
      m.mkdirs(fileIn(dir, s"$sub/d"))
      publish(m, fileIn(dir, s"$sub/d/0"), "x", overwrite = false)
      Seq(s"$sub/d", s"$sub/d/0", s"$sub/d/.0.crc").map(f =>
        PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve(f))))
    }
    assert(modes(manager(dir), "graft") == modes(sparkManager(dir), "spark"))
  }

  test("the published layout matches Spark's default, name for name") {
    val dir = tempDir()
    def layout(m: CheckpointFileManager, sub: String): Set[String] = {
      m.mkdirs(fileIn(dir, sub))
      publish(m, fileIn(dir, s"$sub/0"), "a", overwrite = false)
      publish(m, fileIn(dir, s"$sub/1"), "b", overwrite = true)
      publish(m, fileIn(dir, s"$sub/1"), "c", overwrite = true)
      names(Paths.get(dir.toString, sub))
    }
    assert(layout(manager(dir), "graft") == layout(sparkManager(dir), "spark"))
  }
}
