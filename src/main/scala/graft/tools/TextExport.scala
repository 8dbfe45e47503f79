package graft.tools

/** Export the `documents` table's text column as one plain-text file —
  * the bridge from the generated corpus (GenData) to the CLI's
  * reference-parity surface (`graft.core.Main` consumes a text file,
  * exactly like the reference pipeline's `TextIO` input). One document
  * per line; null texts dropped.
  *
  * The single-file shape is deliberate: it reproduces the reference's
  * input contract for the end-to-end walkthrough (README §8). The
  * export itself is test/demo scaffolding, not a scale surface — a
  * production corpus would stay parquet and use the library API.
  *
  * Usage: TextExport <tableDir> <outFile>
  */
object TextExport {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TextExport <tableDir> <outFile>")
    val (tableDir, outFile) = (args(0), args(1))
    val spark = graft.LocalSession()
    try {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-textexport").toFile
      val n = spark.read.parquet(s"$tableDir/documents.parquet")
        .select("text").na.drop()
      try {
        n.coalesce(1).write.mode("overwrite").text(tmp.toString)
        val part = tmp.listFiles()
          .find(_.getName.endsWith(".txt"))
          .getOrElse(sys.error(s"no text part written under $tmp"))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(outFile),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      println(s"""{"docs": ${n.count()}, "out": "$outFile"}""")
    } finally spark.stop()
  }
}
