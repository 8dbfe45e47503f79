package graft.core

import graft.sink.{DocSink, FileDocumentStoreFactory}
import org.apache.spark.sql.SparkSession

/** Production CLI — the Spark-native equivalent of
  * `WordCountToFirestorePipeline.main`
  * (/root/reference/src/main/java/org/rm3l/beam/firestore/WordCountToFirestorePipeline.java:21-55):
  * parse+validate options, dispatch on `--implementation` through a
  * registry (enum-equivalent; unknown name fails like the reference's
  * UnsupportedOperationException at :33), run the word-count pipeline into
  * the document store, log wall-clock nanos/ms around the run (:23,37-41).
  */
object Main {

  /** O12 implementation registry: name -> (options, spark) => docs written.
    * The reference dispatches reflectively over an enum
    * (WordCountToFirestorePipeline.java:45-55); a first-class function map
    * is the idiomatic Scala equivalent.
    */
  val implementations: Map[String, (Options, SparkSession) => Long] = Map(
    "naive" -> { (o, spark) =>
      val counts = WordCount.countWords(spark.read.textFile(o.inputFile).toDF("value"))
      DocSink.writeNaive(counts, new FileDocumentStoreFactory(o.outputDir), o.collection)
    },
    "batch" -> { (o, spark) =>
      val counts = WordCount.countWords(spark.read.textFile(o.inputFile).toDF("value"))
      DocSink.writeBatched(counts, new FileDocumentStoreFactory(o.outputDir),
        o.collection, o.maxBatchSize)._1
    },
    // The north-star sink shape: Structured Streaming + foreachBatch into
    // the batched document store. Streams the input file(s), converges to
    // the same store state as "batch" (keyed idempotent upserts).
    "streaming" -> { (o, spark) =>
      // the file stream source wants a directory (and partition discovery
      // must not see unrelated siblings): stage a plain file into its own
      // temp dir
      val in = new java.io.File(o.inputFile)
      val staged = if (in.isFile) {
        val dir = java.nio.file.Files.createTempDirectory("graft-stream")
        java.nio.file.Files.copy(in.toPath, dir.resolve(in.getName))
        Some(dir.toFile)
      } else None
      try {
        val lines = spark.readStream
          .text(staged.fold(o.inputFile)(_.toString)).toDF("text")
        val q = graft.streaming.StreamingJobs.wordCountToStore(
          spark, lines, new FileDocumentStoreFactory(o.outputDir),
          o.collection, o.maxBatchSize)
        try q.processAllAvailable() finally q.stop()
      } finally staged.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      val f = new FileDocumentStoreFactory(o.outputDir)
      f.readAll(o.collection).size.toLong
    })

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime() // WordCountToFirestorePipeline.java:23
    val o = Options.parse(args)
    val impl = implementations.getOrElse(o.implementation,
      throw new UnsupportedOperationException(
        s"implementation '${o.implementation}' not supported. " +
          s"Supported: ${implementations.keys.mkString(", ")}"))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-wordcount")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val written = impl(o, spark)
      val nanos = System.nanoTime() - start
      // format mirrors WordCountToFirestorePipeline.java:37-41
      println(s"[graft] wrote $written documents; took $nanos ns " +
        s"(${nanos / 1000000} ms)")
    } finally spark.stop()
  }
}
