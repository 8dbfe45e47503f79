package graft

import graft.core.WordCount

/** Ports the reference's only two tests verbatim (golden vectors from
  * /root/reference/src/test/java/org/rm3l/beam/WordCountTest.java via
  * FIXTURES.md §A) plus tokenizer edge cases the reference's regex pins.
  */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  // A.1 — testExtractWordsFn (WordCountTest.java:45-53)
  test("tokenizer golden vector: multi-space runs, whitespace-only, trims") {
    val input = Seq(" some  input  words ", " ", " cool ", " foo", " bar")
    val got = WordCount.tokenize(input.toDF("value"))
      .as[String].collect().toSeq.sorted
    assert(got == Seq("bar", "cool", "foo", "input", "some", "words"))
  }

  // A.2 — testCountWords (WordCountTest.java:55-78)
  test("end-to-end count+format golden vector") {
    val input = Seq("hi there", "hi", "hi sue bob", "hi sue", "", "bob hi")
    val got = WordCount.formatAsText(WordCount.countWords(input.toDF("value")))
      .as[String].collect().toSet
    assert(got == Set("hi: 5", "there: 1", "sue: 2", "bob: 2"))
  }

  test("tokenizer is Unicode-aware (\\p{L}) like the reference") {
    val input = Seq("héllo wörld 123 años', 中文 text")
    val got = WordCount.tokenize(input.toDF("value"))
      .as[String].collect().toSeq.sorted
    // digits and punctuation split; accented/CJK letters are kept
    assert(got == Seq("años", "héllo", "text", "wörld", "中文"))
  }

  test("empty-line metric parity (lineStats)") {
    val input = Seq("a b", "  ", "", "c")
    val row = WordCount.lineStats(input.toDF("value")).collect()(0)
    assert(row.getAs[Long]("empty_lines") == 2L)
    assert(row.getAs[Long]("n_lines") == 4L)
    assert(row.getAs[Int]("max_len") == 3)
  }

  test("property: no token is empty or contains a non-letter") {
    val lines = Tables.documents(spark, sf0001).select($"text".as("value"))
    val bad = WordCount.tokenize(lines)
      .filter(!$"word".rlike("^\\p{L}+$")).count()
    assert(bad == 0L)
  }

  test("property: sum of counts equals total token count") {
    val lines = Tables.documents(spark, sf0001).select($"text".as("value"))
    val total = WordCount.tokenize(lines).count()
    val summed = WordCount.countWords(lines)
      .agg(org.apache.spark.sql.functions.sum("cnt")).as[Long].collect()(0)
    assert(total == summed)
  }

  test("O10 metrics observed on the flowing pipeline (Observation API)") {
    val obs = new org.apache.spark.sql.Observation("wc_stats")
    val input = Seq("a b", "  ", "", "c").toDF("value")
    val counts = graft.core.WordCount.countWordsObserved(input, "value", obs)
    counts.collect() // action triggers observation
    val m = obs.get
    assert(m("empty_lines") == 2L)
    assert(m("n_lines") == 4L)
    assert(m("max_len") == 3)
  }

  test("--implementation=streaming removes the input directory it stages") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def staged() = Files.list(tmp).iterator.asScala
      .filter(_.getFileName.toString.startsWith("graft-stream")).toSet
    val before = staged()
    val input = Files.createTempFile("graft-cli", ".txt")
    Files.write(input, "hi there\nhi\n".getBytes)
    val o = graft.core.Options.parse(Array("--implementation=streaming",
      s"--inputFile=$input",
      s"--outputDir=${Files.createTempDirectory("graft-cli-store")}"))
    assert(graft.core.Main.implementations("streaming")(o, spark) == 2L)
    assert(staged() -- before == Set.empty)
  }

  test("reference flag aliases parse to the same options") {
    val o = graft.core.Options.parse(Array(
      "--inputFile=/x/kinglear.txt",
      "--outputGoogleCloudProject=/tmp/proj",
      "--outputFirestoreCollectionPath=mycol",
      "--firestoreMaxBatchSize=77"))
    assert(o.outputDir == "/tmp/proj")
    assert(o.collection == "mycol")
    assert(o.maxBatchSize == 77)
  }
}
