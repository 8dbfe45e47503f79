package graft.core

/** CLI options — same surface and defaults as the reference
  * (its src/main/java/org/rm3l/beam/firestore/WordCountToFirestorePipeline.java:57-85,
  * impl/BatchWriteImplementation.java:61-68):
  *
  *   --implementation=naive|batch|streaming
  *                                         (default "naive"; streaming is
  *                                          graft's own, see Main)
  *   --inputFile=<path>                    (required here; the reference
  *                                          defaults to its King Lear
  *                                          sample)
  *   --outputDir=<path>                    (required — stands in for
  *                                          --outputGoogleCloudProject: the
  *                                          root of the local document store)
  *   --outputCollectionPath=<name>         (optional; defaults to the input
  *                                          file's basename, matching
  *                                          impl/NaiveImplementation.java:31-34)
  *   --maxBatchSize=N                      (default 500, batch and
  *                                          streaming impls; naive writes
  *                                          one doc per batch —
  *                                          FirestoreUpdateDoFn.java:19)
  */
final case class Options(
    implementation: String = "naive",
    inputFile: String = "",
    outputDir: String = "",
    outputCollectionPath: Option[String] = None,
    maxBatchSize: Int = 500) {

  /** impl/NaiveImplementation.java:31-34 — default collection path is the
    * input file's basename (substring after the last '/'). */
  def collection: String = outputCollectionPath.getOrElse(
    inputFile.substring(inputFile.lastIndexOf('/') + 1))
}

object Options {
  /** The reference's original flag spellings are accepted as aliases
    * (WordCountToFirestorePipeline.java:57-85,
    * impl/BatchWriteImplementation.java:61-68) so its invocations port
    * verbatim. */
  private val aliases = Map(
    "outputGoogleCloudProject" -> "outputDir",
    "outputFirestoreCollectionPath" -> "outputCollectionPath",
    "firestoreMaxBatchSize" -> "maxBatchSize")

  /** Parse `--key=value` args with validation-on-parse, mirroring
    * `PipelineOptionsFactory.fromArgs(args).withValidation()`
    * (WordCountToFirestorePipeline.java:25-26). */
  def parse(args: Array[String]): Options = {
    val kv = args.map { a =>
      require(a.startsWith("--") && a.contains("="), s"bad argument: $a")
      val i = a.indexOf('=')
      val k = a.substring(2, i)
      aliases.getOrElse(k, k) -> a.substring(i + 1)
    }.toMap
    val unknown = kv.keySet --
      Set("implementation", "inputFile", "outputDir", "outputCollectionPath",
        "maxBatchSize")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    val o = Options(
      implementation = kv.getOrElse("implementation", "naive"),
      inputFile = kv.getOrElse("inputFile", ""),
      outputDir = kv.getOrElse("outputDir", ""),
      outputCollectionPath = kv.get("outputCollectionPath"),
      maxBatchSize = kv.get("maxBatchSize").map(_.toInt).getOrElse(500))
    require(o.inputFile.nonEmpty, "--inputFile is required")
    require(o.outputDir.nonEmpty, "--outputDir is required")
    require(o.maxBatchSize > 0, "--maxBatchSize must be positive")
    o
  }
}
