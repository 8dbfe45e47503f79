package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // Stale artifacts in a REUSED outDir can lie (review-caught): a
    // leftover subset.json makes a later FULL dump read as PARTIAL with
    // the wrong declared set, and a failed query's surviving parquet
    // dir from a prior run would grade as current output. Delete the
    // marker files up front; failed queries additionally delete their
    // own stale dir below.
    Seq("subset.json", "errors.json", "query_modes.json", "oracle_sql.json")
      .foreach(f => Files.deleteIfExists(Paths.get(s"$outDir/$f")))
    def deleteDir(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        // Files.walk holds an open directory stream until closed — an
        // unclosed walk per failed query leaks a handle for the
        // driver's lifetime (advisor-caught)
        val walk = Files.walk(p)
        val paths =
          try walk.iterator().asScala.toSeq.reverse
          finally walk.close()
        paths.foreach(q => Files.deleteIfExists(q))
      }
    // A thrown query must leave a visible record (round 7: 16 broken
    // queries were simply ABSENT from the correctness artifact; a reader
    // had to diff against the registry to notice). errors.json maps each
    // failed query to its exception class so the dump is self-describing.
    val errors = scala.collection.mutable.Map.empty[String, String]
    // SPARK_GRAFT_ONLY=a,b,c dumps a subset — for local oracle
    // spot-checks of new queries without replaying the full registry.
    // The driver never sets it, so the gate always sees every query.
    // A subset dump is NOT silent: unknown names fail loudly, and a
    // subset.json marker is written so tools/check.py labels the run
    // PARTIAL instead of letting a narrowed dump impersonate full
    // coverage (and so a reader of the dump directory can tell).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // The tiled-plane phash replays are exact ONLY while no ORGANIC
    // corpus payload conforms to strict PNM: a conforming payload really
    // decodes in Spark while the tiled DuckDB replay models tiling — a
    // silent signature divergence. That used to be an unchecked
    // assumption (advisor-caught); scan the corpus and abort loudly
    // instead of dumping a divergent result. mm_phash_dct's corpus is
    // exactly this scan; mm_pipeline_e2e (round 15) additionally plants
    // DELIBERATE conformers whose signatures the oracle replays via the
    // REAL resample+DCT path — those are constructed conforming (the
    // pnm CTE rebuilds them byte-exactly), so the invariant that matters
    // is still that the organic rows scanned here never conform.
    if (selected.contains("mm_phash_dct") ||
        selected.contains("mm_pipeline_e2e")) {
      import spark.implicits._
      val conforming = graft.multimodal.Multimodal
        .phashOracleCorpus(spark, sfDir)
        .select("payload").as[Array[Byte]]
        .filter(b => graft.functions.PHash64.conforms(b))
        .count()
      require(conforming == 0L,
        s"phash oracle invariant violated: $conforming corpus payload(s) " +
          "conform to strict PNM — the tiled-model DuckDB oracles for " +
          "mm_phash_dct/mm_pipeline_e2e would silently diverge")
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = e.getClass.getSimpleName
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a prior run's dump behind — the
        // checker would grade the stale data as this run's output
        try deleteDir(Paths.get(s"$outDir/$name"))
        catch { case scala.util.control.NonFatal(_) => }
      }
      // drop the query's localCheckpoint blocks between entries — same
      // memory-isolation reasoning as Bench (accumulated checkpoint
      // blocks squeeze execution memory for later queries at high SF)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query mode manifest: marks each no-oracle query as rows-only BY
    // DESIGN (naming the ScalaTest spec that pins it) so a correctness
    // report can tell "deliberately unprovable by hash" from "broken".
    val modes = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      SparkEntry.rowsOnlyPinnedBy.get(name) match {
        case Some(pin) =>
          s"${q(name)}: {${q("mode")}: ${q("rows_only")}, " +
            s"${q("pinned_by")}: ${q(pin)}}"
        case None =>
          s"${q(name)}: {${q("mode")}: ${q("oracle")}}"
      }
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/query_modes.json"), modes)
    val errJson = errors.toSeq.sorted
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    only.foreach { names =>
      val sel = names.toSeq.sorted.map(q).mkString("[", ",", "]")
      Files.writeString(Paths.get(s"$outDir/subset.json"),
        s"{${q("subset")}: true, ${q("selected")}: $sel, " +
          s"${q("registry_total")}: ${SparkEntry.queries.size}}")
    }
    spark.stop()
  }
}
