package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM: set up the session, run a cold
  * repetition and then warm ones until the measuring time is spent, and
  * write every observation to `<rundir>/result.json`. Judging the
  * observations (expected counts, oracle fingerprints) is left to run.py.
  *
  * Arguments are `--key value` pairs:
  *   --workload wordcount_batch | wordcount_stream | analytics_mix
  *   --rundir DIR        per-run directory; everything written goes under it
  *   --input PATH        corpus file or chunk directory (pipelines)
  *   --tables DIR        fixture tables (mix)
  *   --oracles DIR       DuckDB oracle results, one parquet per query (mix)
  *   --queries a,b,...   mix queries, in pass order
  *   --warm N            warm repetitions after the cold one
  *   --deadline-ms EPOCH_MS   start no repetition that would end after it
  *   --trace 0|1         1 alternates untraced and traced warm repetitions
  *   --launched-ms EPOCH_MS   when the JVM was launched (for setup_s)
  *   --inject delete_doc       self-test: delete one stored document
  */
object Harness {
  val Collection = "corpus"
  val BatchSize = 500

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val rundir = a("rundir")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$rundir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)

    val traceMode = a("trace") == "1"
    val workload: Workload = a("workload") match {
      case "wordcount_batch" =>
        new Pipeline(spark, listener, rundir, a("input"), stream = false, a.get("inject"))
      case "wordcount_stream" =>
        new Pipeline(spark, listener, rundir, a("input"), stream = true, a.get("inject"))
      case "analytics_mix" =>
        new Mix(spark, listener, a("tables"), a("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.stage()
    val setupS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3

    val reps = mutable.ArrayBuffer[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    val deadline = a("deadline-ms").toLong
    val warm = a("warm").toInt

    def once(index: Int, traced: Boolean): Double = {
      System.gc() // each repetition starts from the same heap state
      val tr = new Tracer(spark.sparkContext, traced)
      BenchBridge.drainListenerBus(spark.sparkContext)
      val w0 = listener.total
      val gc0 = gcMillis()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val rec = mutable.LinkedHashMap[String, Any](
        "kind" -> (if (index == 0) "cold" else "warm"), "traced" -> traced)
      try {
        rec ++= workload.timed(index, tr)
        rec("wall_s") = (System.nanoTime() - t0) / 1e9
        rec("cpu_s") = (processCpuNs() - cpu0) / 1e9
        rec("jvm_gc_s") = (gcMillis() - gc0) / 1e3
        BenchBridge.drainListenerBus(spark.sparkContext)
        val work = listener.total - w0
        rec ++= workload.inspect(index, tr, work)
        if (traced) spans ++= tr.spans.map(s => Map("rep" -> index, "id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "nested" -> s.nested))
      } catch {
        case NonFatal(e) =>
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
          e.printStackTrace()
      } finally workload.cleanup(index)
      reps += rec.toMap
      (System.nanoTime() - t0) / 1e9
    }

    // the first repetition is cold and is reported apart from the warm ones
    var last = once(0, traced = false)
    var k = 0
    def timeLeft = deadline - System.currentTimeMillis() > 1500 * last + 2000
    while (k < warm && timeLeft) {
      k += 1
      last = once(k, traceMode && k % 2 == 0)
    }

    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "reps" -> reps.toSeq, "jvm_peak_rss_mb" -> peakRssMb())
    out ++= workload.finish(a)
    write(s"$rundir/spans.json", Json.write(spans.toSeq))
    write(s"$rundir/result.json", Json.write(out))
    spark.stop()
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Engine counters of one repetition, as per-layer metrics. */
  def engine(w: Work): Map[String, Any] = Map(
    "spark.jobs" -> w.jobs, "spark.stages" -> w.stages,
    "spark.tasks" -> w.tasks, "spark.failed_tasks" -> w.failedTasks,
    "spark.executor_cpu_s" -> w.cpuNs / 1e9,
    "spark.executor_run_s" -> w.runMs / 1e3, "spark.gc_s" -> w.gcMs / 1e3,
    "spark.shuffle_read_bytes" -> w.shuffleRead,
    "spark.shuffle_write_bytes" -> w.shuffleWrite,
    "spark.spill_bytes" -> w.spill, "spark.input_bytes" -> w.input)
}

trait Workload {
  /** Untimed preparation after the session is up (part of set-up). */
  def stage(): Unit = ()
  /** The timed repetition. */
  def timed(index: Int, tr: Tracer): Map[String, Any]
  /** Untimed: observations of what the repetition left behind, and for a
    * traced repetition its per-layer metrics under "layer". */
  def inspect(index: Int, tr: Tracer, work: Work): Map[String, Any]
  def cleanup(index: Int): Unit = ()
  def finish(args: Map[String, String]): Map[String, Any] = Map.empty
}
