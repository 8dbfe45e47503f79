package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs on: `SPARK_GRAFT_CPUS` threads and shuffle
  * partitions (default: this machine's processor count), UTC, UI off.
  * `logLevel` is set as `spark.log.level`, which `SparkContext` applies
  * in its constructor, so its own startup INFO lines are filtered too.
  * `master` replaces the local master; only `core.Main` passes one, its
  * `SPARK_MASTER` deployment address. */
object LocalSession {
  def apply(logLevel: String = "WARN",
      master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", logLevel)
      .getOrCreate()
  }
}
