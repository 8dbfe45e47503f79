package graft

import graft.metrics.Recording

/** Registry consistency: the driver contract in [[SparkEntry]] must stay
  * closed — every registered query either has a DuckDB oracle or a
  * declared rows-only pin, never neither (a silently unoracled query
  * would read as a perpetual failure in the correctness report) and
  * never both (an oracle makes the rows-only marker a stale lie). And
  * building a query reads each table once. */
class EntrySpec extends SparkSpec {

  test("every query has exactly one of: oracle SQL, rows-only pin") {
    val qs = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val rowsOnly = SparkEntry.rowsOnlyPinnedBy.keySet
    assert((oracled -- qs).isEmpty,
      s"oracle without query: ${(oracled -- qs).toSeq.sorted}")
    assert((rowsOnly -- qs).isEmpty,
      s"rows-only pin without query: ${(rowsOnly -- qs).toSeq.sorted}")
    assert((oracled intersect rowsOnly).isEmpty,
      s"both oracle and rows-only: ${(oracled intersect rowsOnly).toSeq.sorted}")
    val unaccounted = qs -- oracled -- rowsOnly
    assert(unaccounted.isEmpty,
      s"no oracle and no rows-only pin: ${unaccounted.toSeq.sorted}")
  }

  test("rows-only pins name existing spec suites") {
    val specDir = new java.io.File("src/test/scala/graft")
    val suites = specDir.listFiles().map(_.getName.stripSuffix(".scala")).toSet
    SparkEntry.rowsOnlyPinnedBy.foreach { case (q, pin) =>
      val suite = pin.takeWhile(_ != ' ')
      assert(suites.contains(suite), s"$q pinned by unknown suite '$suite'")
    }
  }

  test("building a query loads each table at most once") {
    // every Tables.load infers the parquet schema in one job, whose call
    // site is "parquet at Tables.scala" and whose stack names the table
    // helper (Tables.documents, Tables.events, …) above Tables.load
    val helper = """graft\.Tables\$\.(\w+)\(""".r
    def loadsDuring(build: => Any): Seq[String] =
      Recording.of(spark)(build)._2.jobs.flatMap(_.stages)
        .filter(_.name.startsWith("parquet at Tables.scala"))
        .map(st => helper.findAllMatchIn(st.details)
          .map(_.group(1)).find(_ != "load").getOrElse(st.details))
    val repeated = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf001) // warms the memos (IVF model, component labels, …)
        val tables = loadsDuring(fn(spark, sf001))
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        if (tables.distinct.size < tables.size)
          Some(s"$name: ${tables.sorted.mkString(", ")}")
        else None
    }
    assert(repeated.isEmpty,
      s"queries loading a table more than once:\n${repeated.mkString("\n")}")
  }
}
