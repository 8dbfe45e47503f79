package graftbench

/** Writes the DuckDB oracle SQL of the named registered queries as a JSON
  * object to the given file: `Oracles <out.json> <query>...`. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = args.tail.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(", ")}")
    Harness.write(args.head, Json.write(args.tail.map(q => q -> sql(q)).toMap))
  }
}
