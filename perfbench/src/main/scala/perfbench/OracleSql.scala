package perfbench

/** Writes the oracle statements of the surface queries as one JSON
  * object: `sql` maps each query to its `SparkEntry.oracleSql` statement,
  * `queries` lists them in run order. The oracle command runs these
  * statements in DuckDB over the generated tables.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val body = Json.obj(Seq(
      "sql" -> Json.obj(Surface.Queries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))),
      "queries" -> Surface.Queries.map(Json.str).mkString("[", ", ", "]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), body + "\n")
  }
}
