package perfbench

import graft.Queries

/** Regenerates expected.json: dumps each adhoc_sql entry's output over
  * the committed tables, with its DuckDB oracle SQL, in the layout
  * tools/check_oracle.py reads (`<dir>/out`), and prints the (rows,
  * hash) of each entry's timed form. */
object OracleDump {
  def run(tables: String, dir: String, cores: String): Unit = {
    val spark = graft.core.Engine.session(s"local[$cores]", "perfbench-oracle", cores.toInt)
    val catalog = Queries.all.toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracle = mapper.createObjectNode()
    val expected = mapper.createObjectNode()
    for (name <- AdhocSql.Entries) {
      val q = catalog(name)
      q.fn(spark.newSession(), tables).coalesce(1).write.mode("overwrite").parquet(s"$dir/out/$name")
      q.oracle.foreach(oracle.put(name, _))
      val (rows, hash) = Checks.digest(q.benchFn.getOrElse(q.fn)(spark.newSession(), tables))
      expected.putObject(name).put("rows", rows).put("hash", hash.toString)
        .put("source", if (q.benchFn.isDefined) "benchFn, seed code" else "fn, oracle-checked")
    }
    mapper.writeValue(new java.io.File(s"$dir/out/oracle_sql.json"), oracle)
    println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(expected))
    spark.stop()
  }
}
