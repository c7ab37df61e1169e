package graft.tools

/** Dump `explain("formatted")` for selected catalog entries to files —
  * the optimization rounds' plan evidence (plans/rNN/<entry>_{before,
  * after}.txt). Args: <outDir> <suffix> <comma-separated prefixes>.
  * Runs on `Engine.session` with Bench's settings (per-JVM warehouse,
  * SPARK_GRAFT_CPUS) so the captured plans are the benched ones. For
  * multi-phase entries (CDC drains, store mutations) the dumped plan is
  * the entry's RETURNED DataFrame — the readout — which is the only plan
  * `explain` can see; changes inside foreachBatch bodies are evidenced
  * by the per-batch operator plans of the helpers they call, not by
  * this dump. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Engine.session(extraConf = Map(
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_expl_wh").toString))
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for ((name, q) <- graft.Queries.all
        if only.exists(name.startsWith)) {
      try {
        val df = q.benchFn.getOrElse(q.fn)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[explain] wrote ${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
