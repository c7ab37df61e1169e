package graft.tools

/** One-shot plan audit over the whole catalog: prints, per query, the
  * operators that matter for 100 TB behavior (joins, exchanges, scans
  * with/without pushdown, codegen coverage, cartesians). Red flags are
  * prefixed `!!` for quick grepping; intentional cases are documented in
  * the catalog (q50's broadcast nested loop IS the range-join plan).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Engine.session("local[8]", shufflePartitions = 8)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Queries.all.foreach { case (name, q) =>
      try {
        val p = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(s: String) = s.r.findAllIn(p).size
        val cart = n("CartesianProduct")
        val bnl = n("BroadcastNestedLoopJoin")
        val smj = n("SortMergeJoin")
        val bhj = n("BroadcastHashJoin")
        val exch = n("Exchange hashpartitioning")
        val scanAll = n("ReadSchema: struct<[^>]{400,}")
        val flags = Seq(
          if (cart > 0) s"!!cartesian=$cart" else "",
          if (bnl > 0) s"bnl=$bnl" else "",
          if (scanAll > 0) "!!wide-scan" else "").filter(_.nonEmpty)
        println(f"$name%-28s bhj=$bhj smj=$smj exch=$exch ${flags.mkString(" ")}")
      } catch {
        case e: Throwable => println(f"$name%-28s PLAN-FAIL ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
