package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare
  * (tools/check_oracle.py), and verify_status.json: one
  * {status, elapsed_s, error} per selected entry, so a failed entry is
  * named in an artifact, not only on stderr. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes — run only matching
    // queries (builder-side iteration; the driver always passes two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSeq))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // per-JVM warehouse: managed tables (q58's bucketed layout) never
    // collide with a concurrently-running Bench, and nothing
    // accumulates across runs — the dir dies with the tmp cleanup
    val spark = graft.core.Engine.session(s"local[$cpus]",
      shufflePartitions = cpus.toInt, extraConf = Map("spark.sql.warehouse.dir" ->
        Files.createTempDirectory("graft_verify_wh").toString))
    new java.io.File(outDir).mkdirs()
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
    // dumped BEFORE the query loop: a fatal mid-run (OOM, kill) must not
    // take the whole round's oracle manifest down with it
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.startsWith)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Queries run on a small thread pool: most entries are planning- or
    // setup-bound at verify scale (streaming micro-batch bootstrap, write
    // round-trips), so overlapping them keeps the 32 cores fed. Each task
    // gets its own `newSession()` — isolated SQLConf, so a streaming
    // entry pinning shuffle.partitions can never leak into a concurrent
    // query's plan. Shared state (warehouse catalog, scratch dirs,
    // memory-sink names) is already per-query-unique, and the streaming
    // drains serialize on their own lock.
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "6").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val selected = SparkEntry.queries.toSeq.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }
    val tasks = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        val t0 = System.nanoTime()
        val error =
          try {
            fn(spark.newSession(), sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(s"${e.getClass.getName}: ${e.getMessage}")
          }
        val elapsed = "%.3f".formatLocal(java.util.Locale.ROOT,
          (System.nanoTime() - t0) / 1e9)
        val status = if (error.isEmpty) "ok" else "failed"
        val err = error.map(q).getOrElse("null")
        s"""${q(name)}: {"status": ${q(status)}, "elapsed_s": $elapsed, "error": $err}"""
      }
    }
    val statuses = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(tasks),
      scala.concurrent.duration.Duration.Inf)
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      statuses.mkString("{", ",", "}"))
    pool.shutdown()
    spark.stop()
  }
}
