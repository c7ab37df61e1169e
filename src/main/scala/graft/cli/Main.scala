package graft.cli

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.core.Engine
import graft.pipeline.M33Pipeline
import graft.sinks.JdbcSink
import graft.sources.M33Fixture
import graft.sql.Statements

/** Playground-verb-compatible CLI — SURVEY §2.A S21-S23 analog of
  * playground.py's command surface (reference: playground.py:1050-1216).
  *
  * Verbs:
  *   setup --base DIR                 generate fixture + warehouse dirs
  *   exec-query -e SQL                run inline statement(s), print boxed
  *   exec-file -f FILE                run a multi-statement script file
  *   m33-pipeline --base DIR          run the full S1-S17 pipeline
  *   export --url URL --table T --path P   JDBC export of a warehouse CSV
  *   health                           session/executor status (S23 analog)
  *   prep --in PATH --out DIR [--cap N]    quality→dedup→cap→split pipeline
  *   ingest --batches DIR --store DIR --pairs DIR   file-drop dedup ingest
  */
object Main {

  private def session(): SparkSession = Engine.session(appName = "graft-cli")

  // DDL statements yield zero-column frames — beeline prints a status
  // line for those, a boxed table only for result sets
  private def display(df: org.apache.spark.sql.DataFrame): Unit =
    if (df.columns.isEmpty) println("No rows affected")
    else println(Render.box(df))

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: "--base" :: base :: Nil =>
      val root = M33Fixture.generate(base)
      new File(base, "warehouse").mkdirs()
      println(s"fixture: $root")

    case "exec-query" :: "-e" :: sql :: Nil =>
      val spark = session()
      Statements.execScript(spark, sql).foreach(display)
      spark.stop()

    case "exec-file" :: "-f" :: path :: Nil =>
      val spark = session()
      Statements.execFile(spark, path).foreach(display)
      spark.stop()

    case "m33-pipeline" :: "--base" :: base :: Nil =>
      val spark = session()
      val root = M33Fixture.generate(base)
      val m33 = M33Pipeline.runApi(spark, root, new File(base, "warehouse").getAbsolutePath)
      println(s"m33 rows: ${m33.count()}")
      // golden-log display parity: beeline-style box with table.column
      // headers (reference: examples/example-output.log:1035-1139)
      println(Render.box(m33, Some("m33"), maxRows = 10))
      spark.stop()

    case "export" :: "--url" :: url :: "--table" :: table :: "--path" :: path :: Nil =>
      JdbcSink.tuneEmbeddedDerbyForBulkLoad()
      val spark = session()
      val df = M33Pipeline.readM33Csv(spark, path)
      JdbcSink.export(df, url, table)
      println(s"exported ${JdbcSink.readBack(spark, url, table).count()}+ rows (first 100 shown)")
      spark.stop()

    // S21 parity: real beeline/JDBC clients connect on the HiveServer2
    // protocol (default port 10000)
    case "thrift-server" :: rest =>
      val port = rest match {
        case "--port" :: p :: Nil => p
        case _ => "10000"
      }
      val base = java.nio.file.Files.createTempDirectory("graft_thrift").toString
      val spark = Engine.hiveSession(s"$base/warehouse", s"$base/metastore")
      spark.conf.set("hive.server2.thrift.port", port)
      org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
        .startWithContext(spark.sqlContext)
      println(s"HiveThriftServer2 listening on port $port (Ctrl-C to stop)")
      Thread.currentThread().join()

    // training-data prep: the full quality->dedup->cap->split pipeline
    // over a documents parquet, written partitioned by split
    case "prep" :: "--in" :: in :: "--out" :: out :: rest =>
      val cap = rest match {
        case "--cap" :: c :: Nil => c.toInt
        case Nil => 100
        case _ =>
          System.err.println("usage: prep --in PATH --out DIR [--cap N]")
          sys.exit(2)
      }
      val spark = session()
      val report = graft.pipeline.Prep.run(spark, in, out, cap)
      println(Render.box(report))
      spark.stop()

    // file-drop ingest dedup: process each parquet under --batches as one
    // batch against (and into) the persistent signature store
    case "ingest" :: "--batches" :: b :: "--store" :: st :: "--pairs" :: pr :: Nil =>
      val spark = session()
      val n = graft.streaming.IngestDedup
        .runBatchDir(spark, b, "doc_id", "text", st, pr)
      println(s"processed $n batches; pairs under $pr, signatures under $st")
      spark.stop()

    // small-file compaction (the OPTIMIZE/rewrite_data_files action)
    case "compact" :: "--in" :: in :: "--out" :: out :: rest =>
      val target = rest match {
        case "--target-mb" :: t :: Nil => t.toLong * 1024 * 1024
        case Nil => 128L * 1024 * 1024
        case _ =>
          System.err.println("usage: compact --in DIR --out DIR [--target-mb N]")
          sys.exit(2)
      }
      val spark = session()
      val st = graft.operators.Maintenance.compactParquet(spark, in, out, target)
      println(s"compacted ${st.inputFiles} files (${st.inputBytes} B) " +
        s"into ${st.outputFiles}")
      spark.stop()

    // declarative data-quality gate over a parquet table: null checks on
    // --not-null cols, uniqueness on --unique cols; non-zero exit on any
    // violation (the promote/block decision a pipeline automates)
    case "quality" :: "--in" :: in :: rest =>
      import org.apache.spark.sql.functions.col
      val (notNull, unique) = rest match {
        case "--not-null" :: nn :: "--unique" :: u :: Nil =>
          (nn.split(',').toSeq, u.split(',').toSeq)
        case "--not-null" :: nn :: Nil => (nn.split(',').toSeq, Seq.empty[String])
        case Nil => (Seq.empty[String], Seq.empty[String])
        case _ =>
          System.err.println(
            "usage: quality --in DIR [--not-null c1,c2] [--unique k1,k2]")
          sys.exit(2)
      }
      val spark = session()
      val df = spark.read.parquet(in)
      val parts =
        (if (notNull.nonEmpty)
          Seq(graft.operators.Quality.rowChecks(df, notNull.map(c =>
            graft.operators.Quality.RowCheck(s"not_null:$c", col(c).isNull))))
        else Seq.empty) ++
        (if (unique.nonEmpty)
          Seq(graft.operators.Quality.uniqueCheck(
            df, unique, s"unique:${unique.mkString(",")}"))
        else Seq.empty)
      if (parts.isEmpty) { System.err.println("no checks requested"); sys.exit(2) }
      val rows = graft.operators.Quality.report(parts).collect()
      rows.foreach(r => println(s"${r.getString(0)}: " +
        s"${r.getLong(1)} violations (${if (r.getBoolean(2)) "PASS" else "FAIL"})"))
      val ok = rows.forall(_.getBoolean(2))
      spark.stop()
      if (!ok) sys.exit(1)

    // S23 analog of playground.py's JMX battery (playground.py:330-431):
    // named checks with thresholds, non-zero exit when any fails
    case "health" :: Nil =>
      val spark = session()
      val ok = Health.report(spark)
      spark.stop()
      if (!ok) sys.exit(1)

    case other =>
      System.err.println(s"unknown verb: ${other.mkString(" ")}")
      System.err.println(
        "verbs: setup --base DIR | exec-query -e SQL | exec-file -f FILE | " +
          "m33-pipeline --base DIR | export --url URL --table T --path P | " +
          "thrift-server [--port N] | health | prep --in PATH --out DIR [--cap N] | " +
          "ingest --batches DIR --store DIR --pairs DIR | " +
          "compact --in DIR --out DIR [--target-mb N] | " +
          "quality --in DIR [--not-null c1,c2] [--unique k1,k2]")
      sys.exit(2)
  }
}
