package graft.sinks

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC export path — SURVEY §2.A S18-S20.
  *
  * The reference exports the warehouse CSV to an RDBMS with Sqoop: 4
  * parallel mappers doing batched INSERTs (playground.py:710-719; vendored
  * sqoop/mapreduce/ExportJobBase.java:335, DEFAULT_NUM_MAPPERS=4 in
  * sqoop/SqoopOptions.java:258). Spark's JDBC writer is the same pattern —
  * one batched-INSERT connection per partition — so parity is
  * `repartition(numMappers).write.format("jdbc")`.
  */
object JdbcSink {

  /** Size an EMBEDDED Derby sink engine for a bulk parallel export — the
    * DBA knobs a real RDBMS sink runs with, owned by the sink layer so
    * harnesses stay pure consumers. Derby's defaults (4 MB page cache,
    * 32 KB log buffer, 5000-lock escalation) are sized for tiny embedded
    * apps: each export mapper's few-hundred-k-row transaction blows the
    * lock-escalation threshold, converting its row locks into an
    * exclusive TABLE lock — which serializes the parallel mappers the
    * export exists to run. Keeping row locks and sizing cache/pages/log
    * for bulk load changes NO isolation or durability semantics (the log
    * still syncs at every commit). Must be called BEFORE the engine
    * boots (the first connection); per-JVM, idempotent. */
  def tuneEmbeddedDerbyForBulkLoad(): Unit = {
    System.setProperty("derby.storage.pageCacheSize", "8000") // pages: ~250 MB at the 32 KB pageSize below
    System.setProperty("derby.storage.pageSize", "32768")
    System.setProperty("derby.storage.logBufferSize", "1048576")
    System.setProperty("derby.locks.escalationThreshold", "1000000")
  }

  /** S19: DDL/statement passthrough to the sink database (the analog of
    * `sqlcmd -i file.sql`; playground.py:703-708). */
  def execStatements(url: String, statements: Seq[String]): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      statements.foreach(st.execute)
      st.close()
    } finally conn.close()
  }

  /** S18: parallel batched-INSERT export (Sqoop-export analog). */
  def export(
      df: DataFrame,
      url: String,
      table: String,
      numMappers: Int = 4,
      batchSize: Int = 1000): Unit =
    df.repartition(numMappers)
      .write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .mode("append")
      .save()

  /** S20: verification read-back (`SELECT TOP 100 *` analog — unordered
    * first-n, same as the reference's check; runall.py:73). */
  def readBack(spark: SparkSession, url: String, table: String, n: Int = 100): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load().limit(n)
}
