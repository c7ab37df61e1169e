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
    * 32 KB log buffer) are sized for tiny embedded apps.
    *
    * Locking is per table (`rowLocking=false`): each export mapper's
    * transaction takes one exclusive table lock, so the mappers' inserts
    * run one after another. With row locks they did not overlap either:
    * all of them insert into the heap's last page and wait on its latch,
    * and each one kept a lock per row (35 k in the benchmark's export)
    * and released them one by one at commit. Plain JDBC into Derby, 140 k
    * rows (plans/derby_sink/width_probe.txt): with row locks 4 writers
    * took 1.08-1.38 s, no faster than 1 writer (0.78-1.10 s), and left
    * the table 605-744 pages; with table locks 0.66-1.01 s and 246 pages.
    * Isolation and durability do not change (the log still syncs at
    * every commit).
    *
    * The properties are JVM-wide: every embedded Derby database booted
    * after this call uses them, the Hive metastore included. A mapper
    * waits for the table lock up to Derby's `derby.locks.waitTimeout`
    * (60 s). At 200-225 k rows/s per writer, the fourth of 4 mappers
    * passes it at 16-18 M exported rows (about 6x the paper's 2.8 M), and
    * the export then fails with Derby's lock-timeout `SQLException`.
    * Must be called BEFORE the sink database boots (its first
    * connection); idempotent. */
  def tuneEmbeddedDerbyForBulkLoad(): Unit = {
    System.setProperty("derby.storage.pageCacheSize", "8000") // pages: ~250 MB at the 32 KB pageSize below
    System.setProperty("derby.storage.pageSize", "32768")
    System.setProperty("derby.storage.logBufferSize", "1048576")
    System.setProperty("derby.storage.rowLocking", "false")
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
