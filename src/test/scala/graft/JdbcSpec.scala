package graft

import java.io.File
import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Engine
import graft.pipeline.M33Pipeline
import graft.sinks.JdbcSink
import graft.sources.M33Fixture
import graft.sql.Statements

/** S18-S20 export path against embedded Derby (the sandbox stand-in for
  * the reference's SQL Server sink; SURVEY §7.6). */
class JdbcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("DDL passthrough + 4-way parallel export + read-back") {
    val base = new File(TestSpark.baseDir, "jdbc").getAbsolutePath
    val root = M33Fixture.generate(base, rowsPerFile = 200)
    val csvPath = M33Pipeline.ctasCsv(
      M33Pipeline.schemView(M33Pipeline.rawTable(spark, root)), s"$base/wh")
    val url = s"jdbc:derby:$base/sinkdb;create=true"

    // S19: landing DDL over a plain JDBC connection
    JdbcSink.execStatements(url, Seq(
      "CREATE TABLE m33 (age_mil BIGINT, wavelength DOUBLE, flam DOUBLE, is_peculiar INT)"))

    // S18: batched parallel append (Sqoop-export analog, 4 mappers)
    val df = M33Pipeline.readM33Csv(spark, csvPath)
    JdbcSink.export(df, url, "m33", numMappers = 4)

    // S20: TOP-100-style unordered read-back
    val back = JdbcSink.readBack(spark, url, "m33", n = 100)
    assert(back.count() == 100)
    val full = spark.read.format("jdbc").option("url", url).option("dbtable", "m33").load()
    assert(full.count() == 4 * 200)
    assert(full.schema.fieldNames.map(_.toLowerCase).toSet ==
      Set("age_mil", "wavelength", "flam", "is_peculiar"))
  }

  test("SQL Server dialect shim generates the reference's exact T-SQL") {
    import graft.sinks.SqlServerDialect
    import org.apache.spark.sql.types.StructType
    // the m33 export schema, as the pipeline reads it back
    val schema = StructType.fromDDL(M33Pipeline.m33Schema)
    // create_m33_tbl.sql:2 — byte-for-byte the reference's DDL body
    assert(SqlServerDialect.createTableDdl("m33", schema) ==
      "CREATE TABLE m33 (age_mil BIGINT, wavelength FLOAT, flam FLOAT, is_peculiar INT)")
    // create_astro_database.sql
    assert(SqlServerDialect.createDatabaseDdl("astroDB") ==
      "CREATE DATABASE astroDB")
    // playground.py:715 — the URL Sqoop's export is invoked with
    assert(SqlServerDialect.jdbcUrl("sql", "astroDB") ==
      "jdbc:sqlserver://sql;databaseName=astroDB")
    // runall.py:73 — the verification read-back
    assert(SqlServerDialect.topNSql("m33", 100) == "SELECT TOP 100 * FROM m33")
    // the prepared statement the batched export executes per row
    assert(SqlServerDialect.insertSql("m33", schema) ==
      "INSERT INTO m33 (age_mil, wavelength, flam, is_peculiar) VALUES (?, ?, ?, ?)")
    // unmappable types fail loudly, never emit guessed DDL
    intercept[IllegalArgumentException] {
      SqlServerDialect.sqlType(org.apache.spark.sql.types.CalendarIntervalType)
    }
  }

  /** The tuned sink's locking runs in a child JVM: the Derby properties
    * are JVM-wide and would reach every later Derby boot in this one
    * (the shared Hive session's metastore included). */
  private lazy val tunedSink = CodegenReuse.childJvmOutput("graft.DerbySinkLocks")

  private def tunedLine(tag: String): String =
    s"""$tag (.*)""".r.findFirstMatchIn(tunedSink).map(_.group(1))
      .getOrElse(fail(s"child JVM printed no $tag line:\n${tunedSink.takeRight(4000)}"))

  test("a tuned sink's uncommitted insert holds one exclusive table lock and no row locks (child JVM)") {
    assert(tunedLine("LOCKS") == "TABLE/X")
  }

  test("a tuned sink lands a 4-mapper export with its exact row count and column sums (child JVM)") {
    val m = """rows=(\d+) expected=(\d+) sums=(\S+) expected=(\S+)""".r
      .findFirstMatchIn(tunedLine("EXPORT")).get
    assert(m.group(1).toLong == 4 * DerbySinkLocks.rowsPerFile && m.group(1) == m.group(2))
    assert(m.group(3) == m.group(4))
  }

  test("a Hive session built after the tune runs the m33 DDL and CTAS twice (child JVM)") {
    assert(tunedLine("HIVE") == "cycles=2 ok")
  }
}

/** Locks, export and metastore of embedded Derby after
  * [[JdbcSink.tuneEmbeddedDerbyForBulkLoad]], in a JVM of its own. Prints
  * `LOCKS <type/mode of each lock on the sink table>`, `HIVE cycles=2 ok`
  * and `EXPORT rows=<n> expected=<n> sums=<sums> expected=<sums>`. */
object DerbySinkLocks {
  val rowsPerFile = 500
  private val ddl = "CREATE TABLE m33 (age_mil BIGINT, wavelength DOUBLE, flam DOUBLE, is_peculiar INT)"
  /** Row count and exact column sums (floats at their fixture precision). */
  private val sums = Seq("COUNT(*)", "SUM(age_mil)", "SUM(CAST(is_peculiar AS BIGINT))",
    "SUM(CAST(FLOOR(wavelength * 100 + 0.5) AS BIGINT))", "SUM(CAST(FLOOR(flam * 10 + 0.5) AS BIGINT))")

  def main(args: Array[String]): Unit = {
    val base = Files.createTempDirectory("derby_sink_locks").toFile.getAbsolutePath
    System.setProperty("derby.stream.error.file", s"$base/derby.log")
    JdbcSink.tuneEmbeddedDerbyForBulkLoad()

    val lockUrl = s"jdbc:derby:$base/lockdb;create=true"
    JdbcSink.execStatements(lockUrl, Seq(ddl))
    val writer = DriverManager.getConnection(lockUrl)
    val observer = DriverManager.getConnection(lockUrl)
    try {
      writer.setAutoCommit(false)
      writer.createStatement().executeUpdate("INSERT INTO m33 VALUES (1, 2.0, 3.0, 0), (4, 5.0, 6.0, 1)")
      val r = observer.createStatement().executeQuery(
        "SELECT TYPE, MODE FROM SYSCS_DIAG.LOCK_TABLE WHERE TABLENAME = 'M33' ORDER BY TYPE, MODE")
      val locks = Iterator.continually(r).takeWhile(_.next()).map(x => s"${x.getString(1)}/${x.getString(2)}").toList
      println(s"LOCKS ${locks.mkString(",")}")
      writer.rollback()
    } finally { writer.close(); observer.close() }

    val spark = Engine.hiveSession(s"$base/warehouse", s"$base/metastore", "local[4]")
    try {
      val root = M33Fixture.generate(s"$base/fixture", rowsPerFile)
      // the m33 DDL and CTAS twice, dropping in between, as a pipeline
      // cycle does against the metastore
      (1 to 2).foreach { _ =>
        Seq("DROP TABLE IF EXISTS m33", "DROP VIEW IF EXISTS m33_schem", "DROP TABLE IF EXISTS m33_raw")
          .foreach(Statements.exec(spark, _))
        M33Pipeline.sqlStatements(root).foreach(Statements.exec(spark, _))
      }
      println("HIVE cycles=2 ok")

      val sinkUrl = s"jdbc:derby:$base/sinkdb;create=true"
      JdbcSink.execStatements(sinkUrl, Seq(ddl))
      val m33 = spark.table("m33")
      JdbcSink.export(m33, sinkUrl, "m33", numMappers = 4)
      val want = m33.selectExpr(sums: _*).head()
      val conn = DriverManager.getConnection(sinkUrl)
      val got = try {
        val r = conn.createStatement().executeQuery(s"SELECT ${sums.mkString(", ")} FROM m33")
        r.next()
        (1 to 5).map(r.getLong)
      } finally conn.close()
      val wanted = (0 until 5).map(want.getLong)
      println(s"EXPORT rows=${got.head} expected=${wanted.head} " +
        s"sums=${got.tail.mkString(",")} expected=${wanted.tail.mkString(",")}")
    } finally {
      spark.stop()
      graft.streaming.EventStreams.deleteTree(new File(base).toPath)
    }
  }
}
