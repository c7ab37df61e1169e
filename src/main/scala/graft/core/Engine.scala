package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Functions

/** SparkSession factory and table access for the graft engine.
  *
  * Design notes (100 TB target, tested on local[32]):
  *  - AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  *    partition counts when the data is 1000x larger than the test SF.
  *  - `spark.sql.shuffle.partitions` defaults to the local core count here;
  *    on a real cluster this is overridden (or left to AQE's coalescing).
  *  - ANSI off: the reference stack is Hive 3.1.2
  *    (/root/reference/examples/src/hive/create_m33_schem_view.hql:4-7
  *    relies on CAST returning NULL on malformed input, Hive semantics).
  */
object Engine {

  /** Default parallelism for local test runs. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The one SparkSession builder in the engine: Bench, Verify, the dev
    * tools, the CLI and [[hiveSession]] all come through here, so the
    * pins below are what gets benchmarked, verified and tested. */
  def session(
      master: String = s"local[$defaultCpus]",
      appName: String = "graft",
      shufflePartitions: Int = defaultCpus.toInt,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the Similarity/graph kernels fuse dedups onto a neighboring
      // operator's exchange by clustering on a SUBSET of the aggregate
      // keys (guide §2.4); that fusion is only legal while this stays
      // false (its default) — pinned so a deployment override cannot
      // silently turn each fused repartition into a pure extra shuffle
      .config("spark.sql.requireAllClusterKeysForDistribution", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Functions.registerAll(spark)
    spark
  }

  /** Configure an externally built session (e.g. the driver's) with graft
    * function registrations. Idempotent. */
  def attach(spark: SparkSession): SparkSession = {
    Functions.registerAll(spark)
    spark
  }

  /** Hive-catalog session (Derby metastore under `metastoreDir`), for the
    * SQL-mode m33 pipeline: external TEXTFILE tables, ADD PARTITION ...
    * LOCATION, persistent views, CTAS (SURVEY §2.A S3-S5, S17). */
  def hiveSession(
      warehouseDir: String,
      metastoreDir: String,
      master: String = s"local[$defaultCpus]"): SparkSession = {
    val spark = session(master, "graft-hive", defaultCpus.toInt, Map(
      // exactly what Builder.enableHiveSupport() sets (the builder checks
      // the Hive classes are present when it sees this key)
      "spark.sql.catalogImplementation" -> "hive",
      "spark.sql.warehouse.dir" -> warehouseDir,
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$metastoreDir/metastore_db;create=true",
      "spark.hadoop.hive.metastore.schema.verification" -> "false",
      "spark.hadoop.datanucleus.schema.autoCreateAll" -> "true"))
    installHeaderSkipRule(spark)
    spark
  }

  /** Install the skip.header.line.count rewrite rule (idempotent) — Hive
    * text tables declaring the property get real positional header skip
    * (see [[graft.plans.ResolveHeaderSkipTextTables]]). */
  def installHeaderSkipRule(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.exists(_.isInstanceOf[graft.plans.ResolveHeaderSkipTextTables])) {
      exp.extraOptimizations =
        exp.extraOptimizations :+ graft.plans.ResolveHeaderSkipTextTables(spark)
    }
  }

  /** Read one of the harness parquet tables (TESTDATA.md).
    *
    * `events.parquet` has shipped `ts` in two physical layouts across
    * harness generations, and the reader must present ONE logical type
    * (session-TZ `TIMESTAMP`, microsecond precision) for both so every
    * downstream query and oracle sees identical semantics:
    *   - TIMESTAMP(NANOS): no native Spark type — read the raw int64
    *     nanos (`spark.sql.legacy.parquet.nanosAsLong`) and floor to
    *     microseconds, the same ns->us truncation ANSI engines apply;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ — cast to TIMESTAMP, an identity relabel under
    *     the engine's fixed UTC session zone ([[session]]/[[hiveSession]]).
    * Dispatch is on the INFERRED schema, not a harness-version flag, so
    * a mixed checkout (old sf0.01, new sf0.1) still reads correctly. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path)
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => raw
      }
    } else {
      spark.read.parquet(path)
    }
  }
}
