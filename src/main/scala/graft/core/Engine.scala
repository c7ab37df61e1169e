package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
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
      // static, JVM-wide: Spark's default of 100 generated classes is
      // smaller than one pass over the short SQL entries (~290 classes),
      // and LRU over a cyclic working set larger than the cache never
      // hits, so every entry recompiled every class on every run
      .config("spark.sql.codegen.cache.maxEntries", "500")
      // the UI is off and nothing reads completed jobs, stages or SQL
      // executions back; at the defaults (1000 each) the status store
      // keeps ~6 MB per 20 completed operations
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      // the generated-code cache is keyed on (context classloader, code),
      // and with artifact isolation on (the default) each session runs
      // its tasks under its own ExecutorClassLoader, so identical code
      // compiled once per newSession() and once per streaming query (its
      // StreamExecution clones the session); read only when a session is
      // created, so it is pinned here, and the engine adds no artifacts
      .config("spark.sql.artifact.isolation.enabled", "false")
      // without libhadoop, Hadoop's local filesystem forks chmod, ls or
      // readlink for every permission and link call (~250 forks per
      // streaming run); these answer them in-process (see LocalFs). The
      // first `file:` filesystem in a JVM is cached for every conf
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Functions.registerAll(spark)
    spark
  }

  /** Configure an externally built session (e.g. the driver's) with graft
    * function registrations. Idempotent: a repeated call registers
    * nothing. The session keeps its builder's confs; in particular,
    * with artifact isolation on (Spark's default), each of its
    * `newSession()`s and streaming queries still compiles its own
    * generated classes (see [[session]]), and unless the builder pinned
    * the filesystems [[session]] pins, its `file:` paths go through
    * Hadoop's local filesystem, which forks a process per permission or
    * link call. */
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

  /** Session confs that change the schema Spark infers from a parquet
    * footer; part of [[parquetSchema]]'s cache key. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  /** Inferred schemas of single parquet files, by (qualified path, the
    * [[schemaConfs]] values); the value carries the file's length and
    * mtime so a rewritten file replaces its own entry. */
  private val footerSchemas =
    new ConcurrentHashMap[(String, Seq[String]), (Long, Long, StructType)]()

  /** The schema `spark.read.parquet(path)` would infer. Inference runs a
    * Spark job on every read; for a regular file the result is cached
    * per file version (length, mtime) and schema-relevant confs, so
    * repeated reads of one table plan without a job. A directory (a
    * store that queries append to) is inferred on every call. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing path falls through to the reader's own error
    val file = try Some(fs.getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    file match {
      case None => spark.read.parquet(path).schema
      case Some(st) =>
        val key = (fs.makeQualified(p).toString,
          schemaConfs.map(k => spark.conf.getOption(k).getOrElse("")))
        val hit = footerSchemas.get(key)
        if (hit != null && hit._1 == st.getLen && hit._2 == st.getModificationTime) hit._3
        else {
          val schema = spark.read.parquet(path).schema
          footerSchemas.put(key, (st.getLen, st.getModificationTime, schema))
          schema
        }
    }
  }

  /** Read one of the harness parquet tables (TESTDATA.md), planning with
    * the [[parquetSchema]] cache.
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
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.schema(parquetSchema(spark, path)).parquet(path)
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
