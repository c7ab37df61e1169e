package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Engine

/** The one-runtime-contract locks: every session the engine builds
  * carries `Engine.session`'s pins, and `Engine` is the only place in
  * the program that calls the SparkSession builder (a lint-style source
  * scan — a hand-built session elsewhere would silently drift from the
  * configuration that is benchmarked and verified). Also the per-query
  * fixed-cost locks: harness-table reads plan without a footer-inference
  * job once a file's schema is cached, and a pass over the short SQL
  * entries fits in the generated-code cache, also when the repeat runs
  * on another session. */
class EngineSpec extends AnyFunSuite {

  private val pins = Seq(
    "spark.sql.requireAllClusterKeysForDistribution" -> "false",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "500",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.sql.ui.retainedExecutions" -> "50",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> "graft.core.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.core.NioLocalFs")

  /** The catalog's sf0.01 tables, as committed for the benchmark. */
  private val sf = "perfbench/data/sf0.01"

  /** Jobs that `f` runs on the calling thread: the listener counts jobs
    * carrying a fresh job tag, and a tagged sentinel job after `f`
    * flushes the listener bus up to that point. */
  private def jobsRun(spark: SparkSession)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"enginespec-${java.util.UUID.randomUUID}"
    val sentinel = s"$tag-end"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).map(_.getProperty("spark.job.tags", ""))
          .getOrElse("").split(',').toSet)
    }
    def tagged(t: String)(body: => Unit): Unit = {
      sc.addJobTag(t)
      try body finally sc.removeJobTag(t)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(f)
      tagged(sentinel)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_(sentinel)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_(sentinel)), "listener bus did not deliver the sentinel job")
      seen.asScala.count(_(tag))
    } finally sc.removeSparkListener(listener)
  }

  test("Engine.session and the Hive test session carry the shared pins explicitly") {
    val hive = TestSpark.spark
    // one SparkContext per JVM: Engine.session returns the running one,
    // so pass its own master and partition count to leave it unchanged
    val plain = Engine.session(hive.sparkContext.master,
      hive.sparkContext.appName,
      hive.conf.get("spark.sql.shuffle.partitions").toInt)
    for ((label, s) <- Seq("Engine.session" -> plain, "TestSpark.spark" -> hive);
         (k, v) <- pins) {
      assert(s.sparkContext.getConf.getOption(k).contains(v),
        s"$label: $k not pinned to $v in the SparkConf")
      assert(s.conf.get(k) == v, s"$label: $k resolves to ${s.conf.get(k)}")
    }
  }

  test("lint: SparkSession.builder is called only in core/Engine.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val builder = """SparkSession\s*\.\s*builder|\.builder\(\)""".r
    val callers = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString)
      .toSet
    assert(callers == Set("graft/core/Engine.scala"),
      s"SparkSession built outside Engine: ${(callers - "graft/core/Engine.scala").mkString(", ")}")
  }

  test("lint: streaming queries are waited on only in EventStreams.drain") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val await = """processAllAvailable|awaitTermination""".r
    val helper = "graft/streaming/EventStreams.scala"
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        await.findAllMatchIn(src).map(m => (root.relativize(p).toString, m.start, src))
      }.toSeq
    val outside = sites.filter(_._1 != helper).map(_._1).distinct
    assert(outside.isEmpty, s"a stream waited on outside EventStreams.drain: ${outside.mkString(", ")}")
    // inside the helper file, only within `def drain`
    val inHelper = sites.filter(_._1 == helper)
    assert(inHelper.size == 1, s"EventStreams waits on a stream ${inHelper.size} times")
    val (_, at, src) = inHelper.head
    assert(src.lastIndexOf("  def ", at) == src.indexOf("  def drain("),
      "EventStreams waits on a stream outside def drain")
  }

  test("Engine.table: a cached footer schema plans the second read without a job") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("engine_spec_tables")
    val copy = dir.resolve("orders.parquet")
    Files.copy(Paths.get(s"$sf/orders.parquet"), copy)
    assert(jobsRun(spark)(Engine.table(spark, dir.toString, "orders")) == 1)
    assert(jobsRun(spark)(Engine.table(spark, dir.toString, "orders")) == 0)
    val orders = Engine.table(spark, dir.toString, "orders")
    assert(orders.count() == spark.read.parquet(s"$sf/orders.parquet").count())

    // a rewritten file (other contents, other length) is a new version
    val nation = Paths.get(s"$sf/nation.parquet")
    assert(Files.size(nation) != Files.size(copy))
    Files.copy(nation, copy, StandardCopyOption.REPLACE_EXISTING)
    val reread = Engine.table(spark, dir.toString, "orders")
    assert(reread.schema == spark.read.parquet(nation.toString).schema)
    assert(reread.count() == spark.read.parquet(nation.toString).count())
  }

  test("Engine.parquetSchema: a directory is inferred on every call") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("engine_spec_store")
    Files.copy(Paths.get(s"$sf/nation.parquet"), dir.resolve("part-0.parquet"))
    val expected = spark.read.parquet(dir.toString).schema
    for (_ <- 1 to 2)
      assert(jobsRun(spark)(assert(Engine.parquetSchema(spark, dir.toString) == expected)) == 1)
  }

  test("codegen cache holds a pass over q01-q14: a second pass compiles almost nothing") {
    val spark = TestSpark.spark
    val first = CodegenReuse.compiles(CodegenReuse.shortEntries(spark, sf))
    val second = CodegenReuse.compiles(CodegenReuse.shortEntries(spark, sf))
    assert(second <= first / 10,
      s"second pass compiled $second classes, first pass $first: the working set does not fit")
  }

  test("codegen cache is shared across sessions: q01-q14 on a second newSession compiles almost nothing") {
    val (first, second) = CodegenReuse.inChildJvm("sessions", sf)
    assert(second <= first / 10,
      s"second session compiled $second classes, first session $first: sessions do not share generated code")
  }

  test("Engine.attach is idempotent: a second call keeps the registered functions") {
    val spark = TestSpark.spark.newSession()
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val field = org.apache.spark.sql.catalyst.FunctionIdentifier("field")
    Engine.attach(spark)
    val info = registry.lookupFunction(field)
    assert(info.isDefined)
    Engine.attach(spark)
    assert(registry.lookupFunction(field).exists(_ eq info.get),
      "a second attach replaced the registered `field`")
    assert(spark.sql("SELECT field('b', 'a', 'b')").head().getInt(0) == 2)
  }

  test("lint: harness-table parquet reads go through Engine (cached footer schema)") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    // a batch read of a `$d/<table>.parquet` or `$sfDir/...` path,
    // options in between allowed; stores under other roots are out of scope
    val harnessRead =
      """\.read\b(\s*\.\s*\w+\([^()]*\))*\s*\.\s*parquet\(\s*s"\$\{?(d|sfDir)\}?/""".r
    assert(harnessRead.findFirstIn("""s.read.parquet(s"$d/orders.parquet")""").isDefined)
    assert(harnessRead.findFirstIn(
      "spark.read.option(\"k\", \"v\")\n  .parquet(s\"${sfDir}/lineitem.parquet\")").isDefined)
    assert(harnessRead.findFirstIn("""s.read.parquet(s"$base/out")""").isEmpty)
    assert(harnessRead.findFirstIn("""s.readStream.schema(x).parquet(s"$d/e")""").isEmpty)
    val readers = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => harnessRead.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString)
      .toSet - "graft/core/Engine.scala"
    assert(readers.isEmpty, s"harness table read outside Engine.table: ${readers.mkString(", ")}")
  }
}
