package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.core.Engine

/** Generated-code reuse across sessions, measured in a child JVM whose
  * one SparkContext a plain [[Engine.session]] built. The test JVM's
  * context is the Hive session ([[TestSpark]]), and Spark's builder
  * turns artifact isolation off for every Hive session, so only a plain
  * session shows whether `Engine.session` itself keeps one executor
  * classloader (the codegen cache is keyed on it) for all its sessions. */
object CodegenReuse {

  /** Generated classes compiled while `f` runs. */
  def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** q01-q14 through the noop sink. */
  def shortEntries(spark: SparkSession, sf: String): Unit = {
    val entries = Queries.all.filter { case (n, _) => n.matches("q(0[1-9]|1[0-4])_.*") }
    assert(entries.size == 14)
    entries.foreach { case (_, q) => q.fn(spark, sf).write.format("noop").mode("overwrite").save() }
  }

  /** The windowed-counts stream over `sf`'s events, drained to memory. */
  def windowedStream(spark: SparkSession, sf: String): Unit = {
    spark.catalog.dropTempView("codegen_reuse_stream")
    graft.streaming.EventStreams.runToMemory(spark, s"$sf/events.parquet",
      graft.streaming.EventStreams.windowedCounts, "codegen_reuse_stream").collect()
  }

  /** `sessions SF`: q01-q14 on one `newSession()`, then on another.
    * `stream SF`: the windowed stream twice on one session. Prints
    * `CODEGEN first=<n> second=<n>`. */
  def main(args: Array[String]): Unit = {
    val Array(mode, sf) = args
    val spark = Engine.session("local[2]", "codegen-reuse", 2)
    try {
      val counts = mode match {
        case "sessions" => Seq.fill(2)(compiles(shortEntries(spark.newSession(), sf)))
        case "stream" =>
          val s = spark.newSession()
          Seq.fill(2)(compiles(windowedStream(s, sf)))
      }
      println(s"CODEGEN first=${counts(0)} second=${counts(1)}")
    } finally spark.stop()
  }

  /** Run [[main]] in a child JVM; returns (first, second). */
  def inChildJvm(mode: String, sf: String): (Long, Long) = {
    val log = childJvmOutput("graft.CodegenReuse", mode, sf)
    val line = """CODEGEN first=(\d+) second=(\d+)""".r
    line.findFirstMatchIn(log) match {
      case Some(m) => (m.group(1).toLong, m.group(2).toLong)
      case None => throw new AssertionError(s"child JVM printed no CODEGEN line:\n${log.takeRight(4000)}")
    }
  }

  /** Run `mainClass` in a child JVM with this JVM's classpath and module
    * flags; returns what it printed (stdout and stderr). */
  def childJvmOutput(mainClass: String, args: String*): String = {
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val out = Files.createTempFile("child_jvm", ".log")
    try {
      val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmFlags ++
        Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
      val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
        .redirectOutput(out.toFile).start()
      if (!p.waitFor(600, TimeUnit.SECONDS)) p.destroyForcibly()
      Files.readString(out)
    } finally Files.deleteIfExists(out)
  }
}
