package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Engine

/** The one-runtime-contract locks: every session the engine builds
  * carries `Engine.session`'s pins, and `Engine` is the only place in
  * the program that calls the SparkSession builder (a lint-style source
  * scan — a hand-built session elsewhere would silently drift from the
  * configuration that is benchmarked and verified). */
class EngineSpec extends AnyFunSuite {

  private val pins = Seq(
    "spark.sql.requireAllClusterKeysForDistribution" -> "false",
    "spark.sql.ansi.enabled" -> "false")

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
}
