package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Quality

/** Round-5 additions: analysis-time type checks, torn-write visibility,
  * structural single-scan quality checks. */
class Round6Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("misra-gries: non-string column is rejected at analysis time") {
    graft.core.Engine.attach(spark)
    Seq(1L, 2L, 2L).toDF("n").createOrReplaceTempView("mg_type_spec")
    val e = intercept[Exception] {
      spark.sql("SELECT misra_gries(n, 4) FROM mg_type_spec").collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"),
      s"expected an analysis error mentioning STRING, got: ${e.getMessage}")
  }

  test("upsert state: a torn newest version (no _SUCCESS) is invisible") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_upsert_torn").toString + "/state"
    val rows = Seq((1L, 100L, 10L, 1.0)).toDF("user_id", "ts", "event_id", "value")
    graft.streaming.UpsertSink.processBatch(
      spark, rows, 0L, dir, "user_id", "ts", "event_id", Seq("value"))
    // simulate a crash mid-write of v=1: parquet part present, no _SUCCESS
    val torn = new java.io.File(s"$dir/v=1")
    assert(torn.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/v=1/part-00000.parquet"),
      Array[Byte](1, 2, 3))
    val head = graft.streaming.UpsertSink.currentState(spark, dir)
    assert(head.count() == 1L) // still reads complete v=0, not the torn v=1
    // and the writer's prior-version lookup skips it too: batch 2 merges
    // against v=0, so user 1 survives
    val rows2 = Seq((2L, 200L, 20L, 2.0)).toDF("user_id", "ts", "event_id", "value")
    graft.streaming.UpsertSink.processBatch(
      spark, rows2, 2L, dir, "user_id", "ts", "event_id", Seq("value"))
    val got = graft.streaming.UpsertSink.currentState(spark, dir)
      .orderBy("user_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("quality rowChecks: one scan structurally (stack, not union)") {
    val df = Seq((1L, Some(5L)), (2L, None)).toDF("k", "v")
    val out = Quality.rowChecks(df, Seq(
      Quality.RowCheck("v_not_null", col("v").isNull),
      Quality.RowCheck("v_range", !col("v").between(0, 50)),
      Quality.RowCheck("k_positive", col("k") <= 0)))
    val plan = out.queryExecution.executedPlan.toString
    val scans = "LocalTableScan|Scan ".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly one scan, plan:\n$plan")
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("v_not_null" -> 1L, "v_range" -> 0L, "k_positive" -> 0L))
  }

  test("bmp resize: exact nearest-neighbor pixels on a hand-built image") {
    import graft.multimodal.Codecs
    // 4x2 source, seed 100: storage pixel (x,y) value = 100 + y*4 + x
    val src = Codecs.encodeBmp(4, 2, seed = 100)
    val out = Codecs.resizeBmp(src, 2, 1).get
    val info = Codecs.parseBmp(out).get
    assert((info.width, info.height, info.bitDepth) == ((2, 1, 24)))
    assert(out.length == Codecs.bmpFileSize(2, 1))
    // NN mapping: target (0,0) <- src (0,0) = 100; target (1,0) <- src (2,0) = 102
    def px(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16)
    assert(px(out, 54) == 100L)
    assert(px(out, 57) == 102L)
    // corrupt payload: skipped, not thrown
    assert(Codecs.resizeBmp("not a bmp".getBytes, 2, 2).isEmpty)
    // degenerate target: rejected
    assert(Codecs.resizeBmp(src, 0, 5).isEmpty)
  }

  test("sessionize: RocksDB state store provider recovers across restart") {
    // the production state backend for large state (HDFS-backed stores
    // hold state on the heap; RocksDB spills) — same recovery contract,
    // different provider, exercised end-to-end incl. native lib loading
    import java.sql.Timestamp
    import graft.streaming.EventStreams
    val base = java.nio.file.Files
      .createTempDirectory("graft_rocksdb_restart").toString
    def ev(id: Long, t: String, u: Long, v: Double) =
      EventStreams.Event(id, Timestamp.valueOf(t), u, "click", v, "{}")
    def writeFile(n: Int, evs: Seq[EventStreams.Event]): Unit =
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(s"$base/src/f$n")
    val schema = Seq(ev(0, "2024-01-01 00:00:00", 0, 0.0)).toDS().schema
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def runOnce(): Unit = {
        val src = spark.readStream.schema(schema).parquet(s"$base/src/*")
          .withWatermark("ts", "0 seconds").as[EventStreams.Event]
        val q = EventStreams.sessionize(src, gapMillis = 30L * 60 * 1000,
            flushOpen = false, eventTimeTimeout = true)
          .writeStream.outputMode("append").format("parquet")
          .option("checkpointLocation", s"$base/ckpt")
          .option("path", s"$base/out")
          .start()
        EventStreams.drain(q)
        // the drain closes the RocksDB providers (and their native state)
        val ids = org.apache.spark.sql.graftbridge.Bridge.stateStoreProviderIds(q)
        assert(ids.nonEmpty)
        assert(!ids.exists(org.apache.spark.sql.execution.streaming.state.StateStore.isLoaded),
          "a RocksDB state-store provider is still loaded after the drain")
      }
      writeFile(1, Seq(
        ev(1, "2024-01-01 10:00:00", 7, 1.0),
        ev(2, "2024-01-01 10:10:00", 7, 2.0),
        ev(3, "2024-01-01 13:00:00", 8, 4.0)))
      runOnce()
      writeFile(2, Seq(ev(4, "2024-01-01 13:05:00", 8, 4.0)))
      runOnce()
      val out = spark.read.parquet(s"$base/out")
        .as[EventStreams.SessionSummary]
        .collect().filter(_.user_id == 7L)
      assert(out.length == 1,
        s"user 7's session must be emitted after RocksDB restart, got ${out.toSeq}")
      assert(out.head.n_events == 2 && out.head.total_value == 3.0)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("bloom_agg / bloom_might_contain: no false negatives, real pruning") {
    graft.core.Engine.attach(spark)
    (1L to 500L).toDF("k").createOrReplaceTempView("bloom_keys")
    (1L to 10000L).toDF("x").createOrReplaceTempView("bloom_probe")
    val hits = spark.sql(
      """SELECT count(*) FROM bloom_probe
        |WHERE bloom_might_contain(
        |  (SELECT bloom_agg(k, 1024L, 16384L) FROM bloom_keys), x)""".stripMargin)
      .collect()(0).getLong(0)
    // every true member passes (bloom guarantees no false negatives)...
    assert(hits >= 500L, s"false negatives: only $hits of 500 members hit")
    // ...and the filter actually prunes (false positives bounded well
    // below the non-member count)
    assert(hits < 2000L, s"bloom not pruning: $hits of 10000 passed")
  }

  test("bench short keys are injective over the catalog") {
    val keys = Queries.all.map(e => Bench.shortKey(e._1))
    val dups = keys.groupBy(identity).filter(_._2.size > 1).keys
    assert(keys.distinct.size == Queries.all.size,
      s"colliding bench keys: ${dups.mkString(", ")}")
  }
}
