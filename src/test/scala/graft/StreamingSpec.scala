package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The streaming queries started on `spark` while `f` runs (a
    * query-started event is delivered synchronously on the query's
    * thread, while the query is still registered as active). */
  private def queriesStarted(f: => Unit): Seq[StreamingQuery] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try f finally spark.streams.removeListener(listener)
    started.asScala.toSeq
  }

  /** The state-store providers of `f`'s streams still loaded after it. */
  private def loadedAfter(f: => Unit): (Seq[StateStoreProviderId], Seq[StateStoreProviderId]) = {
    val ids = queriesStarted(f).flatMap(Bridge.stateStoreProviderIds)
    (ids, ids.filter(StateStore.isLoaded))
  }

  test("a drained stream leaves none of its state stores loaded") {
    spark.catalog.dropTempView("stream_test_release")
    val (ids, loaded) = loadedAfter(EventStreams.runToMemory(spark, s"$sf/events.parquet",
      EventStreams.windowedCounts, "stream_test_release").collect())
    assert(ids.nonEmpty && ids.map(_.storeId.storeName).distinct.size == 1)
    assert(loaded.isEmpty, s"${loaded.size} of ${ids.size} state-store providers still loaded")
  }

  test("a drained stream-stream join entry releases all four stores of each partition") {
    val (ids, loaded) = loadedAfter(
      Queries.all.toMap.apply("q64_streaming_interval_join").fn(spark, sf).collect())
    assert(ids.map(_.storeId.storeName).distinct.size == 4)
    assert(ids.size == 4 * ids.map(_.storeId.partitionId).distinct.size)
    assert(loaded.isEmpty, s"${loaded.size} of ${ids.size} state-store providers still loaded")
  }

  test("windowed counts: streaming result is a prefix of the batch result") {
    spark.catalog.dropTempView("stream_test_windows")
    val streamed = EventStreams
      .runToMemory(spark, s"$sf/events.parquet",
        EventStreams.windowedCounts, "stream_test_windows")
      .collect().toSet
    val batch = EventStreams
      .windowedCounts(graft.core.Engine.table(spark, sf, "events"))
      .collect().toSet
    assert(streamed.nonEmpty)
    // append mode withholds windows not yet closed by the watermark
    assert(streamed.subsetOf(batch))
    assert(streamed.size >= batch.size - 10)
  }

  test("session windows aggregate per user with gap semantics") {
    spark.catalog.dropTempView("stream_test_sessions")
    val sessions = EventStreams.runToMemory(
      spark, s"$sf/events.parquet",
      df => EventStreams.sessionWindows(df), "stream_test_sessions")
    assert(sessions.count() > 0)
    assert(sessions.columns.toSet ==
      Set("session_start", "session_end", "user_id", "n_events", "total_value_micros"))
  }

  test("streaming dedup: duplicated source collapses to unique event_ids") {
    // duplicate the input by symlinking the same parquet twice into a dir
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_stream")
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    java.nio.file.Files.createSymbolicLink(dir.resolve("a.parquet"), src)
    java.nio.file.Files.createSymbolicLink(dir.resolve("b.parquet"), src)
    spark.catalog.dropTempView("stream_test_dedup")
    val deduped = EventStreams.runToMemory(
      spark, dir.toString, EventStreams.dedupStream, "stream_test_dedup")
    val n = graft.core.Engine.table(spark, sf, "events").count()
    assert(deduped.count() == n) // 2n input rows -> n unique event_ids
  }

  test("stream-stream interval join emits click/error matches") {
    spark.catalog.dropTempView("stream_test_ssjoin")
    val q = EventStreams
      .clickErrorJoin(
        EventStreams.readStream(spark, s"$sf/events.parquet")
          .filter($"event_type" === "click"),
        EventStreams.readStream(spark, s"$sf/events.parquet")
          .filter($"event_type" === "error"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_test_ssjoin")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("stream_test_ssjoin")
    assert(got.count() > 0)
    // every emitted pair respects the interval condition
    val bad = got.filter(
      $"err_ts" > $"click_ts" ||
        $"err_ts" < $"click_ts" - org.apache.spark.sql.functions.expr("INTERVAL 30 MINUTES"))
    assert(bad.count() == 0)
  }

  test("watermark drops late data across micro-batches") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_late")
    val staging = java.nio.file.Files.createTempDirectory("graft_late_staging")
    // write each batch to a staging dir, then move the committed part
    // file into the watched dir atomically — writing in place would let
    // the live stream list in-flight _temporary files
    def writeBatch(name: String, rows: Seq[(Long, String, Long, String, Double, String)]): Unit = {
      val out = staging.resolve(name)
      rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
        .select(
          $"event_id",
          unix_micros(to_timestamp($"tss")) * 1000 as "ts", // ns on disk
          $"user_id", $"event_type", $"value", $"props")
        .coalesce(1).write.parquet(out.toString)
      val part = java.nio.file.Files.list(out).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part, dir.resolve(s"$name.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // batch 1 advances the watermark to 12:00 - 10min = 11:50
    writeBatch("b1", Seq(
      (1L, "2024-06-01 11:00:00", 1L, "click", 1.0, "{}"),
      (2L, "2024-06-01 12:00:00", 1L, "click", 1.0, "{}")))
    spark.catalog.dropTempView("stream_test_late")
    val q = EventStreams
      .windowedCounts(EventStreams.readStream(spark, dir.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_test_late").start()
    try {
      q.processAllAvailable()
      // batch 2: one on-time event and one far-late event (11:00, before
      // the 11:50 watermark) that must be dropped
      writeBatch("b2", Seq(
        (3L, "2024-06-01 12:01:00", 1L, "view", 1.0, "{}"),
        (4L, "2024-06-01 11:00:00", 1L, "purchase", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("stream_test_late")
    // the late 11:00 purchase must not appear in any emitted window
    assert(out.filter($"event_type" === "purchase").count() == 0)
    // the 11:00 click window WAS emitted (closed by the watermark)
    assert(out.filter($"event_type" === "click" && $"n_events" === 1).count() >= 1)
  }

  test("session windows: 3-batch out-of-order delivery equals single-batch") {
    // the evidence that q63's emission gate is a semantics of the
    // operator, not single-batch luck: the same event set delivered in
    // one batch and in three chronologically-overlapping batches (each
    // late row within the 10-min watermark of the prior batch's max)
    // must emit the identical session set
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long, v: Double) =
      EventStreams.Event(id, Timestamp.valueOf(t), u, "click", v, "{}")
    val b1 = Seq(
      ev(1, "2024-06-01 10:00:00", 1, 1.5),
      ev(2, "2024-06-01 10:05:00", 1, 2.5),
      ev(3, "2024-06-01 10:02:00", 2, 0.25))
    val b2 = Seq( // wm after b1 = 10:05 - 10min = 09:55
      ev(4, "2024-06-01 09:58:00", 2, 0.5), // 7 min late: within watermark
      ev(5, "2024-06-01 10:20:00", 1, 1.0), // extends user 1's session
      ev(6, "2024-06-01 10:30:00", 3, 9.0))
    val b3 = Seq( // wm after b2 = 10:30 - 10min = 10:20
      ev(7, "2024-06-01 12:00:00", 1, 4.0), // user 1's second session
      ev(8, "2024-06-01 10:25:00", 2, 0.125), // late again, still within wm
      ev(9, "2024-06-01 18:00:00", 9, 0.5)) // watermark pusher
    def run(batches: Seq[Seq[EventStreams.Event]], name: String): Set[String] = {
      spark.catalog.dropTempView(name)
      val input = MemoryStream[EventStreams.Event]
      val q = EventStreams.sessionWindows(input.toDF())
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).collect().map(_.mkString("|")).toSet
    }
    val single = run(Seq(b1 ++ b2 ++ b3), "mb_sessions_single")
    val multi = run(Seq(b1, b2, b3), "mb_sessions_multi")
    assert(single.nonEmpty)
    // sessions for users 1 (x2 merged+split), 2 (merged across batches), 3
    // are emitted; user 9's open session is withheld in BOTH modes
    assert(multi == single, s"multi=$multi\nsingle=$single")
    assert(single.size == 4)
  }

  test("interval join: 3-batch delivery equals single-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long, typ: String, v: Double) =
      EventStreams.Event(id, Timestamp.valueOf(t), u, typ, v, "{}")
    val b1 = Seq(
      ev(1, "2024-06-01 10:00:00", 1, "error", 5.0),
      ev(2, "2024-06-01 10:10:00", 1, "click", 0.0))
    val b2 = Seq(
      ev(3, "2024-06-01 10:25:00", 1, "click", 0.0), // joins batch-1 error
      ev(4, "2024-06-01 10:30:00", 2, "error", 7.0))
    val b3 = Seq(
      ev(5, "2024-06-01 10:40:00", 2, "click", 0.0), // joins batch-2 error
      ev(6, "2024-06-01 11:20:00", 1, "click", 0.0), // out of interval: no match
      ev(7, "2024-06-01 18:00:00", 9, "click", 0.0)) // watermark pusher
    def run(batches: Seq[Seq[EventStreams.Event]], name: String): Set[String] = {
      spark.catalog.dropTempView(name)
      val input = MemoryStream[EventStreams.Event]
      val src = input.toDF()
      val q = EventStreams.clickErrorJoin(
          src.filter($"event_type" === "click"),
          src.filter($"event_type" === "error"))
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).collect().map(_.mkString("|")).toSet
    }
    val single = run(Seq(b1 ++ b2 ++ b3), "mb_ssjoin_single")
    val multi = run(Seq(b1, b2, b3), "mb_ssjoin_multi")
    assert(single.nonEmpty)
    assert(multi == single, s"multi=$multi\nsingle=$single")
    // exactly the three in-interval pairs: (click2,err1), (click3,err1), (click5,err4)
    assert(single.size == 3)
  }

  test("continuous ingest dedup: 3 micro-batches = full-corpus batch run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_dedup")
    val (sigs, pairs, ckpt) = (s"$base/sigs", s"$base/pairs", s"$base/ckpt")
    // near-dups within a batch (1~2), across batches (1~10, 11~20), and
    // unrelated noise
    def doc(id: Long, text: String) = (id, text)
    val b1 = Seq(
      doc(1, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(2, "alpha beta gamma delta epsilon zeta eta iota"),
      doc(3, "one two three four five six seven eight"))
    val b2 = Seq(
      doc(10, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      doc(11, "red orange yellow green blue indigo violet ultraviolet"))
    val b3 = Seq(
      doc(20, "red orange yellow green blue indigo violet infrared"), // ~11
      doc(21, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestDedup.start(
      input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", sigs, pairs, ckpt)
    try Seq(b1, b2, b3).foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(pairs)
      .select("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val full = graft.operators.Dedup
      .minhashLsh((b1 ++ b2 ++ b3).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == full, s"streamed=$streamed\nfull=$full")
    assert(streamed.exists { case (a, b, _) => (a, b) == ((1L, 10L)) })
    // the store holds exactly one signature per ingested doc
    assert(spark.read.parquet(sigs).count() == 7)
  }

  test("sessionize event-time timeout emits the final session of a silent user") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long, v: Double) =
      EventStreams.Event(id, Timestamp.valueOf(t), u, "click", v, "{}")
    val input = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.sessionize(
      input.toDS()
        .withWatermark("ts", "0 seconds").as[EventStreams.Event],
      gapMillis = 30L * 60 * 1000, flushOpen = false, eventTimeTimeout = true)
    spark.catalog.dropTempView("stream_test_timeout")
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("stream_test_timeout").start()
    try {
      // user 7's only session; user 7 then goes silent forever
      input.addData(
        ev(1, "2024-01-01 10:00:00", 7, 1.0),
        ev(2, "2024-01-01 10:10:00", 7, 2.0))
      q.processAllAvailable()
      // another user's much later event advances the watermark past
      // 10:10 + 30min; a further batch lets the timeout fire
      input.addData(ev(3, "2024-01-01 13:00:00", 8, 4.0))
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 13:05:00", 8, 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("stream_test_timeout")
      .as[EventStreams.SessionSummary].collect()
    val u7 = out.filter(_.user_id == 7L)
    assert(u7.length == 1, s"expected user 7's session via timeout, got ${out.toSeq}")
    assert(u7.head.n_events == 2 && u7.head.total_value == 3.0)
  }

  test("sessionize: state store survives a query restart (open session emitted after resume)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_sessionize_restart").toString
    def ev(id: Long, t: String, u: Long, v: Double) =
      EventStreams.Event(id, Timestamp.valueOf(t), u, "click", v, "{}")
    def writeFile(n: Int, evs: Seq[EventStreams.Event]): Unit =
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(s"$base/src/f$n")
    val schema = Seq(ev(0, "2024-01-01 00:00:00", 0, 0.0)).toDS().schema
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(s"$base/src/*")
        .withWatermark("ts", "0 seconds").as[EventStreams.Event]
      val q = EventStreams.sessionize(src, gapMillis = 30L * 60 * 1000,
          flushOpen = false, eventTimeTimeout = true)
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // lifetime 1: user 7's open session enters the state store, then the
    // query "crashes" (stop). Nothing is emitted yet.
    writeFile(1, Seq(
      ev(1, "2024-01-01 10:00:00", 7, 1.0),
      ev(2, "2024-01-01 10:10:00", 7, 2.0),
      ev(3, "2024-01-01 13:00:00", 8, 4.0))) // watermark past 10:10+30min
    runOnce()
    // lifetime 2: a NEW query on the same checkpoint sees only the new
    // file; the timeout for user 7 can only fire if lifetime 1's state
    // was recovered from the state store
    writeFile(2, Seq(ev(4, "2024-01-01 13:05:00", 8, 4.0)))
    runOnce()
    val out = spark.read.parquet(s"$base/out").as[EventStreams.SessionSummary]
      .collect().filter(_.user_id == 7L)
    assert(out.length == 1,
      s"user 7's session must be emitted after restart, got ${out.toSeq}")
    assert(out.head.n_events == 2 && out.head.total_value == 3.0)
  }

  test("sessionize: explicit state splits on gap, aggregates in order") {
    def ev(id: Long, t: String, u: Long, v: Double) =
      EventStreams.Event(id, Timestamp.valueOf(t), u, "click", v, "{}")
    val events = Seq(
      ev(1, "2024-01-01 10:00:00", 7, 1.0),
      ev(2, "2024-01-01 10:10:00", 7, 2.0), // same session (10 min gap)
      ev(3, "2024-01-01 12:00:00", 7, 4.0), // new session (>30 min)
      ev(4, "2024-01-01 10:05:00", 8, 8.0)).toDS()
    // batch mode (flushOpen default): every session emitted, incl. open ones
    val out = EventStreams.sessionize(events, gapMillis = 30L * 60 * 1000)
      .collect().sortBy(s => (s.user_id, s.first_ts.getTime))
    assert(out.length == 3)
    assert(out(0).user_id == 7 && out(0).n_events == 2 && out(0).total_value == 3.0)
    assert(out(1).user_id == 7 && out(1).n_events == 1 && out(1).total_value == 4.0)
    assert(out(2).user_id == 8 && out(2).n_events == 1)
    // streaming mode: open sessions stay in state, only closed ones emit
    val streamed = EventStreams
      .sessionize(events, gapMillis = 30L * 60 * 1000, flushOpen = false)
      .collect()
    assert(streamed.length == 1)
    assert(streamed(0).user_id == 7 && streamed(0).n_events == 2)
  }

  test("a rerun of one stream on one session compiles no new generated classes") {
    // each run clones the session; the clone must run its tasks under
    // the same classloader, on which the generated-code cache is keyed
    val (first, second) = CodegenReuse.inChildJvm("stream", sf)
    assert(first > 0)
    assert(second == 0, s"the second run compiled $second generated classes (the first $first)")
  }

  test("sourceDir: one symlinked source directory per file, a directory passes through") {
    val dir = EventStreams.sourceDir(s"$sf/events.parquet")
    assert(EventStreams.sourceDir(s"$sf/events.parquet") == dir)
    assert(EventStreams.sourceDir(s"$sf/./events.parquet") == dir)
    val listed = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(listed.iterator().asScala.map(_.getFileName.toString).toList == List("events.parquet"))
    finally listed.close()
    assert(EventStreams.sourceDir(sf) == sf)
  }
}
