package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming over the events stream shape (TESTDATA events
  * table): watermarked tumbling-window aggregation, session windows, and
  * custom sessionization state via flatMapGroupsWithState.
  *
  * The transforms are defined over a generic DataFrame so the same code
  * runs in batch (for the DuckDB-oracle'd q16) and under `readStream` —
  * Spark's unified-API contract. At scale the stateful ops shuffle once
  * on user_id and keep per-key state in the state store; the watermark
  * bounds state size (late events beyond 10 minutes are dropped).
  */
object EventStreams {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class SessionSummary(
      user_id: Long, n_events: Int, first_ts: Timestamp, last_ts: Timestamp,
      total_value: Double)

  /** The events schema as Spark reads it (ts already truncated to us). */
  val schemaDDL: String =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"

  /** On-disk schema when ts is parquet TIMESTAMP(NANOS) = raw INT64
    * (see Engine.table for the batch-side handling). */
  private val rawSchemaDDL: String =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"

  /** On-disk schema when ts is parquet TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) — newer harness generations. */
  private val ntzSchemaDDL: String =
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"

  /** Source directories handed out by [[sourceDir]], one per file. */
  private val sourceDirs = new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, String]()

  /** File-stream sources require a directory; expose a single file (the
    * harness tables are one parquet file each) through a symlinked temp
    * directory, made once per file per JVM (every query keeps its own
    * checkpoint, so they can share it). */
  private[graft] def sourceDir(path: String): String = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    if (java.nio.file.Files.isRegularFile(p))
      sourceDirs.computeIfAbsent(p, { file =>
        val d = java.nio.file.Files.createTempDirectory("graft_stream_src")
        java.nio.file.Files.createSymbolicLink(d.resolve(file.getFileName), file)
        d.toFile.deleteOnExit()
        d.resolve(file.getFileName).toFile.deleteOnExit()
        d.toString
      })
    else path
  }

  def readStream(spark: SparkSession, path: String): DataFrame = {
    val dir = sourceDir(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a file stream needs a user-supplied schema, and `ts` has shipped
    // in two physical layouts across harness generations (see
    // Engine.table) — sniff the footer (Engine's cached schema
    // inference) and present the SAME logical type (session-TZ
    // TIMESTAMP, us precision) for both
    val nanosLayout = graft.core.Engine.parquetSchema(spark, path)
      .apply("ts").dataType == org.apache.spark.sql.types.LongType
    if (nanosLayout)
      spark.readStream
        .schema(rawSchemaDDL)
        .parquet(dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      spark.readStream
        .schema(ntzSchemaDDL)
        .parquet(dir)
        .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Watermarked 5-minute tumbling window counts per event type — the
    * streaming twin of q16_event_windows. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      // integer micro-units like the batch twin q16: floor(x*1e6) is an
      // exactly-rounded IEEE op in every engine, and summing the
      // resulting longs is exact regardless of micro-batch order
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6))).as("total_value_micros"))
      .select(
        col("window.start").as("bucket_start"),
        col("event_type"), col("n_events"), col("total_value_micros"))

  /** Stream-static enrichment: broadcast-join a (static, small)
    * dimension table into the stream before the windowed aggregate —
    * the standard "enrich events with dimensions" shape. Spark re-reads
    * the static side per micro-batch (so dimension updates are picked
    * up) and the broadcast keeps the stream side from shuffling for the
    * join; only the windowed aggregate pays its state-store shuffle.
    * Inner join: events with no dimension row are dropped (the usual
    * enrich contract; use the dedup/quality gates for quarantine). */
  def enrichedWindowedCounts(dim: DataFrame, dimKey: String, dimAttr: String)(
      events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim.select(col(dimKey), col(dimAttr))),
        col("user_id") === col(dimKey))
      .groupBy(window(col("ts"), "5 minutes"), col(dimAttr))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6))).as("total_value_micros"))
      .select(
        col("window.start").as("bucket_start"),
        col(dimAttr), col("n_events"), col("total_value_micros"))

  /** Session-window aggregation (gap-based, built-in session_window). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6))).as("total_value_micros"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value_micros"))

  /** Session windows with a PER-EVENT gap (Spark's dynamic-gap
    * `session_window(ts, gapExpr)`): each event extends its session by
    * its own inactivity allowance — clicks close fast (10 min), other
    * event types hold the session open longer (30 min). Semantically
    * each event spans [ts, ts + gap(event)]; overlapping OR adjacent
    * spans merge (Spark closes a session only when the next start is
    * STRICTLY past the current end — an event landing exactly on the
    * boundary extends the session), so session end = max(ts_i + gap_i)
    * — which is what the batch interval-merge oracle restates with a
    * running max and a strict comparison. Same state-store
    * shape as the fixed-gap form: one shuffle on (user, session),
    * watermark-bounded state. */
  def dynamicSessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(
        session_window(col("ts"),
          when(col("event_type") === "click", lit("10 minutes"))
            .otherwise(lit("30 minutes"))),
        col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6))).as("total_value_micros"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value_micros"))

  /** Custom sessionization with explicit state. A session closes (and
    * its summary is emitted) when a later event arrives past the gap.
    *
    * `flushOpen` decides what happens to the still-open session per user:
    * `true` (batch analytics) emits it at end-of-input instead of storing
    * state; `false` (streaming) keeps it in the state store so a future
    * micro-batch can extend it.
    *
    * `eventTimeTimeout` (streaming, requires a watermark on `ts`
    * upstream) closes the "user went silent forever" gap of plain
    * `flushOpen = false`: each open session registers an event-time
    * timeout at `last event + gap`, so once the watermark passes it the
    * session is emitted and its state dropped — without needing a
    * follow-up event from that user. This also bounds state: at 100 TB/
    * day the store holds only sessions younger than watermark + gap. */
  def sessionize(
      events: Dataset[Event],
      gapMillis: Long = 30L * 60 * 1000,
      flushOpen: Boolean = true,
      eventTimeTimeout: Boolean = false): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (eventTimeTimeout) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Int, Long, Long, Double), SessionSummary](
        OutputMode.Append, timeoutConf) {
        (userId: Long, it: Iterator[Event],
         state: GroupState[(Long, Int, Long, Long, Double)]) =>
          def summary(s: (Long, Int, Long, Long, Double)): SessionSummary =
            SessionSummary(s._1, s._2, new Timestamp(s._3), new Timestamp(s._4),
              math.round(s._5 * 100).toDouble / 100)
          if (eventTimeTimeout && state.hasTimedOut) {
            // watermark passed last-event + gap: the session can no longer
            // be extended (later events would be late-dropped) — emit it
            val out = state.getOption.map(summary).iterator
            state.remove()
            out
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer[SessionSummary]()
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some((uid, n, first, last, tot)) if e.ts.getTime - last <= gapMillis =>
                  cur = Some((uid, n + 1, first, e.ts.getTime, tot + e.value))
                case Some(closed) =>
                  out += summary(closed)
                  cur = Some((userId, 1, e.ts.getTime, e.ts.getTime, e.value))
                case None =>
                  cur = Some((userId, 1, e.ts.getTime, e.ts.getTime, e.value))
              }
            }
            if (flushOpen) {
              cur.foreach(out += summary(_))
              state.remove()
            } else {
              cur.foreach { s =>
                state.update(s)
                if (eventTimeTimeout) state.setTimeoutTimestamp(s._4 + gapMillis)
              }
            }
            out.iterator
          }
      }
  }

  /** Streaming exact dedup: one row per event_id, with the watermark
    * bounding how long dedup state is retained (at 100 TB/day the state
    * store would otherwise grow without bound). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click joined to same-user error
    * events at most `intervalMinutes` before it. Both sides watermarked
    * so the join state expires. */
  def clickErrorJoin(
      clicks: DataFrame,
      errors: DataFrame,
      intervalMinutes: Int = 30,
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val e = errors
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"),
        col("value").as("err_value"))
    c.join(
      e,
      col("user_id") === col("err_user") &&
        col("err_ts") <= col("click_ts") &&
        col("err_ts") >= col("click_ts") - expr(s"INTERVAL $intervalMinutes MINUTES"),
      joinType)
      .select(col("click_id"), col("user_id"), col("click_ts"), col("err_ts"),
        col("err_value"))
  }

  /** Left-outer stream-stream variant of [[clickErrorJoin]]: a click with
    * no matching error surfaces with NULL error columns — but only once
    * the watermark has passed its last possible match time (err_ts <=
    * click_ts, so eviction happens when watermark > click_ts). Matched
    * rows emit as they join; unmatched ones emit from state eviction. */
  def clickErrorLeftJoin(
      clicks: DataFrame,
      errors: DataFrame,
      intervalMinutes: Int = 30): DataFrame =
    clickErrorJoin(clicks, errors, intervalMinutes, joinType = "leftOuter")

  /** Full-outer stream-stream join: matched pairs emit as they join;
    * each side's unmatched rows emit on state eviction once the OTHER
    * side's watermark proves no future match can arrive. Unlike
    * [[clickErrorJoin]] this keeps the error event_id — both unmatched
    * classes need their own unique key for a total output order. An
    * unmatched click evicts when the watermark passes click_ts (errors
    * only join looking backward); an unmatched error must wait a full
    * `intervalMinutes` longer, until no future click's window can still
    * cover it. */
  def clickErrorFullJoin(
      clicks: DataFrame,
      errors: DataFrame,
      intervalMinutes: Int = 30): DataFrame =
    clickErrorKeyedJoin(clicks, errors, intervalMinutes, "fullOuter")

  /** Right-outer stream-stream join — the remaining cell of the
    * outer-join matrix (inner [[clickErrorJoin]], left
    * [[clickErrorLeftJoin]], full [[clickErrorFullJoin]]): every error
    * emits, with NULL click columns once the click watermark has passed
    * `err_ts + intervalMinutes` (the last instant a future click's
    * backward-looking window could still cover the error). Same state
    * bound as the full join: both sides keyed, watermark-evicted. */
  def clickErrorRightJoin(
      clicks: DataFrame,
      errors: DataFrame,
      intervalMinutes: Int = 30): DataFrame =
    clickErrorKeyedJoin(clicks, errors, intervalMinutes, "rightOuter")

  /** Shared body of the outer-join matrix. Both inputs carry their own
    * `withWatermark`; when a query has several watermarked sources the
    * GLOBAL watermark that drives state eviction is, by default, the
    * MINIMUM of the per-source watermarks
    * (`spark.sql.streaming.multipleWatermarkPolicy=min`) — the safe
    * policy: no row is evicted while the laggiest source could still
    * produce a match, at the cost of state held to the slowest source's
    * clock. `max` trades that for bounded state under a permanently
    * lagging source, accepting dropped matches. The harness keeps the
    * default; here both sides derive from ONE events stream, so min and
    * max coincide and the deterministic gates in q191/q219/q237 are
    * exact. On a production fan-in of independent topics, `min` is the
    * correctness-preserving choice and a stuck source must be handled
    * upstream (idle-timeout heartbeats), not by switching to `max`. */
  private def clickErrorKeyedJoin(
      clicks: DataFrame,
      errors: DataFrame,
      intervalMinutes: Int,
      joinType: String): DataFrame = {
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    val e = errors
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"), col("value").as("err_value"))
    c.join(
      e,
      col("click_user") === col("err_user") &&
        col("err_ts") <= col("click_ts") &&
        col("err_ts") >= col("click_ts") - expr(s"INTERVAL $intervalMinutes MINUTES"),
      joinType)
  }

  /** State-store partition count for the local harness streams. A
    * streaming query's state is partitioned by `spark.sql.shuffle
    * .partitions` AT START and every micro-batch then touches every
    * state partition (delta file writes, snapshot upkeep) — so unlike a
    * batch shuffle, over-partitioning a stream has a per-batch fixed
    * cost even when the state is tiny. Sizing it to the load is the
    * standard per-query production tuning; at 100 TB/day this would be
    * raised back up with the data volume. Measured on the sf0.1
    * stream-join drain (200k events, warm JVM, min-of-2): 2 parts
    * 2.2 s, 4 → 2.1 s, 6 → 2.7 s, 8 → 2.9 s, 16 → 4.5 s, 32 → 8.2 s —
    * the per-partition store open/commit cost dominates well before
    * CPU parallelism pays for itself at this state size, so the
    * harness runs the flat bottom of that curve (override:
    * SPARK_GRAFT_STATE_PARTS). */
  private[streaming] val statePartitions =
    sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "4").toInt

  /** Checkpoint dir on tmpfs when the host has one: offset/commit logs
    * and state deltas are fsynced per micro-batch, which dominates the
    * fixed overhead of short-lived local streams on disk-backed temp. */
  private[streaming] def newCheckpointDir(): String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft_ckpt_").toString
  }

  /** Start `out` as an append-mode memory-sink stream, drain all
    * available input, and return the result table. The reduced state
    * partitioning and tmpfs checkpoint change no semantics — only the
    * fixed per-micro-batch overhead. */
  def drainToTable(spark: SparkSession, out: DataFrame, queryName: String): DataFrame = synchronized {
    // synchronized: the set/restore of the session-global shuffle
    // partitions must not interleave across threads (A saves 200, B
    // saves A's temporary 8, B restores 8 → session stuck at 8)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, statePartitions.toString)
    val ckpt = newCheckpointDir()
    try {
      drain(out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .option("checkpointLocation", ckpt)
        .queryName(queryName)
        .start(), Some(ckpt))
    } finally spark.conf.set(key, prev)
    spark.table(queryName)
  }

  /** Finish a one-shot stream: start `query` (evaluated once), run it
    * until it has processed all available input (or has stopped itself,
    * like a `Trigger.AvailableNow` query), stop it, close the state
    * stores it loaded (in local mode; see
    * [[org.apache.spark.sql.graftbridge.Bridge.releaseStateStores]]) and
    * delete `checkpoint`, a throwaway checkpoint dir, when given, also
    * when the query fails to start. The one place the engine waits on a
    * streaming query. */
  def drain(query: => StreamingQuery, checkpoint: Option[String] = None): Unit =
    try {
      val q = query
      try q.processAllAvailable()
      finally {
        q.stop()
        org.apache.spark.sql.graftbridge.Bridge.releaseStateStores(q)
      }
    } finally checkpoint.foreach { dir =>
      // the checkpoint has no resume value; cleanup stays best-effort,
      // but a persistently failing filesystem must leave a signal
      try deleteTree(java.nio.file.Paths.get(dir))
      catch {
        case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"best-effort checkpoint cleanup failed for $dir: $e")
      }
    }

  /** Delete `p` and everything under it, if it exists. */
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Run a streaming query over `dir` into an in-memory table and block
    * until all available input is processed (local smoke harness). */
  def runToMemory(
      spark: SparkSession,
      dir: String,
      transform: DataFrame => DataFrame,
      queryName: String): DataFrame =
    drainToTable(spark, transform(readStream(spark, dir)), queryName)
}
