package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.core.Engine
import graft.pipeline.M33Pipeline
import graft.sinks.JdbcSink
import graft.sql.Statements

/** Command-line settings, passed by run.py. */
final case class Cfg(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    scratch: String, outDir: String, cores: Int, startEpochMs: Long, tables: String)

/** What the set-up did: output checks made and failed, and the seconds
  * spent building the session, making the inputs and warming up. */
final case class SetUp(checks: Int, failed: Int, sessionS: Double, inputsS: Double, warmupS: Double)

/** A workload: one set-up, then closed-loop clients issuing timed
  * operations until the deadline. */
trait Workload {
  def clients: Int
  /** The run's set-up: session, inputs, warm-up with output checks. */
  def setup(): SetUp
  def tracer: Tracer
  def sessions: Seq[SparkSession]
  /** The operations `client` runs in round `r`; together the clients
    * run every operation kind of the workload once per round. */
  def round(client: Int, r: Int): Seq[String]
  /** One timed operation. Returns its record and its output check, which
    * the caller runs after the operation, outside its timing; the check
    * returns false on a mismatch. */
  def operation(client: Int, name: String): (OpRec, () => Boolean)
  /** Workload-specific end-to-end figures: (name, value, unit, samples).
    * `phaseS` is the wall-clock length of the timed phase. */
  def extraMetrics(ops: Seq[OpRec], spans: Seq[Stats.Span], phaseS: Double): Seq[(String, Double, String, Int)]
  def stop(): Unit
}

object Checks {
  /** Row count and order-independent content hash: Σ xxhash64 over all
    * columns of each row, summed exactly. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(df.col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Committed (rows, hash) per catalog entry, from expected.json. */
  def expected(path: String): Map[String, (Long, BigDecimal)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    node.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), BigDecimal(e.getValue.get("hash").asText()))
    }.toMap
  }
}

/** elt_m33: one client, the reference pipeline per cycle — HiveQL DDL,
  * CTAS, JDBC export into a fresh Derby table, read-back. */
final class EltM33(cfg: Cfg) extends Workload {
  val clients = 1
  /** 35 k rows per file, 140 k rows in all: a twentieth of the
    * paper's scale, so that a cycle takes about 3 s and a run holds
    * several. */
  val RowsPerFile = 35000
  val Mappers = 4
  val BatchSize = 10000
  /** Untimed, checked cycles in the set-up: over the first five or so
    * cycles of a JVM a cycle's time falls from about 4 s to about 2.6 s
    * on 4 cores as the JIT compiles the path. */
  val WarmupCycles = 5
  private var spark: SparkSession = _
  var tracer: Tracer = _
  private var root: String = _
  private var sums: Data.M33Sums = _
  private var url: String = _
  private var sinkTable = false
  def sessions: Seq[SparkSession] = Seq(spark)

  def setup(): SetUp = {
    val dir = cfg.scratch
    val t0 = System.nanoTime()
    spark = Engine.hiveSession(s"$dir/warehouse", s"$dir/metastore", s"local[${cfg.cores}]")
    tracer = new Tracer(spark.sparkContext)
    val t1 = System.nanoTime()
    val (r, s) = Data.writeM33(s"$dir/data", RowsPerFile, cfg.seed)
    root = r; sums = s
    url = s"jdbc:derby:$dir/sink;create=true"
    val t2 = System.nanoTime()
    val failed = (1 to WarmupCycles).count { _ => val (_, check) = operation(0, "pipeline"); !check() }
    SetUp(WarmupCycles, failed, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (System.nanoTime() - t2) / 1e9)
  }

  def round(client: Int, r: Int): Seq[String] = Seq("pipeline")

  def operation(client: Int, name: String): (OpRec, () => Boolean) = {
    val stmts = M33Pipeline.sqlStatements(root)
    var readBack = 0
    val rec = tracer.op(name, client) {
      tracer.span("sql.ddl") {
        Seq("DROP TABLE IF EXISTS m33", "DROP VIEW IF EXISTS m33_schem", "DROP TABLE IF EXISTS m33_raw")
          .foreach(Statements.exec(spark, _))
        stmts.init.foreach(Statements.exec(spark, _))
      }
      tracer.span("pipeline.ctas")(Statements.exec(spark, stmts.last))
      tracer.span("sinks.export") {
        JdbcSink.execStatements(url, (if (sinkTable) Seq("DROP TABLE m33x") else Nil) :+
          "CREATE TABLE m33x (age_mil BIGINT, wavelength DOUBLE, flam DOUBLE, is_peculiar INT)")
        sinkTable = true
        val m33 = tracer.span("plan.compose")(spark.table("m33"))
        JdbcSink.export(m33, url, "m33x", numMappers = Mappers, batchSize = BatchSize)
      }
      readBack = tracer.span("sinks.readback") {
        tracer.span("plan.compose")(JdbcSink.readBack(spark, url, "m33x")).collect().length
      }
    }
    (rec, () => rec.ok && readBack == 100 && sinkMatches())
  }

  /** Derby-side COUNT(*) and exact column sums against the writer's. */
  private def sinkMatches(): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val r = conn.createStatement().executeQuery(
        "SELECT COUNT(*), SUM(age_mil), SUM(CAST(is_peculiar AS BIGINT)), " +
          "SUM(CAST(FLOOR(wavelength * 100 + 0.5) AS BIGINT)), SUM(CAST(FLOOR(flam * 10 + 0.5) AS BIGINT)) FROM m33x")
      r.next()
      val got = Data.M33Sums(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      if (got != sums) System.err.println(s"[perfbench] sink check failed: got $got, expected $sums")
      got == sums
    } finally conn.close()
  }

  def extraMetrics(ops: Seq[OpRec], spans: Seq[Stats.Span], phaseS: Double): Seq[(String, Double, String, Int)] = {
    val ok = ops.filter(_.ok).map(_.id).toSet
    def stage(name: String): Seq[Double] = spans.filter(s => s.name == name && ok(s.op)).map(_.dur)
    val rows = sums.rows.toDouble
    Seq(
      ("pipeline_s", Stats.median(ops.filter(_.ok).map(_.wall)), "s", ok.size),
      ("ctas_rows_per_s", rows / Stats.median(stage("pipeline.ctas")), "rows/s", stage("pipeline.ctas").size),
      ("export_rows_per_s", rows / Stats.median(stage("sinks.export")), "rows/s", stage("sinks.export").size))
  }

  def stop(): Unit = if (spark != null) spark.stop()
}

/** adhoc_sql: two clients, each in its own session, each running a
  * seed-shuffled order of short catalog entries through the noop sink. */
final class AdhocSql(cfg: Cfg, expected: Map[String, (Long, BigDecimal)]) extends Workload {
  val clients = 2
  val Entries: Seq[String] = AdhocSql.Entries
  private val catalog = Queries.all.toMap
  private var base: SparkSession = _
  private var clientSessions: Seq[SparkSession] = Nil
  var tracer: Tracer = _
  def sessions: Seq[SparkSession] = clientSessions

  private def timedFn(name: String) = { val q = catalog(name); q.benchFn.getOrElse(q.fn) }

  def setup(): SetUp = {
    val t0 = System.nanoTime()
    base = Engine.session(s"local[${cfg.cores}]", "perfbench", cfg.cores)
    clientSessions = Seq.fill(clients)(Engine.attach(base.newSession()))
    tracer = new Tracer(base.sparkContext)
    val t1 = System.nanoTime()
    // warm-up: every entry runs once and is checked, the entries shared
    // out among one fresh session per core
    val checkFailed = Main.inParallel(cfg.cores) { t =>
      val s = Engine.attach(base.newSession())
      Entries.zipWithIndex.filter(_._2 % cfg.cores == t).map(_._1).count { name =>
        val got = try Some(Checks.digest(timedFn(name)(s, cfg.tables))) catch {
          case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); None
        }
        val bad = !got.contains(expected(name))
        if (bad) System.err.println(s"[perfbench] $name check failed: got $got, expected ${expected(name)}")
        bad
      }
    }.sum
    // then one untimed round on the client sessions: round times still
    // fall by about a tenth from the first round to the second as the
    // JIT compiles the path
    val roundFailed = Main.inParallel(clients)(c => round(c, -1).count(n => !operation(c, n)._1.ok)).sum
    SetUp(2 * Entries.size, checkFailed + roundFailed, (t1 - t0) / 1e9, 0.0, (System.nanoTime() - t1) / 1e9)
  }

  /** A seed-shuffled order of all entries per round, dealt out to the
    * clients in turn. */
  def round(client: Int, r: Int): Seq[String] =
    new scala.util.Random(cfg.seed * 7919L + r).shuffle(Entries)
      .zipWithIndex.filter(_._2 % clients == client).map(_._1)

  /** The entry's function is timed as `plan.compose`, except that a
    * streaming entry's runs its whole stream before it returns, so it is
    * timed as `streaming.run`. The outputs were checked in the set-up. */
  def operation(client: Int, name: String): (OpRec, () => Boolean) = {
    val s = clientSessions(client)
    val fnSpan = if (AdhocSql.Streaming(name)) "streaming.run" else "plan.compose"
    val rec = tracer.op(name, client) {
      val df = tracer.span(fnSpan)(timedFn(name)(s, cfg.tables))
      tracer.span("exec.run")(df.write.format("noop").mode("overwrite").save())
    }
    (rec, () => true)
  }

  def extraMetrics(ops: Seq[OpRec], spans: Seq[Stats.Span], phaseS: Double): Seq[(String, Double, String, Int)] = {
    val walls = ops.filter(_.ok).map(_.wall)
    val tail = Stats.tailPercentile(walls.size).filter(_._1 >= 0.9).map { case (p, _) =>
      (s"query_p${(p * 100).round}_s", Stats.quantile(walls, p), "s", walls.size)
    }
    Seq(("query_p50_s", Stats.median(walls), "s", walls.size)) ++ tail ++
      Seq(("queries_per_s", walls.size / phaseS, "1/s", walls.size))
  }

  def stop(): Unit = if (base != null) base.stop()
}

object AdhocSql {
  /** Short pure-SQL catalog entries (planning, job submission and
    * scheduling dominate their wall) and one streaming entry, q35, so
    * the streaming scaffold's fixed cost is measured too. */
  val Entries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders", "q04_segment_top_customers",
    "q05_running_revenue", "q06_distinct_counts", "q07_semi_join", "q08_anti_join", "q09_set_ops",
    "q10_rollup", "q11_cube", "q12_having", "q13_scalar_funcs", "q14_above_brand_avg",
    "q37_grouping_sets", "q38_subquery_decorrelation", "q52_sortmerge_join", "q110_window_battery",
    "q151_revenue_deciles", "q35_streaming_windows")
  val Streaming: Set[String] = Set("q35_streaming_windows")
}

object Main {
  /** An operation running longer than this is cancelled and fails. */
  val OpTimeoutSec = 60.0

  def inParallel[A](n: Int)(f: Int => A): Seq[A] = {
    val results = new Array[Any](n)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => try results(c) = f(c) catch { case e: Throwable => errors.add(e) }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    results.toSeq.map(_.asInstanceOf[A])
  }

  /** Total time the JIT compilers have spent so far. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selfcheck")) sys.exit(SelfCheck.run(args(1)))
    if (args.headOption.contains("--oracle-dump")) { OracleDump.run(args(1), args(2), args(3)); sys.exit(0) }
    val cfg = Cfg(
      workload = arg(args, "--workload").get, seed = arg(args, "--seed").get.toLong,
      seconds = arg(args, "--seconds").get.toDouble, trace = arg(args, "--trace").get == "1",
      scratch = arg(args, "--scratch").get, outDir = arg(args, "--out").get,
      cores = arg(args, "--cores").get.toInt, startEpochMs = arg(args, "--start-epoch-ms").get.toLong,
      tables = arg(args, "--tables").get)
    System.setProperty("derby.stream.error.file", s"${cfg.scratch}/derby.log")
    JdbcSink.tuneEmbeddedDerbyForBulkLoad()
    val w: Workload = cfg.workload match {
      case "elt_m33" => new EltM33(cfg)
      case "adhoc_sql" => new AdhocSql(cfg, Checks.expected(arg(args, "--expected").get))
    }
    try run(cfg, w) finally w.stop()
    sys.exit(0)
  }

  private def run(cfg: Cfg, w: Workload): Unit = {
    // the set-up counts from the start of the benchmark process: JVM
    // start, session, inputs and warm-up
    val setup = w.setup()
    val setupS = System.currentTimeMillis() / 1e3 - cfg.startEpochMs / 1e3
    val jitAtStart = jitSeconds()
    val tr = w.tracer
    val sc = w.sessions.head.sparkContext
    val tStart = tr.now()
    val deadline = tStart + cfg.seconds
    // Closed loop in rounds: the clients run their share of a round, wait
    // for each other, and start another round while before the deadline,
    // running at least three rounds, so that one slow round (the JIT is
    // still compiling on this many cores) does not move a kind's median.
    // A traced run leaves round 0 out of the overhead comparison (the
    // client sessions' first round) and traces rounds 2, 3, 6, 7, ...
    // (ABBA from round 1: untraced, traced, traced, untraced), running at
    // least five rounds, so drift cancels out of the traced-vs-untraced
    // difference, the tracing overhead.
    def traced(r: Int): Boolean = cfg.trace && r >= 1 && ((r - 1) % 4 == 1 || (r - 1) % 4 == 2)
    @volatile var round = 0
    @volatile var running = true
    @volatile var round1Start = Double.MaxValue
    val barrier = new java.util.concurrent.CyclicBarrier(w.clients, () => {
      round += 1
      running = tr.now() < deadline || round < (if (cfg.trace) 5 else 3)
      if (running && traced(round) != tr.tracing) {
        if (tr.tracing) tr.stop() else tr.start(w.sessions)
      }
      if (round == 1) round1Start = tr.now()
    })
    val watchdog = new Watchdog(sc, w.sessions, tr)
    // each operation's wall by the caller's own clock reads, against
    // which a traced run checks the operation's span self times
    val walls = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val outcome = inParallel(w.clients) { c =>
      var failed = 0
      while (running) {
        for (name <- w.round(c, round)) {
          watchdog.arm(c)
          val t0 = tr.now()
          val (rec, check) = w.operation(c, name)
          walls.put(rec.id, tr.now() - t0)
          if (watchdog.disarm(c) || !rec.ok || !check()) failed += 1
        }
        barrier.await()
      }
      failed
    }
    // the last round has ended: the timed phase is over
    val phaseS = tr.now() - tStart
    if (tr.tracing) tr.stop()
    watchdog.close()
    val ops = tr.ops.asScala.toSeq.filter(_.start >= tStart).sortBy(_.start)
    val failed = outcome.sum + setup.failed
    val attempted = ops.size + setup.checks
    val okOps = ops.filter(_.ok)
    require(okOps.nonEmpty, "no operation completed")
    val spans = tr.spans.asScala.toSeq

    val out = new StringBuilder
    def info(s: String): Unit = { println(s"[perfbench] $s"); out ++= s ++= "\n" }
    info(s"workload=${cfg.workload} seed=${cfg.seed} seconds=${cfg.seconds} trace=${if (cfg.trace) 1 else 0} " +
      s"cores=${cfg.cores} clients=${w.clients} catalog-tables-seed=${Data.TablesSeed} (fixed)")
    info(f"attempted=$attempted failed=$failed failed_ratio=${failed.toDouble / attempted}%.4f " +
      s"(timed ops ${ops.size}, set-up checks ${setup.checks})")
    info(f"set-up: $setupS%.3f s from process start; session/inputs/warm-up " +
      f"${setup.sessionS}%.2f/${setup.inputsS}%.2f/${setup.warmupS}%.2f s; timed phase $phaseS%.3f s")
    info(f"JIT compile time: ${jitAtStart}%.2f s at the end of the set-up, ${Main.jitSeconds()}%.2f s at the end")

    val metrics: Seq[(String, Double, String)] =
      if (!cfg.trace) {
        val byKind = okOps.groupBy(_.kind).values.map(o => Stats.median(o.map(_.wall)))
        // the least heap in use over a few full collections: Spark's
        // context cleaner frees blocks only after a collection found
        // their owners unreachable
        val mem = java.lang.management.ManagementFactory.getMemoryMXBean
        val heapMb = (1 to 3).map { _ => System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1e6 }.min
        val e2e = Seq(
          ("setup_s", setupS, "s", 1),
          ("op_latency_s", byKind.sum / byKind.size, "s", okOps.size),
          ("ops_per_s", okOps.size / phaseS, "1/s", okOps.size),
          ("heap_retained_mb", heapMb, "MB", 1))
        (e2e ++ w.extraMetrics(okOps, spans, phaseS)).foreach { case (n, v, u, k) => info(f"metric $n%-20s $v%14.4f $u%-6s samples=$k") }
        okOps.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, o) =>
          info(f"kind $k n=${o.size} median_s=${Stats.median(o.map(_.wall))}%.4f walls_s=" + o.map(x => f"${x.wall}%.3f").mkString(","))
        }
        e2e.map { case (n, v, u, _) => (n, v, u) }
      } else {
        val layers = new Layers(tr, ops, spans, setup.sessionS, round1Start, walls.asScala.toMap)
        layers.report(info)
        if (!layers.selfTimesSumToWall) { info("self times do not sum to wall time"); throw new IllegalStateException("span self-time check failed") }
        val name = s"${cfg.workload}-seed${cfg.seed}"
        Files.createDirectories(Paths.get(cfg.outDir))
        Files.write(Paths.get(cfg.outDir, s"$name.spans.jsonl"), tr.spansJsonLines.toSeq.asJava, StandardCharsets.UTF_8)
        layers.reported
      }
    Files.createDirectories(Paths.get(cfg.outDir))
    Files.write(Paths.get(cfg.outDir, s"${cfg.workload}-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}.txt"),
      out.toString.getBytes(StandardCharsets.UTF_8))
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${Layers.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

/** Cancels a client's operation that runs past [[Main.OpTimeoutSec]]:
  * its jobs and any streaming query of its session. */
final class Watchdog(sc: org.apache.spark.SparkContext, sessions: Seq[SparkSession], tr: Tracer) {
  private val armed = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val fired = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val timer = new java.util.Timer("perfbench-watchdog", true)
  timer.schedule(new java.util.TimerTask {
    def run(): Unit = armed.asScala.foreach { case (c, t) =>
      if (tr.now() - t > Main.OpTimeoutSec && fired.add(c)) {
        System.err.println(s"[perfbench] client $c operation timed out")
        sc.cancelJobGroup(s"perfbench-client-$c")
        sessions(c).streams.active.foreach(_.stop())
      }
    }
  }, 1000, 1000)
  def arm(c: Int): Unit = { sc.setJobGroup(s"perfbench-client-$c", "perfbench", interruptOnCancel = true); armed.put(c, tr.now()) }
  /** True when the operation timed out. */
  def disarm(c: Int): Boolean = { armed.remove(c); sc.clearJobGroup(); fired.remove(c) }
  def close(): Unit = timer.cancel()
}
