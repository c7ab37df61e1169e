package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every catalog query at
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * A short untimed warmup (parquet scan + shuffle + codegen) runs first
  * so the first timed query doesn't absorb JVM/session initialization —
  * per-query numbers are otherwise incomparable across runs.
  *
  * The catalog is timed in SPARK_GRAFT_BENCH_RUNS (default 2) full
  * back-to-back passes and the per-entry minimum is recorded: a single
  * pass is exposed to whatever the sandbox happens to be doing in each
  * entry's ~1 s window, and BENCH_r05 showed exactly that failure mode
  * (+131 s spread across bursts of adjacent entries whose code hadn't
  * changed). Two passes make periodic external load visible as
  * per-entry spread instead of silently poisoning the artifact; the
  * spread is persisted next to each timing in BENCH_DETAIL.json so a
  * regression can be told from noise without forensics.
  *
  * Between entries the session is torn down to its steady state:
  * `clearCache()`, dropping leftover temp views, and — decisive for a
  * 200-entry sequential run — unpersisting the RDD blocks that
  * `localCheckpoint()` leaves pinned in the block manager (the CC /
  * MinHash / PageRank paths checkpoint per round and nothing unpins
  * those blocks when the Dataset goes out of scope; by entry ~150 the
  * accumulated blocks contend with the live query for executor memory). */
object Bench {
  /** Compact per-query key for the machine-parsed line ("q1".."q199";
    * "m33" for the CTAS). Package-visible so the injectivity spec tests
    * THIS function, not a copy that can drift. */
  private[graft] def shortKey(name: String): String = {
    val p = name.split("_")(0)
    if (p.startsWith("q")) "q" + p.drop(1).dropWhile(_ == '0') else p.take(4)
  }

  /** Merge N timing passes into per-entry (name, best, spread, ok,
    * attempts): best = min over successful runs (an entry that crashed
    * once but succeeded once records the success); -1 only when every
    * ATTEMPTED run failed. spread = max-min over the successful runs:
    * ~0 means a trustworthy number, large means the sandbox was busy
    * during one of the windows. NaN marks an entry a later pass SKIPPED
    * under the wall-clock budget (the adaptive pass-2 protocol below) —
    * skips are excluded from both the min and the attempt count, so a
    * budget skip never masquerades as a crash. ok = successful attempts;
    * `ok < attempts` is the flaky flag. Package-visible for the spec. */
  private[graft] def mergePasses(
      names: Seq[String],
      passes: Seq[Seq[Double]]): Seq[(String, Double, Double, Int, Int)] =
    names.zipWithIndex.map { case (name, i) =>
      val attempted = passes.map(_(i)).filterNot(_.isNaN)
      val ts = attempted.filter(_ >= 0)
      if (ts.isEmpty) (name, -1.0, 0.0, 0, attempted.size)
      else (name, ts.min, ts.max - ts.min, ts.size, attempted.size)
    }

  private val groupSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A best-effort step: on failure, say on stderr what was swallowed
    * and carry on with `fallback`. stdout stays the one JSON line. */
  private def swallow[A](step: String, fallback: => A)(body: => A): A =
    try body
    catch { case e: Throwable =>
      System.err.println(
        s"[bench] $step swallowed: ${e.getClass.getName}: ${e.getMessage}")
      fallback
    }

  /** Band-scaled per-entry watchdog ceiling: 30× the committed quiet
    * reading + 15 s slack, the band term capped at 240 s — but the env
    * ceiling stays a hard FLOOR throughout: an operator raising
    * SPARK_GRAFT_BENCH_ENTRY_SEC above 240 must not have entries with a
    * committed reading silently clamped back below their own env
    * ceiling. Entries without a committed reading keep the env ceiling;
    * baseline-scale entries keep their 160 s floor. Package-visible so
    * the spec tests THIS formula. */
  private[graft] def bandCeiling(
      name: String,
      committed: Map[String, Double],
      envCeiling: Double,
      baselineScale: Set[String]): Double = {
    val base = committed.get(name).filter(_ >= 0) match {
      case Some(t) => math.max(envCeiling, math.min(t * 30.0 + 15.0, 240.0))
      case None => envCeiling
    }
    if (baselineScale(name)) math.max(base, 160.0) else base
  }

  /** The repo root the bench artifacts live under. A literal
    * `/root/repo` silently loses the band-scaled watchdog ceilings (and
    * writes the detail file into the void) the moment the bench runs
    * from a worktree, a renamed checkout, or CI — resolve instead:
    * `SPARK_GRAFT_REPO_ROOT` when set, else the first ancestor of the
    * working directory carrying `build.sbt` (sbt forks with cwd = the
    * project root, so this is the normal hit), else the literal as a
    * last resort. Package-visible so the spec tests THIS resolver. */
  private[graft] def repoRoot(
      env: Map[String, String] = sys.env,
      cwd: String = System.getProperty("user.dir")): String =
    env.get("SPARK_GRAFT_REPO_ROOT").getOrElse {
      Iterator.iterate(java.nio.file.Paths.get(cwd).toAbsolutePath)(
          _.getParent)
        .takeWhile(_ != null)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .map(_.toString)
        .getOrElse("/root/repo")
    }

  /** Time one entry under a wall-clock ceiling: its jobs run in a
    * dedicated job group; a daemon watchdog cancels the group and any
    * follow-on jobs once the ceiling passes, so the entry surfaces as a
    * -1 crash instead of eating the bench window. Package-visible for
    * the spec. */
  private[graft] def timeEntry(
      spark: SparkSession, name: String, run: () => Unit,
      ceilingSec: Double): Double = {
    val sc = spark.sparkContext
    // unique per invocation: a cancelled group id stays poisoned for
    // future jobs (that's the point of AndFutureJobs), so pass 2's
    // rerun of a timed-out entry needs a fresh group
    val group = s"graft_bench_${name}_${groupSeq.incrementAndGet()}"
    @volatile var timedOut = false
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val watchdog = new java.util.Timer("graft-bench-watchdog", true)
    watchdog.schedule(new java.util.TimerTask {
      override def run(): Unit = {
        timedOut = true
        sc.cancelJobGroupAndFutureJobs(group,
          s"bench entry ceiling ${ceilingSec}s exceeded")
        // a streaming entry's micro-batch jobs run in the stream
        // execution thread's OWN job group (runId), not this entry's —
        // cancelling the group above would leave drainToTable blocked
        // in processAllAvailable forever. Any active query belongs to
        // the current entry (the bench is sequential and teardown-
        // clean), so stopping them all is the targeted cancel here.
        swallow(s"$name stream stop", ())(
          spark.streams.active.foreach(_.stop()))
      }
    }, math.max(1L, (ceilingSec * 1000).toLong))
    val t0 = System.nanoTime()
    try {
      run()
      val elapsed = (System.nanoTime() - t0) / 1e9
      watchdog.cancel() // before the flag check: a fire after this point can't mislabel us
      // a streaming entry whose query the watchdog stopped can return
      // "successfully" with partial output — that must record as the
      // timeout it is, not as a slow success. The elapsed guard closes
      // the boundary race where the timer fires between run() returning
      // just under the ceiling and the flag check: a completed entry
      // only counts as timed out if it actually ran past the ceiling.
      if (timedOut && elapsed >= ceilingSec) {
        System.err.println(s"[bench] $name TIMED OUT past ${ceilingSec}s")
        -1.0
      } else elapsed
    } catch {
      case e: Throwable =>
        System.err.println(
          if (timedOut) s"[bench] $name TIMED OUT past ${ceilingSec}s"
          else s"[bench] $name FAILED: ${e.getMessage}")
        -1.0
    } finally {
      watchdog.cancel()
      sc.clearJobGroup()
    }
  }

  /** Reset per-entry session state so entry N's cost can't leak into
    * entry N+1 (or pass 2): SQL cache, localCheckpoint'd RDD blocks,
    * temp views. Persistent tables (q58's bucketed layout, q34's Hive
    * tables) are left alone — their one-time setup is warmup/untimed
    * work and re-creating them per entry would re-time it.
    * Package-visible: ScaleProbe's per-measurement reset is this same
    * contract and must not drift from it. */
  private[graft] def teardown(spark: SparkSession): Unit =
    swallow("teardown", ()) { // teardown must never fail the bench
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val cat = spark.sessionState.catalog
      cat.getTempViewNames().foreach(spark.catalog.dropTempView)
    }

  /** Untimed warmup, shared by every harness that times catalog entries
    * (Bench, tools.JobProfile) so first-touch costs don't pollute the
    * first timed entry. Ends with a [[teardown]]. */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    // untimed warmup: session, parquet reader, shuffle machinery, codegen;
    // q58's warmup also lays out the bucketed tables so its timed run
    // measures the recurring (exchange-free) join, not the one-time
    // write; q35 warms the Structured Streaming scaffold (micro-batch
    // engine, state-store provider, streaming codegen) that the 13
    // streaming entries otherwise pay for on first touch — measured
    // ~2-3 s of pass-1-only cost that showed up as cross-pass spread,
    // not as a reproducible timing
    // q290/q291/q292's warmups additionally BUILD their persisted ANN
    // index stores (AnnIndex.buildOrLoad is build-once-then-read): the
    // timed passes then measure pure serving / insert / audit against
    // the warm artifact — the production amortization those entries
    // exist to demonstrate — instead of re-paying the one-time build.
    // q326's warmup builds its persisted level-0 + layer-stack artifacts
    // (buildOrLoad discipline) so the timed passes measure the descent +
    // serve, not the one-time builds; q345's builds the sharded index +
    // per-cell layer stacks — the same store q314 serves from, so both
    // entries then time warm serving in both passes (r15 pass-1 cold
    // builds read as 24.3s/11.5s spreads before this)
    for (name <- Seq(
        "q01_pricing_summary", "q15_doc_parse", "q27_ann_brute_topk",
        "q58_bucketed_join", "q35_streaming_windows",
        "q290_ann_index_serve", "q291_ann_index_insert",
        "q326_layered_ann_serve", "q345_sharded_layered_serve")) {
      swallow(s"warmup $name", ())(SparkEntry.queries(name)(spark, sfDir).count())
    }
    // the mutating lifecycle entries' immutable seed stores
    // (q322/q329/q335/q344 clone per run): built once per JVM, untimed
    swallow("warmup seed stores", ())(Queries.warmSeedStores(spark, sfDir))
    // q215 cold-pass attribution (BENCH_r07's largest spread, 9.5 s):
    // the battery's first run costs ~1.7 s over warm (fresh-JVM
    // measurement: 3.6 / 1.9 / 1.7 s). This 256-row touch removes the
    // ~0.5 s JAXP-factory/codegen share (first run drops to ~3.1 s);
    // the remaining ~1.2 s is C2 JIT of the DOM-parse hot path, which
    // only running the battery itself would warm — not worth 2 s of
    // untimed work when min-of-2 already records the warm pass and the
    // full-catalog spread measures 0.04 s. The 9.5 s r07 outlier was
    // this cold delta amplified by a busy sandbox window.
    swallow("warmup xpath", ())(spark.range(0, 256, 1, cpus).selectExpr(
        "xpath_string(concat('<a><b>', id, '</b></a>'), '/a/b/text()') AS s",
        "xpath_long(concat('<a><b>', id, '</b></a>'), '/a/b/text()') AS l",
        "size(xpath(concat('<a><b>', id, '</b></a>'), '/a/b')) AS n")
      .write.format("noop").mode("overwrite").save())
    // q218 cold-pass attribution (BENCH_r08's largest spread, 8.08 s on
    // a ~1 s entry — q215's disease on the OTHER XML path): the first
    // from_xml use pays StAX/Woodstox factory init + StaxXmlParser JIT.
    // Fresh-JVM measurement of the entry alone: pass-1-vs-warm delta
    // 0.62 s (the 8 s outlier was this delta amplified by a busy
    // sandbox window, exactly like q215's r07 9.5 s). A 256-row touch
    // removed nothing measurable (the parse loop never reached C2);
    // this 32k-row touch through the SAME schema brings the isolated
    // spread to ~0.48 s. The residual is the ENTRY's own plan-specific
    // generated-class compile on first run — unavoidable per distinct
    // plan, and min-of-2 records the warm pass.
    swallow("warmup from_xml", ())(spark.range(0, 32768, 1, cpus).selectExpr(
        "from_xml(concat('<o><k>', CAST(id AS STRING), '</k><p>x</p><ls>', " +
          "repeat('<l>1</l>', CAST(id % 4 AS INT)), '</ls></o>'), " +
          "'k BIGINT, p STRING, ls STRUCT<l: ARRAY<STRING>>') AS o")
      .write.format("noop").mode("overwrite").save())
    teardown(spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    // per-JVM warehouse — see Verify: no cross-process collisions, no
    // accumulation of bucketed-table dirs across runs
    val spark = graft.core.Engine.session(extraConf = Map(
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_bench_wh").toString))
    spark.sparkContext.setLogLevel("ERROR")

    warmup(spark, sfDir)

    // Spread-cluster attribution (BENCH_DETAIL r09: 31 entries with
    // cross-pass spread > 2 s, worst q156 24.9 / q171 18.3 / q117 13.7 /
    // q215 12.0 s): an isolated 3-pass rerun of exactly those entries
    // measured spreads of 0.9 / 0.2 / 2.5 / 0.4 s with mins matching the
    // recorded artifact — the cluster does not reproduce outside the
    // full-catalog window, so it was ambient sandbox load across a
    // contiguous stretch of one pass (the documented ~1.8x interference
    // band), not entry cost. min-of-N recorded the healthy pass; only
    // q117's ~2.5 s residual is real (checkpoint-round block-manager
    // churn, inherent to its per-round localCheckpoint truncation).
    // a failed query reports -1 (not its elapsed time): a crash must be
    // distinguishable from a fast success in the recorded numbers.
    // Materialize through the noop sink, NOT count(): count() lets
    // Catalyst prune computed output columns, silently under-timing any
    // query whose expensive work is in the final projection.
    // benchFn, where present, is the production-scale variant (e.g.
    // approx instead of exact percentile) — that is what gets timed.
    // dev loop: SPARK_GRAFT_BENCH_ONLY=q117,q67 times just those prefixes
    // (the driver never sets it — full catalog in the recorded runs)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(ps) => Queries.all.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => Queries.all
    }

    // BASELINE.md comparability: the reference's headline number is a
    // 2.8M-row CTAS (ext text -> CSV table) at 50.1 s on Hive-on-MR.
    // Same workload, same scale; fixture generation + schema view are
    // one-time untimed setup, the CTAS write itself (Overwrite) is the
    // timed body and re-runs cleanly on pass 2.
    val ctasEntry: Seq[(String, () => Unit)] =
      if (only.exists(!_.exists("m33_ctas_2800000_rows".startsWith(_)))) Seq.empty
      else swallow("m33 ctas setup", Seq.empty[(String, () => Unit)]) {
        val base = new java.io.File(
          System.getProperty("java.io.tmpdir"), "graft_bench_m33full").getAbsolutePath
        val root = graft.sources.M33Fixture
          .generate(base, graft.sources.M33Fixture.fullScaleRows)
        val view = graft.pipeline.M33Pipeline.schemView(
          graft.pipeline.M33Pipeline.rawTable(spark, root))
        Seq("m33_ctas_2800000_rows" ->
          (() => { graft.pipeline.M33Pipeline.ctasCsv(view, s"$base/wh"); () }))
      }

    // BASELINE.md's second headline: Sqoop exports the warehouse table's
    // 2.8M rows into the RDBMS with 4 parallel batched-INSERT mappers at
    // 147.8 s. Same workload against the embedded-Derby stand-in
    // (JdbcSpec's sink): fixture generation + CTAS are untimed setup —
    // the export reads the materialized warehouse CSV exactly as Sqoop
    // does — and each timed pass recreates the sink table, then runs
    // the repartition(4) batched append. Short key "m33x" (the "m33"
    // key belongs to the CTAS entry) — note BENCH_ONLY matching is
    // prefix-based, so `=m33` selects BOTH entries; use `=m33_` /
    // `=m33x` to isolate one.
    val exportEntry: Seq[(String, () => Unit)] =
      if (only.exists(!_.exists("m33x_export_2800000_rows".startsWith(_)))) Seq.empty
      else swallow("m33x export setup", Seq.empty[(String, () => Unit)]) {
        val base = new java.io.File(
          System.getProperty("java.io.tmpdir"), "graft_bench_m33full").getAbsolutePath
        val root = graft.sources.M33Fixture
          .generate(base, graft.sources.M33Fixture.fullScaleRows)
        val csv = graft.pipeline.M33Pipeline.ctasCsv(
          graft.pipeline.M33Pipeline.schemView(
            graft.pipeline.M33Pipeline.rawTable(spark, root)), s"$base/exportwh")
        // embedded-sink engine sizing lives with the sink, not the
        // harness (r17 verdict): see JdbcSink.tuneEmbeddedDerbyForBulkLoad
        // — same knobs, same semantics, set before the engine boots (the
        // warmup connection below)
        graft.sinks.JdbcSink.tuneEmbeddedDerbyForBulkLoad()
        val url = s"jdbc:derby:$base/benchdb;create=true"
        // untimed Derby warm-up: boot the database and touch the insert
        // path once during setup so pass 1 doesn't pay the engine boot —
        // it was the only cross-pass spread above 2 s in the committed
        // artifact (the timed passes should measure the export, not
        // Derby's first-open recovery/boot cost)
        swallow("m33x derby warmup", ())(graft.sinks.JdbcSink.execStatements(url, Seq(
          "CREATE TABLE m33x_warmup (x INT)",
          "INSERT INTO m33x_warmup VALUES (1)",
          "DROP TABLE m33x_warmup")))
        Seq("m33x_export_2800000_rows" -> (() => {
          // first pass: no table to drop
          swallow("m33x drop", ())(
            graft.sinks.JdbcSink.execStatements(url, Seq("DROP TABLE m33x")))
          graft.sinks.JdbcSink.execStatements(url, Seq(
            "CREATE TABLE m33x (age_mil BIGINT, wavelength DOUBLE, flam DOUBLE, is_peculiar INT)"))
          graft.sinks.JdbcSink.export(
            graft.pipeline.M33Pipeline.readM33Csv(spark, csv), url, "m33x",
            numMappers = 4, batchSize = 10000)
        }))
      }

    val entries: Seq[(String, () => Unit)] = selected.map { case (name, q) =>
      name -> (() => q.benchFn.getOrElse(q.fn)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    } ++ ctasEntry ++ exportEntry

    // per-entry wall ceiling: one pathological entry must cost the run
    // at most `ceiling` seconds, not the driver's whole bench window.
    // The entry's jobs run under their own job group with a watchdog
    // that cancels the group AND its future jobs at the ceiling (a
    // multi-job entry would otherwise just launch its next job after
    // the cancel); the entry records -1 like any other failure, and the
    // pass moves on. interruptOnCancel reaches into running tasks.
    val ceiling = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENTRY_SEC", "60").toDouble
    // the two full-baseline-scale entries get the baseline's OWN time
    // as their floor ceiling: the export nominally runs ~50 s, and the
    // documented ambient-load band (~1.45-1.8x) would push it past a
    // 60 s cap — recording the Sqoop-comparison headline as a flaky -1
    // in exactly the windows min-of-2 exists to absorb. 160 s covers
    // Sqoop's 147.8 s; an export slower than the baseline itself is a
    // real failure worth surfacing.
    // exact names, not an "m33" prefix: a future ordinary m33-prefixed
    // entry must not silently inherit the baseline-scale ceiling
    val baselineScaleEntries =
      Set("m33_ctas_2800000_rows", "m33x_export_2800000_rows")
    // band-scaled ceilings: a fixed 60 s ceiling is calibrated for a
    // quiet window — the r15 DRIVER window ran ~1.4-1.8x loaded and
    // q299 (committed 2.2 s quiet) crossed it, recording a phantom
    // crash where "slow success" was the truth. Each entry's ceiling
    // now scales with its last committed reading (the repo's
    // BENCH_DETAIL.json at the benched HEAD): 30x the quiet reading
    // + 15 s of fixed-overhead slack, clamped to [env ceiling, 240 s].
    // The BUDGET (enforced per entry on later passes) remains the
    // window's real bound; the ceiling is only the runaway backstop,
    // and a backstop that fires on ambient load is misreporting, not
    // protection. Entries without a committed reading keep the env
    // ceiling; the baseline-scale entries keep their 160 s floor.
    val committedT: Map[String, Double] =
      swallow("committed readings", Map.empty[String, Double]) {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"${repoRoot()}/BENCH_DETAIL.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        "\"([^\"]+)\":\\{\"t\":(-?[0-9.Ee+-]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    def ceilingFor(name: String): Double =
      bandCeiling(name, committedT, ceiling, baselineScaleEntries)
    def onePass(): Seq[Double] = entries.map { case (name, run) =>
      val t = timeEntry(spark, name, run, ceilingFor(name))
      teardown(spark)
      t
    }
    // wall-clock budget, enforced PER ENTRY on the later passes: pass 1
    // always runs in full (it is the projection baseline), and each
    // later pass reruns an entry only if that entry's best-so-far time
    // (plus a slack band) still fits the remaining budget — skipping
    // the rest as NaN. The former all-or-nothing pass guard projected
    // pass 2 at pass 1's FULL wall, which over-counts by exactly the
    // one-time costs pass 1 amortizes (seed/index builds, codegen),
    // and a single overflow estimate silently cost the artifact its
    // entire min-of-2 discipline (BENCH_r14, runs: 1). Per-entry
    // skipping keeps two samples for everything the budget reaches;
    // the skipped entries (if any) are explicit in the recorded
    // attempt counts.
    // default raised 1200 → 1800 in round 16: the budget bounds a
    // RUNAWAY window, it must not starve min-of-2 in an ordinarily
    // loaded one — at the 359-entry catalog's ~575 s/pass quiet cost,
    // 1200 s fit two passes only on an idle machine (the r15 driver
    // window cut 64 entries at ~1.4x ambient load), while 1800 s covers
    // two passes at 1.5x load; slowest-first pass-2 spending (below)
    // keeps any residual cut on the cheap entries
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1800").toDouble
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    passes += onePass()
    for (r <- 2 to runs) {
      val bestSoFar = mergePasses(entries.map(_._1), passes.toSeq)
      var skipped = 0
      // later passes spend the remaining budget SLOWEST-FIRST: when a
      // loaded window exhausts it, the cut falls on the cheap entries
      // (whose sub-second spread carries no information) instead of on
      // the slow tail — the r15 driver window cut 64 entries in catalog
      // order and lost its second sample of exactly the entries whose
      // spread mattered. A crashed entry sorts by its ceiling (rerun
      // cost unknown, retry early); results land back in catalog order.
      val res = Array.fill(entries.size)(Double.NaN)
      val order = entries.indices.sortBy { i =>
        -(if (bestSoFar(i)._2 >= 0) bestSoFar(i)._2
          else ceilingFor(entries(i)._1))
      }
      for (i <- order) {
        val (name, run) = entries(i)
        // a crashed entry's rerun cost is unknown: budget its ceiling
        val est =
          if (bestSoFar(i)._2 >= 0) bestSoFar(i)._2 * 1.1 + 0.5
          else ceilingFor(name)
        if (elapsedSec + est <= budget) {
          res(i) = timeEntry(spark, name, run, ceilingFor(name))
          teardown(spark)
        } else skipped += 1
      }
      passes += res.toSeq
      if (skipped > 0) System.err.println(
        s"[bench] pass $r skipped $skipped entries at the " +
          s"${budget.toInt}s budget")
    }
    val actualRuns = passes.size
    val merged = mergePasses(entries.map(_._1), passes.toSeq)
    val all = merged.map { case (n, t, _, _, _) => n -> t }
    val total = all.map(_._2).filter(_ >= 0).sum

    // Full-precision, full-name per-query numbers for human/judge
    // reading, with the cross-pass spread alongside each timing. "ok"
    // is emitted only when some ATTEMPTED pass failed (ok < attempts):
    // the common clean case stays compact, and its absence is the
    // machine-checkable "not flaky" signal; a budget skip reduces
    // attempts, not ok, so it never reads as flakiness.
    val detail = merged.map { case (k, t, s, ok, attempts) =>
      val flaky = if (ok < attempts) ",\"ok\":" + ok else ""
      "\"" + k + "\":{\"t\":" + t + ",\"spread\":" + s + flaky + "}"
    }.mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$actualRuns,"queries":$detail,"sf":"$sfDir"}"""
    // a BENCH_ONLY dev-loop run must never clobber the committed
    // full-catalog artifact with a few-entry map (an explicit
    // SPARK_GRAFT_BENCH_DETAIL still wins)
    val defaultDetail =
      if (only.isDefined) "/tmp/BENCH_DETAIL_dev.json"
      else s"${repoRoot()}/BENCH_DETAIL.json"
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", defaultDetail)
    // read-only fs etc.: the stdout line still carries the data
    swallow("detail write", ())(java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      detailJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

    // The harness that records this run keeps only the last 2,000 chars of
    // stdout, and sbt appends a ~75-char "[success] ..." footer after us —
    // so the ONE machine-parsed JSON line must stay well under ~1,900
    // chars. 110 full query names at 9 significant digits is ~4 KB and has
    // never parsed. Unpadded short keys ("q1".."q150"; "m33" for the CTAS)
    // at centisecond precision keep the complete 150-entry map ~1.7 KB;
    // full precision lives in BENCH_DETAIL.json.
    // the machine-parsed line would silently lose a timing if two catalog
    // names collapsed to one short key — fall back to full names (the
    // detail file is always complete either way)
    val keyOf: String => String =
      if (all.map(k => shortKey(k._1)).distinct.size == all.size) shortKey
      else identity
    def fmt(v: Double, scale: Int): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString  // "2.0" -> "2"
    def qsAt(scale: Int, entries: Seq[(String, Double)]): String = entries
      .map { case (k, v) => "\"" + keyOf(k) + "\":" + fmt(v, scale) }
      .mkString("{", ",", "}")
    // adaptive precision: if the catalog grows the map past the tail
    // budget at centiseconds, fall back to deciseconds — a parsed
    // low-precision line beats an unparseable precise one.
    // budget: 2,000-char tail − ~100 chars of fixed JSON − ~80-char sbt
    // footer ⇒ the map may use ~1,820. Last resort: only the slowest
    // entries that fit (the rest are in BENCH_DETAIL.json) — an
    // incomplete parsed map still beats an unparseable complete one.
    // precision first (centi → deci), then COVERAGE: drop the fastest
    // entries from the line (they're in the detail file) before ever
    // flattening to whole seconds — a map of mostly-sub-second zeros
    // carries less signal than a slowest-subset at deciseconds.
    // When the slowest-subset fallback engages, the line self-describes
    // how many entries it dropped ("dropped":N) so the driver's parser
    // can tell "not benched" from "truncated off the line".
    var dropped = 0
    val qs = Seq(2, 1).map(qsAt(_, all)).find(_.length <= 1800)
      .getOrElse {
        // a crashed query (-1) must survive truncation — it is the most
        // important entry on the line, not the least
        val slowestFirst = all.sortBy(e => if (e._2 < 0) Double.MinValue else -e._2)
        val keep = (all.size to 1 by -1).view
          .map(n => qsAt(1, slowestFirst.take(n).sortBy(e => all.indexOf(e))))
          .find(_.length <= 1780)
        val kept = keep.getOrElse(qsAt(0, slowestFirst.take(40)))
        dropped = all.size - kept.count(_ == ':')
        kept
      }
    val droppedJson = if (dropped > 0) s""","dropped":$dropped""" else ""
    // numeric sf when the dir encodes one ("…/sf0.1"); else the full path
    val sfJson = swallow("numeric sf", "\"" + sfDir + "\"")(
      sfDir.replaceAll(".*sf", "").toDouble.toString)
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","runs":$actualRuns,"queries":$qs$droppedJson,"sf":$sfJson}""")
    spark.stop()
  }
}
