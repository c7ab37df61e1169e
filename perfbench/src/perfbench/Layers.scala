package perfbench

import scala.jdk.CollectionConverters._

import Stats.Span

/** Per-layer metrics of a traced run, from the spans and listener
  * records of its traced operations. Per-operation values are averaged
  * over the traced operations; ratios are taken over their totals. A
  * layer the workload never calls reports 0. */
final class Layers(
    tr: Tracer, ops: Seq[OpRec], spans: Seq[Span], sessionS: Double, overheadFrom: Double,
    walls: Map[String, Double]) {
  private val traced = ops.filter(o => o.traced && o.ok)
  private val untraced = ops.filter(o => !o.traced && o.ok && o.start >= overheadFrom)
  private val spansByOp = spans.groupBy(_.op)
  private val jobsByOp = tr.jobs.values.asScala.toSeq.filter(!_.end.isNaN).groupBy(_.op)
  private val tasksByStage = tr.tasks.asScala.toSeq.groupBy(_.stageId)
  private val submits = tr.stageSubmits.asScala.map { case (k, v) => k.intValue -> v.asScala.toSeq }
  private val qes = tr.qes.asScala.toSeq
  private val streams = tr.streams.values.asScala.toSeq

  private def within(o: OpRec, t: Double): Boolean = t >= o.start - 0.002 && t <= o.end + 0.002

  /** Stages a job ran (submitted during it) and stages it skipped. */
  private def stagesOf(j: tr.JobRec): (Seq[Int], Int) = {
    val ran = j.stageIds.distinct.filter(s => submits.getOrElse(s, Nil).exists(t => t >= j.start - 0.002 && t <= j.end + 0.002))
    (ran, j.stageIds.distinct.size - ran.size)
  }

  final case class OpLayers(op: OpRec, values: Map[String, Double], jobSum: Double, jobUnion: Double,
      ranStages: Int, skippedStages: Int, stageSkews: Seq[Double], exportSkews: Seq[Double],
      ctasIn: Double, ctasOut: Double, selfTimes: Map[String, Double])

  private def analyse(o: OpRec): OpLayers = {
    val sp = spansByOp.getOrElse(o.id, Nil)
    val jobs = jobsByOp.getOrElse(o.id, Nil)
    val stages = jobs.map(stagesOf)
    val ranIds = stages.flatMap(_._1).distinct
    val tasks = ranIds.flatMap(s => tasksByStage.getOrElse(s, Nil))
    val intervals = Stats.clip(jobs.map(j => (j.start, j.end)), o.start, o.end)
    val union = Stats.unionLength(intervals)
    def spanTime(name: String) = sp.filter(_.name == name).map(_.dur).sum
    def spanIds(name: String) = sp.filter(_.name == name).map(_.id).toSet
    def tasksOfSpan(name: String): Seq[Seq[tr.TaskRec]] = {
      val ids = spanIds(name)
      jobs.filter(j => ids(j.span)).map(j => stagesOf(j)._1.flatMap(s => tasksByStage.getOrElse(s, Nil)))
    }
    val exportSkews = jobs.filter(j => spanIds("sinks.export")(j.span)).flatMap { j =>
      stagesOf(j)._1.sorted.lastOption.map(s => Stats.skew(tasksByStage.getOrElse(s, Nil).map(_.dur)))
    }
    val ctasTasks = tasksOfSpan("pipeline.ctas").flatten
    val opQes = qes.filter(q => q.client == o.client && within(o, q.start))
    val self = Stats.selfTimes(sp)
    val selfByName = sp.groupBy(s => if (s.parent == 0L) "op" else s.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
    val mb = 1e6
    val values = Map(
      "sources.rows_read" -> tasks.map(_.inRecords).sum.toDouble,
      "sources.input_mb" -> tasks.map(_.inBytes).sum / mb,
      "sql.ddl_s" -> spanTime("sql.ddl"),
      "pipeline.ctas_s" -> spanTime("pipeline.ctas"),
      "sinks.export_s" -> spanTime("sinks.export"),
      "sinks.readback_s" -> spanTime("sinks.readback"),
      "sinks.rows_written" -> tasksOfSpan("sinks.export").flatten.map(_.outRecords).sum.toDouble,
      "plan.compose_s" -> spanTime("plan.compose"),
      "streaming.run_s" -> spanTime("streaming.run"),
      "plan.analysis_s" -> opQes.map(_.analysis).sum,
      "plan.optimization_s" -> opQes.map(_.optimization).sum,
      "plan.physical_s" -> opQes.map(_.planning).sum,
      "plan.actions" -> opQes.size.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> ranIds.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.driver_gap_s" -> (o.wall - union),
      "exec.sched_wait_s" -> tasks.map { t =>
        val sub = submits.getOrElse(t.stageId, Nil).filter(_ <= t.launch + 0.002)
        if (sub.isEmpty) 0.0 else math.max(0.0, t.launch - sub.max)
      }.sum,
      "exec.task_s" -> tasks.map(_.runS).sum,
      "exec.task_cpu_s" -> tasks.map(_.cpuS).sum,
      "exec.gc_s" -> tasks.map(_.gcS).sum,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> tasks.map(_.spill).sum / mb,
      "exec.failed_tasks" -> tasks.count(!_.ok).toDouble)
    OpLayers(o, values, intervals.map(i => i._2 - i._1).sum, union, stages.map(_._1.size).sum,
      stages.map(_._2).sum, ranIds.map(s => tasksByStage.getOrElse(s, Nil).map(_.dur)).filter(_.size >= 2).map(Stats.skew),
      exportSkews, ctasTasks.map(_.inBytes).sum.toDouble, ctasTasks.map(_.outBytes).sum.toDouble, selfByName)
  }

  private val analysed = traced.map(analyse)

  /** Largest difference over the traced operations between the sum of an
    * operation's span self times and its wall as the caller timed it
    * with its own clock reads. */
  lazy val selfTimeError: Double =
    analysed.map(a => math.abs(a.selfTimes.values.sum - walls.getOrElse(a.op.id, Double.PositiveInfinity)))
      .maxOption.getOrElse(0.0)

  /** Every traced operation's self times add up to its wall time. */
  def selfTimesSumToWall: Boolean = selfTimeError <= Layers.WallTolerance

  private def meanOf(as: Seq[OpLayers], k: String): Double =
    if (as.isEmpty) 0.0 else as.map(_.values(k)).sum / as.size
  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b <= 0) 0.0 else a / b

  /** Mean over operation kinds of the median wall of each kind. */
  private def kindLatency(os: Seq[OpRec], kinds: Set[String]): Double = {
    val m = os.filter(o => kinds(o.kind)).groupBy(_.kind).values.map(x => Stats.median(x.map(_.wall)))
    if (m.isEmpty) 0.0 else m.sum / m.size
  }

  private def summary(as: Seq[OpLayers]): Seq[(String, Double)] = {
    val st = streams.filter(s => as.exists(a => a.op.client == s.client && within(a.op, s.start)))
    val progress = st.map(_.progress.asScala.toSeq.sortBy(_._1))
    def mean(k: String): (String, Double) = k -> meanOf(as, k)
    Seq(
      "core.session_s" -> sessionS,
      "core.job_overlap" -> ratio(as.map(_.jobSum).sum, as.map(_.jobUnion).sum),
      mean("sources.rows_read"), mean("sources.input_mb"),
      mean("sql.ddl_s"),
      mean("pipeline.ctas_s"),
      "pipeline.out_bytes_per_in_byte" -> ratio(as.map(_.ctasOut).sum, as.map(_.ctasIn).sum),
      mean("sinks.export_s"),
      "sinks.mapper_skew" -> medianOr0(as.flatMap(_.exportSkews)),
      mean("sinks.readback_s"), mean("sinks.rows_written"),
      mean("plan.compose_s"), mean("plan.analysis_s"), mean("plan.optimization_s"), mean("plan.physical_s"),
      mean("plan.actions"),
      mean("exec.jobs"), mean("exec.stages"), mean("exec.tasks"),
      "exec.stage_reuse_ratio" -> ratio(as.map(_.skippedStages).sum, as.map(a => a.ranStages + a.skippedStages).sum),
      mean("exec.driver_gap_s"), mean("exec.sched_wait_s"), mean("exec.task_s"), mean("exec.task_cpu_s"),
      mean("exec.gc_s"), mean("exec.shuffle_read_mb"), mean("exec.shuffle_write_mb"), mean("exec.spill_mb"),
      "exec.task_skew" -> medianOr0(as.map(a => if (a.stageSkews.isEmpty) 1.0 else a.stageSkews.max)),
      mean("exec.failed_tasks"),
      mean("streaming.run_s"),
      "streaming.bootstrap_s" -> medianOr0(st.zip(progress).collect { case (s, p) if p.nonEmpty => p.head._1 - s.start }),
      "streaming.batches" -> (if (st.isEmpty) 0.0 else progress.map(_.size).sum.toDouble / st.size),
      "streaming.batch_s" -> medianOr0(progress.flatten.map(_._2)))
  }

  /** Every per-layer metric, with tracing overhead: the traced rounds'
    * latency over the untraced rounds', minus one, on the operation kinds
    * both ran. */
  lazy val metrics: Seq[(String, Double, String)] = {
    val kinds = traced.map(_.kind).toSet intersect untraced.map(_.kind).toSet
    val overhead = ratio(kindLatency(traced, kinds), kindLatency(untraced, kinds)) - 1.0
    (summary(analysed) :+ ("trace.overhead_ratio" -> overhead)).map { case (k, v) => (k, v, Layers.unit(k)) }
  }

  /** The per_layer metrics of BENCHMARK.json: those of the layers both
    * workloads call. The sql, pipeline, sinks and streaming metrics are
    * each measured by one workload only and are in the report. */
  def reported: Seq[(String, Double, String)] = metrics.filter(m => Layers.Shared(m._1.takeWhile(_ != '.')))

  /** Human-readable report: the metrics, then per operation kind its
    * traced count, median wall, self time by layer and main counters. */
  def report(info: String => Unit): Unit = {
    info(s"traced ops ${traced.size}, untraced ops compared with them ${untraced.size}")
    info(f"largest |Σ self times − caller-timed wall| over traced ops: $selfTimeError%.6f s " +
      f"(allowed ${Layers.WallTolerance}%.3f s)")
    metrics.foreach { case (k, v, u) => info(f"layer $k%-32s $v%14.4f $u") }
    analysed.groupBy(_.op.kind).toSeq.sortBy(_._1).foreach { case (kind, as) =>
      val self = as.flatMap(_.selfTimes.keys).distinct.sorted
        .map(n => f"$n=${as.map(_.selfTimes.getOrElse(n, 0.0)).sum / as.size}%.4f").mkString(" ")
      val s = summary(as).toMap
      info(f"kind $kind n=${as.size} wall_median=${Stats.median(as.map(_.op.wall))}%.4f self[$self] " +
        Seq("plan.analysis_s", "plan.optimization_s", "plan.physical_s", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.driver_gap_s", "exec.task_s", "exec.shuffle_read_mb").map(k => f"$k=${s(k)}%.4f").mkString(" "))
    }
  }
}

object Layers {
  /** Allowed gap between an operation's self-time sum and its wall: the
    * caller's clock reads sit just outside the operation's root span. */
  val WallTolerance = 0.005

  val Shared: Set[String] = Set("core", "sources", "plan", "exec", "trace")

  def unit(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_ratio") || k.endsWith("skew") || k.endsWith("overlap") || k.endsWith("_per_in_byte")) "ratio"
    else "count"

  /** A JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
