package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Span

/** One timed operation of a client. */
final case class OpRec(id: String, kind: String, client: Int, start: Double, end: Double, ok: Boolean, traced: Boolean) {
  def wall: Double = end - start
}

/** Spans around the benchmark's calls into each layer, and — while
  * tracing is on — Spark's listener records, attributed to the operation
  * and span that caused them through two thread-local job properties.
  *
  * Span timing is a pair of clock reads per call and is always on, so
  * untraced runs still get per-layer wall times (the end-to-end stage
  * timings). Tracing adds the listeners and the job properties. All
  * times are seconds since the tracer's creation; Spark's epoch-ms event
  * times are mapped onto the same clock. */
final class Tracer(sc: SparkContext) {
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - t0Nanos) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - t0EpochMs) / 1000.0

  @volatile var tracing = false
  /** Traced operations still running. */
  private val tracedInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val lastClosed = new ThreadLocal[Span]
  private val opTraced = new ThreadLocal[Boolean]
  val spans = new ConcurrentLinkedQueue[Span]()
  val ops = new ConcurrentLinkedQueue[OpRec]()

  private val OpKey = "perfbench.op"
  private val SpanKey = "perfbench.span"

  /** Run one operation as a root span; returns its record (ok = no
    * exception), whose start and end are the root span's. */
  def op(kind: String, client: Int)(body: => Unit): OpRec = {
    val id = s"$kind#${ids.incrementAndGet()}"
    val traced = tracing
    opTraced.set(traced)
    if (traced) { tracedInFlight.incrementAndGet(); sc.setLocalProperty(OpKey, id) }
    val ok = try { timed(kind, id)(body); true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $id failed: $e")
        false
    } finally {
      if (traced) { sc.setLocalProperty(OpKey, null); tracedInFlight.decrementAndGet() }
      opTraced.set(false)
    }
    val root = lastClosed.get
    val rec = OpRec(id, kind, client, root.start, root.end, ok, traced)
    ops.add(rec)
    rec
  }

  /** A child span of the current one. */
  def span[A](name: String)(body: => A): A = timed(name, null)(body)

  private def timed[A](name: String, opId: String)(body: => A): A = {
    val parent = stack.get.headOption
    val id = ids.incrementAndGet()
    val op = Option(opId).orElse(parent.map(_.op)).getOrElse(name)
    val parentId = parent.map(_.id).getOrElse(0L)
    if (opTraced.get) sc.setLocalProperty(SpanKey, id.toString)
    val start = now()
    stack.set(Span(id, parentId, op, name, start, start) :: stack.get)
    try body
    finally {
      val closed = Span(id, parentId, op, name, start, now())
      stack.set(stack.get.tail)
      spans.add(closed)
      lastClosed.set(closed)
      if (opTraced.get) sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
    }
  }

  // ---- listener records (filled only while tracing) ----

  final case class JobRec(id: Int, op: String, span: Long, start: Double, stageIds: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }
  final case class TaskRec(
      stageId: Int, launch: Double, finish: Double, ok: Boolean, runS: Double, cpuS: Double,
      gcS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      inRecords: Long, inBytes: Long, outRecords: Long, outBytes: Long) {
    def dur: Double = finish - launch
  }
  final case class QeRec(client: Int, start: Double, analysis: Double, optimization: Double, planning: Double)
  final class StreamRec(val client: Int, val start: Double) {
    val progress = new ConcurrentLinkedQueue[(Double, Double)]() // (batch end, batch seconds)
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageSubmits = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Double]]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val streams = new ConcurrentHashMap[java.util.UUID, StreamRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(OpKey))).foreach { op =>
        val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
        jobs.put(e.jobId, JobRec(e.jobId, op, span, fromEpochMs(e.time), e.stageIds))
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = fromEpochMs(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = e.stageInfo.submissionTime.map(fromEpochMs).getOrElse(now())
      stageSubmits.computeIfAbsent(e.stageInfo.stageId, _ => new ConcurrentLinkedQueue[Double]()).add(t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (stageJob.containsKey(e.stageId)) {
        val i = e.taskInfo
        val m = Option(e.taskMetrics)
        def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
        tasks.add(TaskRec(e.stageId, fromEpochMs(i.launchTime), fromEpochMs(i.finishTime), i.successful,
          g(_.executorRunTime) / 1e3, g(_.executorCpuTime) / 1e9, g(_.jvmGCTime) / 1e3,
          g(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead),
          g(_.shuffleWriteMetrics.bytesWritten), g(x => x.memoryBytesSpilled + x.diskBytesSpilled),
          g(_.inputMetrics.recordsRead), g(_.inputMetrics.bytesRead),
          g(_.outputMetrics.recordsWritten), g(_.outputMetrics.bytesWritten)))
      }
    }
  }

  /** Planning phases of every query execution of one client's session.
    * Reads the tracker the execution already filled; it never asks for
    * a plan, so nothing is planned twice. */
  private def qeListener(client: Int): QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = if (ph.isEmpty) now() else fromEpochMs(ph.values.map(_.startTimeMs).min)
      qes.add(QeRec(client, start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def streamListener(client: Int): StreamingQueryListener = new StreamingQueryListener {
    private def epoch(ts: String): Double = fromEpochMs(java.time.Instant.parse(ts).toEpochMilli)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streams.put(e.id, new StreamRec(client, epoch(e.timestamp)))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(streams.get(p.id)).foreach(_.progress.add((epoch(p.timestamp) + p.batchDuration / 1e3, p.batchDuration / 1e3)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def waitFor(maxSec: Double)(done: => Boolean): Unit = {
    val deadline = now() + maxSec
    while (!done && now() < deadline) Thread.sleep(20)
  }

  private var attached: Seq[(ClassicSession, QueryExecutionListener, StreamingQueryListener)] = Nil

  /** Turn tracing on: register the listeners (the session listeners for
    * the client of each session) and mark new operations. */
  def start(sessions: Seq[org.apache.spark.sql.SparkSession]): Unit = {
    sc.addSparkListener(sparkListener)
    attached = sessions.zipWithIndex.map { case (s, c) =>
      val session = s.asInstanceOf[ClassicSession]
      val (q, st) = (qeListener(c), streamListener(c))
      session.listenerManager.register(q)
      session.streams.addListener(st)
      (session, q, st)
    }
    tracing = true
  }

  /** Turn tracing off: new operations run untraced; once the traced ones
    * have ended and their events have arrived (listener events are
    * delivered asynchronously), the listeners are removed. */
  def stop(): Unit = {
    tracing = false
    waitFor(Main.OpTimeoutSec)(tracedInFlight.get == 0)
    waitFor(10.0)(!jobs.values.asScala.exists(_.end.isNaN))
    Thread.sleep(500)
    sc.removeSparkListener(sparkListener)
    attached.foreach { case (s, q, st) => s.listenerManager.unregister(q); s.streams.removeListener(st) }
    attached = Nil
  }

  /** All spans as JSON lines (name, start, end, parent, op, id). */
  def spansJsonLines: Iterator[String] = spans.asScala.iterator.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","name":"${s.name}","start":${s.start}%.6f,"end":${s.end}%.6f}"""
  }
}
