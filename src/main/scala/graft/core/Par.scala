package graft.core

/** Overlap independent Spark actions (optimization guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially. The lifecycle operators stage many mutually
  * independent jobs per batch (per-layer subgraph builds, per-cell
  * rebuilds, the multi-part store commit writes), each tiny at test SF
  * and each embarrassingly parallel at 100 TB, and running them
  * back-to-back leaves the executors idle in every job's scheduling and
  * planning gaps. Submitting them from a small pool back-fills those
  * gaps without changing any result: every thunk materializes its own
  * deterministic DataFrame or writes its own directory, so scheduling
  * order cannot affect content.
  *
  * The pool is created per call, so worker threads inherit the caller's
  * job group and description (SparkContext-local properties are
  * inheritable-thread-local — a Bench watchdog cancel still reaches the
  * child jobs). Each call also tags its workers' jobs with a fresh job
  * tag, so a call that outlives its ceiling cancels exactly its own
  * jobs instead of leaving them running. Results return in input order;
  * the first failure propagates after the pool drains, exactly like the
  * sequential loop.
  */
object Par {

  /** Generous ceiling on one overlapped group (seconds). A hung child
    * job must fail the entry loudly, not hold its thread forever: the
    * Bench watchdog cancels job groups, but Verify has no such guard —
    * an Inf await there would hang the whole gate on one stuck action.
    * Parsed on first use, so a malformed value fails the first call
    * with a message naming the variable, not the class initializer. */
  private lazy val awaitSec: Long =
    timeoutSec(sys.env.get("SPARK_GRAFT_PAR_TIMEOUT_SEC"))

  private[graft] def timeoutSec(raw: Option[String]): Long =
    raw.fold(3600L)(v => v.trim.toLongOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_PAR_TIMEOUT_SEC must be a positive whole number of seconds, got '$v'")))

  private val tagSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run the thunks concurrently on at most `maxThreads` threads and
    * return their results in input order. 2-4 jobs in flight is plenty
    * (guide §2.6) — enough to fill scheduling gaps, not so many that
    * driver-side planning serializes on contended locks. */
  def run[A](thunks: Seq[() => A], maxThreads: Int = 4): Seq[A] =
    run(thunks, maxThreads, awaitSec)

  /** [[run]] under an explicit ceiling. On timeout the call's tagged jobs
    * are cancelled (their running tasks interrupted) before the pool is
    * shut down, then the timeout propagates. */
  private[graft] def run[A](
      thunks: Seq[() => A], maxThreads: Int, ceilingSec: Long): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val tag = s"graft_par_${tagSeq.incrementAndGet()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(thunks.size, maxThreads))
      implicit val ec: scala.concurrent.ExecutionContextExecutorService =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      def tagged(t: () => A): A = {
        sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
        try t() finally sc.foreach(_.removeJobTag(tag))
      }
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          thunks.map(t => scala.concurrent.Future(tagged(t)))),
        scala.concurrent.duration.Duration(ceilingSec, "s"))
      catch { case e: java.util.concurrent.TimeoutException =>
        sc.foreach(_.cancelJobsWithTag(tag,
          s"graft Par group exceeded its ${ceilingSec}s ceiling"))
        throw e
      } finally pool.shutdown()
    }

  /** [[run]] for side-effecting thunks (store-part writes). */
  def exec(thunks: Seq[() => Unit], maxThreads: Int = 4): Unit = {
    run(thunks, maxThreads); ()
  }
}
