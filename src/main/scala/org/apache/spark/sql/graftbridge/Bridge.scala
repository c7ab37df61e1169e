package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Spark internals (Column <->
  * Expression and function registration). Lives in an
  * `org.apache.spark.sql` subpackage — the standard pattern for Catalyst
  * extension libraries; everything used here is Spark public source API,
  * just package-scoped. */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** SQL `div` as a Column op: exact 64-bit integral division. The
    * public `Column./` always widens to double, whose 53-bit mantissa
    * silently rounds products past 2^53 — this is the exact form for
    * normalize/bucketize arithmetic on wide integer domains. */
  def integralDivide(a: Column, b: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(a), expression(b)))

  /** Unset the context's checkpoint dir (`setCheckpointDir` has no
    * public inverse). Tests that exercise the reliable-checkpoint
    * flavor need this in their finally: the SparkContext is shared
    * across suites, and a leaked checkpoint dir silently flips every
    * later `checkpointEvery > 0` path from localCheckpoint to reliable
    * checkpoint() — order-dependent coverage. `checkpointDir` is
    * `private[spark]`; this bridge object lives inside that scope. */
  def clearCheckpointDir(spark: SparkSession): Unit =
    spark.sparkContext.checkpointDir = None

  /** Logical plan of a DataFrame (classic API). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Unpersist the block-manager blocks behind a `localCheckpoint`'d
    * DataFrame: its analyzed plan is the `LogicalRDD` holding the
    * persisted internal RDD. No-op for non-checkpointed frames.
    * Deliberately targeted — iterative operators must NOT sweep the
    * context-global persistent-RDD map to free superseded rounds,
    * because concurrently running queries (Verify's thread pool shares
    * one SparkContext) keep their own in-flight checkpoint blocks
    * there, and a localCheckpoint whose blocks are dropped cannot
    * recompute. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[unpersistCheckpoint]] plus durable-file cleanup: for a RELIABLE
    * `checkpoint()`d frame (context checkpoint dir set), also delete the
    * `<ckptDir>/<uuid>/rdd-<id>` directory its internal RDD wrote —
    * `unpersist` only drops block-manager blocks, so a deep iterative
    * run would otherwise accumulate O(rounds/k) superseded checkpoint
    * dirs on durable storage. Only safe once a NEWER checkpoint (or the
    * final result) has been eagerly materialized, exactly like the
    * unpersist contract. No-op for localCheckpoint (no files) and
    * non-checkpointed frames. */
  def dropCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getCheckpointFile.foreach { dir =>
          val p = new org.apache.hadoop.fs.Path(dir)
          try p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
          catch {
            // cleanup stays best-effort, but a persistently failing
            // filesystem must leave a signal — silent swallowing would
            // reintroduce the O(rounds/k) checkpoint-dir accumulation
            // this method exists to prevent
            case e: java.io.IOException =>
              org.slf4j.LoggerFactory.getLogger(getClass)
                .warn(s"best-effort checkpoint cleanup failed for $dir: $e")
          }
        }
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Ids of the state-store providers `q` used: one per partition and
    * store name of each stateful operator in its last executed plan
    * (none before its first micro-batch). */
  def stateStoreProviderIds(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[org.apache.spark.sql.execution.streaming.state.StateStoreProviderId] = {
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.execution.streaming.state.StateStoreProviderId
    Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution).toSeq
      .flatMap(_.executedPlan.collect { case w: StateStoreWriter => w })
      .flatMap { w =>
        val info = w.getStateInfo
        for (p <- 0 until info.numPartitions; name <- w.stateStoreNames)
          yield StateStoreProviderId(info, p, name)
      }
  }

  /** Close the state-store providers a stopped query loaded in this JVM.
    * Spark otherwise keeps them (and their in-memory state) until its
    * maintenance pass, every 60 s by default, finds them inactive. Acts
    * in local mode only, where the executor's stores live in this same
    * JVM; on a cluster this closes nothing and the maintenance pass on
    * each executor still unloads. */
  def releaseStateStores(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    stateStoreProviderIds(q).foreach(
      org.apache.spark.sql.execution.streaming.state.StateStore.removeFromLoadedProvidersAndClose(_))

  /** Install an extra planner strategy on a live session. */
  def addStrategy(spark: SparkSession, strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy)) {
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Register a Catalyst expression builder as a SQL-callable function
    * in the static builtin registry, so sessions created later inherit
    * it and permanent views may reference it (`SessionCatalog
    * .isTemporaryFunction` excludes builtins). Replaces any earlier
    * registration of `name`. */
  def registerBuiltinFunction(
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    FunctionRegistry.builtin.registerFunction(
      FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)
  }

  /** Register `builder` as `name` in the session's own registry (visible
    * immediately) unless the name is already there, e.g. cloned from the
    * builtin registry when the session was created. */
  def registerSessionFunctionIfAbsent(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val registry = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    registry.synchronized {
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo("graft.functions", name), builder)
    }
  }
}
