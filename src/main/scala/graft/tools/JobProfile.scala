package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement harness for the optimization rounds (guide §1): runs
  * selected catalog entries on `Engine.session` with Bench's settings,
  * after `Bench.warmup`, and attributes each entry's wall time to Spark
  * jobs vs driver-side gaps — the decisive split for the tiny-fixture
  * lifecycle entries, where the question is "compute-bound or
  * overhead-bound?". Prints, per entry: wall seconds, job count, summed
  * job wall, summed task time, and the driver gap (wall − job wall ≈
  * planning/collect/file-IO on the driver). Usage:
  *   SPARK_GRAFT_PROFILE_ONLY=q344,q349 sbt "runMain graft.tools.JobProfile"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ONLY", "q344")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = graft.core.Engine.session(extraConf = Map(
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_prof_wh").toString))
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var jobWallMs = 0L
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1; jobStart.put(j.jobId, System.currentTimeMillis())
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(j.jobId)
        if (s != null) jobWallMs += System.currentTimeMillis() - s
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskInfo != null) taskTimeMs += t.taskInfo.duration
      }
    }
    spark.sparkContext.addSparkListener(listener)

    graft.Bench.warmup(spark, sfDir)

    val selected = graft.Queries.all.filter { case (n, _) =>
      only.exists(n.startsWith)
    }
    println(f"${"entry"}%-34s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"jobwall_s"}%10s ${"tasktime_s"}%11s ${"drivergap_s"}%12s")
    for ((name, q) <- selected) {
      // settle, then zero the counters
      graft.Bench.teardown(spark)
      Thread.sleep(200)
      jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L; jobWallMs = 0L
      val t0 = System.nanoTime()
      try {
        q.benchFn.getOrElse(q.fn)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener events drain
        println(f"$name%-34s $wall%8.2f $jobs%6d $stages%7d $tasks%7d ${jobWallMs / 1e3}%10.2f ${taskTimeMs / 1e3}%11.2f ${wall - jobWallMs / 1e3}%12.2f")
      } catch {
        case e: Throwable =>
          println(f"$name%-34s FAILED ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
