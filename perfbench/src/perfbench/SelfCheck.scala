package perfbench

import org.apache.spark.sql.functions._

import Stats.Span

/** Checks of the benchmark's own arithmetic. Prints one line per check;
  * returns the process exit code (0 when all pass). */
object SelfCheck {
  def run(cores: String): Int = {
    var failures = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

    // percentile choice: the highest candidate with >= 10 samples beyond it
    check("tail percentile: 99 samples have no p90", Stats.tailPercentile(99).isEmpty)
    check("tail percentile: 100 samples give p90 with 10 beyond", Stats.tailPercentile(100).contains((0.9, 10)))
    check("tail percentile: 999 samples still give p90", Stats.tailPercentile(999).map(_._1).contains(0.9))
    check("tail percentile: 1000 samples give p99 with 10 beyond", Stats.tailPercentile(1000).contains((0.99, 10)))
    check("median of an even count interpolates", near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    check("quantile 0.9 of 0..10", near(Stats.quantile((0 to 10).map(_.toDouble), 0.9), 9.0))

    // interval union: Par-overlapped jobs are counted once
    val jobs = Seq((0.5, 1.5), (1.0, 2.0), (1.2, 1.4), (2.5, 3.0))
    check("union of overlapping jobs", near(Stats.unionLength(jobs), 2.0))
    check("job overlap = sum / union", near(Stats.overlap(jobs), (1.0 + 1.0 + 0.2 + 0.5) / 2.0))
    check("disjoint jobs have overlap 1", near(Stats.overlap(Seq((0.0, 1.0), (2.0, 3.0))), 1.0))
    check("driver gap of op [0,4] = 4 - union", near(4.0 - Stats.unionLength(Stats.clip(jobs, 0.0, 4.0)), 2.0))
    check("jobs clipped to the operation", near(Stats.unionLength(Stats.clip(Seq((-1.0, 1.0), (3.0, 9.0)), 0.0, 4.0)), 2.0))

    // self time: a span minus the part its children cover
    val spans = Seq(
      Span(1, 0, "op", "op", 0.0, 10.0),
      Span(2, 1, "op", "a", 1.0, 4.0), Span(3, 1, "op", "b", 5.0, 9.0),
      Span(4, 2, "op", "c", 2.0, 3.0))
    val self = Stats.selfTimes(spans)
    check("self time of the root", near(self(1), 3.0))
    check("self time of a span with a child", near(self(2), 2.0))
    check("self times sum to the root's wall", near(self.values.sum, 10.0))
    val overlapping = Seq(Span(1, 0, "op", "op", 0.0, 10.0), Span(2, 1, "op", "a", 1.0, 4.0), Span(3, 1, "op", "b", 3.0, 6.0))
    check("overlapping children are subtracted once", near(Stats.selfTimes(overlapping)(1), 5.0))
    check("skew = slowest / median", near(Stats.skew(Seq(1.0, 2.0, 6.0)), 3.0))

    // content hash: independent of row order and partitioning
    val spark = graft.core.Engine.session(s"local[$cores]", "perfbench-selfcheck", cores.toInt)
    try {
      val df = spark.range(0, 5000).select(col("id"), (col("id") * 0.5).as("x"), concat(lit("k"), col("id") % 7).as("s"))
      val a = Checks.digest(df)
      val b = Checks.digest(df.orderBy(rand(7)).repartition(3))
      check("hash invariant under row permutation", a == b && a._1 == 5000)
      check("hash sees a changed value", Checks.digest(df.withColumn("x", when(col("id") === 17, 0.0).otherwise(col("x")))) != a)
    } finally spark.stop()
    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    if (failures == 0) 0 else 1
  }
}
