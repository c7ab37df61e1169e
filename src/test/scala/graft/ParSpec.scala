package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization locks: the concurrency utility the lifecycle
  * operators overlap their independent jobs with, and the VP8L
  * canonical-decode rewrite — both must be behaviorally identical to
  * the sequential / map-based forms they replaced. */
class ParSpec extends AnyFunSuite {

  test("Par.run returns results in input order regardless of completion order") {
    val out = graft.core.Par.run[Int]((1 to 8).map(i => () => {
      Thread.sleep(((8 - i) * 10).toLong) // later inputs finish first
      i * i
    }))
    assert(out == (1 to 8).map(i => i * i))
  }

  test("Par.run propagates a thunk failure like the sequential loop") {
    val boom = intercept[RuntimeException] {
      graft.core.Par.run[Int](Seq(
        () => 1,
        () => throw new RuntimeException("stage failed"),
        () => 3))
    }
    assert(boom.getMessage == "stage failed")
  }

  test("Par.exec runs every side effect exactly once") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.core.Par.exec((1 to 10).map(_ => () => { hits.incrementAndGet(); () }))
    assert(hits.get() == 10)
  }

  test("Par.run on zero or one thunk stays on the calling thread") {
    assert(graft.core.Par.run[Int](Seq.empty) == Seq.empty)
    val caller = Thread.currentThread().getId
    val ids = graft.core.Par.run[Long](Seq(() => Thread.currentThread().getId))
    assert(ids == Seq(caller))
  }

  test("Par.run past its ceiling cancels its own hung job instead of leaving it running") {
    val sc = TestSpark.spark.sparkContext
    // one thunk never finishes: its single task sleeps for an hour
    val hung: () => Unit = () =>
      sc.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(3600L * 1000))
    intercept[java.util.concurrent.TimeoutException] {
      graft.core.Par.run[Unit](Seq(hung, () => ()), 2, ceilingSec = 2L)
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "the timed-out group's job is still running")
  }

  test("SPARK_GRAFT_PAR_TIMEOUT_SEC: default 3600, malformed values name the variable") {
    assert(graft.core.Par.timeoutSec(None) == 3600L)
    assert(graft.core.Par.timeoutSec(Some(" 90 ")) == 90L)
    for (bad <- Seq("abc", "1.5", "0", "-3")) {
      val e = intercept[IllegalArgumentException](graft.core.Par.timeoutSec(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_PAR_TIMEOUT_SEC"), e.getMessage)
    }
  }

  test("VP8L canonical PrefixCode decode ≡ the (len,code)→symbol map walk") {
    // the pre-round-17 reference decoder, verbatim: per-bit map lookup
    def mapDecode(lens: Array[Int], bits: Seq[Int]): (Int, Int) = {
      val table = graft.multimodal.Vp8l.canonicalCodes(lens)
        .map { case (s, (c, l)) => (l, c) -> s }
      val maxLen = lens.foldLeft(0)(math.max)
      var code = 0
      var len = 0
      var pos = 0
      while (len <= maxLen && pos < bits.length) {
        code = (code << 1) | bits(pos)
        pos += 1
        len += 1
        table.get((len, code)) match {
          case Some(s) => return (s, pos)
          case None =>
        }
      }
      (-1, pos)
    }
    def bitsOf(bytes: Array[Byte], n: Int): Seq[Int] =
      (0 until n).map(bp => (bytes(bp >> 3) >> (bp & 7)) & 1)
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 200) {
      // a random VALID canonical length distribution (Kraft sum ≤ 1):
      // draw lengths greedily so the code stays decodable
      val alpha = 8 + rnd.nextInt(40)
      val lens = new Array[Int](alpha)
      var kraft = 0.0
      for (s <- 0 until alpha) {
        val l = 1 + rnd.nextInt(8)
        if (rnd.nextInt(3) > 0 && kraft + math.pow(2, -l) <= 1.0) {
          lens(s) = l
          kraft += math.pow(2, -l)
        }
      }
      if (lens.exists(_ > 0)) {
        val pc = new graft.multimodal.Vp8l.PrefixCode(lens)
        val payload = Array.fill[Byte](8)(rnd.nextInt(256).toByte)
        val r = new graft.multimodal.Vp8l.BitReader(payload)
        val got = pc.decode(r)
        val (want, _) = mapDecode(lens, bitsOf(payload, 64))
        assert(got == want,
          s"trial $trial: canonical decode $got != map decode $want " +
            s"(lens=${lens.mkString(",")})")
      }
    }
  }
}
