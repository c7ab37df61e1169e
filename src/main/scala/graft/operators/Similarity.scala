package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Functions.{cosineSim, dotProduct, l2Dist2}

/** Approximate / exact nearest-neighbor search over an embedding column.
  *
  * Scale design: the query set is assumed small (broadcast side); the
  * corpus is the big side and is never collected. Brute force is a
  * broadcast-nested-loop with a codegen'd cosine kernel ([[graft.functions.CosineSim]])
  * followed by a per-query top-k window. The LSH variant cuts the scanned
  * corpus by a random-hyperplane bucket join before scoring — the standard
  * recall/cost dial for 100 TB corpora.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(
        col("q_id"),
        col("n_id"),
        round(cosineSim(col("q_vec"), col("n_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane for LSH: component d of plane p
    * is `(md5Hash64("plane<p>:<d>") % 2001 - 1000) / 1000.0` in [-1, 1].
    * Computed driver-side (plain constants in the plan), reproducible in
    * any engine with md5 — which makes bucket assignment oracle-checkable. */
  def hyperplane(p: Int, dims: Int): Array[Double] =
    Array.tabulate(dims) { d =>
      (graft.functions.Functions.md5Hash64Jvm(s"plane$p:$d") % 2001L - 1000L)
        .toDouble / 1000.0
    }

  /** Random-hyperplane LSH bucketing: bit p of the bucket is the sign of
    * the dot product with [[hyperplane]] p. Vectors only compete inside
    * their bucket. The projection is one codegen'd [[graft.functions.DotProduct]]
    * per plane against a literal coefficient array — an unrolled
    * per-dimension column tree would blow up janino compile time. */
  def lshBuckets(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int,
      dims: Int): DataFrame = {
    val bucket = (0 until planes).map { p =>
      val dot = graft.functions.Functions
        .dotProduct(col(vecCol), lit(hyperplane(p, dims)))
      when(dot > 0, 1 << p).otherwise(0)
    }.reduce(_ + _)
    df.select(col(idCol), col(vecCol), bucket.as("bucket"))
  }

  /** IVF-style coarse quantization: assign every vector to its
    * highest-cosine centroid (ties to the lowest centroid id). Centroids
    * are designated corpus vectors (`centroidIds`) rather than k-means
    * output so assignment is deterministic and oracle-checkable; swapping
    * in trained centroids changes nothing structurally. The centroid set
    * is tiny and broadcast; assignment is a broadcast join + one window
    * per vector — no shuffle of the corpus. */
  /** Extract the designated centroid vectors from the corpus. */
  def ivfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroidIds: Seq[Long]): DataFrame =
    corpus
      .filter(col(idCol).isInCollection(centroidIds))
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))

  /** Assign each vector to its best centroid — zero shuffle: the centroid
    * set is by construction small (that's what makes it a COARSE
    * quantizer), so it is collected once and folded into a `greatest`
    * over (rounded cosine, -cent_id) structs that runs inside the scan
    * stage. Cosine is rounded to 6dp before the argmax so an engine-side
    * ulp can't flip a near-tie; ties go to the lowest centroid id. */
  def ivfAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame =
    df.select(
      col(idCol), col(vecCol),
      ivfCellColumn(col(vecCol), centroids).as("cell"))

  /** The [[ivfAssign]] cell assignment as a bare COLUMN — the same
    * zero-shuffle greatest-over-literal-structs expression, usable on
    * any frame that must keep its other columns (a CDC batch routing
    * (op, id, vec) rows keeps `op`). Same 6dp rounding and
    * ties-to-lowest-centroid rule. */
  def ivfCellColumn(
      vec: org.apache.spark.sql.Column,
      centroids: DataFrame): org.apache.spark.sql.Column = {
    val cents: Array[(Long, Array[Float])] = centroids
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfAssign requires at least one centroid")
    val scored = cents.map { case (cid, cvec) =>
      struct(
        round(cosineSim(vec, lit(cvec)), 6).as("c"),
        lit(-cid).as("negId"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    best.getField("negId") * -1
  }

  /** Train IVF centroids with Lloyd's k-means over cosine similarity:
    * seeds are the k lowest-id corpus vectors (deterministic — no RNG
    * state), then `iterations` rounds of (assign via [[ivfAssign]],
    * recompute each cell's element-wise mean). The per-round reduction is
    * fully distributed (posexplode to (cell, dim) partial sums); only the
    * k x dims centroid matrix ever reaches the driver — the same small
    * collect [[ivfAssign]] already makes. Returns (cent_id, cent_vec)
    * with cent_id = 0..k-1 re-assigned by ascending original seed order,
    * components rounded to 6dp so downstream assignment is stable against
    * summation-order ulps. */
  def ivfTrainCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val seeds = corpus
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
      .orderBy(col("cent_id")).limit(k)
    // the centroid matrix lives driver-side between rounds (it is the
    // one small collect this trainer makes); only the per-round (cell,
    // dim) mean reduction is a cluster job
    var centMap: Map[Long, Array[Float]] = seeds
      .as[(Long, Array[Float])].collect().sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v) }
      .toMap
    def asDf(m: Map[Long, Array[Float]]): DataFrame =
      m.toSeq.sortBy(_._1).toDF("cent_id", "cent_vec")
    for (_ <- 0 until iterations) {
      val assigned = ivfAssign(corpus, idCol, vecCol, asDf(centMap))
        .toDF("vid", "v", "cell")
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .as[(Long, Int, Double)].collect()
      val byCell = means.groupBy(_._1).map { case (cell, rows) =>
        cell -> rows.sortBy(_._2).map(r =>
          (math.round(r._3 * 1e6) / 1e6).toFloat)
      }
      // a cell that lost all members keeps its previous centroid
      centMap = (0L until k.toLong)
        .map(c => c -> byCell.getOrElse(c, centMap(c)))
        .toMap
    }
    asDf(centMap)
  }

  /** Multi-probe cell assignment for the QUERY side: each vector probes
    * its `nprobe` best centroids (cosine desc, ties to the lowest
    * centroid id), emitted as one row per probed cell. Same zero-shuffle
    * construction as [[ivfAssign]] — the centroid scores fold into a
    * sort_array over literal structs inside the scan stage. */
  def ivfProbeCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val cents: Array[(Long, Array[Float])] = centroids
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfProbeCells requires at least one centroid")
    val scored = cents.map { case (cid, vec) =>
      struct(
        round(cosineSim(col(vecCol), lit(vec)), 6).as("c"),
        lit(-cid).as("negId"))
    }
    // sort desc is lexicographic over (c, negId): cosine desc, then
    // negId desc = centroid id asc — the same tie rule as ivfAssign
    val top = slice(sort_array(array(scored: _*), asc = false), 1, nprobe)
    df.select(col(idCol), col(vecCol), explode(top).as("probe"))
      .select(
        col(idCol), col(vecCol),
        (col("probe").getField("negId") * -1).as("cell"))
  }

  /** IVF top-k: corpus vectors live in exactly one cell (their best
    * centroid); each query scores against the union of its `nprobe` best
    * cells. nprobe is the standard IVF recall/cost dial — a vector just
    * across a cell boundary from its query is found once the query also
    * probes that neighboring cell. No (q, n) pair can occur twice: the
    * corpus side is single-cell, and the probe cells per query are
    * distinct. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidIds: Seq[Long],
      nprobe: Int = 1): DataFrame =
    // centroids always come from the corpus — queries need not contain them
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      ivfCentroids(corpus, idCol, vecCol, centroidIds), nprobe)

  /** IVF top-k against an explicit centroid set — designated corpus
    * vectors (oracle-checkable) or [[ivfTrainCentroids]] output. */
  def ivfTopKWith(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      cents: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val c = ivfAssign(corpus, idCol, vecCol, cents).toDF("n_id", "n_vec", "cell")
    val q = ivfProbeCells(queries, idCol, vecCol, cents, nprobe)
      .toDF("q_id", "q_vec", "cell")
    val scored = c
      .join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(
        col("q_id"),
        col("n_id"),
        round(cosineSim(col("q_vec"), col("n_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ANN top-k: score only within matching LSH buckets. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 4,
      dims: Int = 64): DataFrame = {
    val c = lshBuckets(corpus, idCol, vecCol, planes, dims)
      .toDF("n_id", "n_vec", "bucket")
    val q = lshBuckets(queries, idCol, vecCol, planes, dims)
      .toDF("q_id", "q_vec", "bucket")
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(
        col("q_id"),
        col("n_id"),
        round(cosineSim(col("q_vec"), col("n_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * k most-similar corpus vectors with a DIFFERENT label — the
    * near-miss examples a retrieval/embedding model learns the most
    * from. Candidates come from the query's LSH bucket (same
    * hyperplane family as [[lshTopK]]), so the corpus is never scored
    * all-pairs: at 100 TB the bucket join fans each query out to
    * ~corpus/2^planes candidates, and the label filter rides the join.
    * Ranking is (rounded cosine desc, n_id asc) — deterministic.
    * Returns (q_id, q_label, rank, n_id, n_label, cos). */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      planes: Int = 4,
      dims: Int = 64): DataFrame = {
    def withBucket(df: DataFrame, prefix: String): DataFrame = {
      val bucket = (0 until planes).map { p =>
        val dot = graft.functions.Functions
          .dotProduct(col(vecCol), lit(hyperplane(p, dims)))
        when(dot > 0, 1 << p).otherwise(0)
      }.reduce(_ + _)
      df.select(
        col(idCol).as(s"${prefix}_id"),
        col(vecCol).as(s"${prefix}_vec"),
        col(labelCol).as(s"${prefix}_label"),
        bucket.as("bucket"))
    }
    val c = withBucket(corpus, "n")
    val q = withBucket(queries, "q")
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("q_label") =!= col("n_label"))
      .select(
        col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        round(cosineSim(col("q_vec"), col("n_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("rank"),
        col("n_id"), col("n_label"), col("cos"))
  }

  /** Symmetric int8 (maxabs) quantization of an embedding column — the
    * standard 4x memory/bandwidth reduction for serving a 100 TB-scale
    * vector corpus: each vector is scaled by its own max |component| to
    * [-127, 127] and stored as small integers, with the per-vector scale
    * kept for dequantization.
    *
    * Every step (widen to double, multiply, divide, +0.5, floor) is an
    * exactly-rounded IEEE op, so quantization is bit-reproducible in any
    * engine — which is also what makes it oracle-checkable. Pure column
    * expressions, zero shuffle: rides the scan.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val maxAbs = array_max(transform(v, x => abs(x)))
    val qvec = when(maxAbs === 0d, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x =>
        floor(x * lit(127.0) / maxAbs + lit(0.5)).cast("long")))
    df.select(
      col(idCol).as("vec_id"),
      qvec.as("qvec"),
      round(maxAbs / lit(127.0), 6).as("scale"))
  }

  /** Brute-force top-k cosine over int8-quantized vectors. Integer
    * components make every dot product and squared norm an exact integer
    * (well under 2^53), so the quantized cosine is order-independent and
    * bit-identical cross-engine — no rounding convention needed beyond
    * the final display round. Same broadcast + per-query window shape as
    * [[bruteForceTopK]]; the scan ships int8-scale data instead of
    * float32, which is the point at serving scale. */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = quantizeInt8(corpus, idCol, vecCol).toDF("n_id", "n_qvec", "n_scale")
    val q = quantizeInt8(queries, idCol, vecCol).toDF("q_id", "q_qvec", "q_scale")
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(
        col("q_id"),
        col("n_id"),
        round(cosineSim(
          transform(col("q_qvec"), x => x.cast("double")),
          transform(col("n_qvec"), x => x.cast("double"))), 6).as("qcos"))
    val w = Window.partitionBy("q_id").orderBy(col("qcos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-
    * duplicate pruning over an embedding column — cluster the corpus with
    * the coarse quantizer, compare pairs ONLY within a cluster, and drop
    * every vector that has a lower-id cluster-mate with cosine >=
    * threshold (greedy keep-first; deterministic, no RNG). Returns one
    * verdict row per input vector: (idCol, cell, n_dups_lower, is_kept).
    *
    * Scale shape: cluster assignment is [[ivfAssign]]'s zero-shuffle
    * literal fold into the scan stage; the ONLY shuffle is the cell-key
    * self-join, and pair work is bounded by sum(cell_size^2), never
    * corpus^2 — at 100 TB you raise k so the expected cell stays small
    * (the paper runs 50k clusters over LAION), and the centroid matrix
    * still fits in a literal because k*dims is tiny next to the data. */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = ivfAssign(emb, idCol, vecCol, centroids)
      .select(col(idCol).as("sd_id"), col(vecCol).as("sd_v"), col("cell"))
    val a = assigned.as("a")
    val b = assigned.as("b")
    // cosine rounded to 6dp BEFORE the threshold compare, so an
    // engine-side summation ulp can't flip a borderline pair
    val dups = a
      .join(b,
        col("a.cell") === col("b.cell") && col("b.sd_id") < col("a.sd_id") &&
          round(cosineSim(col("a.sd_v"), col("b.sd_v")), 6) >= threshold)
      .groupBy(col("a.sd_id").as("dup_id"))
      .agg(count(lit(1)).as("n_dups_lower"))
    assigned
      .join(dups, col("sd_id") === col("dup_id"), "left")
      .select(
        col("sd_id").as(idCol),
        col("cell"),
        coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"),
        col("dup_id").isNull.as("is_kept"))
  }

  /** Deterministic ±1 sign matrix for sparse random projection
    * (Achlioptas '03): sign (j, d) is the parity of
    * `md5Hash64("rp<seed>:<j>:<d>")`. Driver-side constants like
    * [[hyperplane]], so the projection is oracle-reproducible. */
  def rpSigns(seed: Int, dims: Int, outDims: Int): Array[Array[Double]] =
    Array.tabulate(outDims, dims) { (j, d) =>
      if ((graft.functions.Functions.md5Hash64Jvm(s"rp$seed:$j:$d") & 1L) == 0L)
        1.0 else -1.0
    }

  /** Random-projection dimensionality reduction: `outDims` components,
    * each the dot product of the vector with a deterministic ±1 sign row
    * (Johnson–Lindenstrauss via Achlioptas sparse projections — distances
    * are preserved in expectation at any corpus size). Inputs are first
    * quantized to integer milli-units (`floor(x * 1000)`), so every
    * projected component is an EXACT small integer in double: dot
    * products and norms downstream stay below 2^53 and bit-identical in
    * any engine — the same trick as [[quantizeInt8]], sized so an
    * 8-component cosine cannot leave the exact-integer range.
    *
    * One codegen'd [[graft.functions.DotProduct]] per component against a
    * literal row — zero shuffle, the projection rides the scan. */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      outDims: Int,
      seed: Int,
      dims: Int = 64): DataFrame = {
    val signs = rpSigns(seed, dims, outDims)
    // floor() yields LONG; back to double for the codegen dot product —
    // exact, the values are small integers
    val iv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0)).cast("double"))
    val proj = array((0 until outDims).map { j =>
      graft.functions.Functions.dotProduct(iv, lit(signs(j)))
    }: _*)
    df.select(col(idCol), proj.as("proj"))
  }

  /** Product-quantization codebook (Jégou et al. PAMI'11) from a fixed
    * set of training vectors: subvector `s` of training vector `i`
    * becomes centroid `i` of subspace `s`. Training ids are explicit
    * (the deterministic stand-in for a k-means pass, as in
    * [[ivfCentroids]]); vectors are quantized to integer milli-units so
    * every PQ distance downstream is exact integer arithmetic.
    * Returns (s, c, cvec: array[long]) — m × k rows. */
  def pqCodebook(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      trainIds: Seq[Long],
      m: Int,
      dims: Int = 64): Array[((Int, Int), Array[Long])] = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val sub = dims / m
    val train = emb.filter(col(idCol).isin(trainIds: _*))
      .select(col(idCol), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    require(train.length == trainIds.length, "missing training vectors")
    for {
      (s, si) <- (0 until m).map(s => (s, s * sub)).toArray
      ((_, v), c) <- train.zipWithIndex
    } yield ((s, c),
      (0 until sub).map(j => math.floor(v(si + j).toDouble * 1000.0).toLong).toArray)
  }

  /** PQ codes for every vector: per subspace, the index of the nearest
    * codebook centroid by exact integer L2 (ties to the lowest index).
    * Row-shaped (vector × subspace × centroid, then a windowed argmin)
    * rather than one giant projection: m × k × sub literal terms in a
    * single codegen'd expression would blow past janino limits, while
    * these rows are a normal key-partitioned window at any scale.
    * Returns (idCol, s, code). */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: Array[((Int, Int), Array[Long])],
      m: Int,
      dims: Int = 64): DataFrame = {
    val sub = dims / m
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = codebook.map { case ((s, c), v) => (s, c, v) }
      .toSeq.toDF("s", "c", "cvec")
    val iv = transform(col(vecCol), x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val subs = emb.select(col(idCol).as("pq_id"), iv.as("iv"))
      .select(col("pq_id"), explode(array((0 until m).map { s =>
        struct(lit(s).as("s"), slice(col("iv"), lit(s * sub + 1), lit(sub)).as("sv"))
      }: _*)).as("p"))
      .select(col("pq_id"), col("p.s").as("s"), col("p.sv").as("sv"))
    val d2 = subs.join(broadcast(cb), "s")
      .select(col("pq_id"), col("s"), col("c"),
        aggregate(zip_with(col("sv"), col("cvec"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    val w = Window.partitionBy(col("pq_id"), col("s"))
      .orderBy(col("d2"), col("c"))
    d2.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("pq_id").as(idCol), col("s"), col("c").as("code"))
  }

  /** PQ top-k with asymmetric distance (ADC): each query precomputes its
    * m × k integer distance table; a corpus vector's approximate distance
    * is the sum of m table lookups on its codes — the corpus is touched
    * as (id, s, code) rows joined to the broadcast tables, so scoring
    * cost is m lookups per vector regardless of dims, and nothing is
    * ever recomputed against raw corpus vectors. All-integer, so ranking
    * ties and the oracle are exact. Returns (q_id, n_id, adc, rank). */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: Array[((Int, Int), Array[Long])],
      m: Int,
      k: Int,
      dims: Int = 64): DataFrame = {
    val sub = dims / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = codebook.map { case ((s, c), v) => (s, c, v) }
      .toSeq.toDF("s", "c", "cvec")
    val iv = transform(col(vecCol), x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val qsubs = queries.select(col(idCol).as("q_id"), iv.as("iv"))
      .select(col("q_id"), explode(array((0 until m).map { s =>
        struct(lit(s).as("s"), slice(col("iv"), lit(s * sub + 1), lit(sub)).as("sv"))
      }: _*)).as("p"))
      .select(col("q_id"), col("p.s").as("s"), col("p.sv").as("sv"))
    val dtable = qsubs.join(broadcast(cb), "s")
      .select(col("q_id"), col("s"), col("c").as("code"),
        aggregate(zip_with(col("sv"), col("cvec"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    val codes = pqEncode(corpus, idCol, vecCol, codebook, m, dims)
      .toDF("n_id", "s", "code")
    val scored = codes.join(broadcast(dtable), Seq("s", "code"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-PQ with residual encoding — the realistic billion-vector ANN
    * recipe (Jégou/Douze/Schmid, "Product quantization for nearest
    * neighbor search", TPAMI 2011 §V; FAISS `IndexIVFPQ`): coarse-
    * quantize every vector to its nearest centroid by exact integer L2,
    * then product-quantize the RESIDUAL (vector − centroid) against a
    * shared residual codebook — residuals concentrate near zero, so the
    * same code budget quantizes them far more finely than raw vectors,
    * and the coarse cell restricts each query to `nprobe` cells' worth
    * of candidates. Asymmetric distance: per probed cell the query
    * builds its m × |codes| residual distance table, and a candidate's
    * score is m table lookups on its stored codes.
    *
    * Determinism: milli-quantized integer arithmetic end to end (the
    * [[pqTopK]] discipline) — assignments, codes, tables, and ranking
    * are all exact BIGINT with (distance, id) tie-breaks, so the whole
    * index is oracle-checkable. Centroids are designated corpus vectors
    * (`centroidIds`), the residual codebook trains on designated
    * vectors' residuals (`trainIds`) — no RNG state anywhere.
    *
    * Scale shape: the centroid set is broadcast (that is what makes it
    * a COARSE quantizer); assignment is a per-row argmin + one windowed
    * rank keyed on the vector id; codes are (corpus × m) rows through
    * keyed joins against the broadcast codebook; the scoring join is
    * keyed on (cell, s, code) with the query-side table broadcast — no
    * pairwise corpus work anywhere, so the plan survives a 100× corpus
    * by shuffle volume alone. Returns (q_id, n_id, adc, rank ≤ k). */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroidIds: Seq[Long],
      trainIds: Seq[Long],
      m: Int,
      k: Int,
      nprobe: Int,
      dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val sub = dims / m
    val iv = transform(col(vecCol), x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    def ivView(df: DataFrame) = df.select(col(idCol).as("vid"), iv.as("iv"))
    val cents = ivView(corpus)
      .filter(col("vid").isInCollection(centroidIds))
      .select(col("vid").as("cid"), col("iv").as("civ"))
    def dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    // n best cells per vector + the residual against EACH probed cell's
    // centroid (corpus uses n = 1: a vector lives in exactly one cell)
    def assign(df: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy(col("vid")).orderBy(col("dd"), col("cid"))
      ivView(df).crossJoin(broadcast(cents))
        .withColumn("dd", dist2(col("iv"), col("civ")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
        .select(col("vid"), col("cid").as("cell"),
          zip_with(col("iv"), col("civ"), (a, b) => a - b).as("riv"))
    }
    def subspaces(df: DataFrame, id: String): DataFrame =
      df.select(col("vid").as(id), col("cell"),
          explode(array((0 until m).map { s =>
            struct(lit(s).as("s"), slice(col("riv"), lit(s * sub + 1), lit(sub)).as("sv"))
          }: _*)).as("p"))
        .select(col(id), col("cell"), col("p.s").as("s"), col("p.sv").as("sv"))
    val asg = assign(corpus, 1)
    // shared residual codebook: designated train vectors' residual
    // subvectors, code = train id (the q95 convention)
    val cb = subspaces(asg.filter(col("vid").isInCollection(trainIds)), "c_id")
      .select(col("s"), col("c_id").as("c"), col("sv").as("cvec"))
    val codes = {
      val w = Window.partitionBy(col("n_id"), col("s")).orderBy(col("d2"), col("c"))
      subspaces(asg, "n_id").join(broadcast(cb), "s")
        .withColumn("d2", dist2(col("sv"), col("cvec")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("n_id"), col("cell"), col("s"), col("c").as("code"))
    }
    val dtable = subspaces(assign(queries, nprobe), "q_id")
      .join(broadcast(cb), "s")
      .select(col("q_id"), col("cell"), col("s"), col("c").as("code"),
        dist2(col("sv"), col("cvec")).as("d2"))
    val scored = codes.join(broadcast(dtable), Seq("cell", "s", "code"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-label prototype centroids: the mean embedding of every label's
    * vectors — class prototypes for nearest-prototype classification and
    * semantic-search seeds. Vectors quantize to milli-units first, so
    * the per-dimension SUM is an exact integer (order-free across any
    * partitioning) and the mean surfaces as micro-units
    * (`floor(1e3 * sum / n)` — milli-sum × 1e3 = micro scale). The mean
    * routes `sum / n` through a DOUBLE divide before the floor, so the
    * result is exactly rounded only while per-dimension |sum| < 2^53
    * (milli-quantized dims × corpus size ≈ 9e12 rows of unit-normalized
    * 64-dim vectors — far past any curation corpus); beyond that, stage
    * the divide through decimal like `Layout.normalize` does.
    *
    * Scale shape: explode to (label, dim, value) rows, one hash
    * aggregate on (label, dim) with map-side partials, re-assemble with
    * a labels × dims sort — output is labels × dims rows, never
    * corpus-sized. Returns (label, n_vectors, centroid_micros). */
  def labelCentroids(
      emb: DataFrame,
      labelCol: String,
      vecCol: String): DataFrame = {
    val iv = transform(col(vecCol), x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val dims = emb
      .select(col(labelCol).as("label"), posexplode(iv).as(Seq("dim", "v")))
    dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(
        max(col("n")).as("n_vectors"),
        array_sort(collect_list(struct(col("dim"), col("s")))).as("sd"))
      .select(col("label"), col("n_vectors"),
        transform(col("sd"), e =>
          floor(lit(1e3) * (e.getField("s").cast("double") / col("n_vectors")))
            .cast("long")).as("centroid_micros"))
  }

  /** Per-vector nearest-prototype assignment: (p_id, true_label,
    * proto_label, cos) with exactly one row per vector — the shared core
    * of [[prototypeReport]] (aggregated accuracy) and the label-noise
    * audit (per-vector disagreements, q152). */
  def prototypeAssignments(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val cents = labelCentroids(emb, labelCol, vecCol)
      .select(col("label").as("proto_label"), col("centroid_micros"))
    val iv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0)).cast("double"))
    val scored = emb
      .select(col(idCol).as("p_id"), col(labelCol).as("true_label"), iv.as("iv"))
      .crossJoin(broadcast(cents))
      .select(col("p_id"), col("true_label"), col("proto_label"),
        (dotProduct(col("iv"), transform(col("centroid_micros"), _.cast("double"))) /
          (sqrt(dotProduct(col("iv"), col("iv"))) *
            sqrt(dotProduct(
              transform(col("centroid_micros"), _.cast("double")),
              transform(col("centroid_micros"), _.cast("double"))))))
          .as("cos"))
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos").desc, col("proto_label"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
  }

  /** Nearest-prototype classification report: assign every vector to the
    * [[labelCentroids]] prototype with the highest cosine (ties to the
    * lowest label) and score per-true-label accuracy — the quality gate
    * for "are these embeddings separable by class", run before anyone
    * trains on them. Cosine is the explicit
    * `dot / (sqrt(n_a) * sqrt(n_b))` over exact-integer dots and norms —
    * every step exactly rounded, so the ranking is engine-deterministic.
    *
    * Scale shape: prototypes are labels × dims (broadcast); the corpus
    * is scored in one pass, ranked per vector over #labels rows, and
    * reduced to one row per label. */
  def prototypeReport(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    prototypeAssignments(emb, idCol, vecCol, labelCol)
      .groupBy(col("true_label").as("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("proto_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_vectors"), col("n_correct"),
        floor(lit(1e6) * (col("n_correct").cast("double") / col("n_vectors")))
          .cast("long").as("accuracy_ppm"))
  }

  /** Exact L2 top-k on milli-quantized vectors — the integer-exact
    * ground truth an approximate index (PQ, IVF, LSH) is measured
    * against. Same broadcast + window shape as the other top-ks. */
  def l2TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val iv = transform(col(vecCol), x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val c = corpus.select(col(idCol).as("n_id"), iv.as("n_iv"))
    val q = queries.select(col(idCol).as("q_id"), iv.as("q_iv"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        l2Dist2(col("q_iv"), col("n_iv")).as("d2"))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k report for an approximate top-k against an exact one:
    * per query, how many of the true k nearest the index recovered —
    * the tuning loop every ANN deployment runs (m/k/nprobe trade-offs
    * are chosen from exactly this table). Both inputs are (q_id, n_id,
    * …rank ≤ k) frames; the join is on the tiny result sets, so the
    * report costs nothing next to the searches. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = approx.select(col("q_id"), col("n_id"))
      .join(exact.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), lit(k.toLong).as("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        floor(lit(1e6) *
          (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k)))
          .cast("long").as("recall_ppm"))
  }

  /** Brute-force top-k in the random-projection space: the cheap first
    * pass of a project-then-rerank ANN pipeline (scoring at 8 dims costs
    * 1/8th of 64-dim cosine and the candidate set is then reranked
    * exactly — here the projected ranking itself is the contract).
    * Same broadcast + per-query window shape as [[quantizedTopK]]. */
  def projectedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      outDims: Int,
      seed: Int,
      k: Int,
      dims: Int = 64): DataFrame = {
    val c = randomProject(corpus, idCol, vecCol, outDims, seed, dims)
      .toDF("n_id", "n_proj")
    val q = randomProject(queries, idCol, vecCol, outDims, seed, dims)
      .toDF("q_id", "q_proj")
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosineSim(col("q_proj"), col("n_proj")), 6).as("pcos"))
    val w = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick k results balancing relevance to the query
    * against redundancy with what's already picked —
    * `score = λ·rel(v) − (1−λ)·max_{s∈S} sim(v, s)` — the diversified
    * retrieval step RAG pipelines run after ANN so the context window
    * isn't k near-copies of the best hit.
    *
    * Determinized for the hash gate: vectors are [[quantizeInt8]]
    * integers, similarity is the raw integer dot product, and λ is the
    * rational lamNum/lamDen applied as cross-multiplied integers
    * (`lamNum·rel − (lamDen−lamNum)·maxSim`) — every score is an exact
    * BIGINT, ties broken by id.
    *
    * Scale shape: greedy MMR is inherently sequential argmax rounds;
    * each round here is ONE distributed scan-and-TakeOrdered over the
    * corpus with the ≤k selected vectors inlined as literals (no join,
    * no corpus shuffle, k·dim longs of driver state). That is the honest
    * distributed cost of exact MMR — k passes — and the reason it runs
    * AFTER a top-N ANN cut in practice, not instead of one. `batch = 1`
    * (default) is exact greedy; `batch = b > 1` pools the per-round
    * TOP-b by current score and greedily re-scores WITHIN the pool on
    * the driver (each in-pool pick recomputes the redundancy penalty
    * against everything selected so far, pool-earlier picks included) —
    * ceil(k/b) job rounds instead of k. The first pick of every round
    * is still the true global argmax; later in-pool picks are the
    * standard batch-MMR heuristic (the true next argmax can fall
    * outside the pool once the penalty moves). Spec-pinned: b = 1
    * bit-equal to the sequential reference, every recorded score
    * exact for its pick time, round-1 pick identical at any b. */
  def mmrSelect(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Long],
      k: Int,
      lamNum: Int = 7,
      lamDen: Int = 10,
      batch: Int = 1): DataFrame = {
    require(lamNum > 0 && lamNum < lamDen, s"need 0 < lamNum < lamDen")
    require(batch >= 1)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    def dotLocal(a: Seq[Long], b: Seq[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val qLit = array(queryVec.map(lit): _*)
    val scored = quantizeInt8(corpus, idCol, vecCol)
      .select(col("vec_id"), col("qvec"))
      .withColumn("rel", dot(col("qvec"), qLit))
      .persist()
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Long], Long, Long)]
    var exhausted = false
    while (selected.size < k && !exhausted) {
      val red = selected.toSeq.map { case (_, sv, _, _) =>
        dot(col("qvec"), array(sv.map(lit): _*))
      } match {
        case Seq()  => lit(0L)
        case Seq(d) => d
        case ds     => greatest(ds: _*)
      }
      // no magic-id sentinel: ids are caller-supplied Longs, any value
      // (including -1) is legal — the empty-selection round just skips
      // the exclusion filter
      val remaining =
        if (selected.isEmpty) scored
        else scored.filter(!col("vec_id").isInCollection(selected.map(_._1)))
      val want = math.min(batch, k - selected.size)
      val pool = remaining
        .withColumn("score",
          lit(lamNum.toLong) * col("rel") - lit((lamDen - lamNum).toLong) * red)
        .orderBy(col("score").desc, col("vec_id"))
        .limit(want)
        .select(col("vec_id"), col("qvec"), col("rel"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
        .toBuffer
      if (pool.isEmpty) {
        // k exceeded the corpus: return the exhausted selection
        // rather than throwing from an empty round
        exhausted = true
      } else {
        // in-pool greedy with EXACT driver-side scores: each pick's
        // redundancy penalty includes pool-earlier picks, so every
        // recorded score is exact for its pick time. With batch = 1
        // this is precisely the sequential reference.
        var taken = 0
        while (taken < want && pool.nonEmpty) {
          val sc = pool.map { case (id, v, rel) =>
            val redMax =
              if (selected.isEmpty) 0L
              else selected.map(s => dotLocal(v, s._2)).max
            (id, v, rel,
              lamNum.toLong * rel - (lamDen - lamNum).toLong * redMax)
          }
          val (pid, pv, prel, pscore) = sc.minBy { case (id, _, _, s) => (-s, id) }
          selected += ((pid, pv, prel, pscore))
          pool.indexWhere(_._1 == pid) match {
            case -1 =>
            case ix => pool.remove(ix)
          }
          taken += 1
        }
      }
    }
    scored.unpersist()
    val spark = corpus.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex.map { case ((id, _, rel, sc), i) =>
      ((i + 1).toLong, id, rel, sc)
    }.toDF("rank", "vec_id", "rel_dot", "score")
  }

  /** k-center greedy coreset selection (Gonzalez, "Clustering to
    * minimize the maximum intercluster distance", TCS 1985; the
    * standard diversity/coverage selector in data-pruning and
    * active-learning pipelines, e.g. Sener & Savarese's core-set
    * approach): seed with the smallest id, then greedily add the point
    * FARTHEST from its nearest selected center (maximin), k times. The
    * greedy set's covering radius is within 2x of the optimal k-center
    * radius — the provable "spread" guarantee MMR lacks.
    *
    * Determinized like [[mmrSelect]]: int8-quantized vectors, exact
    * integer squared-L2 distances, (distance desc, id asc) argmax.
    * Output: (rank, vec_id, min_d2) with min_d2 = the point's squared
    * distance to the nearest EARLIER center (the seed's is 0).
    *
    * Scale shape: sequential rounds, each ONE scan + TakeOrdered with
    * the selected centers inlined as literals — no join, no corpus
    * shuffle, k·dim longs of driver state. `batch = 1` (default) is
    * the exact Gonzalez greedy at k − 1 rounds; `batch = b > 1` takes
    * the per-round TOP-b by current maximin distance as a candidate
    * pool and greedily re-checks WITHIN the pool on the driver (each
    * in-pool pick recomputes exact distances against everything
    * selected so far, including pool-earlier picks) — ceil((k−1)/b)
    * job rounds instead of k − 1, the difference between 500 and 8
    * Spark jobs at k = 500. The first pick of every round is still the
    * true global argmax (its pool score IS its exact score), so the
    * batched selection satisfies the Gonzalez bound relative to the
    * ROUND count: covering radius ≤ 2·OPT(#rounds) — the documented
    * trade: b widens per-round data reuse at the cost of the guarantee
    * referencing ceil((k−1)/b) centers instead of k. Spec-pinned:
    * b = 1 bit-equal to the sequential reference, and the batched
    * radius within 2× of exact greedy's on the property frame. */
  def kCenterGreedy(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      batch: Int = 1): DataFrame = {
    require(k >= 1 && batch >= 1)
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
    def d2Local(a: Seq[Long], b: Seq[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    // persist: every round rescans this projection (same as mmrSelect)
    val qz = quantizeInt8(corpus, idCol, vecCol)
      .select(col("vec_id"), col("qvec")).persist()
    val seed = qz.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("qvec")).collect().headOption
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Long], Long)]
    seed.foreach(r => selected += ((r.getLong(0), r.getSeq[Long](1), 0L)))
    var exhausted = selected.isEmpty
    while (selected.size < k && !exhausted) {
      val minD = selected.toSeq.map { case (_, sv, _) =>
        d2(col("qvec"), array(sv.map(lit): _*))
      } match {
        case Seq(d)  => d
        case ds      => least(ds: _*)
      }
      val want = math.min(batch, k - selected.size)
      val pool = qz.filter(!col("vec_id").isInCollection(selected.map(_._1)))
        .withColumn("min_d2", minD)
        .orderBy(col("min_d2").desc, col("vec_id"))
        .limit(want)
        .select(col("vec_id"), col("qvec"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
        .toBuffer
      if (pool.isEmpty) exhausted = true
      else {
        // in-pool greedy with EXACT driver-side distances: pool scores
        // were computed against the round-start selection; each pick
        // here re-checks against pool-earlier picks too, so no pick's
        // recorded min_d2 is stale. With batch = 1 this is precisely
        // the sequential reference (one candidate, exact distance).
        var taken = 0
        while (taken < want && pool.nonEmpty) {
          val scored = pool.map { case (id, v) =>
            (id, v, selected.map(s => d2Local(v, s._2)).min)
          }
          val (pid, pv, pd) = scored.minBy { case (id, _, d) => (-d, id) }
          selected += ((pid, pv, pd))
          pool -= ((pid, pv))
          taken += 1
        }
      }
    }
    qz.unpersist()
    val spark = corpus.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex.map { case ((id, _, d), i) =>
      ((i + 1).toLong, id, d)
    }.toDF("rank", "vec_id", "min_d2")
  }

  /** Fixed-round distributed Lloyd's k-means over int8-quantized
    * vectors — the corpus-scale clustering step ([[ivfTrainCentroids]]
    * trains a coarse quantizer from a bounded SAMPLE; this iterates
    * assignment/update over the FULL corpus, the SemDeDup/IVF
    * clustering shape at 100 TB).
    *
    * Determinized end-to-end: initial centroids are the k smallest ids'
    * quantized vectors; assignment is exact integer squared-L2 argmin
    * with ties to the smallest centroid id; the centroid update is the
    * componentwise integer mean `floor(Σ(q_j + 127) / n) − 127` — the
    * +127 shift keeps every sum non-negative so floor and truncating
    * division agree in every engine (Spark `div` truncates toward zero,
    * DuckDB `//` floors; they only disagree below zero). Empty clusters
    * keep their previous centroid. A fixed round count keeps the
    * computation a straight-line plan an oracle can unroll.
    *
    * Scale shape per round: ONE corpus scan with the k·dim centroid
    * matrix inlined as literals (argmin is a codegen'd sort_array over
    * k structs — no join), then a k-row map-side-combined aggregate of
    * per-dimension sums (`groupBy(cid).agg(sum(qvec[j]))`, NOT a
    * posexplode — the shuffle carries k × (dim+1) longs, not
    * corpus × dim rows). Driver state is k·dim longs per round.
    *
    * k-regime: the inlined-literal argmin is the COARSE-QUANTIZER
    * shape (k up to the low hundreds — the [[ivfAssign]] contract;
    * the generated expression grows with k·dim and codegen pays it
    * once per round). Fine-grained clustering at k in the thousands
    * wants the other assignment shape — explode the corpus against a
    * broadcast centroid TABLE and take `min_by((d2, cid))` per vector,
    * trading a corpus×k intermediate for a bounded expression — at
    * which point the per-round cost is k-fold scan work either way
    * and a hierarchical (coarse-then-fine) decomposition built from
    * TWO of these operators is the standard answer. Returns
    * (cid, dim_idx, c_val, n_points): the round-`rounds` centroids
    * exploded per dimension with each cluster's member count from the
    * assignment that produced them. */
  def kmeansLloyd(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centroids, counts) = kmeansLloydRun(corpus, idCol, vecCol, k, rounds)
    centroids.flatMap { case (cid, cv) =>
      cv.zipWithIndex.map { case (v, j) => (cid, j.toLong, v, counts(cid)) }
    }.toDF("cid", "dim_idx", "c_val", "n_points")
  }

  /** The [[kmeansLloyd]] training loop, returning the raw trained
    * state — (cid → quantized centroid vector) in cid order, plus the
    * final-assignment member counts. The streaming router (q271) calls
    * this directly so the centroid vectors never round-trip through
    * the exploded output frame. */
  private[graft] def kmeansLloydRun(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int): (Seq[(Long, Seq[Long])], Map[Long, Long]) = {
    require(k >= 1 && rounds >= 1)
    val qz = quantizeInt8(corpus, idCol, vecCol)
      .select(col("vec_id"), col("qvec")).persist()
    var centroids: Seq[(Long, Seq[Long])] = qz.orderBy(col("vec_id")).limit(k)
      .select(col("qvec")).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](0)) }
    if (centroids.isEmpty) {
      qz.unpersist()
      return (Seq.empty, Map.empty)
    }
    val dim = centroids.head._2.length
    var counts: Map[Long, Long] = Map.empty
    for (_ <- 1 to rounds) {
      val cidExpr = nearestCentroid(centroids, col("qvec")).getField("c")
      val aggExprs = count(lit(1)).as("n") +: (0 until dim).map(j =>
        sum(col("qvec").getItem(j) + lit(127L)).as(s"s$j"))
      val upd = qz.withColumn("cid", cidExpr)
        .groupBy(col("cid"))
        .agg(aggExprs.head, aggExprs.tail: _*)
        .collect()
        .map(r => r.getAs[Long]("cid") -> r).toMap
      counts = centroids.map { case (cid, _) =>
        cid -> upd.get(cid).map(_.getAs[Long]("n")).getOrElse(0L)
      }.toMap
      centroids = centroids.map { case (cid, prev) =>
        upd.get(cid) match {
          case Some(r) =>
            val n = r.getAs[Long]("n")
            (cid, (0 until dim).map(j => r.getAs[Long](s"s$j") / n - 127L))
          case None => (cid, prev) // empty cluster keeps its centroid
        }
      }
    }
    qz.unpersist()
    (centroids, counts)
  }

  /** The single-expression centroid router shared by the training
    * rounds and the q271 streaming assignment: a codegen'd sort_array
    * argmin over the inlined centroid matrix, yielding a struct with
    * `d` = exact integer squared-L2 to the nearest centroid and `c` =
    * its cid (ties to the smallest cid — the struct's lexicographic
    * order). ONE definition so the tie-break and arithmetic can never
    * diverge between training and routing. */
  def nearestCentroid(
      centroids: Seq[(Long, Seq[Long])],
      qvec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sort_array(array(centroids.map { case (cid, cv) =>
      struct(
        aggregate(
          zip_with(qvec, array(cv.map(lit): _*),
            (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(cid).as("c"))
    }: _*))(0)

  /** Rank discounts for [[ndcgAtK]] as integer micro-units:
    * `floor(1e6 / log2(i+1))` for i = 1..k. Derived once on the JVM and
    * inlined as literals into both the Spark plan and the oracle SQL —
    * the same deterministic-constants pattern as the LSH hyperplanes —
    * so no engine evaluates a float log. */
  def ndcgDiscountsMicro(k: Int): Seq[Long] =
    (1 to k).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** nDCG@k of a retrieval ranking against graded relevance (Järvelin &
    * Kekäläinen, TOIS 2002) — the standard eval after [[recallAtK]]'s
    * binary hit rate: position-discounted gains, normalized by the best
    * achievable ordering of each query's relevant set.
    *
    * `ranked`: (q_id, rank, n_id) with rank 1..k. `rel`: (q_id, n_id,
    * gain) — only positive-gain pairs need be present. All arithmetic is
    * exact: gains are integers, discounts are the inlined micro-unit
    * literals of [[ndcgDiscountsMicro]], so DCG and ideal-DCG are exact
    * integer sums and the final ratio is the integer division
    * `(dcg·1e6) div idcg` — engine-bit-identical. Queries with an empty
    * relevant set have no defined nDCG and drop via the inner join.
    *
    * Scale shape: one keyed left-join of the k·|queries|-row ranking
    * against the relevance pairs, one window top-k over each query's
    * relevant set (partitioned by q_id — the only shuffle), two
    * per-query aggregates. Nothing scales with the corpus beyond the
    * relevance pair list itself. */
  def ndcgAtK(ranked: DataFrame, rel: DataFrame, k: Int): DataFrame = {
    val disc = ndcgDiscountsMicro(k)
    def discAt(rank: org.apache.spark.sql.Column) =
      element_at(array(disc.map(lit): _*), rank.cast("int"))
    val dcg = ranked
      .join(rel, Seq("q_id", "n_id"), "left")
      .withColumn("gain", coalesce(col("gain"), lit(0L)))
      .groupBy(col("q_id"))
      .agg(
        sum(col("gain") * discAt(col("rank"))).as("dcg_micro"),
        sum(col("gain")).as("gain_at_k"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("gain").desc, col("n_id"))
    val idcg = rel
      .withColumn("irank", row_number().over(w))
      .filter(col("irank") <= k)
      .groupBy(col("q_id"))
      .agg(sum(col("gain") * discAt(col("irank"))).as("idcg_micro"))
    // both aggregates are |queries|-sized — the ranking side is small by
    // the operator's contract, so the final join broadcasts, not sorts
    dcg.join(broadcast(idcg), "q_id")
      .select(
        col("q_id"), col("dcg_micro"), col("idcg_micro"), col("gain_at_k"),
        expr("dcg_micro * 1000000L div idcg_micro").as("ndcg_ppm"))
  }

  /** Deterministic distributed NN-Descent (Dong, Moses & Li, WWW'11):
    * k-NN-GRAPH construction — the graph-based ANN family next to
    * brute/LSH/IVF/IVF-PQ/PQ, and the index shape production vector
    * search (HNSW-style) is built from. Everything is exact BIGINT on
    * milli-quantized vectors with (d2, id) tie-breaks, so every round is
    * a pure relational statement both engines replay identically — the
    * q278 Louvain discipline applied to ANN.
    *
    *  - init: all-pairs top-k inside deterministic hash buckets from TWO
    *    independent bucket systems (`(id·m_t) >> 16 mod initBuckets`,
    *    Knuth multiplicative hashes taking HIGH bits — `mod` of an
    *    odd-multiplier product is the identity on the low bits, which
    *    would make buckets closed under id-stride; and a SINGLE bucket
    *    system would make the init graph a disjoint union of cliques
    *    that neighbor-of-neighbor closure can never escape — two
    *    overlapping systems make the union connected, the role random
    *    init plays in the paper). Plain integer arithmetic, portable to
    *    any SQL oracle; never a global all-pairs. Ids must stay below
    *    2^63 / 2654435761 ≈ 3.4·10^9 so id·m_t cannot overflow — Spark
    *    would wrap silently under ansi=false while an ANSI oracle engine
    *    ERRORS, so a larger id space must pre-hash ids down first;
    *  - round: reverse edges capped at k per node by (d2, id) (the
    *    paper's reverse sampling, made deterministic), the general graph
    *    g = nn ∪ rev, the LOCAL JOIN g ⋈_mid g proposing every
    *    neighbor-of-neighbor pair, exact rescoring through two keyed
    *    joins against the vector table, then per-node top-k over
    *    old ∪ new. Each node's neighbor multiset can only improve
    *    (the current list is always in the union), so per-node Σd2 is
    *    monotonically non-increasing — the convergence invariant the
    *    spec locks.
    *
    * Scale shape: no cartesian anywhere — init is bucket-keyed
    * (bucket size ~n/initBuckets; pick initBuckets ~ n/64), candidate
    * generation is one self-join keyed on the shared middle node
    * (Σ_b |g(b)|² ≤ n·(2k)² rows/round), rescoring is two corpus-keyed
    * joins, top-k one window per round. `checkpointEvery` defaults ON
    * (1), unlike the Graph operators: each round references the previous
    * round's list and its general graph several times, so an untruncated
    * logical plan grows ~5^rounds and rounds ≥ 3 spend minutes in the
    * analyzer before the first task — 0 is for single-round plan
    * inspection only. Returns
    * (q_id, n_id, d2, rank ≤ k) — the [[recallAtK]] `approx` shape. */
  /** Keyed exact top-n: the `distinct()` + `row_number().over(window)`
    * pair fused into ONE aggregate (optimization guide §2.3/§2.4).
    * `collect_set` dedups the (ord, id) pairs of each key group WITH
    * map-side partial aggregation (duplicates die before the exchange —
    * the window form shipped them all, see ADVICE r17), `array_sort`
    * orders each set by (ord ASC, id ASC) — struct comparison is
    * field-by-field, exactly the windows' (d2, id) order; no nulls in
    * either field — and `slice` keeps the first n. One exchange + one
    * hash aggregate per call, no sort, no second dedup aggregate.
    * Equivalence to dedup-then-rank needs the (ord, id) pairs distinct
    * per key AFTER dedup, which holds everywhere: `id` is unique within
    * a key group's deduped candidate/beam/edge set and `ord` is a
    * deterministic function of (key, id), so the sorted set's first n
    * ARE the window's rank 1..n rows. Emits (keys..., id, ord [, rank]). */
  private[graft] def topNAgg(
      df: DataFrame,
      keys: Seq[String],
      ordName: String,
      idName: String,
      n: Int,
      rank: Boolean = false): DataFrame = {
    val kc = keys.map(col)
    val grouped = df.groupBy(kc: _*)
      .agg(slice(array_sort(collect_set(struct(col(ordName), col(idName)))),
        1, n).as("_top"))
    if (rank)
      grouped
        .select(kc :+ posexplode(col("_top")).as(Seq("_pos", "_t")): _*)
        .select(kc ++ Seq(col(s"_t.$idName").as(idName),
          col(s"_t.$ordName").as(ordName),
          (col("_pos") + 1).cast("int").as("rank")): _*)
    else
      grouped
        .select(kc :+ explode(col("_top")).as("_t"): _*)
        .select(kc ++ Seq(col(s"_t.$idName").as(idName),
          col(s"_t.$ordName").as(ordName)): _*)
  }

  def nnDescent(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int,
      initBuckets: Int,
      checkpointEvery: Int = 1): DataFrame = {
    require(k >= 1 && rounds >= 0 && initBuckets >= 1 && checkpointEvery >= 0)
    val iv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val v = emb.select(col(idCol).as("id"), iv.as("iv"))
    // the hot kernel: one codegen'd loop per pair (see L2Dist2) — a
    // zip_with/aggregate lambda pair costs ~4x in interpreted closures
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      l2Dist2(a, b)
    // dedup + top-k in one keyed aggregate (topNAgg) — within a bucket
    // system pairs are already unique (one bucket per id per system), so
    // the set dedup is a no-op there and the aggregate IS the window
    def keep(scored: DataFrame, n: Int, rank: Boolean = false): DataFrame =
      topNAgg(scored, Seq("id"), "d2", "nbr", n, rank)
    // top-k per bucket system FIRST (top-k over a union = top-k over the
    // union of per-set top-ks), so the cross-system dedup runs over
    // 2·n·k rows, never the n·bucketSize scored-pair volume
    val init = Seq(2654435761L, 2246822519L).map { m =>
        val bucketed = v.withColumn("bkt",
          pmod(shiftright(col("id") * lit(m), 16), lit(initBuckets.toLong)))
        keep(bucketed.select(col("bkt"), col("id"), col("iv"))
          .join(bucketed.select(
            col("bkt"), col("id").as("nbr"), col("iv").as("niv")), "bkt")
          .filter(col("id") =!= col("nbr"))
          .select(col("id"), col("nbr"), d2(col("iv"), col("niv")).as("d2")), k)
      }.reduce(_ unionByName _)
    // pairs co-bucketed in both systems dedup inside the same aggregate
    // that re-cuts the union to top-k — one exchange, map-side partial
    var nn = keep(init, k)
    // incremental search (the paper's §2.3 rule, made exact): a pair
    // whose BOTH general-graph edges already existed last round was
    // proposed and scored last round with the same middle node, and each
    // node's kth distance is monotone non-increasing, so a pair that
    // lost then still loses now — skipping old×old pairs is provably
    // result-preserving, not an approximation. Round volumes collapse
    // as the graph settles (round 1 is full, later rounds score only
    // neighborhoods touched by fresh edges).
    var prevG: DataFrame = null
    for (r <- 1 to rounds) {
      // reverse top-k: same fused aggregate, keyed by nbr (nn is unique
      // per (id, nbr), so set-dedup is a no-op and order is the window's)
      val rev = topNAgg(nn, Seq("nbr"), "d2", "id", k)
        .select(col("nbr").as("id"), col("id").as("nbr"))
      var g = nn.select(col("id"), col("nbr")).unionByName(rev).distinct()
      if (checkpointEvery > 0) g = g.localCheckpoint() // reused next round
      val flagged =
        if (prevG == null) g.withColumn("fresh", lit(true))
        else g.join(prevG.withColumn("seen", lit(1)), Seq("id", "nbr"), "left")
          .withColumn("fresh", col("seen").isNull).drop("seen")
      // the local-join fan-out repeats a pair once per shared middle
      // node — dedup BEFORE the scoring joins (measured 2x end-to-end:
      // without it the duplicated volume rides through scoring and the
      // final dedup)
      val cand = flagged
        .select(col("id").as("mid"), col("nbr").as("u"), col("fresh").as("fu"))
        .join(flagged.select(
          col("id").as("mid"), col("nbr").as("w"), col("fresh").as("fw")), "mid")
        .filter(col("u") =!= col("w") && (col("fu") || col("fw")))
        .select(col("u").as("id"), col("w").as("nbr"))
        // exchange fusion (guide §2.4): repartition(id) serves both the
        // candidate dedup and the first rescoring join — partitioning
        // never changes distinct/join content. Tradeoff (ADVICE r17):
        // clustering the dedup on the single join key drops its map-side
        // partial (the ~2x duplicated fan-out crosses this one exchange
        // undeduplicated) and concentrates hub-node rows; if large-scale
        // runs show straggler partitions here, fall back to a plain
        // distinct (partial dedup, one extra exchange) or salt the key.
        .repartition(col("id")).distinct()
      val scored = cand
        .join(v.select(col("id"), col("iv").as("qiv")), "id")
        .join(v.select(col("id").as("nbr"), col("iv").as("niv")), "nbr")
        .select(col("id"), col("nbr"), d2(col("qiv"), col("niv")).as("d2"))
      // old∪new dedup + re-cut in one keyed aggregate (map-side partial
      // dedup restored — the r17 repartition+distinct+window form shipped
      // the union undeduplicated)
      nn = keep(nn.unionByName(scored), k)
      prevG = g
      if (checkpointEvery > 0 && r % checkpointEvery == 0 && r < rounds)
        nn = nn.localCheckpoint()
    }
    keep(nn, k, rank = true).select(
      col("id").as("q_id"), col("nbr").as("n_id"), col("d2"), col("rank"))
  }

  /** The beam searches' closure-checkpoint cliff: an input whose logical
    * plan has at most 8 nodes (a checkpointed snapshot or a parquet read,
    * modulo a few projections) is cheap to re-analyze every round, so its
    * closure skips the blocking `localCheckpoint` job; a composed input
    * is checkpointed to bound plan growth. */
  private def closureInputIsLeafLike(input: DataFrame): Boolean =
    org.apache.spark.sql.graftbridge.Bridge
      .logicalPlan(input).collect { case p => p }.size <= 8

  /** Deterministic beam search over a k-NN graph — the QUERY path of
    * graph-based ANN (the greedy search HNSW/NSG run, flattened to
    * fixed synchronous rounds so it is relationally unrollable): start
    * every query at the designated `entryIds`, then each round expands
    * the beam's UNDIRECTED graph neighbors, rescores exactly (integer
    * d2 via [[graft.functions.L2Dist2]]), and keeps the best `beam`
    * per query by (d2, id). The beam's d2 multiset weakly improves per
    * round (the current beam is always in the union — the
    * [[nnDescent]] invariant, spec-locked). Returns the final beam's
    * top-k in the [[recallAtK]] `approx` shape.
    *
    * Scale shape: the beam table is |queries|·beam rows; each round is
    * one keyed join against the (broadcast-or-shuffled) edge list, one
    * keyed join against the corpus vectors, one per-query window —
    * nothing corpus-sized beyond the keyed vector lookups, which is
    * exactly why production vector search pays for a graph build. */
  def graphSearchTopK(
      graph: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      entryIds: Seq[Long],
      beam: Int,
      rounds: Int,
      k: Int): DataFrame = {
    require(entryIds.nonEmpty)
    val q = queries.select(col(idCol).as("q_id"))
      .withColumn("n_id", explode(array(entryIds.map(lit): _*)))
    graphSearchTopKSeeded(graph, corpus, queries, q, idCol, vecCol,
      beam, rounds, k)
  }

  /** [[graphSearchTopK]] with PER-QUERY entry points — `seeds` is a
    * (q_id, n_id) table seeding each query's initial beam. This is the
    * primitive a LAYERED index needs: HNSW's upper layers exist to
    * hand each query its own good entry point, so the level-0 search
    * starts from the descent's output rather than a fixed global id
    * list ([[graft.operators.LayeredAnn]]). Semantics are exactly the
    * fixed-entry form's when `seeds` = queries × entryIds (the
    * [[graphSearchTopK]] delegation — q288/q290-et-al hashes
    * unchanged). */
  def graphSearchTopKSeeded(
      graph: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      seeds: DataFrame,
      idCol: String,
      vecCol: String,
      beam: Int,
      rounds: Int,
      k: Int): DataFrame = {
    require(k >= 1 && beam >= k && rounds >= 0)
    val iv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val v = corpus.select(col(idCol).as("n_id"), iv.as("niv"))
    val q = queries.select(col(idCol).as("q_id"), iv.as("qiv"))
    // undirected closure: k-NN edges are directed; search wants both.
    // Laid out hash(node) (subset clustering satisfies the dedup's
    // distribution), so every round's expansion join consumes it with no
    // per-round exchange on this side. The eager checkpoint exists ONLY
    // to bound logical-plan growth: the closure references `graph` twice
    // and each round references the closure, so a COMPOSED input (e.g.
    // insertBatch over an un-checkpointed repair output, the q313 shape)
    // would otherwise copy its whole tree ~2·rounds times into the
    // analyzer (measured +25 s of pure driver gap). When the input is
    // already a LEAF (checkpointed store snapshot / parquet read — every
    // CDC and serve call site), the copies are a few nodes each, exchange
    // reuse materializes the closure once per action anyway, and the
    // checkpoint is one more blocking job per search call (the q344/q349
    // wall) — skip it. Plan-shape introspection only; results identical.
    lazy val g = {
      val closure = graph
        .select(col("q_id").as("node"), col("n_id").as("nbr"))
        .unionByName(graph.select(col("n_id").as("node"), col("q_id").as("nbr")))
        .repartition(col("node")).distinct()
      if (closureInputIsLeafLike(graph)) closure else closure.localCheckpoint()
    }
    def score(cand: DataFrame): DataFrame =
      cand.join(v, "n_id").join(broadcast(q), "q_id")
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), l2Dist2(col("qiv"), col("niv")).as("d2"))
    // beam dedup + re-cut fused into one keyed aggregate (topNAgg): one
    // exchange + hash aggregate per round where the r17 shape paid an
    // exchange-sharing distinct AND a window sort
    def keep(df: DataFrame, n: Int, rank: Boolean = false): DataFrame =
      topNAgg(df, Seq("q_id"), "d2", "n_id", n, rank)
    var b = keep(score(seeds.select(col("q_id"), col("n_id"))), beam)
    for (r <- 1 to rounds) {
      // repartition(n_id) serves both the candidate dedup and the
      // vector-lookup join (guide §2.4 subset clustering; needs the
      // default spark.sql.requireAllClusterKeysForDistribution=false,
      // pinned in Engine.session). Skew note (ADVICE r17): the fused
      // dedup has no map-side partial and hubs concentrate on one key —
      // salt or fall back to plain distinct if stragglers appear at scale.
      val cand = b.select(col("q_id"), col("n_id").as("node"))
        .join(g, "node")
        .select(col("q_id"), col("nbr").as("n_id"))
        .repartition(col("n_id")).distinct()
      b = keep(score(cand).unionByName(b), beam)
      // no per-round eager checkpoint for the catalog's small round
      // counts: the plan references b twice per round, and exchange
      // reuse dedups the copies' physical subtrees, so the whole search
      // runs as ONE job instead of a job per round (the q344/q349 wall
      // was inter-job scheduling gaps, not compute). Every 3rd round
      // still truncates so deep searches keep bounded logical plans.
      if (r < rounds && r % 3 == 0) b = b.localCheckpoint()
    }
    keep(b, k, rank = true)
  }

  /** CELL-KEYED beam search — [[graphSearchTopK]] run simultaneously
    * over every probed shard of a cell-partitioned index
    * ([[graft.operators.AnnIndex.buildOrLoadSharded]]), as ONE
    * pipeline: `cell` rides every join and window as an extra key, so
    * the statement a thousand-cell batch plans is the same fixed shape
    * a four-cell batch plans — no per-cell driver loop, no per-cell
    * jobs, no plan growing with the probed-cell count. Per (query,
    * cell) the computation is bit-identical to the per-cell
    * [[graphSearchTopK]] (same entry candidates, same undirected
    * closure, same (d2, id) keeps — edges are intra-cell by
    * construction, so the globally-keyed vector lookup joins the same
    * rows the per-shard one did), and the final merge is the same
    * per-query rank over the per-cell top-ks.
    *
    * `index` is the (probed) edge table carrying `cell`; `corpus` the
    * id → vector map; `routed` the (idCol, vecCol, cell) query routing
    * ([[ivfProbeCells]]); `entries` the (cell, n_id) per-cell entry
    * table ([[graft.operators.AnnIndex.cellEntryPoints]]) — a cell
    * with no entry row (a trained quantizer can leave cells empty)
    * contributes no candidates instead of crashing the batch.
    *
    * Scale shape: the beam table is |routed|·beam rows; each round is
    * one (cell, node)-keyed join against the pruned edge closure, one
    * keyed vector lookup, one per-(query, cell) window. */
  def keyedGraphSearchTopK(
      index: DataFrame,
      corpus: DataFrame,
      routed: DataFrame,
      entries: DataFrame,
      idCol: String,
      vecCol: String,
      beam: Int,
      rounds: Int,
      k: Int): DataFrame = {
    // fixed per-cell entries are the seeded form's degenerate case:
    // seed set = routed × the cell's entry table (the delegation mirror
    // of graphSearchTopK → graphSearchTopKSeeded)
    val seeds = routed
      .select(col(idCol).as("q_id"), col("cell").cast("long").as("cell"))
      .join(entries.select(col("cell").cast("long").as("cell"), col("n_id")),
        Seq("cell"))
      .select(col("q_id"), col("cell"), col("n_id"))
    keyedGraphSearchTopKSeeded(index, corpus, routed, seeds, idCol, vecCol,
      beam, rounds, k)
  }

  /** [[keyedGraphSearchTopK]] with PER-(query, cell) entry seeds —
    * `seeds` is a (q_id, cell, n_id) table: the sharded analog of
    * [[graphSearchTopKSeeded]], and the primitive the per-cell LAYERED
    * descent needs ([[graft.operators.AnnIndex.cellDescentSeeds]] hands
    * each routed (query, cell) pair its own level-0 entry instead of
    * the cell's fixed lowest ids). The final cross-cell merge keeps the
    * best k per query over its probed cells' per-cell top-ks. */
  def keyedGraphSearchTopKSeeded(
      index: DataFrame,
      corpus: DataFrame,
      routed: DataFrame,
      seeds: DataFrame,
      idCol: String,
      vecCol: String,
      beam: Int,
      rounds: Int,
      k: Int): DataFrame = {
    val perCell = keyedGraphSearchPerCell(index, corpus, routed, seeds,
      idCol, vecCol, beam, rounds, k).select(col("q_id"), col("n_id"), col("d2"))
    val wMerge = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("n_id"))
    perCell.withColumn("rank", row_number().over(wMerge))
      .filter(col("rank") <= k)
  }

  /** The shared cell-keyed beam core: per (query, cell) top-k WITH the
    * cell retained and no cross-cell merge — what a layer-descent stage
    * consumes (each layer's per-cell result seeds the next layer down,
    * so the cell key must survive the stage). */
  private[graft] def keyedGraphSearchPerCell(
      index: DataFrame,
      corpus: DataFrame,
      routed: DataFrame,
      seeds: DataFrame,
      idCol: String,
      vecCol: String,
      beam: Int,
      rounds: Int,
      k: Int): DataFrame = {
    require(k >= 1 && beam >= k && rounds >= 0)
    val iv = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val v = corpus.select(col(idCol).as("n_id"), iv.as("niv"))
    val q = routed.select(col(idCol).as("q_id"), col("cell").cast("long").as("cell"),
      iv.as("qiv"))
    // undirected closure, cell-keyed: edges are intra-cell, so the
    // reversal never crosses a shard boundary. Checkpointed only when
    // the input subtree is composed (same plan-growth-vs-job tradeoff as
    // graphSearchTopKSeeded's closure — the per-layer descent inputs are
    // pinned snapshot leaves, so their closure checkpoint was one more
    // blocking job per layer per micro-batch)
    lazy val g = {
      val closure = index.select(col("cell").cast("long").as("cell"),
          col("q_id").as("node"), col("n_id").as("nbr"))
        .unionByName(index.select(col("cell").cast("long").as("cell"),
          col("n_id").as("node"), col("q_id").as("nbr")))
        .distinct()
      if (closureInputIsLeafLike(index)) closure else closure.localCheckpoint()
    }
    def score(cand: DataFrame): DataFrame =
      cand.join(v, "n_id").join(broadcast(q), Seq("q_id", "cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("cell"), col("n_id"),
          l2Dist2(col("qiv"), col("niv")).as("d2"))
    // per-(query, cell) dedup + re-cut in one keyed aggregate — the
    // graphSearchTopKSeeded form with cell riding the key. Clustered by
    // q_id alone (subset clustering, guide §2.4): one exchange serves
    // the aggregate, the final re-cut AND the caller's cross-cell merge
    // window — the r17 fusion, with the distinct+window pair collapsed
    // into the aggregate (no sort, no second dedup)
    def keep(df: DataFrame, n: Int, rank: Boolean = false): DataFrame =
      topNAgg(df, Seq("q_id", "cell"), "d2", "n_id", n, rank)
    var b = keep(score(
      seeds.select(col("q_id"), col("cell").cast("long").as("cell"),
        col("n_id"))).repartition(col("q_id")), beam)
    for (r <- 1 to rounds) {
      // repartition(n_id) feeds both the candidate dedup and the vector
      // join (subset clustering, guide §2.4 — same config note and skew
      // tradeoff as graphSearchTopKSeeded's round body)
      val cand = b.select(col("q_id"), col("cell"), col("n_id").as("node"))
        .join(g, Seq("cell", "node"))
        .select(col("q_id"), col("cell"), col("nbr").as("n_id"))
        .repartition(col("n_id")).distinct()
      b = keep(score(cand).unionByName(b).repartition(col("q_id")), beam)
      // beam-sized eager truncation per round: accurate stats keep the
      // next round's expansion join a STATIC broadcast (an un-truncated
      // aggregate's estimate flips it to a shuffle AQE must repair —
      // measured slower on the descent-heavy serve entries)
      if (r < rounds) b = b.localCheckpoint()
    }
    // b is already hash(q_id)-clustered (checkpoint preserves it): the
    // final re-cut and the caller's merge window add NO exchange
    keep(b, k, rank = true)
  }
}
