package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search (k-NN) over an embedding column.
  *
  * Shared conventions: rows with NULL or zero-norm vectors are excluded
  * (cosine is undefined for them — and a NaN similarity would otherwise
  * sort above every real neighbor); a candidate whose id equals the
  * query's id is excluded (self-match suppression — callers whose query
  * and corpus id spaces overlap but refer to different entities should
  * re-key first).
  *
  * Two tiers:
  *   - [[bruteForceTopK]]: exact — broadcast the (small) query set against
  *     the full corpus; one pass, no corpus shuffle. Right answer whenever
  *     |queries| is broadcast-able, at any corpus size.
  *   - [[lshTopK]]: approximate — random-hyperplane LSH buckets corpus and
  *     queries; only same-bucket candidates are scored (multi-probe via
  *     fewer bits = bigger recall). The bucket join is an equi join, so work
  *     scales with bucket occupancy, not |corpus|·|queries|.
  */
object Similarity {

  /** The seed of every sampled or hashed choice here, and the IVF
    * quantizer's training-sample size. */
  private val Seed = 42L
  private val SampleSize = 2048

  /** Exact top-k cosine neighbors for each query vector.
    * Inputs must have (idCol, vecCol: array<float|double>).
    * Output: (query_id, neighbor_id, sim, rank) with rank 1..k, ties broken
    * by neighbor id (deterministic).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm2(col("qv"))).filter(col("qn") > 0)
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv"))).filter(col("cn") > 0)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Contrastive-pair mining: for each query, the exact top-k most-similar
    * SAME-label neighbors (positives) and top-k most-similar DIFFERENT-label
    * neighbors (hard negatives) — the standard mining step for contrastive /
    * metric-learning training sets (hard negatives are the highest-cosine
    * vectors the model must learn to push away).
    *
    * Same plan shape as [[bruteForceTopK]]: broadcast queries × one corpus
    * scan, so corpus-side work is a single pass at any scale; the top-k
    * window partitions by (query_id, kind) so positives and negatives rank
    * independently. Output: (query_id, neighbor_id, kind 'pos'|'neg', sim,
    * rank), ties broken by neighbor id.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(labelCol).as("q_label"),
        toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm2(col("qv"))).filter(col("qn") > 0)
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("c_label"),
        toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv"))).filter(col("cn") > 0)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("kind", when(col("q_label") === col("c_label"), lit("pos")).otherwise(lit("neg")))
    val w = Window.partitionBy("query_id", "kind").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "kind", "sim", "rank")
  }

  /** Approximate top-k via IVF (inverted-file) partitioning: a coarse
    * k-means quantizer (trained on a bounded sample, Lloyd's iterations on
    * the driver — the sample stays small at any corpus size) assigns every
    * corpus vector to its nearest centroid list; each query probes its
    * `nProbe` nearest lists and scores candidates exactly. The
    * corpus-side work is one map (assignment) + an equi join on list id, so
    * cost scales with probed-list occupancy, not |corpus|·|queries|.
    * `nProbe = nLists` degrades to exact brute force.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import org.apache.spark.sql.Row

    // ---- train the coarse quantizer on a deterministic UNBIASED sample:
    // order by a seeded hash of the id (TakeOrdered — one bounded job), so
    // centroids neither depend on partition layout nor inherit id-order
    // topic bias (ids often correlate with ingest batches)
    val sample: Array[Array[Double]] = corpus
      .filter(col(vecCol).isNotNull)
      .select(xxhash64(lit(Seed), col(idCol)).as("__h"), toDouble(col(vecCol)).as("v"))
      .orderBy(col("__h"))
      .limit(SampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "ivfTopK: empty corpus")
    val dim = sample(0).length
    val centroids = kmeans(sample, math.min(nLists, sample.length), dim, iters = 10)

    def nearestLists(v: Seq[Double], n: Int): Seq[Int] =
      centroids.indices
        .map(i => i -> l2(centroids(i), v))
        .sortBy { case (i, d) => (d, i) }
        .take(n).map(_._1)

    val assignUdf = udf((v: Seq[Double]) => nearestLists(v, 1).head)
    val probeUdf = udf((v: Seq[Double]) => nearestLists(v, nProbe))

    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv"))).filter(col("cn") > 0)
      .withColumn("list", assignUdf(col("cv")))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm2(col("qv"))).filter(col("qn") > 0)
      .withColumn("list", explode(probeUdf(col("qv"))))

    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    c.join(q, Seq("list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Approximate top-k via IVF-PQ (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) with exact re-ranking — the
    * memory-bounded ANN path for corpora where even one float vector per
    * row is too much state to shuffle:
    *
    *   1. TRAIN (driver, bounded): coarse k-means quantizer on the seeded-
    *      hash sample (as [[ivfTopK]]), then per-subspace codebooks of
    *      `ksub` centroids over the sample's RESIDUALS (v − coarse list
    *      centroid), `m` subspaces of dim/m dims each.
    *   2. INDEX (one corpus map, no shuffle): each vector → its list id +
    *      `m` byte-sized codes + its true norm. The index row is ~m bytes
    *      of codes instead of dim floats — at 100 TB this is the difference
    *      between an index that fits executor memory and one that doesn't.
    *   3. SEARCH: queries explode to their `nProbe` nearest lists and
    *      precompute ONE ADC lookup table per (query, list) — lut[j][c] =
    *      dot(q_j, coarse_j + codebook_j[c]) — so scoring a candidate is m
    *      table lookups, never a dim-length loop. Candidates join on list
    *      id (equi join, occupancy-bounded like IVF).
    *   4. REFINE: the ADC top (refineFactor·k) per query re-ranks with
    *      EXACT cosine against the raw vectors (a broadcast-sized candidate
    *      join back onto the corpus — the standard refine stage; only
    *      refineFactor·k raw vectors per query are ever touched).
    *
    * Exactness invariant (spec-pinned): ADC only PRUNES — the final
    * scoring is exact cosine with [[bruteForceTopK]]'s tie-breaks, so with
    * nProbe = nLists and a refine pool covering the corpus the result
    * equals brute force bit-for-bit. Output: (query_id, neighbor_id, sim,
    * rank).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 2,
      m: Int = 8, ksub: Int = 16, refineFactor: Int = 4): DataFrame = {
    val model = trainPq(
      sampleVectors(corpus, idCol, vecCol, SampleSize, Seed), nLists, m, ksub)
    searchPqIndex(encodePqIndex(corpus, idCol, vecCol, model),
      corpus, queries, idCol, vecCol, model, k, nProbe, refineFactor)
  }

  /** The trained IVF-PQ model: coarse quantizer + per-subspace residual
    * codebooks. k·dim + m·ksub·(dim/m) doubles — driver/closure-sized by
    * construction, and small enough to persist as one parquet row
    * ([[VectorIndex]]).
    */
  final case class PqModel(dim: Int, m: Int, ksub: Int,
      coarse: Array[Array[Double]], codebooks: Array[Array[Array[Double]]]) {
    def dsub: Int = dim / m
  }

  private[graft] def sampleVectors(corpus: DataFrame, idCol: String, vecCol: String,
      sampleSize: Int, seed: Long): Array[Array[Double]] =
    corpus.filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull))
      .select(xxhash64(lit(seed), col(idCol)).as("__h"), toDouble(col(vecCol)).as("v"))
      .orderBy(col("__h"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)

  private def nearestIdx(cents: Array[Array[Double]], v: Seq[Double], off: Int): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var s = 0.0; var i = 0
      while (i < cents(c).length) { val d = cents(c)(i) - v(off + i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Train the coarse quantizer + residual codebooks on a bounded sample. */
  private[graft] def trainPq(sample: Array[Array[Double]],
      nLists: Int, m: Int, ksub: Int): PqModel = {
    require(sample.nonEmpty, "trainPq: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"trainPq: dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val coarse = kmeans(sample, math.min(nLists, sample.length), dim, iters = 10)
    val residuals = sample.map { v =>
      val c = coarse(nearestIdx(coarse, v, 0))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val subs = residuals.map(r => r.slice(j * dsub, (j + 1) * dsub))
      kmeans(subs, math.min(ksub, subs.length), dsub, iters = 10)
    }
    PqModel(dim, m, ksub, coarse, codebooks)
  }

  /** One corpus map → (neighbor_id, cn, list, codes): the persistable index
    * rows — ~m code bytes + a norm instead of dim floats.
    */
  private[graft] def encodePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    val (coarse, codebooks, m, dsub) = (model.coarse, model.codebooks, model.m, model.dsub)
    val expectDim = model.dim
    val encodeUdf = udf((v: Seq[Double]) => {
      // fail LOUDLY on a dimension mismatch: without this, a higher-dim
      // batch (embedding-model upgrade) would be silently encoded by
      // truncation, corrupting a persisted index (VectorIndex.appendIvfPq)
      require(v.length == expectDim,
        s"PQ encode: vector dim ${v.length} != model dim $expectDim")
      val list = nearestIdx(coarse, v, 0)
      val cent = coarse(list)
      val r = Array.tabulate(v.length)(i => v(i) - cent(i))
      val codes = Array.tabulate(m)(j => nearestIdx(codebooks(j), r, j * dsub))
      (list, codes.toSeq)
    })
    corpus.filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull))
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv"))).filter(col("cn") > 0)
      .withColumn("enc", encodeUdf(col("cv")))
      .select(col("neighbor_id"), col("cn"),
        col("enc._1").as("list"), col("enc._2").as("codes"))
  }

  /** Coarse-list occupancy histogram of `corpus` under an EXISTING
    * model: assign each vector to its nearest coarse centroid and count
    * per-list members — ≤ nLists rows whatever the corpus size. Exactly
    * [[encodePqIndex]]'s eligibility rules (non-null, dim-checked,
    * zero-norm dropped) and its assignment arithmetic, WITHOUT computing
    * the residual codes — so the histogram of the build corpus equals
    * `codes groupBy list` bit-for-bit, and the histogram of a LATER
    * corpus is comparable to it: the second drift dial
    * [[VectorIndex.retrainIfDrifted]] runs (sign-preserving drift moves
    * nearest-centroid assignments even when every octant is unchanged).
    * One map-side pass + one ≤ nLists-row aggregate. */
  private[graft] def coarseOccupancy(corpus: DataFrame, vecCol: String,
      model: PqModel): DataFrame = {
    val coarse = model.coarse
    val expectDim = model.dim
    val assignUdf = udf((v: Seq[Double]) => {
      require(v.length == expectDim,
        s"coarse assign: vector dim ${v.length} != model dim $expectDim")
      nearestIdx(coarse, v, 0).toLong
    })
    corpus.filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull))
      .select(toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv"))).filter(col("cn") > 0)
      .select(assignUdf(col("cv")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** BOTH drift-dial histograms from ONE corpus pass — the retrain
    * trigger's dominant cost at corpus scale is the scan itself, and
    * computing the dials as two jobs ([[VectorIndex.retrainIfDrifted]]'s
    * pre-r14 shape: an octant pass, then a [[coarseOccupancy]] pass)
    * read the full corpus twice. Each row contributes an octant entry
    * (every non-null vector — the octant dial's eligibility) and,
    * when a `model` is supplied, a coarse-list entry gated by EXACTLY
    * [[coarseOccupancy]]'s rules (no null elements, dim-checked by the
    * assign UDF's require, zero-norm dropped) — so each dial's counts
    * are bit-identical to the two-pass histograms (spec-pinned), while
    * the exploded (dial, bucket) rows partial-aggregate map-side to
    * ≤ 8 + nLists groups. Returns (dial, bucket, n). */
  private[graft] def driftHistograms(corpus: DataFrame, vecCol: String,
      octantBucket: Column, octantDial: String,
      model: Option[PqModel], listDial: String): DataFrame = {
    val oct = struct(lit(octantDial).as("dial"), octantBucket.as("bucket"))
    val entries = model match {
      case None => array(oct)
      case Some(m) =>
        val coarse = m.coarse
        val expectDim = m.dim
        val assignUdf = udf((v: Seq[Double]) => {
          require(v.length == expectDim,
            s"coarse assign: vector dim ${v.length} != model dim $expectDim")
          nearestIdx(coarse, v, 0).toLong
        })
        val cv = toDouble(col(vecCol))
        val eligible = !exists(col(vecCol), _.isNull) && norm2(cv) > 0
        array(oct, when(eligible,
          struct(lit(listDial).as("dial"), assignUdf(cv).as("bucket"))))
    }
    corpus.filter(col(vecCol).isNotNull)
      .select(explode(filter(entries, _.isNotNull)).as("e"))
      .groupBy(col("e.dial").as("dial"), col("e.bucket").as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** ADC search + exact refine over an (already built) index frame —
    * steps 3–4 of [[ivfPqTopK]]'s scaladoc. `corpus` supplies the raw
    * vectors for the refine stage only.
    */
  private[graft] def searchPqIndex(index: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, model: PqModel,
      k: Int, nProbe: Int, refineFactor: Int): DataFrame = {
    val (coarse, codebooks, m, ksub, dim, dsub) =
      (model.coarse, model.codebooks, model.m, model.ksub, model.dim, model.dsub)
    val probeUdf = udf((v: Seq[Double]) => {
      coarse.indices
        .map(i => i -> { var s = 0.0; var j = 0
          while (j < dim) { val d = coarse(i)(j) - v(j); s += d * d; j += 1 }; s })
        .sortBy { case (i, d) => (d, i) }
        .take(nProbe).map(_._1)
    })
    // lut[j*ksub + c] = dot(q_j, coarse_j + cb_j[c]) — summing m entries
    // reconstructs dot(q, coarse + Σ residual codewords) exactly
    val lutUdf = udf((qv: Seq[Double], list: Int) => {
      val cent = coarse(list)
      val lut = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        val cb = codebooks(j)
        var c = 0
        while (c < cb.length) {
          var s = 0.0; var i = 0
          while (i < dsub) { s += qv(j * dsub + i) * (cent(j * dsub + i) + cb(c)(i)); i += 1 }
          lut(j * ksub + c) = s
          c += 1
        }
        j += 1
      }
      lut.toSeq
    })
    val adcUdf = udf((lut: Seq[Double], codes: Seq[Int]) => {
      var s = 0.0; var j = 0
      while (j < codes.length) { s += lut(j * ksub + codes(j)); j += 1 }
      s
    })

    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm2(col("qv"))).filter(col("qn") > 0)
      .withColumn("list", explode(probeUdf(col("qv"))))
      .withColumn("lut", lutUdf(col("qv"), col("list")))

    val wAdc = Window.partitionBy("query_id").orderBy(col("sim_adc").desc, col("neighbor_id"))
    val candidates = index.join(q, Seq("list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim_adc", adcUdf(col("lut"), col("codes")) / (col("qn") * col("cn")))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= refineFactor * k)
      .select("query_id", "neighbor_id", "qv", "qn")

    // refine: exact cosine over the raw vectors of the ADC pool
    val raw = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv"))).filter(col("cn") > 0)
    val wExact = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(candidates).join(raw, Seq("neighbor_id"))
      .withColumn("sim", cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  private def l2(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic Lloyd's k-means (k-means++-less: evenly strided init from
    * the hash-shuffled sample — deterministic and good enough for a coarse
    * quantizer; sample randomization comes from the seeded hash upstream).
    */
  private def kmeans(
      sample: Array[Array[Double]], k: Int, dim: Int,
      iters: Int): Array[Array[Double]] = {
    val n = sample.length
    var cents = Array.tabulate(k)(i => sample(((i.toLong * n) / k).toInt % n).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val d = l2(cents(c), v)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(j => sums(c)(j) / counts(c))
      }
      it += 1
    }
    cents
  }

  /** Per-label (class) centroid by DISTRIBUTED element-wise aggregation —
    * the fully-distributed counterpart of [[ivfTopK]]'s bounded-sample
    * driver-side quantizer, and the building block for IVF list maintenance
    * at corpus scale: posexplode to (label, pos, value) rows, one hash
    * aggregate with map-side partials on (label, pos), then a per-label
    * rebuild whose collect_list is bounded by the embedding DIMENSION,
    * never by corpus size. Nothing touches the driver. Vectors that are
    * NULL or CONTAIN a null element are excluded (a null element would
    * silently deflate that position's mean: sum skips it but the row count
    * would not); a fixed dimension per label is assumed (n_vecs is the
    * per-position row count). Component means round to 6 dp — double-sum
    * order noise is ~1e-12, far inside the rounding — so the result is
    * engine-portable. Output: (label, n_vecs, centroid, centroid_norm).
    */
  def classCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val e = df
      .filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull))
      .select(col(labelCol).as("label"),
        posexplode(toDouble(col(vecCol))).as(Seq("pos", "v")))
    e.groupBy("label", "pos")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(
        max("n").as("n_vecs"),
        transform(
          array_sort(collect_list(struct(col("pos"), round(col("sv") / col("n"), 6).as("m")))),
          x => x.getField("m")).as("centroid"))
      .withColumn("centroid_norm", round(norm2(col("centroid")), 6))
  }

  /** Fully DISTRIBUTED Lloyd's k-means over the whole corpus — every
    * iteration sees ALL vectors (no quantizer sample; [[ivfTopK]]'s
    * bounded-sample trainer is the low-latency path, this is the quality
    * path for IVF list maintenance at corpus scale). The iteration state is
    * the k×dim centroid matrix, held on the driver between rounds — bounded
    * by the quantizer size, never by the corpus (the same contract as Spark
    * MLlib's KMeans). Per iteration:
    * ASSIGN = map-side argmin against the closure-shipped centroid matrix —
    * ZERO shuffle (ties → lowest list id); UPDATE = the constant-buffer
    * [[VecSumBuf]] aggregator (element-wise vector sums, O(dim) state per
    * list), ONE partial-merge shuffle whose volume is tasks × k buffers,
    * then a k-row collect to rebuild the matrix.
    * Nothing corpus-sized ever touches the driver or the network — the
    * previous formulation shuffled every VECTOR once per iteration
    * (crossJoin + per-id reduce), which is the 100-TB bottleneck this
    * shape removes. `iters` is fixed so the job graph is deterministic (no
    * convergence action); component means round to 6 dp each round, which
    * also pins cross-run float stability. An emptied cluster keeps its
    * previous centroid (n_vecs 0) instead of vanishing.
    *
    * Init: the k vectors with the smallest seeded id-hash — unbiased and
    * partition-layout-independent, same rationale as ivfTopK's sample.
    * Output: (list, n_vecs, centroid: array<double>).
    */
  def kmeansDistributed(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    val (cents, counts) = kmeansCentroids(corpus, idCol, vecCol, k, iters, Seed)
    val rows = cents.indices.map(i => (i, counts(i), cents(i).toSeq))
    spark.createDataFrame(rows).toDF("list", "n_vecs", "centroid")
  }

  /** Constant-size buffer for the per-list vector sum: (row count,
    * element-wise sum). O(dim) state per list regardless of input size, so
    * Spark runs it with partial aggregation — the Lloyd's update shuffle
    * moves at most k buffers per partition. Input elements are boxed
    * ([[graft.operators.Pca.GramBuf]]'s convention) as defense in depth —
    * callers exclude vectors containing null elements before aggregation.
    */
  final case class VecSumBuf(var n: Long, var s: Array[Double])

  private[graft] def vecSumUdaf = udaf(
    new org.apache.spark.sql.expressions.Aggregator[Seq[java.lang.Double], VecSumBuf, VecSumBuf] {
      import org.apache.spark.sql.{Encoder, Encoders}
      override def zero: VecSumBuf = VecSumBuf(0L, Array.empty)
      override def reduce(b: VecSumBuf, v: Seq[java.lang.Double]): VecSumBuf = {
        if (v == null) return b
        if (b.s.length == 0) b.s = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { val x = v(i); if (x != null) b.s(i) += x; i += 1 }
        b.n += 1; b
      }
      override def merge(a: VecSumBuf, b: VecSumBuf): VecSumBuf = {
        if (a.s.length == 0) b
        else if (b.s.length == 0) a
        else {
          var i = 0
          while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
          a.n += b.n; a
        }
      }
      override def finish(b: VecSumBuf): VecSumBuf = b
      override def bufferEncoder: Encoder[VecSumBuf] = Encoders.product[VecSumBuf]
      override def outputEncoder: Encoder[VecSumBuf] = Encoders.product[VecSumBuf]
    })

  /** [[kmeansDistributed]]'s engine, returning the centroid matrix + final
    * per-list counts as driver arrays — the form consumers that assign
    * map-side ([[graft.operators.Dedup.semDedup]]) want directly.
    */
  private[graft] def kmeansCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, seed: Long): (Array[Array[Double]], Array[Long]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // cache the prepared vector frame: every iteration (and the init scan)
    // re-reads it, so without this Lloyd's re-scans the parquet and re-runs
    // the float→double conversion iters+1 times. MEMORY_AND_DISK: at corpus
    // scale the working set may exceed executor memory — spilled blocks
    // still beat a source re-scan per iteration. NULL vectors and vectors
    // CONTAINING a null element are excluded (classCentroids' contract —
    // the typed assign UDF cannot represent a null element).
    val v = corpus
      .filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull))
      .select(col(idCol).as("__vid"), toDouble(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Array[Array[Double]] = v
      .select(xxhash64(lit(seed), col("__vid")).as("__h"), col("v"))
      .orderBy("__h").limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    if (cents.isEmpty) { // empty / all-null corpus degrades to zero clusters
      v.unpersist()
      return (Array.empty, Array.empty)
    }
    var counts = new Array[Long](cents.length)
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    for (_ <- 1 to iters) {
      val cs = cents // stable capture for the task closure (k×dim doubles)
      val assign = udf((vv: Seq[Double]) => {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cs.length) {
          var s = 0.0; var i = 0
          while (i < cs(c).length) { val d = cs(c)(i) - vv(i); s += d * d; i += 1 }
          if (s < bestD) { bestD = s; best = c } // strict <: ties keep lowest list
          c += 1
        }
        best
      })
      val sums = v
        .select(assign(col("v")).as("list"), col("v"))
        .groupBy("list")
        .agg(vecSumUdaf(col("v")).as("r"))
        .select(col("list"), col("r.n").as("n"), col("r.s").as("s"))
        .collect()
      val next = cents.map(_.clone()) // emptied lists keep their centroid
      val cnt = new Array[Long](cents.length)
      sums.foreach { r =>
        val list = r.getInt(0)
        val n = r.getLong(1)
        val s = r.getSeq[Double](2)
        cnt(list) = n
        if (n > 0) next(list) = Array.tabulate(s.length)(i => round6(s(i) / n))
      }
      cents = next
      counts = cnt
    }
    v.unpersist()
    (cents, counts)
  }

  /** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    * Goldstein 1998) — the retrieval-augmentation step that keeps a
    * few-shot/RAG candidate set from being k copies of the same document:
    * greedily pick argmax λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s).
    *
    * Scale shape: the greedy loop is inherently sequential per query, so it
    * runs ONLY over the bounded `poolK` relevance pool ([[bruteForceTopK]]
    * supplies it; swap in an ANN pool at scale) — one broadcast-sized join
    * back to the raw vectors, one collect_list bounded by poolK, and a
    * per-query UDF doing O(poolK·k·dim) work. Candidates are sorted by id
    * inside the UDF so the result is independent of collect_list order;
    * score ties pick the lower neighbor id. Output: (query_id,
    * neighbor_id, mmr_score, rank). Rows-only at the gate (float greedy);
    * the λ=1 ≡ relevance-order invariant and a constructed diversity case
    * are pinned in SimilaritySpec.
    */
  def mmrDiversify(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      poolK: Int = 20, lambda: Double = 0.5): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    require(poolK >= k, s"poolK ($poolK) must be >= k ($k)")
    // the greedy UDF materializes ids as longs (its output tuple needs a
    // concrete encoder) — fail fast on non-integral id columns instead of
    // a mid-job ClassCastException. DataType.typeName values, not SQL
    // aliases: long/integer/short/byte.
    val integral = Set("long", "integer", "short", "byte")
    Seq("corpus" -> corpus, "queries" -> queries).foreach { case (what, df) =>
      val t = df.schema(idCol).dataType.typeName
      require(integral.contains(t),
        s"mmrDiversify requires an integral id column, got $t for $what.'$idCol'")
    }
    val pool = bruteForceTopK(
      queries.withColumn(idCol, col(idCol).cast("long")),
      corpus.withColumn(idCol, col(idCol).cast("long")), idCol, vecCol, poolK)
    val raw = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm2(col("cv"))).filter(col("cn") > 0)
      .withColumn("nv", transform(col("cv"), x => x / col("cn")))
    val cand = broadcast(pool).join(raw, Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("sim"), col("nv"))).as("cand"))
    val mmr = udf((cs: Seq[org.apache.spark.sql.Row]) => {
      val ordered = cs.sortBy(_.getLong(0)) // collect_list order is arbitrary
      val n = ordered.length
      val ids = Array.tabulate(n)(i => ordered(i).getLong(0))
      val rel = Array.tabulate(n)(i => ordered(i).getDouble(1))
      val nvs = Array.tabulate(n)(i => ordered(i).getSeq[Double](2).toArray)
      val picked = new Array[Boolean](n)
      val maxSim = new Array[Double](n) // max cosine to any picked result
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
      var r = 1
      while (r <= math.min(k, n)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val s = lambda * rel(i) - (1.0 - lambda) * maxSim(i)
            if (s > bestScore) { bestScore = s; best = i } // scan order = id asc ties
          }
          i += 1
        }
        picked(best) = true
        out += ((ids(best), bestScore, r.toLong))
        val pv = nvs(best)
        i = 0
        while (i < n) {
          if (!picked(i)) {
            var d = 0.0; var j = 0
            while (j < pv.length) { d += pv(j) * nvs(i)(j); j += 1 }
            if (d > maxSim(i)) maxSim(i) = d
          }
          i += 1
        }
        r += 1
      }
      out.toSeq
    })
    cand.select(col("query_id"), explode(mmr(col("cand"))).as("r"))
      .select(col("query_id"), col("r._1").as("neighbor_id"),
        round(col("r._2"), 6).as("mmr_score"), col("r._3").as("rank"))
  }

  /** Per-query recall of an approximate top-k result against the exact one:
    * |approx ∩ exact| / |exact| on (query_id, neighbor_id) pairs. Output:
    * (query_id, expected, hits, recall) — one row per query present in the
    * exact result (recall 0 for queries the approximate method missed
    * entirely). Both inputs are ≤ |queries|·k rows, so this is dim-sized
    * work at any corpus scale; it exists to make the ANN quality dial
    * observable in the same harness that checks correctness.
    */
  def recallVsExact(approx: DataFrame, exact: DataFrame): DataFrame = {
    val e = exact.select("query_id", "neighbor_id")
    val hits = e
      .join(approx.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    e.groupBy("query_id").agg(count(lit(1)).as("expected"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("expected"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / col("expected"), 6).as("recall"))
  }

  /** Approximate top-k via hyperplane LSH bucketing with `nTables`
    * independent hash tables (standard multi-table LSH): a vector lands in
    * one `nBits`-bit bucket per table (seeded independently), candidates =
    * corpus vectors sharing the query's bucket in ANY table, then exact
    * cosine + top-k within candidates. Recall dials: fewer bits → bigger
    * buckets; more tables → more chances to collide (recall ≈
    * 1-(1-p^nBits)^nTables for per-bit agreement p).
    *
    * Scale shape: buckets for all tables are computed in ONE corpus
    * projection (posexplode — no repeated scans), the cross-table candidate
    * dedup carries IDS ONLY (never vectors), and the vectors are joined back
    * by id for scoring — so the distinct() shuffle is narrow and the join
    * work scales with bucket occupancy, not |corpus|·|queries|.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nBits: Int = 8,
      nTables: Int = 1): DataFrame = {
    require(nTables >= 1, s"lshTopK: nTables must be >= 1, got $nTables")
    def prep(df: DataFrame, id: String, v: String, n: String) =
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as(id), toDouble(col(vecCol)).as(v))
        .withColumn(n, norm2(col(v))).filter(col(n) > 0)
    def buckets(v: String) =
      array((0 until nTables).map(t => hyperplaneBucket(col(v), nBits, Seed.toInt + t)): _*)

    val q = prep(queries, "query_id", "qv", "qn")
    val c = prep(corpus, "neighbor_id", "cv", "cn")
    val qb = q.select(col("query_id"), posexplode(buckets("qv")))
      .toDF("query_id", "tbl", "bucket")
    val cb = c.select(col("neighbor_id"), posexplode(buckets("cv")))
      .toDF("neighbor_id", "tbl", "bucket")
    val cand = cb.join(qb, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()

    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cand.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("sim", cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }
}
