package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class SimilaritySpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // axis-aligned + diagonal unit-ish vectors with known cosines
  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)), // close to 0
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.9f, 0.1f)), // close to 2
    (4L, Seq(0.577f, 0.577f, 0.577f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with deterministic tie-breaks") {
    val res = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(res == Seq((1L, 1L), (4L, 2L))) // nearest is 1, then the diagonal 4
  }

  test("bruteForceTopK excludes self and returns exactly k per query") {
    val res = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 2)
    val byQuery = res.collect().groupBy(_.getLong(0))
    assert(byQuery.size == 5)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 2)
      assert(!rows.exists(_.getLong(1) == q))
      assert(rows.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("hardNegatives: positives share the query's label, negatives don't, both rank by cosine") {
    val labeled = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f), 0),  // same-label, nearest to 0
      (2L, Seq(0.8f, 0.2f, 0.0f), 1),  // diff-label, nearest to 0
      (3L, Seq(0.0f, 1.0f, 0.0f), 1),
      (4L, Seq(0.577f, 0.577f, 0.577f), 0)
    ).toDF("vec_id", "embedding", "label")
    val res = Similarity.hardNegatives(
      labeled.filter(col("vec_id") === 0), labeled, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getString(2), r.getLong(1), r.getLong(4))).toSet
    // positives: 1 (cos≈0.994) then 4 (cos≈0.577); negatives: 2 (cos≈0.970) then 3 (0.0)
    assert(res == Set(("pos", 1L, 1L), ("pos", 4L, 2L), ("neg", 2L, 1L), ("neg", 3L, 2L)))
  }

  test("hardNegatives: self is excluded and each kind returns at most k") {
    val labeled = vecs.withColumn("label", (col("vec_id") % 2).cast("int"))
    val res = Similarity.hardNegatives(labeled, labeled, "vec_id", "embedding", "label", k = 2)
    val byQK = res.collect().groupBy(r => (r.getLong(0), r.getString(2)))
    byQK.foreach { case ((q, _), rows) =>
      assert(rows.length <= 2)
      assert(!rows.exists(_.getLong(1) == q))
      assert(rows.map(_.getLong(4)).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // 5 vectors, labels 0/1 alternating: every query has both kinds present
    assert(byQK.keys.map(_._1).toSet.size == 5)
    assert(byQK.keySet.map(_._2) == Set("pos", "neg"))
  }

  test("lshTopK results are a subset of brute-force candidates with identical sims") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(vecs, vecs, "vec_id", "embedding", k = 4, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, sim) =>
      assert(bf.contains(pair), s"lsh pair $pair missing from brute force")
      assert(bf(pair) == sim)
    }
  }

  test("ivfTopK with nProbe = nLists equals brute force") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val ivf = Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding", k = 3,
      nLists = 2, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(ivf == bf)
  }

  test("ivfPqTopK with full probe and a corpus-covering refine pool equals brute force") {
    // ADC only prunes; the refine stage scores exactly with the same
    // tie-breaks — so at nProbe = nLists and refineFactor·k ≥ |corpus| the
    // result must be bit-for-bit brute force
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val pq = Similarity.ivfPqTopK(vecs, vecs, "vec_id", "embedding", k = 3,
      nLists = 2, nProbe = 2, m = 3, ksub = 4, refineFactor = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(pq == bf)
  }

  test("ivfPqTopK returned sims are exact cosines (refine stage), ranks contiguous") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.ivfPqTopK(vecs, vecs, "vec_id", "embedding", k = 2,
      nLists = 2, nProbe = 1, m = 3, ksub = 4, refineFactor = 2).collect()
    pq.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length).toSeq)
    }
    pq.foreach { r =>
      val exact = bf.get((r.getLong(0), r.getLong(1)))
      // every returned pair the brute-force top-4 also saw must carry the
      // identical exact sim — ADC distortion never leaks into the output
      exact.foreach(e => assert(r.getDouble(2) == e,
        s"(${r.getLong(0)},${r.getLong(1)}): refine sim ${r.getDouble(2)} != exact $e"))
    }
  }

  test("mmrDiversify at lambda = 1 reproduces the pure relevance order") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val mmr = Similarity.mmrDiversify(vecs, vecs, "vec_id", "embedding",
      k = 3, poolK = 4, lambda = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(mmr == bf)
  }

  test("mmrDiversify displaces a near-duplicate of the first pick in favor of a diverse result") {
    import spark.implicits._
    val docs = Seq(
      (0L, Seq(1.0f, 0.0f)),      // query + top relevance
      (1L, Seq(0.999f, 0.02f)),   // near-duplicate of 0
      (2L, Seq(0.707f, 0.707f)),  // diverse, still relevant
      (3L, Seq(0.0f, 1.0f)))      // orthogonal
      .toDF("vec_id", "embedding")
    val q = docs.filter(col("vec_id") === 0)
    // pure relevance puts the duplicate second...
    val rel = Similarity.bruteForceTopK(q, docs, "vec_id", "embedding", k = 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(rel == Seq(1L, 2L))
    // ...MMR at lambda = 0.4 keeps the top hit but swaps the redundant
    // region for the most diverse candidate (score_3 = -0.6*cos(3,1) ≈
    // -0.012 beats score_2 = 0.4*0.707 - 0.6*0.721 ≈ -0.150)
    val mmr = Similarity.mmrDiversify(q, docs, "vec_id", "embedding",
      k = 2, poolK = 3, lambda = 0.4)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(mmr == Seq(1L, 3L))
  }

  test("mmrDiversify output is a subset of the pool with contiguous ranks") {
    val res = Similarity.mmrDiversify(vecs, vecs, "vec_id", "embedding",
      k = 3, poolK = 4, lambda = 0.5).collect()
    val pool = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length).toSeq)
    }
    res.foreach(r => assert(pool.contains((r.getLong(0), r.getLong(1)))))
  }

  test("ivfPqTopK rejects a dimension not divisible by m") {
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(vecs, vecs, "vec_id", "embedding", k = 2,
        nLists = 2, nProbe = 1, m = 2, ksub = 4)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("ivfTopK results are a subset of brute force with identical sims") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding", k = 4,
      nLists = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ivf.nonEmpty)
    ivf.foreach { case (pair, sim) =>
      assert(bf.contains(pair) && bf(pair) == sim)
    }
  }

  test("null and zero-norm vectors are excluded, never NaN-ranked first") {
    val dirty = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 0.0f)), // zero norm — cosine undefined
      (3L, null.asInstanceOf[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(dirty, dirty, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res == Map(0L -> 1L, 1L -> 0L)) // 2 and 3 appear nowhere
    // same hygiene on the approximate paths
    assert(Similarity.lshTopK(dirty, dirty, "vec_id", "embedding", 1, nBits = 0)
      .collect().forall(r => Set(0L, 1L)(r.getLong(1))))
    assert(Similarity.ivfTopK(dirty, dirty, "vec_id", "embedding", 1, nLists = 1, nProbe = 1)
      .collect().forall(r => Set(0L, 1L)(r.getLong(1))))
  }

  test("driftHistograms: one pass reproduces both two-pass dials bit-for-bit, edge vectors included") {
    // the fused retrain-trigger probe must count EXACTLY what the two
    // separate jobs counted: octant = every non-null vector (null
    // elements read as <= 0, like the stored reference), list = only
    // encodable vectors (coarseOccupancy's eligibility)
    val dirty = Seq(
      (0L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f)),  // octant 7, encodable
      (1L, Seq[java.lang.Float](-1f, -2f, -3f, -4f)),      // octant 0, encodable
      (2L, Seq[java.lang.Float](5f, -1f, 2f, 0.5f)),       // octant 5, encodable
      (3L, Seq[java.lang.Float](1f, null, 3f, 4f)),        // null element: octant-only
      (4L, Seq[java.lang.Float](0f, 0f, 0f, 0f)),          // zero norm: octant-only
      (5L, null.asInstanceOf[Seq[java.lang.Float]])        // neither dial
    ).toDF("vec_id", "embedding")
    val clean = dirty.filter(col("vec_id") < 3)
    val model = Similarity.trainPq(
      Similarity.sampleVectors(clean, "vec_id", "embedding", 8, 42L),
      nLists = 2, m = 2, ksub = 2)
    val octBucket = (when(element_at(col("embedding"), 1) > 0, 4).otherwise(0)
      + when(element_at(col("embedding"), 2) > 0, 2).otherwise(0)
      + when(element_at(col("embedding"), 3) > 0, 1).otherwise(0)).cast("long")
    val fused = Similarity.driftHistograms(
        dirty, "embedding", octBucket, "octant", Some(model), "list")
      .collect().groupBy(_.getAs[String]("dial"))
      .view.mapValues(_.map(r =>
        r.getAs[Long]("bucket") -> r.getAs[Long]("n")).toMap).toMap
    // octants: vec0 -> 7, vec1 -> 0, vec2/vec3 -> 5, vec4 -> 0; vec5 absent
    assert(fused("octant") == Map(7L -> 1L, 0L -> 2L, 5L -> 2L))
    // list dial == the independent coarseOccupancy recomputation, and
    // only the 3 encodable vectors count
    val twoPass = Similarity.coarseOccupancy(dirty, "embedding", model)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n")).toMap
    assert(fused("list") == twoPass, s"fused=${fused("list")} two-pass=$twoPass")
    assert(fused("list").values.sum == 3L)
    // octant-only mode (a stats file with no list rows): no list rows at all
    val octOnly = Similarity.driftHistograms(
        dirty, "embedding", octBucket, "octant", None, "list").collect()
    assert(octOnly.forall(_.getAs[String]("dial") == "octant"))
    assert(octOnly.map(r =>
      r.getAs[Long]("bucket") -> r.getAs[Long]("n")).toMap == fused("octant"))
  }

  test("classCentroids: golden element-wise means, null and null-element vectors excluded") {
    val d = Seq(
      (0L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f), 0),
      (1L, Seq[java.lang.Float](3.0f, 4.0f, 5.0f), 0),
      (2L, Seq[java.lang.Float](0.0f, 6.0f, 0.0f), 1),
      (3L, null.asInstanceOf[Seq[java.lang.Float]], 1), // must not count toward label 1
      // a null ELEMENT would deflate position means (sum skips it, the row
      // count would not) — the whole vector is excluded instead
      (4L, Seq[java.lang.Float](9.0f, null, 9.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.classCentroids(d, "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getSeq[Double](2), r.getDouble(3)))).toMap
    assert(got(0) == ((2L, Seq(2.0, 3.0, 4.0), 5.385165)))
    assert(got(1) == ((1L, Seq(0.0, 6.0, 0.0), 6.0)))
  }

  test("kmeansDistributed: well-separated clusters converge to their exact means") {
    val d = Seq(
      (0L, Seq(0.0f, 0.1f)), (1L, Seq(0.1f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (10L, Seq(5.0f, 5.1f)), (11L, Seq(5.1f, 5.0f)), (12L, Seq(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    def run() = Similarity.kmeansDistributed(d, "vec_id", "embedding", k = 2, iters = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).sortBy(_._1)
    val cents = run()
    assert(cents.map(_._2).sum == 6L)
    assert(cents.map(_._3).toSet ==
      Set(Seq(0.033333, 0.033333), Seq(5.033333, 5.033333)))
    assert(run().toSeq == cents.toSeq) // deterministic end to end
  }

  test("kmeansDistributed: null-element vectors are excluded, empty corpus degrades to zero rows") {
    val d = Seq(
      (0L, Some(Seq(Some(0.0f), Some(0.1f)))),
      (1L, Some(Seq(Some(0.1f), Option.empty[Float]))), // null element → excluded
      (2L, Option.empty[Seq[Option[Float]]]),           // null vector → excluded
      (3L, Some(Seq(Some(0.2f), Some(0.0f)))))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansDistributed(d, "vec_id", "embedding", k = 1, iters = 2).collect()
    assert(r.length == 1 && r(0).getLong(1) == 2L) // only vecs 0 and 3 counted
    val empty = Similarity.kmeansDistributed(
      d.filter(col("vec_id") < 0), "vec_id", "embedding", k = 2, iters = 2)
    assert(empty.isEmpty) // graceful, not an exception
  }

  test("kmeansDistributed: an emptied list keeps its centroid with n_vecs = 0") {
    // two duplicate locations, k = 3: one list necessarily ends up empty
    // (ties assign to the lowest list id) but must stay in the quantizer
    val d = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(9.0f, 9.0f)), (4L, Seq(9.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansDistributed(d, "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    assert(cents.length == 3)
    assert(cents.map(_._2).sum == 4L)
    val empty = cents.filter(_._2 == 0L)
    assert(empty.length == 1 && empty.head._3.nonEmpty)
  }

  test("lshTopK at nBits=0 degrades to brute force (single bucket)") {
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val lsh = Similarity.lshTopK(vecs, vecs, "vec_id", "embedding", k = 3, nBits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(lsh == bf)
  }
}
