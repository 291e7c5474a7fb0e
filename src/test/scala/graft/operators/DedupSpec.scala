package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Semantics of the dedup family — especially the hash-sketch variants
  * (MinHash-LSH, SimHash) that the DuckDB oracle can't check because their
  * signatures are engine-specific by construction.
  */
class DedupSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (4L, "completely different content about spark catalyst optimizer internals"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today") // dup of 1
  ).toDF("doc_id", "text")

  test("editDistancePairs: golden distances, threshold excludes, exact dups at 0") {
    val d = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten"), (4L, "zzzzzzzzzzzzzzz"))
      .toDF("doc_id", "text")
    val at3 = Dedup.editDistancePairs(d, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(at3 == Set((1L, 2L, 3L), (1L, 3L, 0L), (2L, 3L, 3L)))
    val at2 = Dedup.editDistancePairs(d, "text", "doc_id", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at2 == Set((1L, 3L))) // kitten↔sitting (3) now excluded
  }

  test("setSimilarityJoin: equals brute-force jaccardPairs at every threshold (prefix filter is lossless)") {
    // mixed corpus: exact dups, a near-dup pair, disjoint docs, a doc too
    // short to shingle — the prefix join must reproduce the brute-force
    // answer EXACTLY (same pairs, same rounded scores)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base), // exact dup of 1
      (3L, base + " extra trailing words here"), // near-dup of 1/2
      (4L, (100 to 140).map(i => s"z$i").mkString(" ")), // disjoint
      (5L, (100 to 140).map(i => s"z$i").mkString(" ")), // dup of 4
      (6L, "two words")). // < 3 tokens: no shingles, must not crash
      toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val fast = Dedup.setSimilarityJoin(docs, "text", "doc_id", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = Dedup.ngramWordJaccardBrute(docs, "text", "doc_id", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == brute, s"threshold $t: prefix join diverged from brute force")
      assert(fast.nonEmpty, s"threshold $t: fixture must produce pairs")
    }
  }

  test("editDistancePairs: the length band is a true lower bound (never drops a qualifying pair)") {
    // len diff 4 with maxDist 4: the band keeps it, and the DP confirms 4
    val d = Seq((1L, "abcd"), (2L, "abcdwxyz")).toDF("doc_id", "text")
    val r = Dedup.editDistancePairs(d, "text", "doc_id", maxDist = 4).collect()
    assert(r.length == 1 && r(0).getLong(2) == 4L)
    // and at maxDist 3 the band alone prunes it before any DP runs
    assert(Dedup.editDistancePairs(d, "text", "doc_id", maxDist = 3).isEmpty)
  }

  test("exact dedup keeps the smallest id per distinct text") {
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("incremental: batch-internal dups collapse, corpus-known texts drop, novel texts survive") {
    val existing = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "some existing corpus document about watermarks")).toDF("doc_id", "text")
    // new batch: 100 dups existing 10; 101/103 are internal dups; 102 novel
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "a brand new never seen document"),
      (102L, "another novel document entirely"),
      (103L, "a brand new never seen document")).toDF("doc_id", "text")
    val kept = Dedup.incremental(batch, existing, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(101L, 102L))
  }

  test("exactByKeys dedups on explicit key columns") {
    val df = Seq((1L, "a", 10), (2L, "a", 10), (3L, "b", 10)).toDF("id", "k1", "k2")
    val kept = Dedup.exactByKeys(df, Seq("k1", "k2"), "id").select("id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("minHashLsh: exact duplicates are candidate pairs with est_jaccard 1.0") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dup12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    val dup15 = pairs.find(p => p._1 == 1L && p._2 == 5L)
    assert(dup12.exists(_._3 == 1.0) && dup15.exists(_._3 == 1.0))
    // doc 4 shares no shingles with anything → never a candidate
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minHashLsh estimate tracks true shingle jaccard for near-dups") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.get((1L, 3L)).foreach { est =>
      // true 3-shingle jaccard of docs 1/3 is 10/14 ≈ 0.714; 64 perms → ±0.2
      assert(est > 0.4 && est < 1.0, s"est=$est")
    }
  }

  test("simHashPairs: identical docs at hamming 0; unrelated docs absent") {
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs.contains((1L, 2L, 0)) && pairs.contains((1L, 5L, 0)) &&
      pairs.contains((2L, 5L, 0)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccardPairs golden: overlap arithmetic is exact") {
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "x y")).toDF("doc_id", "text")
    val rows = Dedup.jaccardPairs(df, "text", "doc_id", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows((1L, 2L)) == 0.6) // |{a,b,c}| / |{a,b,c,d,e}|
    assert(rows((1L, 3L)) == 0.0)
    assert(Dedup.jaccardPairs(df, "text", "doc_id", threshold = 0.5).count() == 1)
  }

  test("nearDupPipeline finds exactly what all-pairs Jaccard finds on this corpus") {
    // at jaccard ≥ 0.7 with 16 bands × 4 rows, candidate recall is ~0.999 —
    // on this tiny corpus LSH must surface every qualifying pair
    val viaPipeline = Dedup.nearDupPipeline(docs, "text", "doc_id", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaAllPairs = Dedup.jaccardPairs(docs, "text", "doc_id", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaPipeline == viaAllPairs)
    assert(viaPipeline.keySet.contains((1L, 2L))) // the exact dups
  }

  test("empty documents are jaccard-identical (1.0), never NaN") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "real words")).toDF("doc_id", "text")
    val rows = Dedup.jaccardPairs(df, "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 2L, 1.0))) // the two empty docs only, at exactly 1.0
  }

  test("minHashLsh rejects band configs that would degenerate to all-pairs") {
    intercept[IllegalArgumentException] {
      Dedup.minHashLsh(docs, "text", "doc_id", bands = 100)
    }
    intercept[IllegalArgumentException] {
      Dedup.minHashLsh(docs, "text", "doc_id", bands = 7)
    }
  }

  test("embeddingNearDup only compares within blocks and is threshold-exact") {
    val df = Seq(
      (1L, "blk1", Seq(1.0f, 0.0f)),
      (2L, "blk1", Seq(1.0f, 0.0f)), // cos 1 with id 1
      (3L, "blk1", Seq(0.0f, 1.0f)), // cos 0 with ids 1,2
      (4L, "blk2", Seq(1.0f, 0.0f)) // same direction as 1 but different block
    ).toDF("vec_id", "label", "embedding")
    val rows = Dedup.embeddingNearDup(df, "embedding", "vec_id", "label", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 2L, 1.0)))
  }

  test("charNgramSet: whole-text gram for short docs, sliding grams otherwise") {
    import graft.functions.TextFunctions.charNgramSet
    val df = Seq((1L, "abc"), (2L, "abcd"), (3L, "Abcde"), (4L, "aaaa a")).toDF("id", "t")
    val grams = df.select(col("id"), charNgramSet(col("t"), 4).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(grams(1L) == Seq("abc"))        // shorter than n → itself
    assert(grams(2L) == Seq("abcd"))       // exactly n
    assert(grams(3L) == Seq("abcd", "bcde")) // lower-cased, sliding
    assert(grams(4L) == Seq("aa a", "aaa ", "aaaa")) // distinct + sorted
  }

  test("ngramJaccardPairs: whitespace-noise dup found by char grams, scored exactly") {
    val df = Seq(
      (1L, "spark catalyst optimizer"),
      (2L, "spark catalyst optimizer"),   // exact dup → 1.0
      (3L, "sparkcatalyst optimizer"),    // same chars, one space dropped
      (4L, "entirely unrelated text")
    ).toDF("doc_id", "text")
    val rows = Dedup.ngramJaccardPairs(df, "text", "doc_id", n = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(rows.contains((1L, 2L, 1.0)))
    // the whitespace near-dup survives with high-but-sub-1.0 similarity
    val nd = rows.filter(p => p._1 == 1L && p._2 == 3L)
    assert(nd.nonEmpty && nd.head._3 > 0.5 && nd.head._3 < 1.0)
    assert(!rows.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("clusterPairs: transitive chain collapses to one cluster, islands stay apart") {
    // chain 1-2-3-4 (diameter 3, no direct 1-4 edge) + island {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("semDedup: exact duplicates collapse to one survivor, counts conserve") {
    // 3 well-separated directions; the first has 3 identical copies and the
    // second has 2 — regardless of how k-means carves the space, identical
    // vectors land in the same cluster, so 2 + 1 drops must happen.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0f, 0f)), (2L, Array(1f, 0f, 0f)),
      (10L, Array(0f, 1f, 0f)), (11L, Array(0f, 1f, 0f)),
      (20L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "embedding", "vec_id", k = 3, threshold = 0.999)
    val total = out.agg(sum("n_vecs"), sum("n_dropped"), sum("n_kept")).collect().head
    assert(total.getLong(0) == 6 && total.getLong(1) == 3 && total.getLong(2) == 3)
    // conservation per cluster too
    out.collect().foreach(r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), r.toString))
  }

  test("semDedup: an impossible threshold drops nothing; lower thresholds drop more") {
    val vecs = (0L until 30L).map(i =>
      (i, Array((i % 5).toFloat + 1f, ((i * 7) % 3).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val none = Dedup.semDedup(vecs, "embedding", "vec_id", k = 4, threshold = 1.01)
    assert(none.agg(sum("n_dropped")).collect().head.getLong(0) == 0)
    val strict = Dedup.semDedup(vecs, "embedding", "vec_id", k = 4, threshold = 0.9999)
      .agg(sum("n_dropped")).collect().head.getLong(0)
    val loose = Dedup.semDedup(vecs, "embedding", "vec_id", k = 4, threshold = 0.9)
      .agg(sum("n_dropped")).collect().head.getLong(0)
    assert(loose >= strict)
    assert(strict >= 1) // the fixture repeats directions (i%5, i*7%3 cycles)
  }

  test("semDedup excludes null and zero-norm vectors from the accounting (documented contract)") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(0f, 0f, 0f)),                    // zero norm — cosine undefined
      (3L, null.asInstanceOf[Array[Float]]))      // null embedding
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "embedding", "vec_id", k = 2, threshold = 0.99)
    assert(out.agg(sum("n_vecs")).collect().head.getLong(0) == 2)
  }

  // NOTE: no bitwise-determinism assertion — centroid averaging sums floats
  // in partition order, so borderline ASSIGNMENTS may flip between runs
  // (same caveat as ext32). The invariants below hold under any assignment.
  test("semDedup: ≤ k clusters, every cluster keeps ≥ 1, totals conserve") {
    val vecs = (0L until 40L).map(i =>
      (i, Array((i % 4).toFloat, (i % 6).toFloat, 1f))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "embedding", "vec_id", k = 4, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length <= 4 && out.nonEmpty)
    assert(out.map(_._1).distinct.length == out.length)
    out.foreach { case (c, n, d, kept) =>
      assert(n == d + kept && kept >= 1, s"cluster $c: n=$n d=$d kept=$kept")
    }
    assert(out.map(_._2).sum == 40)
  }

  test("clusterPairs fails loudly when maxIters is below the component diameter") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](Dedup.clusterPairs(chain, maxIters = 1))
    // and the same graph converges with the default budget
    assert(Dedup.clusterPairs(chain).filter($"cluster_id" === 1L).count() == 5)
  }
}
