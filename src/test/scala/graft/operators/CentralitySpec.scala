package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Semantics of the PageRank fixed-point: parity with an independent
  * in-memory reference that applies the SAME rounding discipline
  * (12-dp decimal iterates), mass conservation, and the dangling-mass
  * redistribution path.
  */
class CentralitySpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  /** Plain-Scala mirror of Centrality.pageRank's arithmetic: doubles with
    * round-to-12dp at the same points, exact BigDecimal sums.
    */
  private def referencePageRank(edges: Seq[(String, String)], damping: Double,
      iters: Int): Map[String, BigDecimal] = {
    def r12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val inbound = edges.groupBy(_._2)
    var r: Map[String, BigDecimal] = nodes.map(_ -> r12(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val dangle = nodes.filterNot(outdeg.contains).map(r).sum
      r = nodes.map { v =>
        val inSum = inbound.getOrElse(v, Nil)
          .map { case (s, _) => r12(r(s).toDouble / outdeg(s)) }.sum
        v -> r12((1.0 - damping) / n
          + damping * (inSum.toDouble + dangle.toDouble / n))
      }.toMap
    }
    r
  }

  private val edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("b", "a"))
  // d is dangling (no out-edges) → exercises the dangling-mass path.

  test("pageRank matches the independent reference to the last decimal digit") {
    val got = Centrality.pageRank(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap
    val want = referencePageRank(edges, 0.85, iters = 8)
    assert(got.keySet == want.keySet)
    for (v <- want.keySet)
      assert((got(v) - want(v)).abs < BigDecimal("1e-12"),
        s"node $v: got ${got(v)}, want ${want(v)}")
  }

  test("HITS off-critical-path norm (Σ score·deg over the previous frame) equals the raw-column sum EXACTLY") {
    // the r17 overlap rewrite rests on this identity: Σ_v raw(v) =
    // Σ_(u→v)∈E score(u) = Σ_u score(u)·deg(u), exact in decimal — so
    // the norm computed from the previous frame (off the critical path)
    // must be bit-identical to re-summing the propagated raw column,
    // including on a frame with non-trivial 12-dp scores
    import org.apache.spark.sql.functions._
    val e = edges.toDF("src", "dst").localCheckpoint(false)
    val scores = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .select(col("node"),
        round(lit(1.0) / (length(col("node")) + lit(2.7)), 12)
          .cast("decimal(28,12)").as("h"))
      .localCheckpoint(false)
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint(false)
    val raw = Centrality.propagate(scores, "h", e, col("src"), col("dst"))
    val fromRaw = raw.agg(sum(col("raw")).cast("decimal(38,12)"))
      .head().getDecimal(0)
    val fromDeg = Centrality.normOf(scores, "h", outDeg).head().getDecimal(0)
    assert(fromDeg.compareTo(fromRaw) == 0 && fromDeg.equals(fromRaw),
      s"norm mismatch: deg-side $fromDeg vs raw-side $fromRaw")
  }

  test("rank mass is conserved and the hub outranks the dangling sink's peers") {
    val got = Centrality.pageRank(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert((got.values.sum - 1).abs < BigDecimal("1e-8"))
    // 'a' receives from b AND c; 'd' only from a's split — a must dominate d.
    assert(got("a") > got("d"))
  }

  /** Plain-Scala mirror of Centrality.hits: L1-normalized half-steps with
    * the same 12-dp rounding points.
    */
  private def referenceHits(edges: Seq[(String, String)],
      iters: Int): Map[String, (BigDecimal, BigDecimal)] = {
    def r12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val in = edges.groupBy(_._2)
    val out = edges.groupBy(_._1)
    var h: Map[String, BigDecimal] = nodes.map(_ -> BigDecimal(1)).toMap
    var a: Map[String, BigDecimal] = Map.empty
    for (_ <- 1 to iters) {
      val araw = nodes.map(v =>
        v -> in.getOrElse(v, Nil).map { case (s, _) => h(s) }.sum).toMap
      val as = araw.values.sum
      a = nodes.map(v => v -> r12(araw(v).toDouble / as.toDouble)).toMap
      val hraw = nodes.map(v =>
        v -> out.getOrElse(v, Nil).map { case (_, d) => a(d) }.sum).toMap
      val hsum = hraw.values.sum
      h = nodes.map(v => v -> r12(hraw(v).toDouble / hsum.toDouble)).toMap
    }
    nodes.map(v => v -> ((a(v), h(v)))).toMap
  }

  test("hits matches the independent reference to the last decimal digit") {
    val got = Centrality.hits(edges.toDF("src", "dst"), iters = 8)
      .collect().map(r => r.getString(0) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2))))).toMap
    val want = referenceHits(edges, iters = 8)
    assert(got.keySet == want.keySet)
    for (v <- want.keySet) {
      assert((got(v)._1 - want(v)._1).abs < BigDecimal("1e-12"),
        s"auth $v: got ${got(v)._1}, want ${want(v)._1}")
      assert((got(v)._2 - want(v)._2).abs < BigDecimal("1e-12"),
        s"hub $v: got ${got(v)._2}, want ${want(v)._2}")
    }
  }

  test("hits: both L1 norms are 1 and the pure sink is authority-only") {
    // a→b, c→b: b is the sole authority; a and c are symmetric hubs.
    val got = Centrality.hits(
      Seq(("a", "b"), ("c", "b")).toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getString(0) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2))))).toMap
    assert((got.values.map(_._1).sum - 1).abs < BigDecimal("1e-8"))
    assert((got.values.map(_._2).sum - 1).abs < BigDecimal("1e-8"))
    assert(got("b")._1 == BigDecimal(1).setScale(12) && got("b")._2 == BigDecimal(0).setScale(12))
    assert(got("a")._2 == got("c")._2 && got("a")._2 > 0)
  }

  private def triMap(edges: Seq[(String, String)]) =
    Centrality.triangleStats(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  test("triangleStats: K4 is all-triangles, a path has none") {
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b
    } yield (a, b)
    val got = triMap(k4)
    assert(got.values.forall(_ == ((3L, 3L, 1.0))), got.toString)
    val path = triMap(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert(path.values.forall(v => v._2 == 0L && v._3 == 0.0))
    assert(path("b")._1 == 2L && path("a")._1 == 1L)
  }

  test("triangleStats: triangle + pendant credits corners, not the pendant") {
    val got = triMap(Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")))
    assert(got("a") == ((3L, 1L, 0.333333)))
    assert(got("b") == ((2L, 1L, 1.0)) && got("c") == ((2L, 1L, 1.0)))
    assert(got("d") == ((1L, 0L, 0.0)))
  }

  test("triangleStats canonicalizes duplicate, reversed and self edges") {
    val got = triMap(Seq(
      ("a", "b"), ("b", "a"), ("a", "b"), // one undirected edge
      ("b", "c"), ("c", "a"), ("a", "a"))) // self-loop dropped
    assert(got("a") == ((2L, 1L, 1.0)))
    assert(got.values.map(_._2).sum == 3L) // one triangle, three credits
  }

  test("a dangling-only graph degenerates to the uniform distribution") {
    // one edge x→y, then y dangles: mass cycles but symmetry across iters
    // keeps ranks strictly positive and summing to 1.
    val got = Centrality.pageRank(Seq(("x", "y")).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(got.size == 2)
    assert((got.values.sum - 1).abs < BigDecimal("1e-8"))
    assert(got.values.forall(_ > 0))
  }
}
