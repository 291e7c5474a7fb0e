package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PageRank (Page et al. 1999) as an iterative DataFrame
  * fixed-point — the graph-centrality dial a curation pipeline uses to
  * weight sources/entities by link structure (e.g. rank domains in a web
  * corpus before per-domain quota sampling).
  *
  * Scale shape: per iteration ONE equi-join of the rank frame with the edge
  * list (shuffle keyed by node), one hash agg of contributions keyed by
  * destination, and a 1-row dangling-mass aggregate that is broadcast —
  * the textbook distributed-PageRank topology that holds at any node count.
  * Join discipline under the AQE-off iteration session: every join whose
  * build side is O(|nodes|) (rank⋈dangling, rank⋈edges, new-rank⋈contrib)
  * carries a `shuffle_hash` hint — co-partitioned hash join on `node`, no
  * per-round sort (the SMJ tax the hint exists to avoid) and, critically,
  * NO size ceiling: a broadcast hint here would force driver-side collection
  * of the whole rank vector and die on any graph whose ranks exceed the
  * broadcast limit. Only true 1-row scalars (node count, dangling mass,
  * L1 norm) are `broadcast()`.
  * The rank frame is `localCheckpoint(eager = false)`-truncated each round
  * (the clusterPairs discipline): without it each of the three consumers of
  * round i's ranks (dangling agg, contribution join, carry-through) would
  * recompute the whole prefix and the lineage would grow 3^T.
  *
  * Determinism contract (what makes this ORACLE-checkable, unusual for
  * float PageRank): ranks live as DECIMAL(28,12); every cross-row reduction
  * (contribution sum, dangling mass) is an EXACT decimal sum — associative
  * and commutative, so partitioning/merge order cannot change it (no
  * sorted-fold needed, and unlike the bounded-fan-in folds this stays legal
  * at 100 TB in-degree). Scalar arithmetic per row happens in doubles with
  * a pinned operation order and is rounded back to 12 dp each step, so both
  * engines iterate the identical decimal sequence.
  */
object Centrality {

  /** Target directed-edge rows per shuffle partition for the iteration
    * rounds: pageRank, hits and triangleStats run in
    * `ScaleScope.forRows(caller, edges, EdgeRowsPerPartition)` and hand
    * their result back bound to the caller. The iterates are
    * partitioning-independent (exact decimal sums are associative and
    * commutative), so results are bit-identical at any partition count.
    * Smaller than [[Dedup.clusterPairs]]'s 1M-row target — a
    * centrality round's join probes the full edge list and does per-row
    * DECIMAL arithmetic (exact-sum contract), so per-row CPU shares the
    * partition-sizing constraint with the per-STAGE scheduling floor
    * (guide §1.2 step 2 feeding back into step 1, §2.2 fewer/larger
    * partitions). An iterative fixed-point pays the stage floor
    * rounds×stages times, so over-parallelizing costs more than it buys:
    * measured at sf0.1 (587k edges, 32-core host, min of 3 isolated,
    * r17 overlapped-scalar code): ext96 HITS 32 parts 7.9 s / 9 parts
    * 3.5 s / 5 parts 3.0 s / 3 parts 3.3 s; ext94 PageRank 32 parts
    * 4.6 s / 9 parts 3.6 s / 5 parts 4.0 s / 3 parts 5.2 s. 2^16 rows
    * per partition (9 partitions at sf0.1) sits at the joint optimum —
    * PageRank's heavier per-row math wants more cores than HITS — and
    * the derivation still saturates to the session setting on any graph
    * above ~65k·parts edges, so production scale keeps full
    * parallelism. */
  private val EdgeRowsPerPartition = 1L << 16

  /** Dedicated daemon pool for the per-round OVERLAPPED scalar jobs
    * (guide §2.6): each iteration round runs two INDEPENDENT jobs — the
    * propagate/contribution shuffle and a tiny O(|nodes|) scalar
    * aggregate (L1 norm / dangling mass), both depending only on the
    * PREVIOUS round's frame — so submitting them concurrently removes
    * the scalar job's two stages from the round's critical path. Never
    * the global fork-join pool (the r16 ADVICE lesson). */
  private lazy val iterEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        (r: Runnable) => {
          val t = new Thread(r, "graft-centrality-iter")
          t.setDaemon(true)
          t
        }))

  private val IterTimeout = scala.concurrent.duration.Duration(15, "min")

  /** Build a loop-invariant frame once per (iteration session, `memoKey`,
    * `part`) via the session memo when the caller supplies a key (the
    * catalog's ext94/ext96 share the trade graph: PageRank and HITS both
    * pay the src-clustered edge copy and the node list, so the second
    * consumer — and every bench re-time pass — reads the first's
    * materialization, the same one-job-many-consumers shape as the pair
    * tables). Un-keyed callers get the old lazy-localCheckpoint. */
  private def invariant(sess: org.apache.spark.sql.SparkSession,
      memoKey: Option[String], part: String)(build: => DataFrame): DataFrame =
    memoKey match {
      case Some(k) =>
        MaterializedPairs.frame(
          s"${MaterializedPairs.sessionKey(sess)}|$part|$k")(build)
      case None => build.localCheckpoint(false)
    }

  /** `iters` rounds of damped PageRank over `edges(src, dst)` (assumed
    * distinct pairs). Nodes = src ∪ dst; dangling mass is redistributed
    * uniformly. Returns (node, r DECIMAL(28,12)) summing to ~1.
    *
    * Callers should pass a persisted/checkpointed edge frame: it is
    * counted once to size the rounds' partitioning
    * ([[EdgeRowsPerPartition]]).
    */
  def pageRank(edges: DataFrame, damping: Double = 0.85, iters: Int = 8,
      memoKey: Option[String] = None): DataFrame = {
    import scala.concurrent.{Await, Future}
    val s0 = edges.sparkSession
    val sess = graft.ScaleScope.forRows(s0, edges.count(), EdgeRowsPerPartition)
    val edgesIn = graft.ScaleScope.bind(sess, edges)
    // The graph is consumed in EVERY iteration (edges by the contribution
    // join, nodes/outd up to 3× per round) — materialize all of it once
    // ([[invariant]]: session-memoized under a caller key, so the catalog
    // siblings ext94/ext96 and every bench re-time pass share ONE build;
    // lazy localCheckpoint otherwise) so the upstream build (a distinct
    // over a fact-table join in ext94's case) runs once, not once per
    // reference.
    //
    // The edge list is REPARTITIONED ON ITS JOIN KEY (src) before the
    // materialization (both persist and localCheckpoint preserve
    // outputPartitioning), so every round's contribution join finds the
    // (by far largest) edge side already clustered and re-shuffles
    // nothing. nodes/outd inherit hash(node) partitioning from their
    // distinct/groupBy builds, and the rank frame leaves each round
    // partitioned by node (its closing join key) — so under the AQE-off
    // iteration session the ONLY per-round shuffle left is the
    // contribution groupBy(dst), the irreducible routing step of
    // distributed PageRank.
    val e = invariant(sess, memoKey, "layout-esrc")(
      edgesIn.repartition(col("src")))
    val nodes = invariant(sess, memoKey, "layout-nodes")(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val outd = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    // Out-degree baked into the checkpointed edge list ONCE (r16, guide
    // §2.4): the contribution join previously looked up (node, outdeg)
    // via an extra r⋈outd hash join EVERY round — 8 identical joins whose
    // result is loop-invariant. eDeg inherits e's hash(src) partitioning
    // (outd is hash(src) from its own groupBy, so the bake-in join is
    // itself exchange-free) and each round joins r against it directly.
    val eDeg = invariant(sess, memoKey, "pr-edeg")(
      e.join(outd.withColumnRenamed("node", "src")
        .hint("shuffle_hash"), Seq("src")))
    // The DANGLING node set is loop-invariant too: previously every round
    // re-derived it as r ⋈ outd (left) + outdeg-IS-NULL filter — a full
    // O(|nodes|) join against the out-degree table per round. Computed
    // once, the per-round dangling mass is one co-partitioned semi-join
    // of r against this (usually far smaller) frame.
    val dangNodes = invariant(sess, memoKey, "pr-dang")(
      nodes.join(outd.hint("shuffle_hash"), Seq("node"), "left_anti"))
    // The node count is a loop-invariant SCALAR — collected once to a
    // literal (r17): the old per-round crossJoin(broadcast(n)) rebuilt
    // and shipped a broadcast relation every round for a number the
    // driver already knows. lit(nVal) is the same long the broadcast
    // column carried, so every per-row double expression is unchanged.
    val nVal = nodes.count()

    var r = nodes
      .select(col("node"),
        round(lit(1.0) / lit(nVal), 12).cast("decimal(28,12)").as("r"))
      .localCheckpoint(false)

    for (_ <- 1 to iters) {
      // The round's two jobs are INDEPENDENT given the previous frame —
      // the contribution shuffle (the round's wall) and the dangling-mass
      // scalar (two tiny stages) — so they run OVERLAPPED (guide §2.6)
      // and the scalar's stages leave the critical path. The dangling
      // mass is collected to the driver (one decimal value, exactly what
      // the old 1-row broadcast carried) and embedded as a literal: same
      // exact decimal, same per-row double math, bit-identical ranks.
      val contrib = contribution(r, eDeg).localCheckpoint(false)
      val fc = Future(contrib.count())(iterEc)
      val dangRow = r.join(dangNodes.hint("shuffle_hash"), Seq("node"))
        .agg(coalesce(sum(col("r")), lit(0)).cast("decimal(38,12)")
          .as("dangle"))
        .head()
      val dang = dangRow.getDecimal(0)
      Await.result(fc, IterTimeout)
      r = rankUpdate(nodes, contrib, nVal, dang, damping)
        .localCheckpoint(false)
    }
    graft.ScaleScope.bind(s0, r)
  }

  /** The per-round contribution shuffle — the one irreducible exchange of
    * a distributed-PageRank round. Package-visible so the plan spec can
    * pin its strategy (shuffle-hash probe of the pre-clustered edge list,
    * exactly one hash exchange: the groupBy(dst)). */
  private[graft] def contribution(r: DataFrame, eDeg: DataFrame): DataFrame =
    r.hint("shuffle_hash")
      .join(eDeg, col("node") === col("src"))
      .groupBy("dst")
      .agg(sum(round(col("r").cast("double") / col("outdeg"), 12)
        .cast("decimal(28,12)")).cast("decimal(38,12)").as("in_sum"))
      .withColumnRenamed("dst", "node")

  /** The per-round rank update: completion join of the contribution sums
    * against the node list plus the damped per-row arithmetic. `nVal` and
    * `dang` are the round's two scalars as driver values; the expression
    * tree (double op order, 12-dp round, decimal cast) is exactly the old
    * broadcast-column form, so ranks are bit-identical. Package-visible
    * for the plan spec (must be exchange-free: both sides hash(node)). */
  private[graft] def rankUpdate(nodes: DataFrame, contrib: DataFrame,
      nVal: Long, dang: java.math.BigDecimal, damping: Double): DataFrame = {
    val base = lit(1.0 - damping)
    val dangLit = lit(dang).cast("decimal(38,12)")
    nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"),
        round(base / lit(nVal)
            + lit(damping) * (coalesce(col("in_sum"), lit(0)).cast("double")
              + dangLit.cast("double") / lit(nVal)), 12)
          .cast("decimal(28,12)").as("r"))
  }

  /** `iters` rounds of HITS (Kleinberg, JACM 1999) over `edges(src, dst)`:
    * authority(v) = Σ hub(u) over in-edges, hub(u) = Σ authority(v) over
    * out-edges, each half-step L1-normalized. L1 (sum) normalization
    * replaces the textbook L2 — a deliberate variant choice: it preserves
    * the ranking fixed point while keeping every cross-row reduction an
    * EXACT decimal sum (an L2 norm's sqrt would force float reduction
    * order into the iterate and break oracle-checkability). Scores live as
    * DECIMAL(28,12); the normalize step divides doubles with a pinned op
    * order and re-rounds to 12 dp, exactly the [[pageRank]] discipline.
    * Per half-step topology: one equi-join + one hash agg + a broadcast
    * 1-row norm scalar; lazy localCheckpoint truncates lineage per round.
    *
    * Returns (node, auth DECIMAL(28,12), hub DECIMAL(28,12)); nodes with
    * no in-edges (resp. out-edges) carry authority (resp. hub) 0.
    */
  def hits(edges: DataFrame, iters: Int = 8,
      memoKey: Option[String] = None): DataFrame = {
    // Materialize the graph once — 2 references per half-step × 2
    // half-steps × iters would otherwise rebuild the edge derivation
    // 30+ times (see pageRank). HITS propagates in BOTH directions, so it
    // keeps TWO pre-clustered copies of the edge list — src-keyed for the
    // authority half-step, dst-keyed for the hub half-step (one extra
    // one-time shuffle; persist/localCheckpoint preserve the
    // partitioning) — and each half-step's propagate join then
    // re-shuffles neither side: the score frame exits the previous
    // half-step partitioned by node. Only the propagate groupBy(toEnd)
    // shuffles per half-step. The src-clustered copy and the node list
    // are SHARED with pageRank under the caller's memo key ([[invariant]]).
    val s0 = edges.sparkSession
    val sess = graft.ScaleScope.forRows(s0, edges.count(), EdgeRowsPerPartition)
    val edgesIn = graft.ScaleScope.bind(sess, edges)
    val eSrc = invariant(sess, memoKey, "layout-esrc")(
      edgesIn.repartition(col("src")))
    val eDst = invariant(sess, memoKey, "layout-edst")(
      eSrc.repartition(col("dst")))
    val nodes = invariant(sess, memoKey, "layout-nodes")(
      eSrc.select(col("src").as("node"))
        .union(eSrc.select(col("dst").as("node"))).distinct())
    // Loop-invariant degree tables for the OFF-CRITICAL-PATH norm (see
    // halfStep): Σ_v raw(v) = Σ_edges score(fromEnd) = Σ_u score(u)·deg(u)
    // — so the L1 norm is computable from the PREVIOUS frame and the
    // degree table without waiting for the propagate shuffle. Both carry
    // hash(node) partitioning from their groupBy.
    val outDeg = invariant(sess, memoKey, "hits-outdeg")(
      eSrc.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    val inDeg = invariant(sess, memoKey, "hits-indeg")(
      eSrc.groupBy(col("dst").as("node")).agg(count(lit(1)).as("deg")))
    var h = nodes
      .select(col("node"), lit(1).cast("decimal(28,12)").as("h"))
      .localCheckpoint(false)
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = halfStep(h, "h", eSrc, outDeg, col("src"), col("dst"), "a")
      h = halfStep(a, "a", eDst, inDeg, col("dst"), col("src"), "h")
    }
    graft.ScaleScope.bind(s0,
      nodes.join(a.hint("shuffle_hash"), Seq("node"), "left")
        .join(h.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("a"), lit(0)).cast("decimal(28,12)").as("auth"),
          coalesce(col("h"), lit(0)).cast("decimal(28,12)").as("hub")))
  }

  /** Exact triangle counts + local clustering coefficient per node over an
    * undirected graph (Suri & Vassilvitskii, WWW 2011 node-iterator with
    * degree-ordered orientation — the MapReduce-era shape that still wins
    * on Spark): orient every edge from its (degree, id)-smaller endpoint,
    * so wedge enumeration fans out from each node's ORIENTED out-list —
    * bounded by O(√m) amortized on any graph, which is what keeps the
    * self-join alive on a skewed 100 TB edge set where a naive
    * neighbor-list explode dies on the highest-degree node. Each triangle
    * is counted exactly once (at its orientation-minimal wedge) and then
    * credited to all three corners.
    *
    * Topology: two hash aggs (canonicalize + degrees), one equi self-join
    * on the wedge pivot, one equi join against the oriented closing edge,
    * one explode + hash agg — every stage keyed, no cartesian anywhere.
    *
    * Returns (node, degree, triangles, clustering) with clustering =
    * 2T / deg(deg−1) rounded to 6 dp (0.0 for degree < 2) — exact-integer
    * arithmetic until the single pinned double division, so the whole
    * output is oracle-checkable.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // Scoped like the iterative operators: the wedge pipeline is 5
    // joins/aggs deep, so a small graph at the session's 32-way shuffle
    // partitioning pays the per-stage scheduling floor ~10 times over
    // near-empty tasks. Results are exact integer counts, independent of
    // the partitioning.
    val s0 = edges.sparkSession
    val sess = graft.ScaleScope.forRows(s0, edges.count(), EdgeRowsPerPartition)
    val edgesIn = graft.ScaleScope.bind(sess, edges)
    // und/deg/oriented are each referenced 2-3 times downstream (deg by
    // both orientation joins and the final completion join, oriented by
    // both wedge sides and the closing edge probe) — materialize each
    // once (guide §7.2 duplicated subtrees; the un-checkpointed form
    // re-planned the whole upstream pair build per reference, a 3,600-line
    // physical plan on ext98's memoized pair table).
    val und = edgesIn
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(false)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .localCheckpoint(false)
    val oriented = und
      .join(deg.select(col("node").as("a"), col("degree").as("dega")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("degb")), Seq("b"))
      .select(
        when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(false)
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), Seq("u"))
      .filter(col("x") =!= col("y"))
    val tris = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val perNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    graft.ScaleScope.bind(s0, deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("tri"), lit(0)).cast("long").as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("tri"), lit(0))
            / (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering")))
  }

  /** One HITS half-step: propagate `scoreCol` of `from` across `edges`
    * from side `fromEnd` to side `toEnd`, L1-normalize, emit as `outCol`.
    * Nodes receiving nothing are simply ABSENT (score 0) rather than
    * completed against the node list each step — zeros contribute nothing
    * to the next propagation, so completion happens once at the end; that
    * saves one join per half-step.
    *
    * The L1 norm is taken OFF THE CRITICAL PATH (r17, guide §2.6): it
    * previously re-scanned the checkpointed `raw` as a second sequential
    * job — two extra stages in every one of the 16 half-steps. But
    * Σ_v raw(v) = Σ_(u→v)∈E score(u) = Σ_u score(u)·deg(u), and every
    * cross-row reduction here is an EXACT decimal sum (associative,
    * commutative) while score·deg is a decimal×integer product (exact —
    * equal to deg-fold repeated addition), so the norm computed from the
    // PREVIOUS frame and the loop-invariant degree table is the SAME
    * decimal value the raw-scan produced, bit for bit. The two jobs —
    * the propagate shuffle and the tiny norm scalar — depend only on
    * `from`, so they run OVERLAPPED and the norm's stages vanish from
    * the round's wall. The collected scalar is embedded as a literal
    * (decimal(38,12), exactly the type the old 1-row broadcast carried),
    * so the per-row round(raw/s, 12) double math is unchanged. */
  private[graft] def halfStep(from: DataFrame, scoreCol: String,
      edges: DataFrame, deg: DataFrame, fromEnd: Column, toEnd: Column,
      outCol: String): DataFrame = {
    import scala.concurrent.{Await, Future}
    val raw = propagate(from, scoreCol, edges, fromEnd, toEnd)
      .localCheckpoint(false)
    val fr = Future(raw.count())(iterEc)
    val sRow = normOf(from, scoreCol, deg).head()
    val s = Option(sRow.getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO.setScale(12))
    Await.result(fr, IterTimeout)
    raw.select(col("node"),
      round(col("raw").cast("double")
          / lit(s).cast("decimal(38,12)").cast("double"), 12)
        .cast("decimal(28,12)").as(outCol))
  }

  /** The half-step L1 norm from the PREVIOUS frame: Σ score·deg over the
    * co-partitioned (hash(node)) degree join — zero exchange, two tiny
    * stages, value exactly equal to summing the propagated raw column
    * (see [[halfStep]]). Package-visible for the plan/equality specs. */
  private[graft] def normOf(from: DataFrame, scoreCol: String,
      deg: DataFrame): DataFrame =
    from.join(deg.hint("shuffle_hash"), Seq("node"))
      // operand precision trimmed so the product is EXACT: scores are
      // ≤ 1 by construction (h0 is literally 1; every later frame is
      // L1-normalized), so (14,12) holds them losslessly, and with deg
      // at (23,0) the product type is decimal(38,12) — a naive
      // (28,12)×long product would exceed precision 38 and Spark's
      // allowPrecisionLoss would silently ROUND THE PRODUCT TO SCALE 6,
      // breaking the bit-parity this norm path depends on (caught by
      // CentralitySpec's exact-equality pin).
      .agg(sum(col(scoreCol).cast("decimal(14,12)")
        * col("deg").cast("decimal(23,0)"))
        .cast("decimal(38,12)").as("s"))

  /** The HITS propagate join+agg, UN-checkpointed — the O(|nodes|) score
    * frame carries a `shuffle_hash` hint (never a broadcast: see the class
    * doc's join discipline). Package-visible so the plan spec can pin the
    * strategy, since [[halfStep]]'s lazy checkpoint hides it.
    */
  private[graft] def propagate(from: DataFrame, scoreCol: String,
      edges: DataFrame, fromEnd: Column, toEnd: Column): DataFrame =
    from.hint("shuffle_hash").join(edges, col("node") === fromEnd)
      .groupBy(toEnd.as("node"))
      .agg(sum(col(scoreCol)).cast("decimal(38,12)").as("raw"))
}
