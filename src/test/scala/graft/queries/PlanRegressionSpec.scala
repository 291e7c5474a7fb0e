package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** Physical-plan regression guards: the scale-critical plan shapes must not
  * silently degrade (a SortMergeJoin sneaking into the star join, a lost
  * pushdown, a full-window dedup instead of the partial top-k).
  */
class PlanRegressionSpec extends AnyFunSuite with SparkTestSession {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String, dir: String = sf): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q05 star join broadcasts both dims — fact side never shuffles for the join") {
    val p = plan("q05_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // partial + final hash aggregate pair
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q01 scan is column-pruned to the referenced columns only") {
    val p = plan("q01_pricing_summary")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_comment"))
  }

  test("ext01 dedup plans the partial per-partition top-k (WindowGroupLimit)") {
    val p = plan("ext01_dedup_exact")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q16 global top-100 plans TakeOrderedAndProject, not a full sort") {
    val p = plan("q16_sort_limit")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q07 semi join stays a semi join (no row explosion)") {
    val p = plan("q07_semi_join")
    assert(p.contains("LeftSemi"))
  }

  test("q09 range join keeps the user_id equi key (hash join, not NL-joined)") {
    val p = plan("q09_range_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("ext02 knn broadcasts the query set against the corpus scan") {
    val p = plan("ext02_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q32 broadcasts the segment-filtered customer side (both facts avoid a dim shuffle)") {
    val p = plan("q32_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q33 broadcasts supplier and nation (the only shuffle joins are fact-fact)") {
    val p = plan("q33_local_volume")
    // customer⋈orders and orders⋈lineitem may shuffle (fact-fact); the
    // supplier and nation dims must not force a third/fourth shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("ext13 tfidf has no mandatory vocabulary broadcast (only the 1-row N scalar)") {
    val qe = SparkEntry.queries("ext13_tfidf")(spark, sf).queryExecution
    // the optimized logical plan must carry at most the N-scalar hint; the
    // vocabulary (df) join is left to AQE/stats so it can never OOM at scale
    val hints = qe.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1, s"expected exactly the N-scalar broadcast hint, got ${hints.size}")
  }

  test("q35 sessionization: partial agg before ONE user_id shuffle, then MergingSessions") {
    val p = plan("q35_sessionize")
    assert(p.contains("MergingSessions"))
    // partial+final pair around a single exchange — the scale shape where
    // per-user session merge happens once, after map-side pre-aggregation
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected one shuffle:\n$p")
  }

  test("ext19 training-prep keeps the partial dedup top-k (WindowGroupLimit) in one plan") {
    val p = plan("ext19_training_prep")
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ext23 packing windows are partitioned by source — never a global single-partition sort") {
    val p = plan("ext23_seq_packing")
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"),
      "packing must never collapse to one partition — that is the global-order scale bug")
  }

  test("ext24 repetition is map-side only: zero exchanges, no window, no join") {
    val p = plan("ext24_repetition")
    assert(!p.contains("Exchange"),
      s"per-doc bigram stats are one row-local pass — any shuffle is a regression:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"))
  }

  test("ext25 mixing: only the 1-row totals side nested-loops; doc joins stay equi") {
    val p = plan("ext25_temperature_mix")
    assert(!p.contains("CartesianProduct"))
    // the documents ⋈ plan join must be an equi join (broadcast or shuffled)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("ext27 quality gate: both windows share ONE source shuffle, partitioned (no global sort)") {
    val p = plan("ext27_quality_gate")
    assert(p.contains("Window"))
    assert("Exchange".r.findAllIn(p).size == 1,
      s"rank + count windows must reuse the same source partitioning:\n$p")
    assert(!p.contains("SinglePartition"))
  }

  test("ext28 centroids: partial aggregation on (label,pos), no collect, two shuffles") {
    val p = plan("ext28_class_centroids")
    assert(p.contains("partial_"), "the (label,pos) sum must combine map-side")
    assert(!p.contains("CollectLimit"))
    assert("Exchange".r.findAllIn(p).size <= 2, s"expected (label,pos) → label only:\n$p")
  }

  test("ext34 inverted index: windows and posting agg share ONE term shuffle") {
    val p = plan("ext34_inverted_index")
    assert(p.contains("Window"))
    assert("Exchange".r.findAllIn(p).size == 1,
      s"df window, rank window and collect agg must all reuse the term partitioning:\n$p")
    assert(!p.contains("SinglePartition"))
  }

  test("ext36 chunking is map-side only: zero shuffles") {
    val p = plan("ext36_doc_chunks")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate")) // the explode
  }

  test("ext37 vocab top-k plans TakeOrderedAndProject, never a full vocabulary sort") {
    val p = plan("ext37_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"))
    // the only single-partition stage is the ≤500-row id-assignment window
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "vocabulary counting must combine map-side")
  }

  test("ext39 salted agg: two-phase (key,salt) → key aggregation, partials on both") {
    val p = plan("ext39_salted_agg")
    assert("Exchange".r.findAllIn(p).size == 2,
      s"salted partial then final agg — exactly two shuffles:\n$p")
    assert(p.contains("partial_"))
    assert(!p.contains("SinglePartition"))
  }

  test("ext40 heavy hitters: partial agg on item; only the 1-row total nested-loops") {
    val p = plan("ext40_heavy_hitters")
    assert(p.contains("partial_count"))
    // the total comes FROM the item counts (sum of n), never a third scan
    assert("FileScan".r.findAllIn(p).size <= 2, s"total must derive from counts:\n$p")
    assert(p.contains("partial_sum"))
  }

  test("ext41 contamination: ONE corpus scan, denominators ride the exploded rows (left join)") {
    val p = plan("ext41_contamination")
    assert(p.contains("LeftOuter"))
    // single corpus pass: one shingle-UDF explode total across the plan's
    // corpus side (the >=20 branch), not a totals branch + a hits branch
    val corpusScans = "GreaterThanOrEqual\\(doc_id,20\\)".r.findAllIn(p).size
    assert(corpusScans <= 2, // PushedFilters + DataFilters of ONE FileScan
      s"corpus must be scanned once:\n$p")
  }

  test("ext42 substring dedup: span join is equi on the window hash, nothing pairwise") {
    val p = plan("ext42_substring_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count(distinct doc_id"))
  }

  test("ext43 pca projection is map-side only: no exchange, vector cast projected once") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val model = graft.operators.Pca.fit(emb, "embedding", d = 64, k = 8)
    val p = graft.operators.Pca.project(emb, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n${p.take(800)}")
    assert("vec_dot".r.findAllIn(p).size >= 10, "codegen'd dots, not HOF chains")
  }

  test("ext44 ngram lm: model joins broadcast, per-doc agg has map-side partials") {
    val p = plan("ext44_ngram_lm")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"c_n and c_prefix joins should broadcast at this SF:\n$p")
    assert(p.contains("partial_avg"))
  }

  test("ext47 incremental dedup: anti join on digests; old corpus scan prunes to text only") {
    val p = plan("ext47_incremental_dedup")
    assert(p.contains("LeftAnti"))
    val oldScan = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("LessThan(doc_id,400)"))
      .mkString
    assert(oldScan.contains("struct<doc_id:bigint,text:string>") ||
      oldScan.contains("struct<text:string"),
      s"existing-corpus side must not read lang/source/n_chars:\n$oldScan")
  }

  test("ext48 token budget: one source-partitioned running window, no global sort") {
    val p = plan("ext48_token_budget")
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"), s"budget selection must stay partitioned:\n$p")
  }

  test("ext50 source overlap: self-join is equi on the gram, never pairwise") {
    val p = plan("ext50_source_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"gram self-join degraded to a pairwise plan:\n$p")
  }

  test("ext52 dsir: the ≤1024-row bucket ratio table broadcasts onto the token stream") {
    val p = plan("ext52_dsir_weights")
    assert(p.contains("BroadcastHashJoin"))
    // final per-doc aggregate keeps map-side partials
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("ext51 char entropy is map-side only: no exchange anywhere") {
    val p = plan("ext51_char_entropy")
    assert(!p.contains("Exchange"), s"entropy must not shuffle:\n$p")
  }

  test("q36 retention: distinct-day dedup and cohort agg share partials; joins stay equi") {
    val p = plan("q36_retention")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q37 funnel: min-ts chaining plans equi joins only — no window, no global sort") {
    val p = plan("q37_funnel")
    assert(!p.contains("Window"), s"funnel must not need a window:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("ext58 oov: the ≤20-row vocabulary (gate sizing; production cap 500 per ext37) broadcasts onto the pretoken stream") {
    val p = plan("ext58_oov_rate")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q43 aggregates lineitem BEFORE the order join and broadcasts customer") {
    val p = plan("q43_big_orders")
    assert(p.contains("BroadcastHashJoin"))
    // partial+final agg pair must sit below the joins (the HAVING gate
    // shrinks the fact side first); a plan that joined raw lineitem to
    // orders before aggregating would show the join above a plain scan
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && joinIdx < aggIdx,
      "expected the quantity aggregate below the joins")
  }

  test("q44 decorrelates EXISTS/NOT EXISTS into semi + anti joins — never a nested loop") {
    val p = plan("q44_waiting_suppliers")
    assert(p.contains("LeftSemi"), "correlated EXISTS must become a semi join")
    assert(p.contains("LeftAnti"), "correlated NOT EXISTS must become an anti join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q45 snowflake broadcasts all three dimension hops — the fact never shuffles") {
    val p = plan("q45_snowflake")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ext69 edit-distance runs the length band as an equi-join, not a cartesian") {
    // the ⌊len/(maxDist+1)⌋ bucket key turns the band prune into a shuffled
    // key join — the one former cartesian-with-residual in the dedup family
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val p = plan("ext69_edit_distance", dir)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    }
  }

  test("q52 listagg's rank<=3 filter plans the partial per-partition top-k (WindowGroupLimit)") {
    // the 5-group window would otherwise sort EVERY order within its
    // segment before the filter — WindowGroupLimit keeps only 3 rows per
    // partition ahead of the shuffle, the same guard ext01 carries
    val p = plan("q52_listagg")
    assert(p.contains("WindowGroupLimit"), p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), "customer dim should broadcast")
  }

  test("ext80/ext81 substring audits stay equi-joined windows, never pairwise") {
    for (name <- Seq("ext80_winnowing_recall", "ext81_dup_coverage")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name:\n${p.linesIterator.take(30).mkString("\n")}")
    }
  }

  test("ext82/ext84 prefix-join family is all-equi at both SFs (the whole point of the operator)") {
    for (name <- Seq("ext82_setsim_join", "ext84_full_retention");
         dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val p = plan(name, dir)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name at $dir:\n${p.linesIterator.take(30).mkString("\n")}")
    }
  }

  test("q54's correlated aggregate decorrelates to a join, not a per-row loop") {
    val p = plan("q54_small_qty_revenue")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("plan shapes hold as data grows (sf0.01): broadcasts and top-k stay put") {
    // plans chosen from tiny stats can silently flip at larger inputs —
    // pin the scale-critical shapes at the correctness-gate SF too
    val p05 = plan("q05_star_join", "/root/testdata/sf0.01")
    assert(p05.contains("BroadcastHashJoin") && !p05.contains("SortMergeJoin"))
    assert(plan("ext01_dedup_exact", "/root/testdata/sf0.01").contains("WindowGroupLimit"))
    assert(plan("q16_sort_limit", "/root/testdata/sf0.01").contains("TakeOrderedAndProject"))
    val p09 = plan("q09_range_join", "/root/testdata/sf0.01")
    assert(!p09.contains("BroadcastNestedLoopJoin") && !p09.contains("CartesianProduct"))
    assert(plan("q32_shipping_priority", "/root/testdata/sf0.01").contains("BroadcastHashJoin"))
    assert("BroadcastHashJoin".r
      .findAllIn(plan("q33_local_volume", "/root/testdata/sf0.01")).size >= 2)
    val p44 = plan("q44_waiting_suppliers", "/root/testdata/sf0.01")
    assert(p44.contains("LeftSemi") && p44.contains("LeftAnti") &&
      !p44.contains("BroadcastNestedLoopJoin"))
  }

  test("results table prunes (camera_id, day) partitions on point reads") {
    // the Cassandra partition-key read path (CassandraService.java:139-140):
    // one camera-day predicate must touch one hive partition, not the table
    import graft.streaming.{FrameFixtures, MotionPipeline}
    val dir = graft.ScratchDir.dir("prune")
    import spark.implicits._
    val lines = FrameFixtures.sequence("camA", 1700000000000L, 2, moving = false) ++
      FrameFixtures.sequence("camB", 1700086400000L, 2, moving = false) // next day
    val results = MotionPipeline.detectBin(
      MotionPipeline.decodeWire(lines.toDF("value")),
      graft.ScratchDir.dir("prune-img"))
    MotionPipeline.toStorageLayout(results)
      .write.mode("overwrite").partitionBy("camera_id", "day").parquet(dir)

    val q = spark.read.parquet(dir)
      .where($"camera_id" === "camA" && $"day" === "2023-11-14")
    val scan = q.queryExecution.executedPlan.toString
    // both predicates land in PartitionFilters (directory pruning), not in
    // data filters — and the result is exactly camA's rows
    val pf = scan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("camera_id") && pf.contains("day"))
    assert(q.count() == 2)
  }

  test("q59 lateral top-k decorrelates to WindowGroupLimit + hash join (never per-row re-execution)") {
    val p = plan("q59_lateral_topk")
    assert(p.contains("WindowGroupLimit"), "limit-bearing lateral must become a partial top-k")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "lateral must not plan as a nested-loop re-execution")
  }

  test("setsim candidate fanout stays bounded at both SFs (prefix+size-band prune holds)") {
    import graft.sources.Tables
    import graft.operators.Dedup
    // measured: 28 (sf0.001) / 25 (sf0.01) candidates for ~25 true pairs —
    // the prune is within ~2× of the answer; the bound catches a silent
    // fanout regression (a broken rarity order degrades toward all-pairs,
    // 124k at sf0.01) while leaving room for corpus drift
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables.documents(spark, dir)
      val n = Dedup.setSimCandidates(docs, "text", "doc_id", 3, 0.8).count()
      assert(n <= 500, s"$dir: word-3-gram t=0.8 candidates=$n (expected ≤ 500)")
    }
    // ext87's char-4-gram t=0.4 substrate is template-dense, so its prefix
    // prune is inherently weak (measured ~9.5k of the 11,175 all-pairs cap
    // within the doc_id<150 bound) — the BOUND is what keeps it constant
    // cost at every SF; assert both the corpus bound and the cap
    val docs150 = Tables.documents(spark, "/root/testdata/sf0.01")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 150)
    val charCands = Dedup.setSimCandidatesOnSets(
      docs150.select(org.apache.spark.sql.functions.col("doc_id").as("id"),
        graft.functions.TextFunctions.charNgramSetFast(
          org.apache.spark.sql.functions.col("text"), 4).as("toks"))
        .filter(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("toks")) > 0), 0.4).count()
    assert(charCands <= 150L * 149 / 2, s"char-4-gram candidates=$charCands exceed all-pairs cap")
  }

  test("ext93 bm25: query terms + corpus stats broadcast; top-k keeps the partial WindowGroupLimit") {
    val p = plan("ext93_bm25_topk")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must plan the partial group limit")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "query-term and df joins must broadcast, not shuffle the postings")
  }

  test("ext98 triangles: wedge and closing joins are equi (hash), never nested-loop") {
    val p = plan("ext98_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join leaked into the triangle plan:\n$p")
  }

  test("ext98 triangles match the brute-force triple join at both SFs") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val edges = graft.operators.Dedup.charSetSimilarityJoin(
        Tables.documents(spark, dir).filter(col("doc_id") < 150),
        "text", "doc_id", n = 4, threshold = 0.4)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val total = graft.operators.Centrality.triangleStats(edges)
        .selectExpr("coalesce(sum(triangles), 0)").collect()(0).getLong(0) / 3
      // brute force: canonical a<b edges, triple equi-join x<y<z
      val p = edges.select(col("src").as("a"), col("dst").as("b")).distinct()
      val brute = p.select(col("a").as("x"), col("b").as("y"))
        .join(p.select(col("a").as("y"), col("b").as("z")), Seq("y"))
        .join(p.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
        .count()
      assert(total == brute, s"$dir: oriented count $total != brute $brute")
    }
  }

  test("ext94/ext96 iteration joins are shuffle-hash on node — the O(|nodes|) rank/score side is never force-broadcast") {
    import org.apache.spark.sql.functions._
    import graft.operators.Centrality
    // AQE-off sibling session, matching the catalog's iteration session
    val s2 = graft.ScaleScope.sibling(spark, "spark.sql.adaptive.enabled" -> "false")
    val sq = s2.sqlContext
    import sq.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst").localCheckpoint(false)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().localCheckpoint(false)
    val outd = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val eDeg = edges.join(outd.withColumnRenamed("node", "src")
      .hint("shuffle_hash"), Seq("src")).localCheckpoint(false)
    val dangNodes = nodes.join(outd.hint("shuffle_hash"), Seq("node"),
      "left_anti").localCheckpoint(false)
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    val r0 = nodes.crossJoin(broadcast(n)).select(col("node"),
      round(lit(1.0) / col("n_nodes"), 12).cast("decimal(28,12)").as("r"))

    val contrib = Centrality.contribution(r0, eDeg)
    val p = contrib.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"pageRank contribution must join rank/edges via shuffled hash:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"an O(|nodes|) frame is force-broadcast inside the contribution:\n$p")
    val upd = Centrality.rankUpdate(nodes, contrib.localCheckpoint(false),
      3L, java.math.BigDecimal.ZERO.setScale(12), 0.85)
    val up = upd.queryExecution.executedPlan.toString
    assert(up.contains("ShuffledHashJoin") && !up.contains("BroadcastHashJoin"),
      s"the rank update must shuffle-hash the completion join:\n$up")

    val h0 = nodes.select(col("node"), lit(1).cast("decimal(28,12)").as("h"))
    val prop = Centrality.propagate(h0, "h", edges, col("src"), col("dst"))
    val hp = prop.queryExecution.executedPlan.toString
    assert(hp.contains("ShuffledHashJoin") && !hp.contains("BroadcastHashJoin"),
      s"HITS propagate must shuffle-hash the score frame, never broadcast it:\n$hp")
    val norm = Centrality.normOf(h0, "h", outd.withColumnRenamed("outdeg", "deg"))
    val np = norm.queryExecution.executedPlan.toString
    assert(np.contains("ShuffledHashJoin") && !np.contains("BroadcastHashJoin"),
      s"the HITS norm must shuffle-hash the degree join:\n$np")
  }

  test("ext94/ext96 pre-partitioned iteration state: one data exchange per round — edge list never reshuffles") {
    import org.apache.spark.sql.functions._
    import graft.operators.Centrality
    // mirrors the loop-invariant state pageRank/hits build once: edges
    // repartitioned on the join key, nodes/outd carrying their agg
    // partitioning, rank frame partitioned by node — all localCheckpoint'd
    // (which preserves outputPartitioning). The r9 shuffle-halving contract:
    // the only per-round hash exchange left is the contribution groupBy.
    val s2 = graft.ScaleScope.sibling(spark, "spark.sql.adaptive.enabled" -> "false")
    val sq = s2.sqlContext
    import sq.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("src", "dst").repartition(col("src")).localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(false)
    val outd = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(outd.withColumnRenamed("node", "src")
      .hint("shuffle_hash"), Seq("src")).localCheckpoint(false)
    val dangNodes = nodes.join(outd.hint("shuffle_hash"), Seq("node"),
      "left_anti").localCheckpoint(false)
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    val r0 = nodes.crossJoin(broadcast(n)).select(col("node"),
      round(lit(1.0) / col("n_nodes"), 12).cast("decimal(28,12)").as("r"))
      .localCheckpoint(false)

    val contrib = Centrality.contribution(r0, eDeg)
    val p = contrib.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"a pageRank round must shuffle ONLY the contribution groupBy(dst):\n$p")
    // the round's other pieces are EXCHANGE-FREE: the completion join
    // runs on hash(node) both sides, the dangling-mass scalar is a
    // co-partitioned semi-join + global agg (its only exchange is the
    // 1-row SinglePartition gather, which carries no hashpartitioning)
    val up = Centrality.rankUpdate(nodes, contrib.localCheckpoint(false),
      5L, java.math.BigDecimal.ZERO.setScale(12), 0.85)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(up).size == 0,
      s"the rank update must be exchange-free (both sides hash(node)):\n$up")

    val h0 = nodes.select(col("node"), lit(1).cast("decimal(28,12)").as("h"))
      .localCheckpoint(false)
    val hp = Centrality.propagate(h0, "h", e, col("src"), col("dst"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(hp).size == 1,
      s"a HITS half-step must shuffle ONLY the propagate groupBy:\n$hp")
    // the off-critical-path HITS norm must also add NO hash exchange:
    // score frame and degree table are both hash(node) already
    val np = Centrality.normOf(h0, "h",
      outd.withColumnRenamed("outdeg", "deg").localCheckpoint(false))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(np).size == 0,
      s"the HITS norm must reuse the hash(node) partitioning:\n$np")
  }

  test("alignedOverlap: one pair-key exchange total — every agg/window/join above the cached repartition is exchange-free") {
    import org.apache.spark.sql.functions._
    val sq = spark.sqlContext
    import sq.implicits._
    val unitPairs = Seq((1L, 2L, 0, 1), (1L, 2L, 1, 2), (1L, 3L, 0, 0))
      .toDF("id_a", "id_b", "ta", "tb")
    val counts = Seq((1L, 3L), (2L, 3L), (3L, 2L)).toDF("id", "n_kept")
    val (withCounts, cov) = graft.operators.TemporalAlignment
      .alignedCov(unitPairs, counts, jitter = 1)
    cov.write.format("noop").mode("overwrite").save()
    val p = cov.queryExecution.executedPlan.toString
    // the cached subtree shows the ONE build-time repartition exchange
    // (REPARTITION_BY_COL); an ENSURE_REQUIREMENTS hash exchange anywhere
    // means a dedup/histogram/window/join consumer failed to reuse the
    // cached hash(id_a, id_b) partitioning and re-shuffled the unit pairs
    // (exactly what the r17 localCheckpoint form did under AQE — its
    // LogicalRDD came back UnknownPartitioning and every branch re-paid a
    // full-volume exchange)
    assert(p.contains("InMemoryTableScan"),
      s"the unit-pair frame must be the persisted repartition:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        l.contains("ENSURE_REQUIREMENTS")),
      s"a consumer re-shuffles the pre-partitioned unit pairs:\n$p")
    withCounts.unpersist(true)
  }

  test("ext100 funnel counts read materialized stages — no window or parquet scan is re-derived per count subtree") {
    val p = plan("ext100_curation_funnel")
    assert(!p.contains("Window"),
      s"a stage window is re-evaluated inside the funnel count plan:\n$p")
    assert(!p.contains("FileScan"),
      s"a stage re-scans parquet inside the funnel count plan:\n$p")
  }

  test("ext113/ext114 quality gates are scan → project → sort: no join, no aggregate exchange") {
    Seq("ext113_image_quality", "ext114_audio_quality").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: a quality gate must not join:\n$p")
      assert(!p.contains("HashAggregate"),
        s"$q: a per-item gate must not aggregate:\n$p")
    }
  }

  test("ext115 video summary is one window + one agg partitioned by video_id — no join") {
    val p = plan("ext115_video_quality")
    assert(!p.contains("Join"), s"per-video summary must not join:\n$p")
    assert(p.contains("Window"), s"expected the lag window:\n$p")
  }

  test("frame-table consumers reuse the memo's hash(video_id) partitioning — no per-consumer pixel shuffle") {
    // the decoded frame table (raw pixel rows — the widest frame in the
    // suite) is repartitioned on video_id ONCE at materialization; every
    // consumer's per-video window/agg must read the cached partitioning,
    // not re-shuffle the pixels (ext111 alone wrote 17.7 MB/run before)
    Seq("ext110_video_shots", "ext111_batch_motion",
      "ext115_video_quality").foreach { q =>
      val p = plan(q)
      // the cached subtree legitimately shows the ONE build-time
      // REPARTITION_BY_COL exchange; what must not appear is an
      // ENSURE_REQUIREMENTS hash exchange — that would mean a consumer
      // failed to reuse the cached partitioning and re-shuffled pixels
      assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") &&
          l.contains("ENSURE_REQUIREMENTS")),
        s"$q: a consumer re-shuffles the pre-partitioned frame table:\n$p")
    }
  }

  test("ext116/ext117/ext118 banded probes stay equi — no cartesian anywhere") {
    Seq("ext116_image_decontamination", "ext117_video_containment",
      "ext118_image_funnel").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: a banded candidate join degenerated to all-pairs:\n$p")
    }
  }

  test("ext125/ext126/ext127 broadcast-probe scans: no join, no aggregate — the only exchanges are the output sort's and the render fan-out's") {
    // the watchlist monitor and the contamination guard are ONE map-side
    // pass against a driver-built broadcast: a Join or HashAggregate in
    // the corpus-side plan means the probe regressed to a shuffle shape.
    // Two exchanges are legitimate: the deterministic-output range sort,
    // and the RenderIds round-robin fan-out of the 8-byte id projection
    // BEFORE the synthetic render UDF (r16 — without it the render+probe
    // runs at the id scan's byte-sized task count, near-single-threaded;
    // the fan-out shuffles ids only, never payloads).
    Seq("ext125_watchlist_flags", "ext126_contamination_exact",
      "ext127_contamination_sampled").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: the probe side must not join:\n$p")
      assert(!p.contains("HashAggregate"),
        s"$q: the probe folds per-row in place, never aggregates:\n$p")
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.forall(l => l.contains("rangepartitioning") ||
        l.contains("RoundRobinPartitioning")),
        s"$q: only the output sort and the id fan-out may exchange:\n$p")
      // at most ONE round-robin exchange — the RenderIds id fan-out,
      // present only on the rendered-corpus probe (ext125); the text
      // probes (ext126/ext127) scan parquet directly and must have none
      // (r16 ADVICE: accepting ANY RoundRobinPartitioning count would let
      // an unrelated repartition regress into the corpus-side plan unseen)
      val expectedFanOuts = if (q == "ext125_watchlist_flags") 1 else 0
      assert(exchanges.count(_.contains("RoundRobinPartitioning"))
        == expectedFanOuts,
        s"$q: expected $expectedFanOuts round-robin exchange(s) " +
          s"(the id fan-out only):\n$p")
    }
  }

  test("ext128 excision is a pure map pass: no join, no aggregate exchange on the corpus side") {
    // the cut list comes from the broadcast probe and the rebuild is an
    // expression-level fold — a Join or HashAggregate means the span
    // surgery regressed to a shuffle shape
    val p = plan("ext128_decontaminate")
    assert(!p.contains("Join"), s"ext128 must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"ext128 must not aggregate:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"ext128: only the output sort may exchange:\n$p")
  }

  test("ext129 policy delta: one aggregation over the probe pass, no join anywhere") {
    // both policies fold out of the same single excise projection — a
    // Join, or a second aggregation beyond the one global partial/final
    // pair, means the comparison started paying twice
    val p = plan("ext129_decontam_policy")
    assert(!p.contains("Join"), s"ext129 must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size <= 2,
      s"ext129: one partial/final aggregate pair only:\n$p")
  }

  test("ext130 bloom funnel: the corpus probe never sort-merge-joins — prune and stitch stay broadcast") {
    // the semi-join prune of the exact tier and the final flagged-side
    // stitch are against bounded flagged frames: broadcast by
    // construction, and the corpus side must never shuffle for a join
    val p = plan("ext130_contamination_bloom")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"ext130: flagged-set joins must broadcast:\n$p")
    assert(!p.contains("Cartesian"), s"ext130: no cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"ext130: the prune/stitch joins should be broadcast hash joins:\n$p")
  }
}
