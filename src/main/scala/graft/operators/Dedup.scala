package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: every variant reduces the candidate space BEFORE any pairwise
  * work — exact dedup is a single hash shuffle on a digest; MinHash-LSH and
  * SimHash band/bucket first so the self-join runs per-bucket instead of
  * all-pairs; embedding near-dup blocks on an LSH bucket (or a provided
  * blocking key). Nothing here is O(n²) in the corpus.
  */
object Dedup {

  /** Exact dedup on a digest of `textCol`: keeps the row with the smallest
    * `idCol` per distinct text. Deterministic survivor choice (unlike
    * dropDuplicates) so results are oracle-checkable. One shuffle on the
    * 128-bit digest — at 100 TB this is the cheapest possible dedup.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming-style exact dedup on explicit key columns (batch analog of
    * `dropDuplicates` with deterministic survivor = min id).
    */
  def exactByKeys(df: DataFrame, keys: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** INCREMENTAL exact dedup: survivors of a NEW batch against an already
    * ingested corpus — dedup within the batch ([[exact]]), then drop
    * anything whose digest the existing corpus already holds (left-anti on
    * the digest). The batch-side twin of CorpusIngest's at-ingest guard,
    * and the shape that matters operationally: re-deduping 100 TB on every
    * delivery is a full-corpus shuffle, while this shuffles the NEW batch
    * plus a digest-only projection of the old corpus (16 bytes/doc — in a
    * production layout those digests are a stored, partitioned column and
    * the old side never rescans text at all).
    */
  def incremental(newBatch: DataFrame, existing: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    // withColumn REPLACES same-named input columns — refuse rather than
    // silently clobber a caller's __d (same convention as Sampling's guards)
    require(!newBatch.columns.contains("__d"),
      "incremental dedup uses temp column __d; input already has a column named __d")
    val oldDigests = existing.select(md5(col(textCol)).as("__d")).distinct()
    // digest projected ONCE and reused by the dedup window AND the anti
    // join — full-text md5 is the dominant per-row cost here
    exactByKeys(newBatch.withColumn("__d", md5(col(textCol))), Seq("__d"), idCol)
      .join(oldDigests, Seq("__d"), "left_anti")
      .drop("__d")
  }

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle(n words) → minhash signature (`perms`) → `bands` LSH bands →
    * explode band keys → self-join per (band, key) bucket → distinct pairs.
    * Output: (id_a, id_b) with id_a < id_b, plus the estimated Jaccard from
    * signature agreement. The band join is an equi shuffle join on the bucket
    * key; bucket sizes bound the pairwise work.
    */
  def minHashLsh(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, perms: Int = 64, bands: Int = 16): DataFrame = {
    val sigs = signatures(df, textCol, idCol, shingleN, perms, bands)
    val a = sigs.select(col("band"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("band"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    // dedup candidate pairs BEFORE scoring: a pair can collide in up to
    // `bands` buckets, and the signature-agreement scan is the expensive
    // part — score each unique pair once, not once per collision.
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        round(sigAgreement(col("sig_a"), col("sig_b"))
          .cast("double") / perms.toDouble, 6).as("est_jaccard"))
  }

  /** Candidate (id_a, id_b) pairs only — no signature payload carried
    * through the distinct shuffle and no agreement scan; the cheap input
    * for pipelines that verify candidates exactly ([[nearDupPipeline]]).
    */
  def minHashLshCandidates(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, perms: Int = 64, bands: Int = 16): DataFrame = {
    val sigs = signatures(df, textCol, idCol, shingleN, perms, bands)
    val a = sigs.select(col("band"), col("key"), col("id").as("id_a"))
    val b = sigs.select(col("band"), col("key"), col("id").as("id_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  private def signatures(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, perms: Int, bands: Int): DataFrame = {
    require(bands > 0 && bands <= perms && perms % bands == 0,
      s"bands must divide perms with rows >= 1 (got perms=$perms bands=$bands): " +
        "rows = 0 would put every document in one bucket — the all-pairs blowup")
    val rows = perms / bands
    df.select(
      col(idCol).as("id"),
      minHashFromText(col(textCol), shingleN, perms).as("sig"))
      // null-text docs have no signature; without this filter they'd all
      // share the constant empty-slice band key — an all-pairs blowup of
      // exactly the kind banding exists to prevent
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig"), explode(lshBands(col("sig"), bands, rows)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** SimHash near-duplicate pairs: 64-bit signature, bucket by the 4 16-bit
    * quarters. Pigeonhole: a pair differing in ≤ 3 bits cannot touch all 4
    * quarters, so it shares at least one exact quarter — hence candidate
    * generation is complete only for `maxHamming` ≤ 3 (enforced; d = 4 can
    * spread one flipped bit per quarter and would be silently missed).
    * Verify Hamming inside buckets.
    */
  def simHashPairs(
      df: DataFrame, textCol: String, idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-quarter bucketing is only complete for maxHamming <= 3, got $maxHamming " +
        "(use more/smaller bands for larger radii)")
    val sigs = df.select(col(idCol).as("id"), simHashFromText(col(textCol)).as("sig"))
    val quarters = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"), shiftright(col("sig"), q * 16).bitwiseAND(0xFFFFL).as("qv"))): _*)).as("b"))
      .select(col("id"), col("sig"), col("b.q").as("q"), col("b.qv").as("qv"))
    val a = quarters.select(col("q"), col("qv"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = quarters.select(col("q"), col("qv"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("q", "qv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sig_a"), col("sig_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact word-set Jaccard of two token-set columns, rounded to 6 dp (the
    * single definition both the all-pairs and LSH-verified paths — and the
    * DuckDB oracle — depend on). Two EMPTY sets are defined as identical
    * (1.0) rather than 0/0 = NaN, which Spark would sort/compare above
    * every real similarity.
    */
  private def jaccardOf(toksA: org.apache.spark.sql.Column, toksB: org.apache.spark.sql.Column) = {
    val inter = size(array_intersect(toksA, toksB))
    val union = size(toksA) + size(toksB) - inter
    when(union === 0, 1.0).otherwise(round(inter.cast("double") / union, 6))
  }

  /** Exact n-gram (word) Jaccard similarity for candidate pairs within a
    * blocking key (here: all pairs of the filtered input — callers bound the
    * input; used as the verify stage after LSH, or standalone on small sets).
    * Output: (doc_a, doc_b, jaccard) for pairs ≥ `threshold`.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String, threshold: Double): DataFrame =
    jaccardOverPairs(
      df.select(col(idCol).as("id"), tokenSet(col(textCol)).as("toks")), threshold)

  /** Shared verify scaffold: all (doc_a < doc_b) pairs of an (id, toks)
    * frame scored with [[jaccardOf]] and thresholded. The crossJoin is the
    * caller-bounded verify stage by contract.
    */
  private def jaccardOverPairs(t: DataFrame, threshold: Double): DataFrame = {
    val a = t.select(col("id").as("doc_a"), col("toks").as("toks_a"))
    val b = t.select(col("id").as("doc_b"), col("toks").as("toks_b"))
    a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", jaccardOf(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact character-n-gram Jaccard for candidate pairs — [[jaccardPairs]]
    * with the fused one-pass gram extractor
    * ([[graft.functions.TextFunctions.charNgramSetFast]]) as the document
    * representation (robust to whitespace/concatenation noise where word
    * sets are not). Downstream only takes intersect/union SIZES, so the
    * fast form's set parity (cross-checked in TextFunctionsSpec) is the
    * whole contract. Same caller-bounds-the-input contract as jaccardPairs:
    * this IS the verify stage; banding/LSH bounds candidates upstream.
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double): DataFrame =
    jaccardOverPairs(
      df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.charNgramSetFast(col(textCol), n).as("toks")),
      threshold)

  /** Brute-force word-n-gram Jaccard over ALL pairs — the verify-stage
    * twin of [[ngramJaccardPairs]] on word shingles, and the spec-side
    * reference [[setSimilarityJoin]]'s losslessness is checked against.
    * Caller-bounded-input contract like every [[jaccardOverPairs]] user.
    */
  def ngramWordJaccardBrute(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double): DataFrame =
    jaccardOverPairs(
      df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.wordShingleSetFast(col(textCol), n).as("toks"))
        .filter(size(col("toks")) > 0),
      threshold)

  /** EXACT-threshold set-similarity self-join WITHOUT a caller-bounded
    * candidate set — the prefix-filtering join of Vernica et al. (SIGMOD
    * 2010), the lossless alternative to [[jaccardPairs]]'s verify-stage
    * contract and to [[minHashLsh]]'s probabilistic recall: every pair
    * with word-`n`-gram Jaccard ≥ `threshold` is returned, with no
    * all-pairs stage anywhere.
    *
    * Why it is complete: order all shingles by global rarity (document
    * frequency asc, shingle asc — a strict total order). If
    * J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so A cannot fit its whole
    * intersection outside its first |A| − ⌈t·|A|⌉ + 1 shingles — hence two
    * qualifying sets MUST share at least one PREFIX shingle, and an
    * equi-join on prefix shingles finds every qualifying pair. The prefix
    * here is one longer (⌊t·n⌋ instead of ⌈t·n⌉) so float rounding of t·n
    * can only ADD a candidate, never lose one.
    *
    * Scale shape: one df agg, one rarity join (AQE-planned), one per-doc
    * sort of its own shingles, then an equi self-join on prefix shingles —
    * candidates are bounded by the bucket sizes of the RAREST ~(1−t)
    * fraction of each doc's shingles, exactly the tokens with the smallest
    * buckets. Verify joins candidate ids back to the (id, set) frame and
    * scores [[jaccardOf]]. Output: (doc_a, doc_b, jaccard ≥ threshold).
    */
  def setSimilarityJoin(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame =
    setSimilarityJoinOnSets(shingleSets(df, textCol, idCol, n), threshold)

  /** [[setSimilarityJoin]] on CHARACTER n-gram sets
    * ([[graft.functions.TextFunctions.charNgramSetFast]]) — the
    * representation robust to whitespace/concatenation noise, and the one
    * where template-level similarity (shared boilerplate) shows up at
    * moderate thresholds. Same lossless prefix-filter machinery.
    */
  def charSetSimilarityJoin(df: DataFrame, textCol: String, idCol: String,
      n: Int = 4, threshold: Double = 0.4): DataFrame =
    setSimilarityJoinOnSets(
      df.select(col(idCol).as("id"),
          graft.functions.TextFunctions.charNgramSetFast(col(textCol), n).as("toks"))
        .filter(size(col("toks")) > 0),
      threshold, metricName = "setsim_candidates_char")

  /** The representation-agnostic core of [[setSimilarityJoin]]: candidates
    * ([[setSimCandidatesOnSets]]) verified by exact Jaccard over the same
    * `sets` frame ((id, toks), toks non-empty).
    */
  def setSimilarityJoinOnSets(sets: DataFrame, threshold: Double,
      metricName: String = "setsim_candidates"): DataFrame = {
    val cands = setSimCandidatesOnSets(sets, threshold)
      // fanout visibility (VERDICT r6): the candidate count is THE number
      // that decides whether this join survives a skewed corpus — surface
      // it as an observed metric every execution reports (readable via
      // QueryExecutionListener; PlanRegressionSpec bounds it at two SFs).
      // `metricName` must be unique per plan: a query combining the word-
      // and char-gram joins (ext95) would otherwise register the same
      // observation twice, which Spark rejects.
      .observe(metricName, count(lit(1)).as("n_candidates"))
    cands
      .join(sets.select(col("id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(sets.select(col("id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .withColumn("jaccard", jaccardOf(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The (id, word-n-gram set) frame both stages of [[setSimilarityJoin]]
    * derive from. */
  private def shingleSets(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.wordShingleSetFast(col(textCol), n).as("toks"))
      .filter(size(col("toks")) > 0)

  /** The LOSSLESS candidate stage of [[setSimilarityJoin]] (prefix filter +
    * size band), public so audits can count/bound the candidate fanout
    * without paying the verify stage. Output: (doc_a, doc_b) candidate ids,
    * a superset of every pair with Jaccard ≥ `threshold`.
    */
  def setSimCandidates(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame =
    setSimCandidatesOnSets(shingleSets(df, textCol, idCol, n), threshold)

  /** [[setSimCandidates]] over a prepared (id, toks) frame. */
  def setSimCandidatesOnSets(sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val tok = sets.select(col("id"), explode(col("toks")).as("t"))
    val rarity = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val prefixes = tok.join(rarity, "t")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("ord"))
      // prefix sized against t − 5e-7, not t: the OUTPUT filter accepts
      // 6-dp-ROUNDED jaccard ≥ t, which admits true similarity down to
      // t − 5e-7 — the prefix must cover that sliver or a round-up pair
      // could be missed (plus ⌊·⌋ instead of ⌈·⌉ so float noise in t·n
      // only ever lengthens the prefix)
      .select(col("id"), size(col("ord")).as("n"), explode(slice(col("ord"), lit(1),
        (size(col("ord")) - floor(size(col("ord")) * (threshold - 5e-7)) + 1)
          .cast("int"))).as("p"))
      .select(col("id"), col("n"), col("p.t").as("t"))
    // the size band is the second lossless prune (J ≥ t ⇒ t·|A| ≤ |B| ≤
    // |A|/t, slackened like the prefix): it kills the candidates a token
    // that is rare globally but common in one size class would otherwise
    // emit, BEFORE the distinct shuffle carries them
    val tSlack = threshold - 5e-7
    prefixes.select(col("t"), col("id").as("doc_a"), col("n").as("n_a"))
      .join(prefixes.select(col("t"), col("id").as("doc_b"), col("n").as("n_b")), Seq("t"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("n_b") >= col("n_a") * tSlack && col("n_a") >= col("n_b") * tSlack)
      .select("doc_a", "doc_b").distinct()
  }

  /** The composed production near-dedup pipeline: MinHash-LSH generates
    * candidate pairs (bounded by band-bucket occupancy), then exact word-set
    * Jaccard verifies each candidate once — the 100 TB shape where the
    * all-pairs O(n²) never materializes. Returns verified pairs
    * (doc_a, doc_b, jaccard ≥ threshold).
    */
  def nearDupPipeline(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      shingleN: Int = 3, perms: Int = 64, bands: Int = 16): DataFrame = {
    val candidates = minHashLshCandidates(df, textCol, idCol, shingleN, perms, bands)
    val toks = df.select(col(idCol).as("__id"), tokenSet(col(textCol)).as("__toks"))
    candidates
      .join(toks.withColumnRenamed("__id", "id_a").withColumnRenamed("__toks", "toks_a"), "id_a")
      .join(toks.withColumnRenamed("__id", "id_b").withColumnRenamed("__toks", "toks_b"), "id_b")
      .withColumn("jaccard", jaccardOf(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
  }

  /** Target directed-edge rows per shuffle partition for the BSP rounds
    * (`ScaleScope.forRows`) — ~1M rows of two ids is tens of MB, inside
    * the guide §2.2 window. At the catalog's 32 partitions a 10k-edge dup
    * graph paid 2-4 s per call in dozens of 8-row tasks per round. */
  private val EdgeRowsPerPartition = 1L << 20

  /** Transitive closure of near-dup PAIRS into CLUSTERS — the step that
    * turns pairwise candidates into per-document keep/drop decisions
    * (pairs alone can't: a≈b and b≈c must collapse to one survivor even
    * when a≉c directly). Min-label propagation with POINTER JUMPING (BSP
    * connected components): every node starts as its own label; each round
    * takes (a) the min over its neighbors' labels, then (b) the label OF
    * its label (path halving — `lbl` always names a node in the same
    * component, so chasing it one hop stays inside the component while
    * collapsing label chains exponentially). Converged when a round changes
    * nothing — reached in O(log diameter) rounds instead of plain
    * propagation's O(diameter), which matters twice: long chain-shaped
    * dup components (crawl mirrors) stop costing a round per hop, and each
    * saved round saves a full shuffle cycle.
    *
    * Scale design: two equi-joins + one min-aggregate per round, fully
    * distributed; `localCheckpoint` truncates the otherwise-growing plan
    * lineage each round (swap for `checkpoint` on a reliability-critical
    * cluster). Superseded checkpoint blocks are released by Spark's
    * ContextCleaner once the previous round's Dataset is unreachable —
    * `unpersist()` would be a no-op here (checkpoint RDD blocks are not
    * registered with the cache manager). Convergence is detected by
    * comparing exact decimal label sums between rounds (labels only ever
    * decrease, so the sum strictly decreases iff any label changed) — one
    * O(1)-output aggregate per round, no extra join, and the previous
    * round's sum is reused rather than recomputed. The loop count is
    * log-diameter-bounded, not data-bounded, which is the adjudicated
    * exception to "no driver-side loops". Throws if `maxIters` rounds
    * don't converge rather than returning silently-partial clusters.
    * The rounds run in `ScaleScope.forRows` over the directed edge count
    * ([[EdgeRowsPerPartition]]); the result is bound to the caller's
    * session.
    *
    * Input: a (doc_a, doc_b) pair frame (extra columns ignored). Output:
    * (doc_id, cluster_id) for every document appearing in a pair, with
    * cluster_id = the component's minimum doc id.
    */
  def clusterPairs(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val s0 = pairs.sparkSession
    // Checkpoint the (doc_a, doc_b) projection FIRST and count the
    // checkpoint: the raw pair plan (MinHash/banded joins — among the most
    // expensive in the repo) then executes exactly ONCE, however many
    // times the e-union below references it.
    val p0 = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint(false)
    val pIn = graft.ScaleScope.bind(
      graft.ScaleScope.forRows(s0, 2 * p0.count(), EdgeRowsPerPartition), p0)
    // pre-partition the (persisted) edge frame on its per-round join key —
    // the cached InMemoryRelation then carries hash(dst) partitioning into
    // EVERY round's neighbor join, so only the label frame reshuffles per
    // round (the Centrality r9 discipline; the edge side is the larger one
    // on any real dup graph)
    val e = pIn.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pIn.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().repartition(col("dst")).persist()
    // SUM over an empty frame is NULL — coalesce so a pair-free input (a
    // clean delivery in the incremental path) converges to an empty label
    // frame instead of NPE-ing on the convergence compare
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    // LAZY localCheckpoint: the lblSum convergence probe is then the single
    // action that both materializes the round's checkpoint and reads the
    // probe — one job per round instead of two (each saved action is a
    // cluster round-trip at 100 TB)
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint(false)
    var prevSum = lblSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = e.join(labels, col("dst") === col("node"))
        .groupBy("src").agg(min("lbl").as("nlbl"))
        .withColumnRenamed("src", "node")
      val prop = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jump: lbl := min(lbl, lbl's own new label) — path halving
      val next = prop
        .join(prop.select(col("node").as("lbl"), col("lbl").as("__jl")), Seq("lbl"), "left")
        .select(col("node"), least(col("lbl"), coalesce(col("__jl"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
      val nextSum = lblSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      it += 1
    }
    e.unpersist()
    require(converged,
      s"clusterPairs did not converge in $maxIters rounds — component diameter exceeds 2^maxIters")
    // `labels` is checkpoint-backed, so binding back to the caller reads
    // materialized blocks
    graft.ScaleScope.bind(s0,
      labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id")))
  }

  /** Embedding-cosine near-duplicate pairs, blocked by `blockCol` (e.g. a
    * cluster label or an LSH bucket from
    * [[graft.functions.VectorFunctions.hyperplaneBucket]]): pairwise cosine
    * only within blocks.
    */
  def embeddingNearDup(
      df: DataFrame, vecCol: String, idCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    // norm once per vector (2k sqrts), not once per pair (200k): the join
    // then does a single dot product per candidate pair.
    val v = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        VectorFunctions.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorFunctions.norm2(col("v")))
      .filter(col("nrm") > 0) // cosine undefined for zero vectors
    val a = v.select(col("blk"), col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = v.select(col("blk"), col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.cosinePrenormed(
        VectorFunctions.dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Edit-distance near-dup pairs — the character-level fuzzy-dedup verify
    * stage (catches OCR noise and small in-place edits that token-set
    * Jaccard under-weights). The length band (|len_a − len_b| ≤ maxDist is
    * a true lower bound of edit distance, so it never drops a qualifying
    * pair) is expressed as an EQUI key, not a residual: each doc lands in
    * length bucket ⌊len/(maxDist+1)⌋, and because the bucket width exceeds
    * maxDist a qualifying pair's buckets differ by at most 1 — so the left
    * side probes {b−1, b, b+1} (a 3× explode of ids+lengths, not a
    * cartesian) and the join is a plain shuffled equi-join that scales like
    * any other key join. Each qualifying pair matches on exactly one probe
    * value, so no dedup pass is needed. The DP itself stays residual via
    * Spark's thresholded `levenshtein(l, r, maxDist)` (early-exits and
    * returns −1 past the bound). Bucket population — docs of similar
    * length — bounds the candidate blow-up the same way LSH bands do in
    * [[minHashLsh]]. Output: (doc_a, doc_b, dist ≤ maxDist).
    */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val w = maxDist + 1
    val t = df.select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))
      .withColumn("bkt", floor(col("len").cast("long") / w))
    val a = t.select(col("id").as("doc_a"), col("t").as("t_a"),
      col("len").as("len_a"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    val b = t.select(col("bkt"), col("id").as("doc_b"), col("t").as("t_b"),
      col("len").as("len_b"))
    a.join(b, Seq("bkt"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    * k-means cluster the embeddings, then prune near-identical vectors
    * WITHIN each cluster only. The clustering is what makes semantic dedup
    * tractable at corpus scale — candidate pairs exist only inside a
    * cluster, so the pairwise stage is blocked exactly like
    * [[embeddingNearDup]] but with learned blocks instead of labels.
    *
    * Survivor rule (house-standard greedy, deterministic): a vector is
    * DROPPED iff some lower-id vector in its cluster has cosine ≥
    * `threshold` with it; the min id of every duplicate group survives.
    *
    * Returns per-cluster accounting (cluster, n_vecs, n_dropped, n_kept) —
    * k rows. NULL-embedding and zero-norm vectors are EXCLUDED before
    * clustering (cosine is undefined for them — same contract as
    * [[embeddingNearDup]]), so sum(n_vecs) counts only clusterable
    * vectors; reconcile input row count against that sum plus your
    * upstream null/zero audit, not against the input alone.
    * Scale shape: centroids are k rows (broadcast by
    * construction, [[Similarity.kmeansDistributed]] never collects
    * vectors); assignment is map-side; the only data shuffles are the
    * cluster-keyed pair join and the final k-row aggregate.
    */
  def semDedup(
      df: DataFrame, vecCol: String, idCol: String, k: Int,
      threshold: Double, iters: Int = 3, seed: Long = 42L): DataFrame =
    semDedupFromAssignments(
      semDedupAssignments(df, vecCol, idCol, k, iters, seed), threshold)

  /** The cluster-assignment half of [[semDedup]] — the one engine-specific
    * step (iterative float k-means): (id, v, nrm, cluster), localCheckpoint'd
    * since it feeds both pair-join sides and the accounting join. Exposed
    * as the oracle-aux seam: ext54 exports (id, cluster) and DuckDB
    * replays everything downstream ([[semDedupFromAssignments]] — the
    * within-cluster cosine pruning and the rollup) off it. */
  def semDedupAssignments(
      df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int = 3, seed: Long = 42L): DataFrame = {
    val (cents, _) = Similarity.kmeansCentroids(df, idCol, vecCol, k, iters, seed)
    // map-side argmin against the driver-held k×dim matrix (same tie rule
    // as training: lowest cluster id wins) — assignment costs ZERO
    // shuffles at any corpus size
    val assignUdf = udf((vv: Seq[Double]) => {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var s = 0.0; var i = 0
        while (i < cents(c).length) { val d = cents(c)(i) - vv(i); s += d * d; i += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    })
    // localCheckpoint: the assignment frame feeds BOTH pair-join sides and
    // the final accounting join — one materialization instead of three
    // scan+assign passes. Same discipline as the Lloyd's loop's cache.
    df
      .filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull))
      .select(col(idCol).as("id"), VectorFunctions.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorFunctions.norm2(col("v")))
      .filter(col("nrm") > 0)
      .withColumn("cluster", assignUdf(col("v")))
      .localCheckpoint()
  }

  /** [[semDedup]] downstream of an already-built [[semDedupAssignments]]
    * frame: within-cluster 6-dp-rounded cosine pruning (drop the higher
    * id of every qualifying pair) + the per-cluster rollup. */
  def semDedupFromAssignments(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosinePrenormed(
        VectorFunctions.dot(col("v_a"), col("v_b")),
        col("n_a"), col("n_b")) >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("is_dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("cluster").cast("long").as("cluster"), col("n_vecs"),
        col("n_dropped"), (col("n_vecs") - col("n_dropped")).as("n_kept"))
  }
}
