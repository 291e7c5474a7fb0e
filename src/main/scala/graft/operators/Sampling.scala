package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Both variants key the randomness on a HASH of the row id, not on RNG
  * state: the same input always yields the same sample (re-runs, retries
  * and the DuckDB oracle all agree), and adding/removing other rows never
  * flips an unrelated row's membership (hash sampling is per-row stable,
  * unlike reservoir/rand()-ordered schemes).
  */
object Sampling {

  /** md5-derived uniform bucket in [0, `buckets`) for a key column — the
    * shared randomness of the sampling variants and of
    * [[Packing.shardReport]]'s shard assignment (and portable to any engine
    * that has md5 — the oracle mirrors the same hex arithmetic).
    */
  def hashBucket(key: Column, buckets: Int): Column = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    (conv(substring(md5(key.cast("string")), 1, 6), 16, 10).cast("long") % buckets)
  }

  /** [[hashBucket]] with the percentage modulus both samplers use. */
  def hashBucket(key: Column): Column = hashBucket(key, 100)

  /** Percent of docs [[leakageFreeSplit]] puts in the test split. */
  private[graft] val TestPct = 10

  /** Train/test split with near-duplicate LEAKAGE exclusion — the split a
    * hash bucket alone gets wrong: a train doc that is a near-dup of a
    * test doc leaks the test set into training (memorization reads as
    * generalization). Split deterministically by [[hashBucket]], find
    * every cross-split near-dup pair with the LOSSLESS
    * [[Dedup.setSimilarityJoin]] (no all-pairs stage, so the guard runs
    * at corpus scale), and re-label the train side of each leak as
    * `dropped_leak`. Test docs always keep their label (the eval set is
    * sacred; training data is what yields). Output: (doc_id, split ∈
    * test | train | dropped_leak).
    *
    * Exclusion SEMANTICS: by default only train docs DIRECTLY paired with
    * a test doc are dropped — a train doc chained to test content through
    * an intermediate near-dup (A~B~test with A≁test) keeps its label.
    * `transitive = true` closes that hole: pairs are clustered
    * ([[Dedup.clusterPairs]]) and every train doc sharing a COMPONENT
    * with a test doc is dropped. Direct-pair is the cheaper guard for
    * threshold-sharp dedup (one join, no BSP rounds); transitive is the
    * audit-grade guard when chains of ≥ t-similar docs are plausible.
    *
    * `precomputedPairs`: the (doc_a, doc_b) pair table when the caller
    * already materialized it (see [[graft.operators.MaterializedPairs]]) —
    * the production shape where one pairs job feeds dedup AND the split.
    */
  def leakageFreeSplit(docs: DataFrame, textCol: String, idCol: String,
      simThreshold: Double = 0.8, transitive: Boolean = false,
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val labeled = docs.select(col(idCol).as("doc_id"),
      when(hashBucket(col(idCol)) < TestPct, lit("test"))
        .otherwise(lit("train")).as("split0"))
    val pairs = precomputedPairs
      .getOrElse(Dedup.setSimilarityJoin(docs, textCol, idCol, threshold = simThreshold))
      .select("doc_a", "doc_b")
    val testIds = labeled.filter(col("split0") === "test")
      .select(col("doc_id").as("tid"))
    val leaked =
      if (transitive) {
        // any train doc in a connected component that contains a test doc
        val clusters = Dedup.clusterPairs(pairs)
        val testClusters = clusters.join(testIds, col("doc_id") === col("tid"))
          .select(col("cluster_id")).distinct()
        clusters.join(testClusters, Seq("cluster_id"))
          .select(col("doc_id")).distinct()
          .withColumn("leak", lit(true))
      } else {
        pairs.join(testIds, pairs("doc_a") === testIds("tid"))
          .select(col("doc_b").as("doc_id"))
          .union(pairs.join(testIds, pairs("doc_b") === testIds("tid"))
            .select(col("doc_a").as("doc_id")))
          .distinct()
          .withColumn("leak", lit(true))
      }
    labeled.join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("split0") === "train" && col("leak"), lit("dropped_leak"))
          .otherwise(col("split0")).as("split"))
  }

  /** Bernoulli-style hash sample: keep rows whose bucket < pct. Map-side
    * only — no shuffle, the 100 TB default for "give me ~20% of the
    * corpus". Rows with a NULL id are dropped (their bucket is NULL, which
    * never satisfies the filter) — sample on a non-null key.
    */
  def hashSample(df: DataFrame, idCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    df.filter(hashBucket(col(idCol)) < pct)
  }

  /** WEIGHTED sample without replacement, k rows per stratum
    * (Efraimidis–Spirakis A-Res, 2006): row i is selected iff its key
    * u_i^(1/w_i) ranks in the stratum's top k, with u_i a deterministic
    * md5-derived uniform — the weighted counterpart of [[stratifiedExact]]
    * ("sample documents proportional to length/quality, reproducibly").
    * Hash-keyed determinism keeps every property the uniform samplers
    * have: re-runs agree, the oracle agrees, and membership is per-row
    * stable. The comparison uses ln(u)/w (monotone in u^(1/w)) computed
    * from exact integers — and because selection is COMPARE-based, not
    * sum-based, there is no float-accumulation ordering to diverge on;
    * ties (astronomically unlikely) break on the id. Weights must be
    * strictly positive — enforced at execution inside the key expression.
    *
    * Scale shape: one window shuffle on the stratum key with a partial
    * per-partition top-k (WindowGroupLimit), per-stratum state is a
    * counter — [[tokenBudget]]'s contract with a weighted dial.
    */
  def weightedSample(df: DataFrame, strataCol: String, weightCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 0, s"weightedSample: k must be >= 0, got $k")
    // 13 hex digits = 52 bits: exactly representable in a double, so
    // u ∈ (0, 1] is identical on every engine that has md5
    val guardedW = when(col(weightCol).isNotNull && col(weightCol) > 0,
        col(weightCol).cast("double"))
      .otherwise(raise_error(concat(
        lit(s"weightedSample: $weightCol must be non-null and > 0, got "),
        coalesce(col(weightCol).cast("string"), lit("NULL")))).cast("double"))
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("double") + 1.0) / math.pow(16, 13)
    val key = log(u) / guardedW
    Seq("__wkey", "__rn").foreach { c =>
      require(!df.columns.contains(c),
        s"weightedSample uses temp column $c; input already has a column named $c")
    }
    val w = Window.partitionBy(strataCol).orderBy(col("__wkey").desc, col(idCol))
    df.withColumn("__wkey", key)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__wkey", "__rn")
  }

  /** EXACT stratified sample: ceil(fraction·|stratum|) rows per stratum,
    * chosen deterministically by hash order (tie-broken by id). One
    * window shuffle on the stratum key; per-stratum state is a counter, so
    * this scales to any stratum size — use [[hashSample]] when approximate
    * per-stratum rates are acceptable and the shuffle isn't.
    */
  def stratifiedExact(
      df: DataFrame, strataCol: String, idCol: String, fraction: Double): DataFrame =
    keepTopRanked(df, strataCol,
      Seq(md5(col(idCol).cast("string")), col(idCol)), fraction)

  /** Quality-percentile gate: keep the top ceil(fraction·|stratum|) rows of
    * each stratum by `scoreCol` DESCENDING — "keep the best X% per source",
    * the standard corpus-pruning step after quality scoring. Deterministic:
    * NULL scores sort last (explicitly, since engines disagree on default
    * NULL order under DESC) and ties break on ascending `idCol`, so the
    * kept set is oracle-checkable and stable under re-runs. Same scale
    * shape as [[stratifiedExact]]: one window shuffle on the stratum key,
    * per-stratum state is a counter — at 100 TB the stratum key just gets
    * more granular (source × shard).
    */
  def topFractionBy(
      df: DataFrame, strataCol: String, scoreCol: String, idCol: String,
      fraction: Double): DataFrame =
    keepTopRanked(df, strataCol,
      Seq(col(scoreCol).desc_nulls_last, col(idCol)), fraction)

  /** TOKEN-BUDGET selection: per stratum, take documents in deterministic
    * md5-of-id order while the RUNNING weight total (tokens, bytes, …)
    * stays within `budget` — "give me a 1B-token sample of each source",
    * the last step before a training mix is materialized. Inclusive
    * greedy: a row is kept iff the cumulative weight up to and including
    * it is ≤ budget, so an oversized first document is dropped rather
    * than blowing the budget. One window shuffle on the stratum key; the
    * running sum is per-partition state, nothing global. Output keeps the
    * cumulative weight (`cum_weight`) so downstream can audit fill level.
    */
  def tokenBudget(df: DataFrame, strataCol: String, weightCol: String,
      idCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(!df.columns.contains("cum_weight"),
      "tokenBudget emits cum_weight; input already has a column named cum_weight")
    // the prefix contract only holds for non-negative weights (a negative
    // weight makes the running sum non-monotone and re-qualifies later
    // rows; a NULL is skipped by sum and rides for free) — enforce at
    // execution, inside the summed expression so pruning can't drop it
    val guarded = when(col(weightCol).isNotNull && col(weightCol) >= 0, col(weightCol))
      .otherwise(raise_error(concat(
        lit(s"tokenBudget: $weightCol must be non-null and >= 0, got "),
        coalesce(col(weightCol).cast("string"), lit("NULL"))))
        .cast(df.schema(weightCol).dataType))
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_weight", sum(guarded).over(w))
      .filter(col("cum_weight") <= budget)
  }

  /** Shared scaffold of the exact per-stratum keepers: rank within each
    * stratum by `order`, keep rank ≤ ceil(fraction·|stratum|). Both windows
    * share one stratum shuffle (plan-guarded via ext27).
    */
  private def keepTopRanked(
      df: DataFrame, strataCol: String, order: Seq[Column],
      fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1], got $fraction")
    // withColumn silently REPLACES same-named input columns — a caller whose
    // frame already has __rn/__n would lose them from the output
    Seq("__rn", "__n").foreach { c =>
      require(!df.columns.contains(c),
        s"exact per-stratum selection uses temp column $c; input already has a column named $c")
    }
    val w = Window.partitionBy(strataCol).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(strataCol)))
      .filter(col("__rn") <= ceil(col("__n") * fraction))
      .drop("__rn", "__n")
  }
}
