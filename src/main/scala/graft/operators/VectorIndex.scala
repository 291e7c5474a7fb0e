package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity.PqModel

/** Persisted IVF-PQ index lifecycle — the production contract
  * [[Similarity.ivfPqTopK]]'s one-shot form doesn't give you: build the
  * index ONCE (train + encode + write), answer queries MANY times without
  * retraining or re-encoding the corpus.
  *
  * On-disk layout under `dir`:
  *   - `codes/` — the (neighbor_id, cn, list, codes) rows, PARTITIONED BY
  *     list: the inverted-file structure materialized as directory layout,
  *     so a probe of p lists is eligible to read p/nLists of the index
  *     (partition pruning / DPP on the list join), the disk analog of
  *     "only probed lists are scanned".
  *   - `model/` — the trained quantizer as ONE parquet row (dim, m, ksub,
  *     coarse, codebooks): parquet instead of a sidecar format so reload
  *     needs no parser and the schema is self-describing.
  *
  * Determinism: training is seeded and driver-side, so build → search
  * equals the one-shot [[Similarity.ivfPqTopK]] bit-for-bit under the same
  * parameters (spec-pinned in VectorIndexSpec).
  */
object VectorIndex {

  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nLists: Int = 16, m: Int = 8, ksub: Int = 16,
      sampleSize: Int = 2048, seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    val model = Similarity.trainPq(
      Similarity.sampleVectors(corpus, idCol, vecCol, sampleSize, seed), nLists, m, ksub)
    Similarity.encodePqIndex(corpus, idCol, vecCol, model)
      .write.mode("overwrite").partitionBy("list").parquet(s"$dir/codes")
    spark.createDataFrame(Seq((
        model.dim, model.m, model.ksub,
        model.coarse.map(_.toSeq).toSeq,
        model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)))
      .toDF("dim", "m", "ksub", "coarse", "codebooks")
      .write.mode("overwrite").parquet(s"$dir/model")
    // build-time distribution reference for retrainIfDrifted, one tiny
    // parquet with TWO dials (r11 verdict #3): ext90's sign-octant
    // buckets of the BUILD corpus (quantizer-free, ≤ 8 rows), plus the
    // coarse-LIST occupancy under the just-trained quantizer (≤ nLists
    // rows) — read back from the codes just written, so the reference is
    // exactly what the index holds, with no second assignment pass.
    // Octants are blind to sign-preserving drift (uniform scale, rotation
    // beyond dims 1–3); list occupancy is not — and vice versa for drift
    // that moves signs without crossing list boundaries. Either firing
    // triggers the rebuild.
    octantCounts(corpus, vecCol).withColumn("dial", lit(DialOctant))
      .unionByName(
        spark.read.parquet(s"$dir/codes")
          .groupBy(col("list").cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"))
          .withColumn("dial", lit(DialList)))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  private val DialOctant = "octant"
  private val DialList = "list"

  /** ext90's sign-octant bucket over the first three dims of `vecCol` —
    * the deterministic, quantizer-free drift key shared by
    * [[octantCounts]] (build-time reference) and the one-pass
    * [[graft.operators.Similarity.driftHistograms]] (trigger-time
    * current), so the two sides can never drift apart. */
  private def octantBucket(vecCol: String) =
    (when(element_at(col(vecCol), 1) > 0, 4).otherwise(0) +
      when(element_at(col(vecCol), 2) > 0, 2).otherwise(0) +
      when(element_at(col(vecCol), 3) > 0, 1).otherwise(0))
      .cast("long")

  /** Sign-octant histogram over the first three dims — ext90's
    * deterministic, quantizer-free drift buckets (≤ 8 rows whatever the
    * corpus size): the distribution fingerprint [[buildIvfPq]] stores
    * and [[retrainIfDrifted]] compares against. */
  private def octantCounts(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(octantBucket(vecCol).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  /** ext90's PSI arithmetic (Laplace +1 over the union of buckets),
    * driver-side over the two ≤8-entry histograms. */
  private def psiOf(ref: Map[Long, Long], cur: Map[Long, Long]): Double = {
    val buckets = (ref.keySet ++ cur.keySet).toSeq.sorted
    val n = buckets.size
    val tRef = ref.values.sum
    val tCur = cur.values.sum
    buckets.map { b =>
      val p = (ref.getOrElse(b, 0L) + 1).toDouble / (tRef + n)
      val q = (cur.getOrElse(b, 0L) + 1).toDouble / (tCur + n)
      (p - q) * math.log(p / q)
    }.sum
  }

  /** The retrain trigger wired to the drift dials:
    * ext88 measures that recall DECAYS after the corpus mutates under a
    * stale quantizer; ext75/ext90 measure the drift that predicts it;
    * this closes the loop. TWO dials, each a bounded histogram compared
    * with ext90's exact PSI arithmetic against its stored build-time
    * reference (`stats/`), retrain when EITHER crosses `threshold`
    * (returned psi = the max):
    *
    *  - sign-OCTANT buckets over dims 1–3 (quantizer-free; sees mean
    *    shifts that flip signs);
    *  - coarse-LIST occupancy — the current corpus assigned to the
    *    STORED centroids (one map-side pass, ≤ nLists
    *    rows) — which sees the sign-PRESERVING drift octants cannot
    *    (uniform scale-up, rotation in higher dims): assignments move
    *    off the stale centroids exactly when the partition the index
    *    relies on stops matching the data, which is the recall-decay
    *    mechanism ext88 measures.
    *
    * When a dial fires, the quantizer is rebuilt
    * from the current corpus into a dot-prefixed staging dir (invisible
    * to readers of `codes/`) and published by directory renames —
    * codes, model and stats swap together, so a search never pairs new
    * codes with an old model. Below threshold NOTHING is touched
    * (spec-pinned byte-identical). Returns (psi, retrained).
    *
    * Failure contract: re-runnable, not atomic — but never
    * generation-mixing. A `.swap_pending` marker is created
    * only once staging is FULLY built and removed only after the last
    * rename, so the next call sees the marker and completes the swap AS
    * A UNIT before the stats read: every still-staged subdir is
    * published (already-published ones have no staged copy left and are
    * skipped). Healing per-subdir on "target missing" alone would be
    * wrong twice over — a crash mid-heal could strand NEW codes under
    * the OLD model and then report healthy, and the stats read could
    * wedge on a missing dir. The trigger can neither wedge itself nor
    * serve a mixed generation. Swap in the writer's exclusive window. */
  def retrainIfDrifted(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nLists: Int = 16, m: Int = 8, ksub: Int = 16,
      sampleSize: Int = 2048, seed: Long = 42L): (Double, Boolean) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val staging = s"$dir/.retrain_staging"
    val marker = new org.apache.hadoop.fs.Path(s"$dir/.swap_pending")
    val subs = Seq("codes", "model", "stats")
    if (fs.exists(marker)) {
      subs.foreach { sub =>
        val staged = new org.apache.hadoop.fs.Path(s"$staging/$sub")
        if (fs.exists(staged))
          graft.util.AtomicPublish.replaceDir(fs, staged,
            new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true): Unit
      fs.delete(marker, false): Unit
    }
    val statsDf = spark.read.parquet(s"$dir/stats")
    def toHist(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n")).toMap
    require(statsDf.columns.contains("dial"),
      s"$dir/stats has no `dial` column — not a stats file buildIvfPq writes")
    val refByDial: Map[String, Map[Long, Long]] =
      statsDf.collect().groupBy(_.getAs[String]("dial"))
        .view.mapValues(toHist).toMap
    // ONE corpus pass feeds BOTH dials (pre-r14: an octant job, then a
    // coarseOccupancy job — the full corpus scanned twice per trigger
    // probe; the scan is the trigger's dominant cost at corpus scale).
    // The collect is bounded: ≤ 8 octant + ≤ nLists list rows.
    val curByDial: Map[String, Map[Long, Long]] =
      Similarity.driftHistograms(corpus, vecCol,
          octantBucket(vecCol), DialOctant,
          if (refByDial.contains(DialList)) Some(loadModel(spark, dir))
          else None, DialList)
        .collect().groupBy(_.getAs[String]("dial"))
        .view.mapValues(toHist).toMap
    val psiOct = psiOf(refByDial(DialOctant),
      curByDial.getOrElse(DialOctant, Map.empty))
    val psiList = refByDial.get(DialList).map(refList =>
      psiOf(refList, curByDial.getOrElse(DialList, Map.empty)))
    val psi = math.max(psiOct, psiList.getOrElse(0.0))
    if (psi <= threshold) (psi, false)
    else {
      fs.delete(new org.apache.hadoop.fs.Path(staging), true): Unit
      buildIvfPq(corpus, idCol, vecCol, staging, nLists, m, ksub,
        sampleSize, seed)
      fs.create(marker, true).close() // staging complete — arm the heal
      subs.foreach { sub =>
        graft.util.AtomicPublish.replaceDir(fs,
          new org.apache.hadoop.fs.Path(s"$staging/$sub"),
          new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true): Unit
      fs.delete(marker, false): Unit
      (psi, true)
    }
  }

  def loadModel(spark: SparkSession, dir: String): PqModel = {
    val r = spark.read.parquet(s"$dir/model").head()
    // row arrays come back as mutable.ArraySeq — type against collection.Seq
    PqModel(
      r.getAs[Int]("dim"), r.getAs[Int]("m"), r.getAs[Int]("ksub"),
      r.getAs[collection.Seq[collection.Seq[Double]]]("coarse")
        .map(_.toArray).toArray,
      r.getAs[collection.Seq[collection.Seq[collection.Seq[Double]]]]("codebooks")
        .map(_.map(_.toArray).toArray).toArray)
  }

  /** Incremental index maintenance: encode a NEW delivery under the
    * EXISTING quantizer and append its codes — no retraining, no re-encode
    * of the old corpus (the standard IVF-PQ maintenance contract; the
    * quantizer drifts from the true distribution as data shifts, which is
    * what [[Similarity.classCentroids]]-based drift monitoring is for —
    * rebuild when drift crosses your threshold). Append-mode parquet into
    * the same list= partitions.
    */
  def appendIvfPq(newBatch: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val model = loadModel(newBatch.sparkSession, dir)
    Similarity.encodePqIndex(newBatch, idCol, vecCol, model)
      .write.mode("append").partitionBy("list").parquet(s"$dir/codes")
  }

  /** Index deletion — the remaining CRUD leg (GDPR erasure, retracted
    * documents, dedup-driven pruning): drop `ids` from the codes WITHOUT
    * touching unaffected inverted lists. The codes of the victim ids live
    * in a handful of list= partitions, and only those are rewritten — an
    * anti-join against the tombstones over
    * [[TableCompaction.rewrite]] scoped to the affected list dirs — so a
    * delete of d docs costs O(lists containing them), never a full index
    * rewrite; a list whose every id is tombstoned is removed. The model is
    * untouched (a quantizer does not unlearn; retrain on drift, per
    * [[appendIvfPq]]'s contract).
    *
    * Failure contract: the rewrite's. A crash heals forward at the start
    * of the next delete: a search inside the crash window may see a
    * surviving code twice, or a victim not yet deleted, and never misses
    * a surviving code. Untouched lists' files stay byte-identical. Run in
    * the index writer's exclusive window.
    */
  def deleteIvfPq(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit = {
    val codes = s"$dir/codes"
    // heal first, so the affected lists are read off a settled index
    TableCompaction.healJournal(spark, codes): Unit
    val tombstones = broadcast(ids.select(col(idCol).as("neighbor_id")).distinct())
    // bounded collect: list ids number ≤ nLists by construction
    val affected = spark.read.parquet(codes).join(tombstones, "neighbor_id")
      .select("list").distinct().collect().map(_.getInt(0)).sorted
    if (affected.nonEmpty)
      TableCompaction.rewrite(spark, codes, Seq("list"),
        affected.map(l => s"list=$l").toSeq)(
        _.join(tombstones, Seq("neighbor_id"), "left_anti")): Unit
  }

  /** Search a built index. `corpus` supplies raw vectors for the exact
    * refine stage only (the standard split: the index holds codes, the
    * store holds vectors).
    */
  def searchIvfPq(spark: SparkSession, dir: String,
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 2, refineFactor: Int = 4): DataFrame = {
    val model = loadModel(spark, dir)
    val index = spark.read.parquet(s"$dir/codes")
    Similarity.searchPqIndex(index, corpus, queries, idCol, vecCol,
      model, k, nProbe, refineFactor)
  }
}
