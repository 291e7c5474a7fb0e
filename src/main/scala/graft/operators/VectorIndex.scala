package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity.PqModel
import graft.util.AtomicPublish

/** Persisted IVF-PQ index lifecycle — the production contract
  * [[Similarity.ivfPqTopK]]'s one-shot form doesn't give you: build the
  * index ONCE (train + encode + write), answer queries MANY times without
  * retraining or re-encoding the corpus.
  *
  * On-disk layout under `dir`: versioned generations `gen-N`, and one
  * `_current` file naming the generation readers use. Each generation
  * holds
  *   - `codes/` — the (neighbor_id, cn, list, codes) rows, PARTITIONED BY
  *     list: the inverted-file structure materialized as directory layout,
  *     so a probe of p lists is eligible to read p/nLists of the index
  *     (partition pruning / DPP on the list join), the disk analog of
  *     "only probed lists are scanned".
  *   - `model/` — the trained quantizer as ONE parquet row (dim, m, ksub,
  *     coarse, codebooks): parquet instead of a sidecar format so reload
  *     needs no parser and the schema is self-describing.
  *   - `stats/` — the build-time drift reference [[retrainIfDrifted]]
  *     compares against.
  *
  * Publish: a build ([[buildIvfPq]], and a [[retrainIfDrifted]] that
  * fires) stages all three under a dot-prefixed dir, publishes it as
  * `gen-N` with [[graft.util.AtomicPublish.dirFresh]], then flips
  * `_current` to N with [[graft.util.AtomicPublish.file]] and reclaims
  * every generation except N and the one it replaced — the shape
  * [[FingerprintStore]]'s `compacted-N` bases behind one manifest use.
  * Every reader resolves `_current` ONCE per call ([[currentGen]]), so a
  * search never pairs one generation's codes with another's model, and a
  * search that resolved the previous generation keeps reading real files
  * through the next flip. A crash before the flip leaves the previous
  * generation serving; its orphan `gen-N` or staging dir is reclaimed by
  * the next build. [[appendIvfPq]] and [[deleteIvfPq]] mutate the
  * current generation in place and run in the index writer's exclusive
  * window, as builds do.
  *
  * Upgrade: a directory with no `_current` (the unversioned
  * `codes`/`model`/`stats` layout) fails loudly, naming the directory —
  * rebuild the index with [[buildIvfPq]].
  *
  * Determinism: training is seeded and driver-side, so build → search
  * equals the one-shot [[Similarity.ivfPqTopK]] bit-for-bit under the same
  * parameters (spec-pinned in VectorIndexSpec).
  */
object VectorIndex {

  private val CurrentFile = "_current"
  private val CurrentMagic = "graft-ivfpq-current-v1"
  private val GenPrefix = "gen-"

  private def currentN(conf: Configuration, base: Path): Option[Long] =
    AtomicPublish.readFile(conf, new Path(base, CurrentFile),
      Some(CurrentMagic))(_.readLong())

  /** The current generation's directory — THE resolve every reader
    * makes, once per call (class doc). */
  private[graft] def currentGen(spark: SparkSession, dir: String): String = {
    val n = currentN(spark.sparkContext.hadoopConfiguration, new Path(dir))
      .getOrElse(throw new IllegalStateException(
        s"$dir has no $CurrentFile — not an IVF-PQ index buildIvfPq " +
          "wrote; rebuild it with buildIvfPq"))
    s"$dir/$GenPrefix$n"
  }

  private def generations(fs: FileSystem, base: Path): Seq[Long] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.matches(s"$GenPrefix\\d+"))
      .map(_.stripPrefix(GenPrefix).toLong)

  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nLists: Int = 16, m: Int = 8, ksub: Int = 16,
      sampleSize: Int = 2048, seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val previous = currentN(conf, base)
    // past every generation on disk, so an orphan a crash left before its
    // flip is never reused
    val n = (generations(fs, base) ++ previous).maxOption.fold(0L)(_ + 1)
    val staging = new Path(base, s".$GenPrefix$n")
    fs.delete(staging, true): Unit // a crashed build's leftover
    val model = Similarity.trainPq(
      Similarity.sampleVectors(corpus, idCol, vecCol, sampleSize, seed), nLists, m, ksub)
    Similarity.encodePqIndex(corpus, idCol, vecCol, model)
      .write.partitionBy("list").parquet(s"$staging/codes")
    spark.createDataFrame(Seq((
        model.dim, model.m, model.ksub,
        model.coarse.map(_.toSeq).toSeq,
        model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)))
      .toDF("dim", "m", "ksub", "coarse", "codebooks")
      .write.parquet(s"$staging/model")
    // build-time distribution reference for retrainIfDrifted, one tiny
    // parquet with TWO dials: ext90's sign-octant buckets of the BUILD
    // corpus (quantizer-free, ≤ 8 rows), plus the
    // coarse-LIST occupancy under the just-trained quantizer (≤ nLists
    // rows) — read back from the codes just written, so the reference is
    // exactly what the index holds, with no second assignment pass.
    // Octants are blind to sign-preserving drift (uniform scale, rotation
    // beyond dims 1–3); list occupancy is not — and vice versa for drift
    // that moves signs without crossing list boundaries. Either firing
    // triggers the rebuild.
    octantCounts(corpus, vecCol).withColumn("dial", lit(DialOctant))
      .unionByName(
        spark.read.parquet(s"$staging/codes")
          .groupBy(col("list").cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"))
          .withColumn("dial", lit(DialList)))
      .write.parquet(s"$staging/stats")
    AtomicPublish.dirFresh(fs, staging, new Path(base, s"$GenPrefix$n"))
    AtomicPublish.file(conf, new Path(base, CurrentFile),
      Some(CurrentMagic))(_.writeLong(n))
    generations(fs, base).filterNot(g => g == n || previous.contains(g))
      .foreach(g => fs.delete(new Path(base, s"$GenPrefix$g"), true): Unit)
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
    * When a dial fires, the quantizer is rebuilt from the current corpus
    * as a new generation ([[buildIvfPq]]'s publish: codes, model and
    * stats flip together through `_current`, so a search never pairs new
    * codes with an old model). Below threshold NOTHING is touched
    * (spec-pinned byte-identical). Returns (psi, retrained). Run in the
    * index writer's exclusive window. */
  def retrainIfDrifted(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nLists: Int = 16, m: Int = 8, ksub: Int = 16,
      sampleSize: Int = 2048, seed: Long = 42L): (Double, Boolean) = {
    val gen = currentGen(spark, dir)
    val statsDf = spark.read.parquet(s"$gen/stats")
    def toHist(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n")).toMap
    require(statsDf.columns.contains("dial"),
      s"$gen/stats has no `dial` column — not a stats file buildIvfPq writes")
    val refByDial: Map[String, Map[Long, Long]] =
      statsDf.collect().groupBy(_.getAs[String]("dial"))
        .view.mapValues(toHist).toMap
    // ONE corpus pass feeds BOTH dials — the scan is the trigger's
    // dominant cost at corpus scale. The collect is bounded: ≤ 8 octant
    // + ≤ nLists list rows.
    val curByDial: Map[String, Map[Long, Long]] =
      Similarity.driftHistograms(corpus, vecCol,
          octantBucket(vecCol), DialOctant,
          if (refByDial.contains(DialList)) Some(loadModelAt(spark, gen))
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
      buildIvfPq(corpus, idCol, vecCol, dir, nLists, m, ksub,
        sampleSize, seed)
      (psi, true)
    }
  }

  def loadModel(spark: SparkSession, dir: String): PqModel =
    loadModelAt(spark, currentGen(spark, dir))

  private def loadModelAt(spark: SparkSession, gen: String): PqModel = {
    val r = spark.read.parquet(s"$gen/model").head()
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
    val gen = currentGen(newBatch.sparkSession, dir)
    Similarity.encodePqIndex(newBatch, idCol, vecCol,
        loadModelAt(newBatch.sparkSession, gen))
      .write.mode("append").partitionBy("list").parquet(s"$gen/codes")
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
    val codes = s"${currentGen(spark, dir)}/codes"
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
    * store holds vectors), over a pool of 4·k candidates per query.
    */
  def searchIvfPq(spark: SparkSession, dir: String,
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    val gen = currentGen(spark, dir)
    Similarity.searchPqIndex(spark.read.parquet(s"$gen/codes"), corpus,
      queries, idCol, vecCol, loadModelAt(spark, gen), k, nProbe,
      refineFactor = 4)
  }
}
