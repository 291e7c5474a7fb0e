package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class VectorIndexSpec extends AnyFunSuite with SparkTestSession {

  private val sf = "/root/testdata/sf0.01"
  private def emb = graft.sources.Tables.embeddings(spark, sf)
  /** The current generation's codes dir. */
  private def codesOf(dir: String) = s"${VectorIndex.currentGen(spark, dir)}/codes"

  test("build -> search equals the one-shot ivfPqTopK bit-for-bit; codes are list-partitioned") {
    val dir = graft.ScratchDir.dir("vecidx")
    VectorIndex.buildIvfPq(emb, "vec_id", "embedding", dir, nLists = 8, m = 8, ksub = 16)

    // the inverted-file layout is real directory partitioning
    val listDirs = new java.io.File(codesOf(dir)).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
    assert(listDirs.length > 1, "expected list=N partition directories")

    val q = emb.filter(col("vec_id") < 8)
    val fromIndex = VectorIndex.searchIvfPq(spark, dir, q, emb, "vec_id", "embedding",
        k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val oneShot = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 2, m = 8, ksub = 16, refineFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(fromIndex == oneShot)
    assert(fromIndex.nonEmpty)
  }

  test("appendIvfPq: build on half, append the rest == one-shot search with the half-trained model") {
    val dirA = graft.ScratchDir.dir("vecidx-a")
    val half = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    VectorIndex.buildIvfPq(half, "vec_id", "embedding", dirA, nLists = 8, m = 8, ksub = 16)
    VectorIndex.appendIvfPq(rest, "vec_id", "embedding", dirA)

    // reference: the same half-trained model applied to the full corpus
    val model = Similarity.trainPq(
      Similarity.sampleVectors(half, "vec_id", "embedding", 2048, 42L), 8, 8, 16)
    val q = emb.filter(col("vec_id") < 8)
    val expected = Similarity.searchPqIndex(
        Similarity.encodePqIndex(emb, "vec_id", "embedding", model),
        emb, q, "vec_id", "embedding", model, k = 5, nProbe = 2, refineFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val got = VectorIndex.searchIvfPq(spark, dirA, q, emb, "vec_id", "embedding",
        k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("deleteIvfPq: victims gone, untouched lists' files untouched, emptied lists cleared") {
    val dir = graft.ScratchDir.dir("vecidx-del")
    VectorIndex.buildIvfPq(emb, "vec_id", "embedding", dir, nLists = 8, m = 8, ksub = 16)
    val codes = spark.read.parquet(codesOf(dir))
      .select("neighbor_id", "list").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val byList = codes.groupBy(_._2)
    val emptyTarget = byList.minBy { case (l, rs) => (rs.length, l) }._1 // wipe entirely
    val partialTarget = byList.maxBy { case (l, rs) => (rs.length, l) }._1 // wipe 3 ids
    val victims = byList(emptyTarget).map(_._1) ++ byList(partialTarget).map(_._1).take(3)
    val untouched = byList.keys.filterNot(l => l == emptyTarget || l == partialTarget)
    assert(untouched.nonEmpty, "fixture must leave some lists untouched")
    def fileState(l: Int) = Option(new java.io.File(s"${codesOf(dir)}/list=$l").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified(), f.length())).toSet

    import spark.implicits._
    val beforeUntouched = untouched.map(l => l -> fileState(l)).toMap
    VectorIndex.deleteIvfPq(spark, dir, victims.toSeq.toDF("vec_id"), "vec_id")

    val after = spark.read.parquet(codesOf(dir))
      .select("neighbor_id", "list").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(after.length == codes.length - victims.length, "exactly the victims left")
    assert(after.map(_._1).toSet.intersect(victims.toSet).isEmpty)
    // a delete is surgical: untouched lists keep their exact files
    untouched.foreach { l => assert(fileState(l) == beforeUntouched(l), s"list $l rewritten") }
    assert(!new java.io.File(s"${codesOf(dir)}/list=$emptyTarget").exists(),
      "a fully-tombstoned list must not keep stale files")
    assert(!new java.io.File(codesOf(dir)).list().exists(_.startsWith(".compact_")),
      "journal and staging dir cleaned")
    // and the index still answers, without ever returning a victim
    val got = VectorIndex.searchIvfPq(spark, dir,
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .collect()
    assert(got.nonEmpty)
    assert(got.map(_.getLong(1)).toSet.intersect(victims.toSet).isEmpty,
      "deleted ids must never surface as neighbors")
  }

  test("deleteIvfPq heals forward from a crash at the journal and after k renames: tombstones absent, untouched lists byte-identical") {
    val base = graft.ScratchDir.dir("vecidx-delcrash")
    VectorIndex.buildIvfPq(emb, "vec_id", "embedding", s"$base/built",
      nLists = 8, m = 8, ksub = 16)
    def codeIds(dir: String) = spark.read.parquet(codesOf(dir))
      .select("neighbor_id", "list").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val byList = codeIds(s"$base/built").groupBy(_._2)
    val lists = byList.keys.toSeq.sorted
    // one list wiped entirely, two more losing a few ids each
    val victims = byList(lists(0)).map(_._1) ++
      byList(lists(1)).map(_._1).take(3) ++ byList(lists(2)).map(_._1).take(2)
    val untouched = lists.drop(3)
    def digests(dir: String, l: Int): Map[String, Seq[Byte]] =
      new java.io.File(s"${codesOf(dir)}/list=$l").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    import spark.implicits._
    for (k <- Seq(0, 1, 2)) {
      val dir = s"$base/k$k"
      val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(dir), true): Unit
      assert(org.apache.hadoop.fs.FileUtil.copy(hfs,
        new org.apache.hadoop.fs.Path(s"$base/built"), hfs,
        new org.apache.hadoop.fs.Path(dir), false,
        spark.sparkContext.hadoopConfiguration))
      val before = codeIds(dir)
      val untouchedBytes = untouched.map(l => l -> digests(dir, l)).toMap
      val tomb = victims.toDF("vec_id")
      assert(TableCompaction.crashingAfter(k)(
        VectorIndex.deleteIvfPq(spark, dir, tomb, "vec_id")), s"k=$k")
      // inside the window no surviving code is missing
      val mid = codeIds(dir).toSet
      assert(before.filterNot(c => victims.contains(c._1)).forall(mid), s"k=$k")
      // the next delete heals forward, then finds nothing left to delete
      VectorIndex.deleteIvfPq(spark, dir, tomb, "vec_id")
      val after = codeIds(dir)
      assert(after.sorted == before.filterNot(c => victims.contains(c._1)).sorted,
        s"k=$k: exactly the victims left, nothing duplicated")
      untouched.foreach(l =>
        assert(digests(dir, l) == untouchedBytes(l), s"k=$k: list $l rewritten"))
      assert(!new java.io.File(s"${codesOf(dir)}/list=${lists(0)}").exists())
      assert(!new java.io.File(codesOf(dir)).list().exists(_.startsWith(".compact_")))
    }
  }

  test("recall after build→append→delete stays above the fresh-index floor; deleted ids absent") {
    // the ext88 lifecycle: half-trained quantizer, appended other half,
    // every 7th id deleted — recall on the MUTATED index must stay usable
    // (the drift between trained and stored distributions is real but
    // bounded on this fixture) and deleted ids must never surface
    val dir = graft.ScratchDir.dir("vecidx-mut")
    VectorIndex.buildIvfPq(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dir, nLists = 8, m = 8, ksub = 16)
    VectorIndex.appendIvfPq(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", dir)
    val victims = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    VectorIndex.deleteIvfPq(spark, dir, victims, "vec_id")
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    val q = survivors.filter(col("vec_id") < 10)
    val approx = VectorIndex.searchIvfPq(spark, dir, q, survivors,
      "vec_id", "embedding", k = 5, nProbe = 4)
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    assert(approx.collect().map(_.getLong(1)).toSet.intersect(victimIds).isEmpty,
      "deleted ids surfaced from the mutated index")
    val recalls = Similarity.recallVsExact(approx,
        Similarity.bruteForceTopK(q, survivors, "vec_id", "embedding", k = 5))
      .select("recall").collect().map(_.getDouble(0))
    assert(recalls.nonEmpty)
    val mean = recalls.sum / recalls.length
    // measured on this fixture: 0.60 fresh / 0.42 mutated at nProbe=4 —
    // the decay the audit exists to surface; the floor catches a collapse
    // (broken append encoding, probe misrouting), not the drift itself
    assert(mean >= 0.3, f"mean recall after mutation $mean%.3f below floor 0.3")
  }

  test("retrainIfDrifted: no-op below threshold is byte-identical; a drifted corpus triggers a rebuild equal to a fresh build") {
    // the r10 verdict #4 loop-closer: the corpus starts all-negative
    // (sign-octant 0), then doubles with an all-positive half (octant 7)
    // — half the distribution mass moves octants, exactly the shift
    // ext90's PSI dial flags and a quantizer trained on the old half
    // cannot encode well. Pins: (a) psi > threshold triggers a staged
    // rebuild whose SEARCH RESULTS equal a fresh build from the current
    // corpus (same seed → recall restored to fresh-build level by
    // construction); (b) below threshold NOTHING is touched — every
    // index file byte-identical; (c) after the retrain the stored stats
    // match the corpus, so the trigger disarms.
    import spark.implicits._
    def vOld(i: Long): Seq[Double] =
      (0 until 8).map(d => -0.4 - 0.01 * ((i * 7 + d * 3) % 13))
    def vNew(i: Long): Seq[Double] =
      (0 until 8).map(d => 0.4 + 0.01 * ((i * 5 + d * 11) % 17))
    val oldC = (0L until 150L).map(i => (i, vOld(i))).toDF("vec_id", "embedding")
    val newC = (150L until 300L).map(i => (i, vNew(i))).toDF("vec_id", "embedding")
    val fullC = oldC.unionByName(newC).localCheckpoint(true)
    val dir = graft.ScratchDir.dir("vecidx-retrain")
    VectorIndex.buildIvfPq(oldC, "vec_id", "embedding", dir,
      nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    VectorIndex.appendIvfPq(newC, "vec_id", "embedding", dir)
    def fileHashes(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(dir)
      val md = java.security.MessageDigest.getInstance("MD5")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p)).map(b => f"$b%02x").mkString)
        .toMap
    }
    val before = fileHashes()
    val (psi0, did0) = VectorIndex.retrainIfDrifted(spark, dir, fullC,
      "vec_id", "embedding", threshold = 1e9,
      nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    assert(!did0 && psi0 > 0.1, s"psi=$psi0 did=$did0")
    assert(fileHashes() == before,
      "a below-threshold check must leave every index file byte-identical")
    val (psi1, did1) = VectorIndex.retrainIfDrifted(spark, dir, fullC,
      "vec_id", "embedding", threshold = 0.1,
      nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    assert(did1 && psi1 == psi0, s"psi=$psi1 did=$did1")
    val fresh = graft.ScratchDir.dir("vecidx-fresh")
    VectorIndex.buildIvfPq(fullC, "vec_id", "embedding", fresh,
      nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    val q = fullC.filter(col("vec_id") >= 150 && col("vec_id") < 160)
    def results(d: String) = VectorIndex.searchIvfPq(spark, d, q, fullC,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(results(dir) == results(fresh),
      "the retrained index must equal a fresh build from the current corpus")
    val (psi2, did2) = VectorIndex.retrainIfDrifted(spark, dir, fullC,
      "vec_id", "embedding", threshold = 0.1,
      nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    assert(!did2 && psi2 < 0.01,
      s"after retrain the stored stats match the corpus — trigger must disarm: $psi2")
  }

  test("retrainIfDrifted: sign-PRESERVING drift (uniform scale-up) is invisible to octants but fires the list-occupancy dial") {
    // r11 verdict #3: two clusters on the positive axis (radius 1 and 5;
    // every coordinate of every vector positive, so the whole corpus
    // lives in octant 7 forever) — a uniform ×5 scale-up moves cluster A
    // onto B's stored centroid, collapsing the list occupancy from
    // {A-list, B-list} to {B-list} while the octant histogram stays
    // bit-identical. The octant dial alone would sleep through the
    // exact drift (a stale coarse partition) that decays IVF recall.
    import spark.implicits._
    def vec(i: Long, r: Double): Seq[Double] =
      (0 until 8).map(d =>
        if (d == 0) r else 0.01 + 0.001 * ((i + d) % 7))
    val built = ((0L until 100L).map(i => (i, vec(i, 1.0))) ++
      (100L until 200L).map(i => (i, vec(i, 5.0))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val scaled = built.select(col("vec_id"),
      transform(col("embedding"), x => x * 5.0).as("embedding"))
      .localCheckpoint(true)
    // fixture sanity: the drift really is octant-invisible — every
    // vector positive in every coordinate, before and after
    assert(built.unionByName(scaled)
      .filter(exists(col("embedding"), _ <= 0)).count() == 0)
    val dir = graft.ScratchDir.dir("vecidx-scale")
    VectorIndex.buildIvfPq(built, "vec_id", "embedding", dir,
      nLists = 2, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    def fileHashes(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(dir)
      val md = java.security.MessageDigest.getInstance("MD5")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p)).map(b => f"$b%02x").mkString)
        .toMap
    }
    // the build corpus itself is quiet on BOTH dials — and below
    // threshold the check is byte-identical, list dial included
    val before = fileHashes()
    val (psiSame, didSame) = VectorIndex.retrainIfDrifted(spark, dir, built,
      "vec_id", "embedding", threshold = 0.1,
      nLists = 2, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    assert(!didSame && psiSame < 0.01, s"psi=$psiSame did=$didSame")
    assert(fileHashes() == before,
      "a below-threshold check must leave every index file byte-identical")
    // the scaled corpus fires: octant psi is exactly 0 by construction,
    // so anything above threshold is the list dial's
    val (psiDrift, didDrift) = VectorIndex.retrainIfDrifted(spark, dir,
      scaled, "vec_id", "embedding", threshold = 0.1,
      nLists = 2, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    assert(didDrift && psiDrift > 0.1,
      s"octant-invisible drift must fire the occupancy dial: psi=$psiDrift")
    // the rebuild equals a fresh build from the scaled corpus, and the
    // trigger disarms against it
    val fresh = graft.ScratchDir.dir("vecidx-scale-f")
    VectorIndex.buildIvfPq(scaled, "vec_id", "embedding", fresh,
      nLists = 2, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    val q = scaled.filter(col("vec_id") < 8)
    def results(d: String) = VectorIndex.searchIvfPq(spark, d, q, scaled,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(results(dir) == results(fresh))
    val (psiAfter, didAfter) = VectorIndex.retrainIfDrifted(spark, dir,
      scaled, "vec_id", "embedding", threshold = 0.1,
      nLists = 2, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    assert(!didAfter && psiAfter < 0.01,
      s"after retrain both dials must disarm: $psiAfter")
  }

  test("ext135 entry arc at sf0.001: quiet / list-dial fire / disarm / octant-dial fire / disarm") {
    // the catalog entry's exact fire/disarm sequence — one retrain per
    // firing, self-resetting after each (the arc CORRECTNESS reads as
    // rows-only)
    val rows = graft.SparkEntry.queries("ext135_ann_retrain_trigger")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(r => (r.getAs[Long]("step"), r.getAs[String]("phase"),
      r.getAs[Boolean]("retrained"))).toSeq == Seq(
      (1L, "probe_build_corpus_quiet", false),
      (2L, "collapse_fires_list_dial", true),
      (3L, "collapsed_reference_disarmed", false),
      (4L, "abs_fires_octant_dial", true),
      (5L, "absed_reference_disarmed", false)))
    val psi = rows.map(r =>
      r.getAs[Long]("step") -> r.getAs[Double]("psi")).toMap
    // quiet probes are EXACTLY 0 (same corpus as the stored reference —
    // both dials' histograms identical, and PSI(h, h) = 0); the firings
    // clear the 0.1 threshold with real margin (measured 0.58 / 5.4)
    assert(psi(1L) == 0.0 && psi(3L) == 0.0 && psi(5L) == 0.0, s"psi=$psi")
    assert(psi(2L) > 0.3 && psi(4L) > 1.0, s"psi=$psi")
    // every rebuild keeps the full inverted file populated
    assert(rows.forall(_.getAs[Long]("n_live_lists") == 8L))
  }

  /** Two corpora whose quantizers differ: all-negative (octant 0), then
    * the same ids plus an all-positive half (octant 7). */
  private def driftFixture() = {
    import spark.implicits._
    def vOld(i: Long): Seq[Double] =
      (0 until 8).map(d => -0.4 - 0.01 * ((i * 7 + d * 3) % 13))
    def vNew(i: Long): Seq[Double] =
      (0 until 8).map(d => 0.4 + 0.01 * ((i * 5 + d * 11) % 17))
    val oldC = (0L until 150L).map(i => (i, vOld(i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val fullC = oldC.unionByName(
      (150L until 300L).map(i => (i, vNew(i))).toDF("vec_id", "embedding"))
      .localCheckpoint(true)
    (oldC, fullC)
  }

  private def build(corpus: org.apache.spark.sql.DataFrame, dir: String) =
    VectorIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)

  /** Ids 140–159 searched against `corpus`: the old half's last ten and
    * the new half's first ten. */
  private def search(dir: String, corpus: org.apache.spark.sql.DataFrame) =
    VectorIndex.searchIvfPq(spark, dir,
        corpus.filter(col("vec_id") >= 140 && col("vec_id") < 160), corpus,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet

  test("a crash before the _current flip leaves the previous generation serving; the next retrain publishes cleanly") {
    val (oldC, fullC) = driftFixture()
    val base = graft.ScratchDir.dir("vecidx-flip")
    val dir = s"$base/index"
    build(oldC, dir)
    val before = search(dir, fullC)
    val modelBefore = VectorIndex.loadModel(spark, dir)
    // the crash state: a retrain published gen-1 and died before the
    // flip; a second attempt died mid-build, leaving a partial staging dir
    build(fullC, s"$base/fresh")
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(org.apache.hadoop.fs.FileUtil.copy(hfs,
      new org.apache.hadoop.fs.Path(VectorIndex.currentGen(spark, s"$base/fresh")),
      hfs, new org.apache.hadoop.fs.Path(s"$dir/gen-1"), false,
      spark.sparkContext.hadoopConfiguration))
    assert(new java.io.File(s"$dir/.gen-2/codes").mkdirs())
    assert(VectorIndex.currentGen(spark, dir) == s"$dir/gen-0")
    assert(search(dir, fullC) == before, "the previous generation keeps serving")
    assert(VectorIndex.loadModel(spark, dir).coarse.map(_.toSeq).toSeq ==
      modelBefore.coarse.map(_.toSeq).toSeq)
    val (psi, did) = VectorIndex.retrainIfDrifted(spark, dir, fullC,
      "vec_id", "embedding", threshold = 0.1,
      nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    assert(did && psi > 0.1, s"psi=$psi did=$did")
    assert(VectorIndex.currentGen(spark, dir) == s"$dir/gen-2")
    assert(search(dir, fullC) == search(s"$base/fresh", fullC),
      "the retrained index must equal a fresh build from the current corpus")
    // the orphan is reclaimed; the replaced generation stays for readers
    // that resolved it before the flip
    assert(new java.io.File(dir).list().toSet ==
      Set("_current", "gen-0", "gen-2"))
  }

  test("a search concurrent with a forced retrain scores every result against one generation's model") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (oldC, fullC) = driftFixture()
    val base = graft.ScratchDir.dir("vecidx-live")
    val dir = s"$base/index"
    build(oldC, dir)
    build(fullC, s"$base/fresh")
    val (oldGen, newGen) = (search(dir, fullC), search(s"$base/fresh", fullC))
    assert(oldGen != newGen, "fixture: the generations must answer differently")
    val retrain = Future {
      VectorIndex.retrainIfDrifted(spark, dir, fullC, "vec_id", "embedding",
        threshold = -1.0, // psi ≥ 0: always retrain
        nLists = 4, m = 4, ksub = 8, sampleSize = 256, seed = 7L)
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(Long, Long, Double, Long)]]
    while (!retrain.isCompleted) seen += search(dir, fullC)
    assert(Await.result(retrain, 5.minutes)._2)
    seen += search(dir, fullC)
    assert(seen.length >= 2, "fixture: a search must overlap the retrain")
    seen.zipWithIndex.foreach { case (r, i) =>
      assert(r == oldGen || r == newGen,
        s"search $i of ${seen.length} mixed generations: $r")
    }
    assert(seen.last == newGen)
  }

  test("the persisted model round-trips exactly") {
    val dir = graft.ScratchDir.dir("vecidx2")
    VectorIndex.buildIvfPq(emb, "vec_id", "embedding", dir, nLists = 4, m = 4, ksub = 8)
    val trained = Similarity.trainPq(
      Similarity.sampleVectors(emb, "vec_id", "embedding", 2048, 42L), 4, 4, 8)
    val loaded = VectorIndex.loadModel(spark, dir)
    assert(loaded.dim == trained.dim && loaded.m == trained.m && loaded.ksub == trained.ksub)
    assert(loaded.coarse.map(_.toSeq).toSeq == trained.coarse.map(_.toSeq).toSeq)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      trained.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }
}
