package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cv.{ImageOps, Png}
import graft.sources.ImageCorpus

/** Perceptual image-dedup semantics: hash stability under re-encode and
  * small perturbation, family separation, the banded join's recall
  * guarantee vs brute force, and the real binaryFile-source path.
  */
class ImageDedupSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  private def hashOf(bytes: Array[Byte]): Long =
    ImageOps.dHash64(ImageOps.decode(bytes).get)

  test("dHash is stable under PNG re-encode and single-pixel perturbation") {
    val base = ImageCorpus.render(0L) // family 0, variant 0
    val again = ImageCorpus.render(0L)
    assert(hashOf(base) == hashOf(again), "render is deterministic")
    // variants 1 and 2 perturb 1 and 2 pixels — far below dHash resolution
    for (v <- 1L to 2L)
      assert(hamming(hashOf(base), hashOf(ImageCorpus.render(v))) <= 3,
        s"variant $v drifted past the near-dup threshold")
  }

  test("different families are uncorrelated in Hamming space") {
    val h = (0 until 12).map(f => hashOf(ImageCorpus.render(f * 3L)))
    for (i <- h.indices; j <- i + 1 until h.size)
      assert(hamming(h(i), h(j)) > 10,
        s"families $i/$j collide at dist ${hamming(h(i), h(j))}")
  }

  test("nearDupPairs catches exactly the family pairs on the synthetic corpus") {
    val ids = (0L until 30L).toDF("doc_id")
    val imgs = ImageCorpus.forIds(ids, "doc_id")
    val pairs = ImageDedup.nearDupPairs(imgs, "png", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).flatMap { f =>
      val m = Seq(f * 3, f * 3 + 1, f * 3 + 2)
      for (i <- m; j <- m if i < j) yield (i, j)
    }.toSet
    assert(pairs == expected,
      s"missing=${expected -- pairs} spurious=${pairs -- expected}")
  }

  test("banded candidates have perfect recall vs brute force at the threshold") {
    val ids = (0L until 45L).toDF("doc_id")
    val imgs = ImageCorpus.forIds(ids, "doc_id")
    val hs = ImageDedup.hashes(imgs, "png", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, ha) <- hs; (ib, hb) <- hs
      if ia < ib && hamming(ha, hb) <= 3
    } yield (ia, ib, hamming(ha, hb).toLong)).toSet
    val banded = ImageDedup.nearDupPairs(imgs, "png", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded join diverged from brute force: " +
      s"missing=${brute -- banded} spurious=${banded -- brute}")
  }

  test("pHash: stable within families, uncorrelated across them, balanced bits") {
    def p(id: Long) = ImageOps.pHash64(ImageOps.decode(ImageCorpus.render(id)).get)
    for (v <- 1L to 2L)
      assert(hamming(p(0L), p(v)) <= 3, s"variant $v drifted under pHash")
    val h = (0 until 12).map(f => p(f * 3L))
    for (i <- h.indices; j <- i + 1 until h.size)
      assert(hamming(h(i), h(j)) > 10, s"families $i/$j collide under pHash")
    // median threshold balances the bits — the band-bucket health property
    h.foreach(x => assert(math.abs(java.lang.Long.bitCount(x) - 32) <= 4,
      s"pHash bits unbalanced: ${java.lang.Long.bitCount(x)} set"))
  }

  test("a horizontally mirrored re-post hashes identically and is caught at the same banding") {
    val base = ImageCorpus.render(0L)
    val img = ImageOps.decode(base).get
    // flip columns of the raw plane, re-encode through the engine's PNG path
    val flipped = new Array[Byte](img.px.length)
    for (r <- 0 until img.rows; c <- 0 until img.cols; k <- 0 until img.channels)
      flipped((r * img.cols + c) * img.channels + k) =
        img.px((r * img.cols + (img.cols - 1 - c)) * img.channels + k)
    val mirrorPng = Png.encodeBytes(flipped, img.rows, img.cols, img.channels)
    // the DCT sign trick + exact flip/resize commutation ⇒ identical hash
    assert(ImageOps.pHash64MirrorCanonical(img) ==
      ImageOps.pHash64MirrorCanonical(ImageOps.decode(mirrorPng).get),
      "mirror canonicalization must be exact for even-sized frames")
    // and the plain pHashes differ — the mirror pair is invisible without
    // canonicalization (guards against the fixture being trivially symmetric)
    assert(hamming(ImageOps.pHash64(img),
      ImageOps.pHash64(ImageOps.decode(mirrorPng).get)) > 3,
      "fixture invalid: the mirrored image must not match un-canonicalized")
    val df = Seq((0L, base), (1000L, mirrorPng)).toDF("doc_id", "png")
    val pairs = ImageDedup.nearDupPairs(df, "png", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.get((0L, 1000L)).contains(0L),
      s"mirrored re-post must be caught at distance 0 (got $pairs)")
  }

  test("AQE splits a deliberately hot band bucket — and the split preserves exact results") {
    // The band-join skew story ("AQE skew-join splits apply") demonstrated,
    // not asserted: thousands of hashes share ONE 16-bit band slice (the
    // shape a viral near-identical image cluster produces), so one reducer
    // partition dwarfs the median. At production sizes the default
    // skewedPartitionThresholdInBytes (256 MB) / advisoryPartitionSize
    // (64 MB) govern; here both are scaled to spec bytes so the same
    // OptimizeSkewedJoin path fires on ~100 KB partitions.
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    // 32 reducers (the production default) so the non-hot band rows spread
    // thin and the hot bucket dwarfs the MEDIAN partition, as it would on a
    // cluster — at the test session's 4 partitions the background dilutes
    // the ratio below the skew factor
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val sq = s2.sqlContext
    import sq.implicits._
    // hot: slice 0 (bits 0..15) identical, upper bits spread the ids;
    // background: fully distinct hashes establishing the median bucket size
    val hot = (0L until 4000L).map(i => (i, 0xAAAAL | (i << 16)))
    val bg = (10000L until 10200L).map(i => (i, i * 0x9E3779B97F4A7C15L))
    val hashFrame = (hot ++ bg).toDF("id", "phash")
    val result = ImageDedup.hammingNearDupPairs(hashFrame, maxDist = 3)
    val got = result.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("skewed"),
      s"the hot band bucket must trigger an AQE skew split:\n$plan")
    // exactness under the split: same pairs as driver-side brute force
    val all = (hot ++ bg).toArray
    val brute = (for {
      (ia, ha) <- all; (ib, hb) <- all
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(got == brute,
      s"skew-split changed results: missing=${(brute -- got).size} spurious=${(got -- brute).size}")
  }

  test("undecodable blobs are dropped, not crashed on") {
    val rows = Seq(
      (1L, ImageCorpus.render(1L)),
      (2L, Array[Byte](1, 2, 3)), // not an image
      (3L, null.asInstanceOf[Array[Byte]]))
    val df = rows.toDF("doc_id", "png")
    assert(ImageDedup.hashes(df, "png", "doc_id").count() == 1)
    assert(ImageDedup.nearDupPairs(df, "png", "doc_id").count() == 0)
  }

  test("the binaryFile source path: engine-written PNGs dedup end to end") {
    val dir = graft.ScratchDir.dir("imgdedup")
    // two near-identical frames (same family) + one unrelated, written by
    // the engine's own PNG sink path
    for (id <- Seq(0L, 1L, 30L)) {
      val px = ImageOps.decode(ImageCorpus.render(id)).get
      Png.saveFrame(px.px, px.rows, px.cols, px.channels,
        camId = s"cam$id", epochMillis = 1700000000000L + id, outputDir = dir)
    }
    val bin = spark.read.format("binaryFile").load(dir)
      .select(
        org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.col("path"), "cam(\\d+)-T-", 1)
          .cast("long").as("img_id"),
        org.apache.spark.sql.functions.col("content"))
    val pairs = ImageDedup.nearDupPairs(bin, "content", "img_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
  }

  test("ext105 per-source retention matches the known family structure") {
    val out = graft.queries.ExtensionQueries.defs
      .find(_.name == "ext105_image_retention").get
      .build(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // expected: survivors are exactly the min doc_id of each id/3 family
    import spark.implicits._
    val docs = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source").as[(Long, String)].collect()
    val famMin = docs.map(_._1).groupBy(_ / 3)
      .map { case (_, m) => m.min }.toSet
    val expected = docs.groupBy(_._2).map { case (src, rows) =>
      val total = rows.length.toLong
      val kept = rows.count(r => famMin(r._1)).toLong
      src -> ((total, kept, total - kept))
    }
    assert(out == expected, s"got $out expected $expected")
    assert(out.values.map(_._3).sum > 0, "duplicate drops must be live")
  }

  test("ext107 OR-gate retention: union clusters match a reference union-find; kept <= ext105") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source").as[(Long, String)].collect()
    // reference edge set: corpus-wide text pairs (the ext82 table) UNION
    // the known image family structure (ImageCorpus: ids pair iff id/3)
    val textPairs = MaterializedPairs.setSimPairs(
      graft.sources.Tables.documents(spark, dir), "text", "doc_id",
      n = 3, threshold = 0.8, key = dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(textPairs.nonEmpty, "the text side of the OR gate must be live")
    val famPairs = docs.map(_._1).groupBy(_ / 3).values
      .flatMap(m => m.sorted.combinations(2).map(p => (p(0), p(1))))
    // reference union-find over the OR edge set
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    (textPairs ++ famPairs).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val survivors = docs.map(_._1).groupBy(find).map { case (_, m) => m.min }.toSet
    val expected = docs.groupBy(_._2).map { case (src, rows) =>
      val total = rows.length.toLong
      val kept = rows.count(r => survivors(r._1)).toLong
      src -> ((total, kept, total - kept))
    }
    val out = graft.queries.ExtensionQueries.defs
      .find(_.name == "ext107_multimodal_retention_or").get
      .build(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == expected, s"got $out expected $expected")
    // coarsening can only shrink survivors: per-source kept_or <= kept_image
    val img = graft.queries.ExtensionQueries.defs
      .find(_.name == "ext105_image_retention").get
      .build(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    out.foreach { case (src, (_, kept, _)) =>
      assert(kept <= img(src), s"$src: OR kept $kept > image-only ${img(src)}")
    }
    // the cross-modal signal: iff a text edge BRIDGES image families, the
    // OR gate must drop strictly more than the image-only gate
    val bridges = textPairs.exists { case (a, b) => a / 3 != b / 3 }
    val keptOr = out.values.map(_._2).sum
    val keptImg = img.values.sum
    if (bridges) assert(keptOr < keptImg,
      "bridging text edges must merge image families and shrink the keep set")
    else assert(keptOr == keptImg)
  }

  test("hammingJoinAgainst: two-sided banded probe has perfect recall vs brute force") {
    import spark.implicits._
    val ids = 0L until 24L
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds(ids.toDF("doc_id"), "doc_id"), "png", "doc_id")
      .as[(Long, Long)].collect().toMap
    // left: one member per family; right: everything else
    val leftIds = ids.filter(_ % 3 == 0)
    val rightIds = ids.filterNot(_ % 3 == 0)
    val brute = (for {
      a <- leftIds; b <- rightIds
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "family siblings must qualify")
    val left = leftIds.map(i => (i, hashes(i))).toDF("id", "phash")
    val right = rightIds.map(i => (i, hashes(i))).toDF("id", "phash")
    val banded = ImageDedup.hammingJoinAgainst(left, right, maxDist = 3)
      .select("id", "match_id").as[(Long, Long)].collect().toSet
    assert(banded == brute, s"missing=${brute -- banded} spurious=${banded -- brute}")
  }

  test("incrementalVerdicts: within-drop precedence, existing probe, kept — all three classes") {
    import spark.implicits._
    // delivery = ids 14..17 against existing 0..13: family {12,13,14}
    // straddles the boundary (14 → dropped_existing, nearest sibling in
    // the old corpus), family {15,16,17} sits whole inside the delivery
    // (15 kept as min-id survivor, 16/17 dropped_within deferring to 15)
    val all = (0L until 18L)
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds(all.toDF("doc_id"), "doc_id"), "png", "doc_id")
    val out = ImageDedup.incrementalVerdicts(
      hashes.filter($"id" >= 14L), hashes.filter($"id" < 14L))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(out.keySet == Set(14L, 15L, 16L, 17L))
    assert(out(14L)._1 == "dropped_existing" &&
      Set(12L, 13L).contains(out(14L)._2.get),
      s"straddling member must defer to an old sibling, got ${out(14L)}")
    assert(out(15L) == (("kept", None)))
    assert(out(16L) == (("dropped_within", Some(15L))))
    assert(out(17L) == (("dropped_within", Some(15L))))
  }

  test("ext108 incremental accounting matches the family structure at sf0.001") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source").as[(Long, String)].collect()
    val n = docs.map(_._1).max + 1
    val cut = (n * 4) / 5
    // expected verdict per delivered id, assuming (as ext105 does) that
    // near-dup pairs are exactly the id/3 families: the min DELIVERED
    // member of each family survives within-dedup; it is then kept iff no
    // family member sits in the old corpus
    val expected = docs.filter(_._1 >= cut).groupBy(_._2).map { case (src, rows) =>
      val verdicts = rows.map { case (id, _) =>
        val fam = id / 3
        val delivered = (fam * 3 until fam * 3 + 3).filter(m => m >= cut && m < n)
        val hasOld = fam * 3 < cut
        if (id != delivered.min) "dropped_within"
        else if (hasOld) "dropped_existing"
        else "kept"
      }
      src -> ((verdicts.length.toLong,
        verdicts.count(_ == "kept").toLong,
        verdicts.count(_ == "dropped_within").toLong,
        verdicts.count(_ == "dropped_existing").toLong))
    }
    val out = graft.queries.ExtensionQueries.defs
      .find(_.name == "ext108_image_incremental_dedup").get
      .build(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == expected, s"got $out expected $expected")
    val totals = out.values.reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
    assert(totals._2 > 0 && totals._3 > 0 && totals._4 > 0,
      s"all three verdict classes must be live at the gate fixture: $totals")
  }

  test("incrementalVerdicts fuzz: verdicts match a brute-force reference on random hash sets") {
    // seed-deterministic random 64-bit hashes with planted near-neighbors
    // (≤3 flipped bits) and far decoys (≥12): the operator's banded
    // within-clusters + existing-probe verdicts must equal a brute-force
    // union-find reference EXACTLY — including deliveries with no pairs at
    // all (the clean-delivery path that once NPE'd in clusterPairs)
    import spark.implicits._
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (seed <- Seq(3, 17, 404)) {
      val rnd = new scala.util.Random(seed)
      def flip(h: Long, n: Int): Long =
        (0 until n).foldLeft(h)((x, _) => x ^ (1L << rnd.nextInt(64)))
      val base = (0 until 20).map(_ => rnd.nextLong())
      val hashes = scala.collection.mutable.ArrayBuffer.empty[Long]
      base.foreach { h =>
        hashes += h
        if (rnd.nextBoolean()) hashes += flip(h, rnd.nextInt(4))   // near
        if (rnd.nextBoolean()) hashes += flip(h, 12 + rnd.nextInt(20)) // far
      }
      val all = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toSeq
      val cut = (all.size * 3) / 5
      val newSide = all.filter(_._1 >= cut)
      val oldSide = all.filter(_._1 < cut)
      // reference: union-find over within-pairs, then existing probe
      val parent = scala.collection.mutable.Map(newSide.map(x => x._1 -> x._1): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for { (a, ha) <- newSide; (b, hb) <- newSide if a < b && ham(ha, hb) <= 3 } {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = newSide.map { case (id, h) =>
        val root = find(id)
        if (root != id) id -> (("dropped_within", Some(root)))
        else {
          val hits = oldSide.filter(o => ham(o._2, h) <= 3)
          if (hits.nonEmpty) {
            val bestD = hits.map(o => ham(o._2, h)).min
            val bestId = hits.filter(o => ham(o._2, h) == bestD).map(_._1).min
            id -> (("dropped_existing", Some(bestId)))
          } else id -> (("kept", None))
        }
      }.toMap
      val out = ImageDedup.incrementalVerdicts(
        newSide.toDF("id", "phash"), oldSide.toDF("id", "phash"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
      assert(out == expected, s"seed=$seed: diff=${
        (out.toSet -- expected.toSet) ++ (expected.toSet -- out.toSet)}")
    }
  }

  test("incrementalVerdicts: a pair-free clean delivery keeps everything (no NPE)") {
    import spark.implicits._
    // mutually far hashes: no within pairs, no existing matches — the
    // empty-edge clusterPairs path must return every id as kept
    val far = Seq((100L, 0x0F0F0F0F0F0F0F0FL), (101L, 0xAAAA5555AAAA5555L))
    val out = ImageDedup.incrementalVerdicts(
      far.toDF("id", "phash"),
      Seq((1L, 0x123456789ABCDEFL)).toDF("id", "phash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(100L -> "kept", 101L -> "kept"))
  }

  test("the candidate join is equi — no cartesian in the plan") {
    val ids = (0L until 12L).toDF("doc_id")
    val p = ImageDedup.nearDupPairs(
      ImageCorpus.forIds(ids, "doc_id"), "png", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded self-join degenerated to all-pairs:\n$p")
  }

  test("ext116 leakage verdicts match the eval/train family structure") {
    val n = 90L
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until n).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(false)
    def isEval(id: Long): Boolean = (id / 3) % 5 == 4 || id % 7 == 3
    val got = ImageDedup.leakageVerdicts(
      hashes.filter(org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.col("id") / 3) % 5 === 4 ||
        org.apache.spark.sql.functions.col("id") % 7 === 3),
      hashes.filter(!(org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.col("id") / 3) % 5 === 4 ||
        org.apache.spark.sql.functions.col("id") % 7 === 3)))
      .collect().map(r => r.getAs[Long]("eval_id") ->
        (r.getAs[Boolean]("contaminated"),
          Option(r.getAs[java.lang.Long]("nearest_train_id")))).toMap
    val evalIds = (0L until n).filter(isEval)
    assert(got.keySet == evalIds.toSet)
    val hashOf = hashes.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("phash")).toMap
    def dist(a: Long, b: Long): Int =
      java.lang.Long.bitCount(hashOf(a) ^ hashOf(b))
    // an eval image leaks iff a TRAIN member of its family sits within
    // dist 3 (family hashes near-agree; cross-family ~32 bits apart)
    var contaminated = 0
    evalIds.foreach { id =>
      val withinSibs = (id / 3 * 3 until id / 3 * 3 + 3).filter(s =>
        s < n && !isEval(s) && dist(id, s) <= 3)
      val (c, nearest) = got(id)
      assert(c == withinSibs.nonEmpty,
        s"eval $id: contaminated=$c, in-range train siblings $withinSibs")
      if (c) contaminated += 1
      // nearest evidence is deterministic: min by (dist, id)
      if (withinSibs.nonEmpty)
        assert(nearest.contains(
          withinSibs.minBy(s => (dist(id, s), s)).longValue),
          s"eval $id: nearest $nearest, " +
            s"want ${withinSibs.minBy(s => (dist(id, s), s))}")
    }
    // both verdict classes are live on the split
    assert(contaminated > 0 && contaminated < evalIds.size)
  }

  test("ext120 band-bucket histogram matches an independent reference over the hashes") {
    val n = 90L
    val maxDist = 3
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until n).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(false)
    val got = ImageDedup.bandBucketHealth(hashes, maxDist)
      .collect()
      .map(r => (r.getAs[Int]("band"), r.getAs[Long]("size_class")) ->
        (r.getAs[Long]("n_buckets"), r.getAs[Long]("n_items"),
          r.getAs[Long]("pairs_contrib"))).toMap
    // independent banding arithmetic over the collected hashes
    val hs = hashes.collect().map(_.getAs[Long]("phash"))
    val nBands = maxDist + 1
    val ref = scala.collection.mutable.Map
      .empty[(Int, Long), (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    (0 until nBands).foreach { b =>
      val lo = b * 64 / nBands
      val w = (b + 1) * 64 / nBands - lo
      val buckets = hs.groupBy(h => (h >>> lo) & ((1L << w) - 1))
      buckets.values.foreach { bucket =>
        val sz = bucket.length.toLong
        // exact integer log2 (bit length - 1) — the operator's contract
        val cls = (63 - java.lang.Long.numberOfLeadingZeros(sz)).toLong
        val (c, items, pairs) = ref((b, cls))
        ref((b, cls)) = (c + 1, items + sz, pairs + sz * (sz - 1) / 2)
      }
    }
    assert(got == ref.toMap, s"histogram mismatch:\n got=$got\n ref=${ref.toMap}")
    // families land in class >= 1 on every band; total pair budget equals
    // the brute-force banded candidate count
    (0 until nBands).foreach { b =>
      assert(got.keys.exists { case (band, cls) => band == b && cls >= 1 },
        s"band $b: no multi-item bucket despite 30 families")
    }
  }

  test("ext118 funnel stages match an operator-independent reference") {
    val n = 120L
    val imgs = ImageCorpus.funnelFor((0L until n).toDF("doc_id"), "doc_id")
    val stats = MediaQuality.imageVerdicts(
      MediaQuality.imageStats(imgs, "png", "doc_id"))
      .localCheckpoint(false)
    // reference structure: corrupt ids undecodable; quality == clean
    // family and decodable; unique == min quality id of its family;
    // clean == unique and the family holds no benchmark (id%7==3) member
    def corrupt(id: Long) = id % 41 == 11
    def cleanFam(id: Long) = (id / 3) % 4 == 0
    def quality(id: Long) = !corrupt(id) && cleanFam(id)
    def unique(id: Long) = quality(id) &&
      (id / 3 * 3 until id / 3 * 3 + 3).filter(s => s < n && quality(s)).min == id
    def clean(id: Long) = unique(id) &&
      !(id / 3 * 3 until id / 3 * 3 + 3).exists(s => s < n && s % 7 == 3)
    val gotStats = stats.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Boolean]("decodable"), r.getAs[Boolean]("keep"))).toMap
    (0L until n).foreach { id =>
      assert(gotStats(id)._1 == !corrupt(id), s"decodable($id)")
      assert(gotStats(id)._2 == quality(id),
        s"quality($id): got ${gotStats(id)._2}, grade ${(id / 3) % 4}, " +
          s"corrupt ${corrupt(id)}")
    }
    val keptIds = stats.filter($"keep").select($"id".as("doc_id"))
    val h = ImageDedup.hashes(
      imgs.join(keptIds, Seq("doc_id")), "png", "doc_id")
      .localCheckpoint(false)
    val clusters = Dedup.clusterPairs(
      ImageDedup.hammingNearDupPairs(h, maxDist = 3)
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b")))
    val gotUnique = h.join(clusters, h("id") === clusters("doc_id"), "left")
      .filter(org.apache.spark.sql.functions.coalesce($"cluster_id", $"id") === $"id")
      .select($"id", $"phash").localCheckpoint(false)
    assert(gotUnique.collect().map(_.getAs[Long]("id")).toSet ==
      (0L until n).filter(unique).toSet)
    val bench = ImageDedup.hashes(
      ImageCorpus.forIds((0L until n).toDF("doc_id"), "doc_id"),
      "png", "doc_id")
      .filter($"id" % 7 === 3)
    val leaks = ImageDedup.hammingJoinAgainst(gotUnique, bench, maxDist = 3)
      .select("id").distinct()
    val gotClean = gotUnique.select("id")
      .join(leaks, Seq("id"), "left_anti")
      .collect().map(_.getAs[Long]("id")).toSet
    assert(gotClean == (0L until n).filter(clean).toSet)
    // every stage actually drops something on this corpus
    val c = Seq(n, (0L until n).count(!corrupt(_)).toLong,
      (0L until n).count(quality).toLong, (0L until n).count(unique).toLong,
      (0L until n).count(clean).toLong)
    assert(c == c.sorted.reverse && c.distinct == c,
      s"stages must strictly shrink: $c")
  }
}
