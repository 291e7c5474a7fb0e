package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.ImageCorpus

/** Persisted fingerprint-store lifecycle (ext121): successive deliveries
  * probe the parquet table and merge their survivors, so later deliveries
  * drop against earlier deliveries' KEPT rows; final store contents equal
  * init ∪ every delivery's survivors. Replay safety (r10): the store is
  * delivery_id-partitioned, the probe excludes the caller's own partition,
  * and the merge dynamically overwrites only it — so replaying a completed
  * delivery returns identical verdicts and leaves the store unchanged.
  */
class FingerprintStoreSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def freshDir(tag: String): String =
    graft.ScratchDir.dir(s"fpstore-$tag") + "/store"

  /** Hand-edit `_manifest`'s lines through the store's own publish, so
    * the edited file keeps a valid CRC32 trailer. */
  private def editManifest(dir: String)(
      edit: List[String] => List[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val mf = new org.apache.hadoop.fs.Path(dir, "_manifest")
    val lines = graft.util.AtomicPublish.readFile(conf, mf)(in =>
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList).get
    graft.util.AtomicPublish.file(conf, mf)(
      _.write(edit(lines).mkString("", "\n", "\n").getBytes("UTF-8")))
  }

  test("a later delivery drops against an earlier delivery's kept rows (the merge step)") {
    // families of 3: {0,1,2}, {3,4,5}, {6,7,8}, {9,10,11}
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("merge")
    // init: family {0,1,2} only
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    // delivery 1: ids 3,4 (fresh family -> 3 kept, 4 dropped_within) and
    // id 2's family sibling is ALREADY stored? no - bring id 6 (fresh)
    val v1 = FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 4L, 6L)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("verdict")).toMap
    assert(v1 == Map(3L -> "kept", 4L -> "dropped_within", 6L -> "kept"),
      s"delivery 1: $v1")
    // delivery 2: id 5 duplicates delivery 1's KEPT id 3 (not in init!),
    // id 7 duplicates kept id 6, id 9 is fresh, id 1 duplicates the init
    val v2 = FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id".isin(5L, 7L, 9L, 1L)))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("verdict"),
          Option(r.getAs[java.lang.Long]("matched_id")).map(_.longValue))).toMap
    assert(v2(5L)._1 == "dropped_existing" && v2(5L)._2.contains(3L),
      s"id 5 must drop against delivery 1's kept id 3: ${v2(5L)}")
    assert(v2(7L)._1 == "dropped_existing" && v2(7L)._2.contains(6L))
    assert(v2(9L)._1 == "kept")
    assert(v2(1L)._1 == "dropped_existing" &&
      v2(1L)._2.exists(m => m == 0L || m == 2L),
      s"id 1 must drop against the init store: ${v2(1L)}")
    // final store == init ∪ kept1 ∪ kept2
    val stored = FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(stored == Set(0L, 1L, 2L, 3L, 6L, 9L), s"store: $stored")
    // provenance: each row sits in the partition of the delivery that
    // merged it
    val byDelivery = FingerprintStore.readTagged(spark, dir)
      .collect()
      .groupBy(_.getAs[String]("delivery_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    assert(byDelivery == Map(
      FingerprintStore.InitDelivery -> Set(0L, 1L, 2L),
      "d1" -> Set(3L, 6L), "d2" -> Set(9L)), s"partitions: $byDelivery")
  }

  test("replaying a completed delivery is idempotent: same verdicts, store unchanged") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("replay")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    val d1 = hashes.filter($"id".isin(3L, 4L, 6L))
    def verdictMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("verdict"),
          Option(r.getAs[java.lang.Long]("matched_id")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("dist")).map(_.longValue))).toMap
    val first = verdictMap(FingerprintStore.ingest(spark, dir, "d1", d1))
    // delivery 2 lands AFTER d1 — the replay below must not see it erased
    // or duplicated either
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id".isin(9L, 10L))).collect(): Unit
    def storeState() = FingerprintStore.readTagged(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"),
        r.getAs[String]("delivery_id"))).toSet
    val before = storeState()
    // REPLAY d1 (the at-least-once harness case): without the partition
    // exclusion its own prior survivors (3, 6) would self-match at dist 0
    // and flip to dropped_existing; without the dynamic overwrite they
    // would stack a second copy
    val replay = verdictMap(FingerprintStore.ingest(spark, dir, "d1", d1))
    assert(replay == first,
      s"replay verdicts drifted: first=$first replay=$replay")
    assert(storeState() == before,
      s"replay mutated the store: before=$before after=${storeState()}")
  }

  test("replaying the whole ext121-shaped flow twice against one dir is safe") {
    // the Verify-harness double-run pin (r9 verdict #8): entry re-runs
    // init (overwrite) + both deliveries; everything must land once
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("double")
    def runOnce() = {
      FingerprintStore.init(hashes.filter($"id" < 6), dir)
      val v1 = FingerprintStore.ingest(spark, dir, "d1",
        hashes.filter($"id" >= 6 && $"id" < 9)).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("verdict"))).toSet
      val v2 = FingerprintStore.ingest(spark, dir, "d2",
        hashes.filter($"id" >= 9)).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("verdict"))).toSet
      (v1, v2, FingerprintStore.read(spark, dir)
        .collect().map(_.getAs[Long]("id")).toSet)
    }
    val a = runOnce()
    val b = runOnce()
    assert(a == b, s"double run drifted: $a vs $b")
    assert(a._3 == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 9L), s"store: ${a._3}")
  }

  test("a delivery with zero survivors clears its partition on replay (crash-heal path)") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 6L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("zero")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    // simulate a crashed earlier attempt that appended a partial partition
    hashes.filter($"id" === 3L)
      .withColumn("delivery_id", org.apache.spark.sql.functions.lit("d1"))
      .write.mode("append").partitionBy("delivery_id").parquet(dir)
    // the replayed delivery is all duplicates (of the init family and of
    // each other) -> zero survivors; ingest's overwrite must still clear
    // the stale partial partition with a schema-bearing empty write
    val v = FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(1L, 2L)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("verdict")).toMap
    assert(v == Map(1L -> "dropped_existing", 2L -> "dropped_within"),
      s"verdicts: $v")
    val stored = FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(stored == Set(0L, 1L, 2L), s"stale partial partition survived: $stored")
  }

  test("replay fuzz: any completed delivery replays to stable verdict classes and an unchanged store") {
    // seed-deterministic random corpora over SYNTHETIC hashes (the store
    // is modality-generic over (id, phash) — no decode needed): random
    // families of near hashes, a random init slice, a random split of the
    // rest into deliveries run in order; then EVERY delivery is replayed.
    // The class-doc contract, both halves: verdict CLASSES (and
    // dropped_within structure) must reproduce exactly and the store must
    // not change; dropped_existing EVIDENCE may legally improve to a
    // nearer/tie-smaller survivor a LATER delivery merged (the probe
    // answers from the current store) — asserted as dist <= the original
    // dist with the named evidence present in the store within maxDist
    for (seed <- Seq(13, 47)) {
      val rnd = new scala.util.Random(seed)
      def farHash(): Long = rnd.nextLong()
      def near(h: Long): Long = { // flip <= 2 random bits
        var x = h
        (0 until 1 + rnd.nextInt(2)).foreach(_ => x ^= 1L << rnd.nextInt(64))
        x
      }
      val nFam = 5 + rnd.nextInt(3)
      val bases = Seq.fill(nFam)(farHash())
      val all = (0 until nFam).flatMap { f =>
        (0 until 3).map(m => (f * 3 + m).toLong -> near(bases(f)))
      }
      val shuffled = rnd.shuffle(all)
      val nInit = 3 + rnd.nextInt(4)
      val (initRows, rest) = shuffled.splitAt(nInit)
      val nDeliveries = 2 + rnd.nextInt(2)
      val deliveries = rest.zipWithIndex
        .groupBy(_._2 % nDeliveries).toSeq.sortBy(_._1)
        .map { case (i, g) => s"d$i" -> g.map(_._1) }
      val dir = freshDir(s"fuzz-$seed")
      FingerprintStore.init(initRows.toDF("id", "phash"), dir)
      def verdictSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("id"),
          r.getAs[String]("verdict"),
          Option(r.getAs[java.lang.Long]("matched_id")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("dist")).map(_.longValue))).toSet
      val firstRuns = deliveries.map { case (tag, rows) =>
        tag -> verdictSet(FingerprintStore.ingest(spark, dir, tag,
          rows.toDF("id", "phash")))
      }.toMap
      def storeState() = FingerprintStore.readTagged(spark, dir)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"),
          r.getAs[String]("delivery_id"))).toSet
      val settled = storeState()
      val storedHashes = settled.map(s => s._1 -> s._2).toMap
      val hashOf = all.toMap
      deliveries.foreach { case (tag, rows) =>
        val replay = verdictSet(FingerprintStore.ingest(spark, dir, tag,
          rows.toDF("id", "phash")))
        val firstBy = firstRuns(tag).map(v => v._1 -> v).toMap
        val replayBy = replay.map(v => v._1 -> v).toMap
        assert(replayBy.keySet == firstBy.keySet)
        replayBy.foreach { case (id, (_, verdict, matched, dist)) =>
          val (_, v0, m0, d0) = firstBy(id)
          assert(verdict == v0,
            s"seed=$seed $tag id=$id: verdict class flipped $v0 -> $verdict")
          if (verdict == "dropped_within")
            assert(matched == m0, s"seed=$seed $tag id=$id: within-survivor drifted")
          if (verdict == "dropped_existing") {
            assert(dist.get <= d0.get,
              s"seed=$seed $tag id=$id: evidence got WORSE ($d0 -> $dist)")
            val m = matched.get
            assert(storedHashes.contains(m) &&
              java.lang.Long.bitCount(storedHashes(m) ^ hashOf(id)) <= 3,
              s"seed=$seed $tag id=$id: evidence $m not a stored near match")
          }
        }
        assert(storeState() == settled,
          s"seed=$seed $tag: replay mutated the store")
      }
    }
  }

  test("LIFECYCLE state-machine fuzz: random ingest/replay/compact/lost-line sequences hold the visibility invariants") {
    // the manifest-v2 + ack protocol's whole-lifecycle contract, checked
    // after EVERY random operation instead of along directed paths:
    //  inv1  a read never returns a duplicated id (the duplicated-union
    //        failure class: retained generations or re-adopted rows
    //        double-counted against a live base);
    //  inv2  a read never returns an id that was never landed;
    //  inv3  with no un-healed lost line outstanding, a read returns
    //        EXACTLY the landed set (nothing lost to compaction, folds,
    //        replays, or reclaim);
    //  inv4  compact heals an outstanding lost line (re-adoption), so
    //        inv3 holds again immediately after.
    // Hashes are seeded-random 64-bit — pairwise Hamming <= 3 odds are
    // ~2e-15 per pair, so every delivered row is kept and `landed` is
    // exact by construction.
    for (seed <- Seq(7L, 19L, 31L)) {
      val rnd = new scala.util.Random(seed)
      val allIds = (0L until 48L).map(i => i -> rnd.nextLong()).toMap
      def frameOf(ids: Seq[Long]) =
        ids.map(i => i -> allIds(i)).toDF("id", "phash")
      val dir = freshDir(s"lifecycle-$seed")
      var nextId = 0L
      def takeIds(n: Int): Seq[Long] = {
        val ids = (nextId until nextId + n); nextId += n; ids
      }
      val initIds = takeIds(3)
      FingerprintStore.init(frameOf(initIds), dir)
      var landed = initIds.toSet
      val deliveries = scala.collection.mutable.Map[String, Seq[Long]]()
      var loseOutstanding = false
      def readIds(): Seq[Long] = FingerprintStore.read(spark, dir)
        .collect().map(_.getAs[Long]("id")).toSeq
      def check(op: String): Unit = {
        val got = readIds()
        assert(got.size == got.distinct.size,
          s"seed=$seed after $op: duplicated ids in read: $got")
        assert(got.toSet.subsetOf(landed),
          s"seed=$seed after $op: phantom ids ${got.toSet -- landed}")
        if (!loseOutstanding)
          assert(got.toSet == landed,
            s"seed=$seed after $op: lost ${landed -- got.toSet}")
      }
      check("init")
      var d = 0
      (0 until 14).foreach { step =>
        rnd.nextInt(4) match {
          case 0 => // ingest a NEW delivery
            d += 1
            val ids = takeIds(1 + rnd.nextInt(3))
            deliveries(s"f$d") = ids
            FingerprintStore.ingest(spark, dir, s"f$d", frameOf(ids))
              .collect(): Unit
            landed ++= ids
            check(s"step $step ingest f$d")
          case 1 if deliveries.nonEmpty => // replay a random delivery
            val (tag, ids) = deliveries.toSeq(rnd.nextInt(deliveries.size))
            FingerprintStore.ingest(spark, dir, tag, frameOf(ids))
              .collect(): Unit
            check(s"step $step replay $tag")
          case 2 => // compact with a random retention dial
            FingerprintStore.compact(spark, dir,
              keepRecent = rnd.nextInt(3))
            loseOutstanding = false // re-adoption healed any lost line
            check(s"step $step compact")
          case _ if !loseOutstanding => // lose one live DELIVERY line
            val losable = FingerprintStore.livePartitions(spark, dir)
              .filterNot(FingerprintStore.isCompactedBase)
            if (losable.nonEmpty) {
              val victim = "delivery_id=" + losable(rnd.nextInt(losable.size))
              editManifest(dir)(_.filterNot(_ == victim))
              loseOutstanding = true
              check(s"step $step lose $victim")
            }
          case _ => // lose requested while one is outstanding: no-op
        }
      }
      // final heal: one compact must restore the exact landed set
      FingerprintStore.compact(spark, dir, keepRecent = 1)
      loseOutstanding = false
      check("final compact")
    }
  }

  test("ext133 entry: the compaction-lifecycle arc is structural — partitions 1,2,3,2,2,3,2 and rows move only at deliveries") {
    val out = graft.SparkEntry.queries("ext133_fingerprint_compaction")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getAs[String]("phase")).toSeq == Seq("init",
      "deliver_d1", "deliver_d2", "compact_protect_d2", "replay_d2",
      "deliver_d3", "compact2_protect_d3"))
    assert(out.map(_.getAs[Long]("n_live_partitions")).toSeq ==
      Seq(1L, 2L, 3L, 2L, 2L, 3L, 2L),
      "the partition arc IS the maintenance contract")
    val rows = out.map(_.getAs[Long]("n_rows")).toSeq
    // compaction and replay preserve contents exactly; deliveries are
    // the only steps that may move the count
    assert(rows(3) == rows(2), "compact moved the row count")
    assert(rows(4) == rows(3), "replay moved the row count")
    assert(rows(6) == rows(5), "second compact moved the row count")
    assert(rows(1) >= rows(0) && rows(2) >= rows(1) && rows(5) >= rows(4))
    assert(rows(0) > 0)
  }

  test("delivery ids outside the safe path charset are rejected up front") {
    // a '/', '=', '%' or space in the id writes a path whose DISCOVERED
    // partition value differs from the filter value, silently defeating
    // the probe's own-partition exclusion (r10 ADVICE) — so the require
    // must stop them before any path is built
    val dir = freshDir("charset")
    FingerprintStore.init(Seq((1L, 7L)).toDF("id", "phash"), dir)
    val d = Seq((2L, 99L)).toDF("id", "phash")
    for (bad <- Seq("", "a/b", "a=b", "a b", "a%2Fb", "d1\n",
        FingerprintStore.InitDelivery, FingerprintStore.CompactedPrefix,
        s"${FingerprintStore.CompactedPrefix}-3"))
      intercept[IllegalArgumentException] {
        FingerprintStore.ingest(spark, dir, bad, d)
      }
    // the safe charset itself passes — including ids that merely START
    // with the reserved prefix (only `compacted` / `compacted-<n>` are
    // reserved; a pre-existing store's `compacted2025` keeps working)
    FingerprintStore.ingest(spark, dir, "A-z.0_9", d).collect(): Unit
    FingerprintStore.ingest(spark, dir, "compacted2025", d).collect(): Unit
  }

  test("compact folds old deliveries into one base; contents unchanged; recent replay still idempotent") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("compact")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 4L, 6L))).collect(): Unit // kept: 3, 6
    val d2 = hashes.filter($"id".isin(9L, 10L))
    def verdictMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("verdict"),
          Option(r.getAs[java.lang.Long]("matched_id")).map(_.longValue))).toMap
    val v2 = verdictMap(FingerprintStore.ingest(spark, dir, "d2", d2)) // kept: 9
    def contents() = FingerprintStore.read(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSet
    val before = contents()
    FingerprintStore.compact(spark, dir, keepRecent = 1)
    assert(contents() == before,
      s"compaction changed store contents: $before -> ${contents()}")
    // partition layout: __init__ and d1 folded into the base, d2 kept
    val byDelivery = FingerprintStore.readTagged(spark, dir)
      .collect().groupBy(_.getAs[String]("delivery_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    assert(byDelivery == Map(
      s"${FingerprintStore.CompactedPrefix}-1" -> Set(0L, 1L, 2L, 3L, 6L),
      "d2" -> Set(9L)), s"partitions after compact: $byDelivery")
    // the RECENT delivery's replay contract is untouched post-compaction
    val replay2 = verdictMap(FingerprintStore.ingest(spark, dir, "d2", d2))
    assert(replay2 == v2, s"recent replay drifted: $v2 -> $replay2")
    assert(contents() == before, "recent replay mutated the store")
    // compacting again with nothing new to fold is a no-op
    FingerprintStore.compact(spark, dir, keepRecent = 1)
    assert(contents() == before)
  }

  test("compact protects named deliveries regardless of recency ranking") {
    // a caller that KNOWS which delivery's replay window is open names it
    // instead of trusting mtime recency (coarse-timestamp filesystems can
    // tie-rank a just-written partition below an older one — the
    // streaming write-back protects its current epoch this way)
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("compact-protect")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 6L))).collect(): Unit
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id" === 9L)).collect(): Unit
    def contents() = FingerprintStore.read(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSet
    val before = contents()
    // keepRecent=0 would fold EVERYTHING — the protected id must survive
    // with its own partition even though recency ranks it nowhere
    FingerprintStore.compact(spark, dir, keepRecent = 0,
      protect = Set("d1"))
    assert(contents() == before, "protected compaction changed contents")
    val byDelivery = FingerprintStore.readTagged(spark, dir)
      .collect().groupBy(_.getAs[String]("delivery_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    assert(byDelivery == Map(
      s"${FingerprintStore.CompactedPrefix}-1" -> Set(0L, 1L, 2L, 9L),
      "d1" -> Set(3L, 6L)), s"partitions after protected compact: $byDelivery")
    // protecting an id with no partition doesn't error — the fold just
    // proceeds without it, contents still unchanged
    FingerprintStore.compact(spark, dir, keepRecent = 0,
      protect = Set("never-written"))
    assert(contents() == before)
  }

  test("compact survives a crash at every window: staging leftovers rebuild, an orphan published-but-unlisted base stays invisible and is reclaimed, and the retained generation is reclaimed by the NEXT compact") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 15L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("compact-crash")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 4L, 6L))).collect(): Unit
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id".isin(9L, 10L))).collect(): Unit
    def contents() = FingerprintStore.read(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSet
    def onDisk() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("delivery_id=")).toSet
    def liveLayout() = FingerprintStore.readTagged(spark, dir)
      .collect().map(_.getAs[String]("delivery_id")).toSet
    val before = contents()
    // window 1 — crash BEFORE publish: a stale .compact_staging (here:
    // garbage rows, worse than any real crash leaves) plus intact inputs;
    // staging is invisible to readers and the re-run rebuilds it
    val staging = new java.io.File(dir, ".compact_staging").toString
    Seq((999L, 999L)).toDF("id", "phash").write.parquet(staging)
    assert(contents() == before, "staging must be invisible to readers")
    FingerprintStore.compact(spark, dir, keepRecent = 1)
    assert(contents() == before, "re-run after a pre-publish crash lost rows")
    assert(!new java.io.File(staging).exists())
    // generation retention (r12 verdict #7): the folded inputs stay on
    // DISK for pinned readers of the old manifest, but are not LIVE
    assert(liveLayout() ==
      Set(s"${FingerprintStore.CompactedPrefix}-1", "d2"),
      s"live layout: ${liveLayout()}")
    assert(onDisk().contains("delivery_id=__init__") &&
      onDisk().contains("delivery_id=d1"),
      s"folded inputs must be RETAINED until the next compact: ${onDisk()}")
    // window 2 — crash AFTER base publish, BEFORE the manifest swap: an
    // orphan base exists but is unlisted; no reader resolves it (its
    // garbage rows would show otherwise) and the next compact reclaims
    // it instead of folding it in
    Seq((999L, 999L)).toDF("id", "phash")
      .write.parquet(s"$dir/delivery_id=${FingerprintStore.CompactedPrefix}-9")
    assert(contents() == before, "an unlisted orphan base leaked into reads")
    FingerprintStore.ingest(spark, dir, "d3",
      hashes.filter($"id" === 12L)).collect(): Unit // fresh family -> kept
    val before2 = contents()
    assert(before2.map(_._1) == before.map(_._1) + 12L)
    FingerprintStore.compact(spark, dir, keepRecent = 1)
    assert(contents() == before2,
      s"re-compaction lost rows: ${contents().map(_._1)}")
    assert(liveLayout() ==
      Set(s"${FingerprintStore.CompactedPrefix}-2", "d3"),
      s"live layout after second compact: ${liveLayout()}")
    // the second compact's reclaim pass deleted generation n−2's inputs
    // AND the orphan; generation n−1's inputs are the new retained set
    assert(onDisk() == Set(
      s"delivery_id=${FingerprintStore.CompactedPrefix}-2", "delivery_id=d3",
      s"delivery_id=${FingerprintStore.CompactedPrefix}-1", "delivery_id=d2"),
      s"on disk after second compact: ${onDisk()}")
  }

  test("manifest-pinned reads resolve a mid-compaction store to exactly the old or new layout, never a mix or an error") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("manifest")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 4L, 6L))).collect(): Unit // kept: 3, 6
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id".isin(9L, 10L))).collect(): Unit // kept: 9
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash")))
    def layout() =
      FingerprintStore.readTagged(spark, dir)
        .collect().map(_.getAs[String]("delivery_id")).toSet
    val before = rowsOf(FingerprintStore.read(spark, dir)).toSet
    assert(rowsOf(spark.read.parquet(dir).select($"id", $"phash"))
      .toSet == before, "steady state: pinned == discovery")
    assert(layout() == Set("__init__", "d1", "d2"))
    // simulate the mid-compaction instant the class doc names — the fold
    // of __init__ + d1 is PUBLISHED as a base, inputs not yet deleted,
    // manifest not yet swapped (exactly what a crash between compact's
    // publish rename and its manifest write leaves)
    spark.read.parquet(s"$dir/delivery_id=__init__", s"$dir/delivery_id=d1")
      .select($"id", $"phash").distinct()
      .write.parquet(s"$dir/delivery_id=${FingerprintStore.CompactedPrefix}-1")
    // a RAW directory listing sees both generations at once — the
    // duplicated mix every manifest-resolved read must rule out
    val mixed = rowsOf(spark.read.parquet(dir).select($"id", $"phash"))
    assert(mixed.toSet == before && mixed.length > before.size,
      "fixture sanity: raw discovery must see the duplicated union here")
    // the manifest-resolved read (the DEFAULT once a manifest exists)
    // still resolves the pre-publish layout: same rows, same multiset
    // size, published-but-unlisted base invisible
    val pinnedMid = rowsOf(FingerprintStore.read(spark, dir))
    assert(pinnedMid.toSet == before && pinnedMid.length == before.size,
      s"mid-compaction read must be the OLD layout exactly: " +
        s"${pinnedMid.length} rows vs ${before.size}")
    assert(layout() == Set("__init__", "d1", "d2"),
      "the published base must stay invisible until the manifest swap")
    // a real compaction over this crashed state heals it: the reclaim
    // pass deletes the unlisted orphan base, the fold publishes fresh
    // under the SAME generation number, the manifest swaps — pinned and
    // default reads agree, no duplicate rows
    FingerprintStore.compact(spark, dir, keepRecent = 0,
      protect = Set("d2"))
    val pinnedAfter = rowsOf(FingerprintStore.read(spark, dir))
    assert(pinnedAfter.toSet == before && pinnedAfter.length == before.size)
    assert(layout() == Set(s"${FingerprintStore.CompactedPrefix}-1", "d2"))
    // a directory with no manifest is not a store: the read refuses
    // rather than fall back to the directory-discovery race
    val legacy = freshDir("legacy")
    hashes.filter($"id" < 2).select($"id", $"phash")
      .write.parquet(s"$legacy/delivery_id=old")
    val e = intercept[IllegalStateException] {
      FingerprintStore.read(spark, legacy).collect()
    }
    assert(e.getMessage.contains("_manifest"))
  }

  test("a reader pinned to the PRE-compaction manifest still reads real files after the swap; the next compact reclaims that generation") {
    // the r12 long-reader window: compaction used to delete its folded
    // inputs right after the manifest swap, so a pinned reader that
    // resolved the OLD manifest and outlived the compaction hit deleted
    // paths. Retention closes it: the old generation's files survive
    // until the NEXT compact call's reclaim pass.
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 15L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("retention")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 4L, 6L))).collect(): Unit // kept: 3, 6
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id".isin(9L, 10L))).collect(): Unit // kept: 9
    // the long reader: resolves the CURRENT (pre-compaction) manifest
    // now, collects only after the compaction has published and swapped
    val pinned = FingerprintStore.read(spark, dir)
    val expected = Set(0L, 1L, 2L, 3L, 6L, 9L)
    FingerprintStore.compact(spark, dir, keepRecent = 1) // folds __init__, d1
    assert(pinned.collect().map(_.getAs[Long]("id")).toSet == expected,
      "a reader pinned to the old manifest must still resolve real files " +
        "after the compaction swap (generation retention)")
    // …and a reader that starts NOW sees the new layout
    assert(FingerprintStore.readTagged(spark, dir)
      .collect().map(_.getAs[String]("delivery_id")).toSet ==
      Set(s"${FingerprintStore.CompactedPrefix}-1", "d2"))
    // the NEXT compact reclaims the retained generation's space
    FingerprintStore.ingest(spark, dir, "d3",
      hashes.filter($"id" === 12L)).collect(): Unit
    FingerprintStore.compact(spark, dir, keepRecent = 1)
    val onDisk = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("delivery_id=")).toSet
    assert(!onDisk.contains("delivery_id=__init__") &&
      !onDisk.contains("delivery_id=d1"),
      s"the second compaction must reclaim the retained generation: $onDisk")
    // store contents never changed through any of it
    assert(FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet == expected + 12L)
  }

  test("replaying a COMPACTED delivery is a fresh ingest against the full store (documented contract)") {
    // d1's survivors were folded into the base, so its replay self-matches
    // at distance 0: verdict classes flip to dropped_existing (evidence =
    // the stored copy), an empty partition lands under its id, and the
    // stored (id, phash) set does not change — compact a delivery only
    // after its at-least-once window has passed
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("compact-replay")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    val d1 = hashes.filter($"id".isin(3L, 4L, 6L))
    FingerprintStore.ingest(spark, dir, "d1", d1).collect(): Unit
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id".isin(9L, 10L))).collect(): Unit
    FingerprintStore.compact(spark, dir, keepRecent = 1) // folds __init__, d1
    def contents() = FingerprintStore.read(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSet
    val before = contents()
    val replay = FingerprintStore.ingest(spark, dir, "d1", d1)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("verdict"),
          Option(r.getAs[java.lang.Long]("matched_id")).map(_.longValue))).toMap
    assert(replay == Map(
      3L -> ("dropped_existing", Some(3L)),
      4L -> ("dropped_within", Some(3L)),
      6L -> ("dropped_existing", Some(6L))),
      s"compacted replay verdicts: $replay")
    assert(contents() == before,
      "a compacted replay must leave the stored set unchanged")
    val d1Partition = FingerprintStore.readTagged(spark, dir)
      .filter($"delivery_id" === "d1")
    assert(d1Partition.count() == 0,
      "the replay's zero survivors land as an empty (schema-bearing) partition")
  }

  test("a delivery write merges into the EXISTING manifest: it cannot resurrect unlisted partitions (r12 ADVICE)") {
    // if a compact crashes between its manifest swap and (pre-r13) its
    // input deletion — or, post-r13, simply retains a generation — the
    // directory holds partitions the manifest does not list. A delivery
    // writer that refreshed the manifest by RE-LISTING the directory
    // would put them back as live, handing every reader the duplicated
    // union the manifest exists to rule out.
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("merge-manifest")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    // an unlisted partition with poison rows (a retained generation or
    // crash leftover — either way, dead to every reader)
    Seq((999L, 999L)).toDF("id", "phash")
      .write.parquet(s"$dir/delivery_id=stale")
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id" === 6L)).collect(): Unit
    val layout = FingerprintStore.readTagged(spark, dir)
      .collect().map(_.getAs[String]("delivery_id")).toSet
    assert(layout == Set(FingerprintStore.InitDelivery, "d1"),
      s"the delivery write resurrected an unlisted partition: $layout")
    assert(!FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).contains(999L))
  }

  test("ingest into an empty-but-initialized store keeps everything fresh") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((30L until 36L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("empty")
    FingerprintStore.init(hashes.filter($"id" < 0), dir) // empty store
    val v = FingerprintStore.ingest(spark, dir, "d1", hashes)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("verdict")).toMap
    // two families of 3: min-id member of each kept, rest dropped_within
    assert(v == Map(30L -> "kept", 31L -> "dropped_within",
      32L -> "dropped_within", 33L -> "kept", 34L -> "dropped_within",
      35L -> "dropped_within"), s"verdicts: $v")
    assert(FingerprintStore.read(spark, dir).count() == 2)
  }

  test("reclaim deletes only by explicit evidence: a lost manifest line is re-adopted, a torn write and an unacked crash are deleted") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 15L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("readopt")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 6L))).collect(): Unit
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id" === 9L)).collect(): Unit
    def ids() = FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet
    val all = Set(0L, 1L, 2L, 3L, 6L, 9L)
    assert(ids() == all)
    // LOST MANIFEST LINE: a racing rewrite dropped d2's name — its
    // complete partition is on disk but unlisted; reads lose its rows...
    editManifest(dir)(_.filterNot(_ == "delivery_id=d2"))
    assert(ids() == all - 9L, "fixture: the lost line must hide d2")
    // ... a TORN WRITE (no ack, no _SUCCESS), and a delivery that
    // CRASHED between its data write and its manifest merge (parquet
    // complete, _SUCCESS present, but no ack — its caller was never
    // told it landed, and may have reprocessed the docs under a new
    // id; resurrecting it would plant phantom rows that suppress the
    // reprocessed delivery) sit beside it
    val torn = new java.io.File(dir, "delivery_id=torn")
    assert(torn.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(torn, "part-junk.parquet").toPath,
      "not parquet".getBytes("UTF-8"))
    val ghost = new java.io.File(dir, "delivery_id=ghost")
    hashes.filter($"id" === 12L).select("id", "phash")
      .write.parquet(ghost.toString)
    assert(new java.io.File(ghost, "_SUCCESS").exists(),
      "fixture: the crashed delivery's parquet commit must look complete")
    // compact: d2 is RE-ADOPTED (acked = once-visible landed data
    // survives bookkeeping loss); the torn write AND the never-merged
    // crash are both reclaimed — neither was ever visible
    FingerprintStore.compact(spark, dir, keepRecent = 0)
    assert(ids() == all,
      "an unlisted ACKED delivery must be re-adopted, not deleted")
    assert(!torn.exists(), "a torn write must be reclaimed")
    assert(!ghost.exists(),
      "a never-merged (unacked) delivery must be reclaimed, not resurrected")
    // ... and d2's rows are live through the manifest, not discovery
    assert(FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet == all)
  }

  test("RACING writers: concurrent writeDelivery calls never lose data — acks and files hard at return, visibility healed by compact") {
    // the verified-merge loop's actual contended shape, not a
    // hand-edited simulation: pairs of deliveries race the manifest's
    // read-modify-write from two threads. Postconditions pin the
    // DOCUMENTED contract (mergeIntoManifest scaladoc): at return, each
    // writer's ack and data files exist — HARD; a manifest line may
    // transiently lose to an overwrite landing after the loser's verify
    // — SOFT, and the next compact's re-adoption must restore the full
    // union, so the race costs visibility, never data.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 40L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("racing")
    FingerprintStore.init(hashes.filter($"id" < 2), dir)
    val rounds = 4
    (0 until rounds).foreach { r =>
      val (idA, idB) = (s"ra$r", s"rb$r")
      val (vecA, vecB) = (10L + 2 * r, 11L + 2 * r)
      val fa = Future(FingerprintStore.writeDelivery(dir, idA,
        hashes.filter($"id" === vecA)))
      val fb = Future(FingerprintStore.writeDelivery(dir, idB,
        hashes.filter($"id" === vecB)))
      Await.result(fa.zip(fb), 120.seconds): Unit
      // HARD guarantees the moment both writers returned: both acked,
      // both partitions on disk with data. Line VISIBILITY is the
      // documented soft half — an overwrite landing after a successful
      // verify may lose a name transiently (mergeIntoManifest scaladoc)
      // — so a missing line is legal here; what it must NOT be is
      // data loss, which the post-compact assertion below pins.
      Seq(idA, idB).foreach { id =>
        assert(new java.io.File(dir, s"delivery_id=$id/_graft_ack")
          .exists(), s"round $r: writer $id returned without its ack")
        assert(Option(new java.io.File(dir, s"delivery_id=$id").listFiles())
          .getOrElse(Array.empty)
          .exists(f => !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")),
          s"round $r: writer $id returned without data files")
      }
    }
    val expect = Set(0L, 1L) ++
      (0 until rounds).flatMap(r => Seq(10L + 2 * r, 11L + 2 * r))
    // compact first: re-adoption heals any transiently-lost line, and
    // the contract promises the race costs visibility, never data
    FingerprintStore.compact(spark, dir, keepRecent = 1)
    assert(FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet == expect,
      "a racing merge cost DATA, not just visibility")
    // and a second compact folds the raced store cleanly
    FingerprintStore.compact(spark, dir, keepRecent = 0)
    assert(FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet == expect)
  }

  test("compact backfills the ack on live-listed partitions: a pre-ack-era (or merge-crash) partition regains re-adoption protection") {
    val hashes = ImageDedup.hashes(
      ImageCorpus.forIds((0L until 12L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = freshDir("ack-backfill")
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id" === 6L)).collect(): Unit
    // simulate a pre-ack-era store (or a crash between manifest merge
    // and ack): d1 is live-listed but its ack marker is gone
    val ack = new java.io.File(dir, "delivery_id=d1/_graft_ack")
    assert(ack.exists(), "fixture: writeDelivery must have acked d1")
    assert(ack.delete())
    // a no-op compact (nothing to fold) still runs the backfill pass:
    // live-listed = visible = exactly what the ack asserts
    FingerprintStore.compact(spark, dir, keepRecent = 5)
    assert(ack.exists(), "compact must backfill acks on live partitions")
    // the restored ack is what makes a later lost manifest line
    // survivable: drop d1's line and compact — it must be re-adopted
    editManifest(dir)(_.filterNot(_ == "delivery_id=d1"))
    FingerprintStore.compact(spark, dir, keepRecent = 5)
    assert(FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet == Set(0L, 1L, 2L, 6L),
      "the backfilled ack must carry d1 through a lost manifest line")
  }

  test("a manifest without the v2 header is rejected, naming the file") {
    // every writer publishes the `#graft-manifest-v2` header first, so a
    // header-less `_manifest` is foreign or damaged — reading it as a
    // live list would resolve whatever names it happens to carry
    val dir = freshDir("headerless")
    FingerprintStore.init(Seq((0L, 1L)).toDF("id", "phash"), dir)
    editManifest(dir)(_ => List("delivery_id=__init__"))
    val e = intercept[IllegalArgumentException] {
      FingerprintStore.read(spark, dir)
    }
    assert(e.getMessage.contains(s"$dir/_manifest") &&
      e.getMessage.contains("#graft-manifest-v2"), e.getMessage)
    // the writers refuse it too instead of rewriting it
    intercept[IllegalArgumentException] {
      FingerprintStore.compact(spark, dir, keepRecent = 0)
    }
  }

  test("a first delivery that crashed before its manifest merge never becomes live: the next writeDelivery lists only itself and compact reclaims it") {
    // delivery a landed its data in a fresh dir, then the writer died
    // before its first manifest merge: no ack and no manifest line, so
    // it was never visible and its caller was never told it landed
    val dir = freshDir("first-crash")
    Seq((1L, 0x0123456789abcdefL)).toDF("id", "phash")
      .write.parquet(s"$dir/delivery_id=a")
    FingerprintStore.writeDelivery(dir, "b",
      Seq((2L, 0x7edcba9876543210L)).toDF("id", "phash"))
    assert(FingerprintStore.livePartitions(spark, dir) == Seq("b"))
    assert(!FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).contains(1L),
      "the crashed delivery's rows must stay invisible")
    FingerprintStore.compact(spark, dir, keepRecent = 1)
    assert(!new java.io.File(dir, "delivery_id=a").exists(),
      "compact must reclaim the never-merged (unacked) delivery")
  }

  test("a lost manifest is never read as an empty store: the writers refuse and no row is lost") {
    // a `_manifest` deleted from outside (here: moved aside) beside
    // acked and compacted partitions; an empty live set would let
    // compact reclaim every base
    val dir = freshDir("lost-manifest")
    FingerprintStore.init(Seq((0L, 10L)).toDF("id", "phash"), dir)
    FingerprintStore.writeDelivery(dir, "d1",
      Seq((1L, 11L)).toDF("id", "phash"))
    FingerprintStore.compact(spark, dir, keepRecent = 0)
    FingerprintStore.writeDelivery(dir, "d2",
      Seq((2L, 12L)).toDF("id", "phash"))
    FingerprintStore.compact(spark, dir, keepRecent = 0)
    def ids() = FingerprintStore.read(spark, dir)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(ids() == Set(0L, 1L, 2L))
    val (mf, orphan) = (java.nio.file.Paths.get(dir, "_manifest"),
      java.nio.file.Paths.get(dir, "._manifest.killed000000.tmp"))
    java.nio.file.Files.move(mf, orphan)
    val e = intercept[IllegalStateException] {
      FingerprintStore.writeDelivery(dir, "d3",
        Seq((3L, 13L)).toDF("id", "phash"))
    }
    assert(e.getMessage.contains("_manifest") &&
      e.getMessage.contains("lost"), e.getMessage)
    intercept[IllegalStateException] {
      FingerprintStore.compact(spark, dir, keepRecent = 0)
    }
    Seq(1, 2).foreach { n =>
      assert(new java.io.File(dir,
        s"delivery_id=${FingerprintStore.CompactedPrefix}-$n").exists(),
        s"compacted-$n must survive the lost manifest")
    }
    // restoring the orphan's bytes recovers the store with every row;
    // d3, refused before its merge, stays invisible and is reclaimed
    java.nio.file.Files.move(orphan, mf)
    assert(ids() == Set(0L, 1L, 2L))
    FingerprintStore.compact(spark, dir, keepRecent = 0)
    assert(ids() == Set(0L, 1L, 2L))
    assert(!new java.io.File(dir, "delivery_id=d3").exists())
  }
}
