package graft.operators

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Benchmark-contamination guard (ext126/ext127): planted verbatim
  * excerpts flag with exact window counts, island extents and benchmark
  * coverage; clean/short/null documents stay silent; two disjoint copies
  * of one excerpt merge into two islands but one hash set; the sampled
  * tier agrees with an independent reimplementation of the winnowing
  * selection; and the island arithmetic equals [[SubstringDedup]]'s
  * batch gaps-and-islands on the same positions.
  */
class ContaminationGuardSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val W = 64

  /** Deterministic letter soup with no repeated W-char window (checked
    * below): splitmix-style per-position letters over a 26-char alphabet. */
  private def soup(seed: Long, n: Int): String = {
    val sb = new StringBuilder(n)
    var x = seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
    var i = 0
    while (i < n) {
      x ^= x >>> 27; x *= 0x3c79ac492ba7b653L; x ^= x >>> 33
      sb.append(('a' + ((x & 0x7fffffffL) % 26)).toChar)
      x += 0x9e3779b97f4a7c15L
      i += 1
    }
    sb.toString
  }

  private val bench0 = soup(1L, 200) // 137 windows, all distinct
  private val bench1 = soup(2L, 150) // 87 windows
  private val benchDf = Seq((0L, bench0), (1L, bench1)).toDF("doc_id", "text")

  private def md5hex(s: String): String =
    SubstringDedup.toHex(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  private def windowsOf(t: String): Seq[String] =
    (0 to t.length - W).map(i => md5hex(t.substring(i, i + W)))

  test("fixture sanity: benchmark windows are distinct within and across benches") {
    val w0 = windowsOf(bench0)
    val w1 = windowsOf(bench1)
    assert(w0.distinct.size == 137 && w1.distinct.size == 87)
    assert((w0.toSet & w1.toSet).isEmpty)
  }

  test("exact tier: planted excerpts flag with window counts, island extents and coverage; clean/short/null are silent") {
    val excerpt0 = bench0.substring(50, 150) // 100 chars -> 37 windows
    val excerpt1 = bench1.substring(0, 80)   // 80 chars  -> 17 windows
    val docs = Seq(
      (10L, soup(10L, 120) + excerpt0 + soup(11L, 90)),  // bench0 at pos 121
      (11L, soup(12L, 300)),                             // clean
      (12L, excerpt0 + soup(13L, 100) + excerpt1),       // both benches
      (13L, "tiny"),                                     // shorter than W
      (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val idx = ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W)
    assert(idx.benchHashes == Map(0L -> 137L, 1L -> 87L))
    val got = ContaminationGuard.flag(docs, "text", "doc_id", idx)
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((10L, 0L), (12L, 0L), (12L, 1L)))
    val r10 = got.head
    assert(r10.getAs[Long]("n_matched_windows") == 37L)
    assert(r10.getAs[Long]("contaminated_chars") == 100L)
    assert(r10.getAs[Long]("longest_run_chars") == 100L)
    assert(r10.getAs[Double]("bench_coverage") ==
      BigDecimal(37.0 / 137).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    val r12b1 = got(2)
    assert(r12b1.getAs[Long]("n_matched_windows") == 17L)
    assert(r12b1.getAs[Long]("contaminated_chars") == 80L)
    assert(r12b1.getAs[Double]("bench_coverage") ==
      BigDecimal(17.0 / 87).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("two disjoint copies of one excerpt: two islands, summed chars, one hash set") {
    val excerpt = bench0.substring(0, 100) // 37 windows
    val docs = Seq(
      (20L, excerpt + soup(20L, 200) + excerpt)) // gap 200 > W-1
      .toDF("doc_id", "text")
    val idx = ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W)
    val r = ContaminationGuard.flag(docs, "text", "doc_id", idx).collect().head
    assert(r.getAs[Long]("n_matched_windows") == 74L) // both copies' positions
    assert(r.getAs[Long]("contaminated_chars") == 200L) // two 100-char islands
    assert(r.getAs[Long]("longest_run_chars") == 100L)
    // coverage counts DISTINCT benchmark hashes: the second copy adds none
    assert(r.getAs[Double]("bench_coverage") ==
      BigDecimal(37.0 / 137).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("two bench-discontiguous excerpts concatenated: adjacent extents count each char once") {
    // ex1 ends at bench pos 70, ex2 starts at bench pos 100, so windows
    // SPANNING the junction match nothing; the two islands' extents are
    // exactly adjacent (window-start gap 64 = W), and the char total is
    // the doc length -- adjacency never double-counts
    val ex1 = bench0.substring(0, 70)    // 7 windows at doc pos 1..7
    val ex2 = bench0.substring(100, 170) // 7 windows at doc pos 71..77
    val docs = Seq((30L, ex1 + ex2)).toDF("doc_id", "text")
    val idx = ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W)
    val r = ContaminationGuard.flag(docs, "text", "doc_id", idx).collect().head
    assert(r.getAs[Long]("n_matched_windows") == 14L)
    assert(r.getAs[Long]("contaminated_chars") == 140L) // == doc length
    assert(r.getAs[Long]("longest_run_chars") == 70L)   // two 70-char islands
  }

  test("sampled tier: both sides keep exactly the self-selecting windows; a long leak still flags") {
    val excerpt = bench0 // the WHOLE benchmark doc leaked (200 chars)
    val docs = Seq(
      (40L, soup(40L, 100) + excerpt + soup(41L, 100)),
      (41L, soup(42L, 400))) // clean
      .toDF("doc_id", "text")
    val idx = ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id",
      W, hexPrefix = "0")
    // independent reimplementation of the 1/16 winnowing selection
    val kept0 = windowsOf(bench0).filter(_.startsWith("0"))
    val kept1 = windowsOf(bench1).filter(_.startsWith("0"))
    assert(idx.benchHashes == Map(0L -> kept0.distinct.size.toLong,
      1L -> kept1.distinct.size.toLong))
    assert(kept0.nonEmpty, "fixture must keep >=1 sampled window")
    val got = ContaminationGuard.flag(docs, "text", "doc_id", idx)
      .collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1))) == Seq((40L, 0L)))
    // every kept benchmark window occurs verbatim in the doc -> full
    // sampled coverage, and matched positions == kept windows
    assert(got.head.getAs[Long]("n_matched_windows") == kept0.size.toLong)
    assert(got.head.getAs[Double]("bench_coverage") == 1.0)
  }

  test("guard islands == SubstringDedup's batch gaps-and-islands on the same matched positions") {
    // feed the SAME text to duplicatedCoverage (doc + benchmark as two
    // docs: every benchmark window is duplicated) and compare extents
    val excerpt = bench0.substring(20, 160) // 140 chars
    val docText = soup(50L, 80) + excerpt + soup(51L, 80)
    val idx = ContaminationGuard.benchmarkIndex(
      Seq((0L, excerpt)).toDF("doc_id", "text"), "text", "doc_id", W)
    val guard = ContaminationGuard.flag(
      Seq((60L, docText)).toDF("doc_id", "text"), "text", "doc_id", idx)
      .collect().head
    val cov = SubstringDedup.duplicatedCoverage(
      Seq((0L, excerpt), (60L, docText)).toDF("doc_id", "text"),
      "text", "doc_id", W)
      .filter($"doc_id" === 60L).collect().head
    assert(guard.getAs[Long]("contaminated_chars") ==
      cov.getAs[Long]("dup_chars"))
    assert(guard.getAs[Long]("n_matched_windows") == 77L) // 140-64+1
  }

  test("the bounded-collect contract is enforced: a corpus-sized benchmark aborts with a pointer to the banded path") {
    val e = intercept[IllegalArgumentException] {
      ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W,
        maxEntries = 100) // bench0+bench1 hold 224 distinct windows
    }
    assert(e.getMessage.contains("duplicatedSpans"), e.getMessage)
    // and the cap is on DISTINCT entries, so a legitimate suite just fits
    val idx = ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W,
      maxEntries = 224)
    assert(idx.benchHashes.values.sum == 224L)
  }

  test("sampled hits graduate to exact via refineFlags: refined rows equal the exact tier's, on the flagged pairs only") {
    val docs = Seq(
      (40L, soup(40L, 100) + bench0 + soup(41L, 100)), // whole-bench leak
      (41L, soup(42L, 400)))                           // clean
      .toDF("doc_id", "text")
    val sampledIdx = ContaminationGuard.benchmarkIndex(
      benchDf, "text", "doc_id", W, hexPrefix = "0")
    val sampled = ContaminationGuard.flag(docs, "text", "doc_id", sampledIdx)
    val refined = ContaminationGuard.refineFlags(
      sampled, docs, benchDf, "text", "doc_id", W).collect().toSeq
    // the exact tier over everything, restricted to the flagged pair set
    val exactAll = ContaminationGuard.flag(docs, "text", "doc_id",
      ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W))
      .collect().toSeq
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5))
    val flaggedPairs = sampled.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flaggedPairs == Set((40L, 0L))) // the sampled tier found the leak
    assert(refined.map(key).sorted ==
      exactAll.filter(r => flaggedPairs((r.getLong(0), r.getLong(1))))
        .map(key).sorted)
    // a sampled hit always confirms exactly (sampling only loses windows)
    assert(refined.map(r => (r.getLong(0), r.getLong(1))).toSet == flaggedPairs)
    // the refined numbers are the full-resolution ones: 137 windows of a
    // 200-char whole-benchmark leak, coverage 1.0
    assert(refined.head.getAs[Long]("n_matched_windows") == 137L)
    assert(refined.head.getAs[Long]("contaminated_chars") == 200L)
    assert(refined.head.getAs[Double]("bench_coverage") == 1.0)
  }

  test("excise cuts exactly the leaked islands: surrounding text preserved char-for-char, clean docs byte-identical, invariants hold") {
    val pre = soup(70L, 120)
    val post = soup(71L, 90)
    val excerpt = bench0.substring(50, 150) // 100 chars
    val cleanText = soup(72L, 300)
    val docs = Seq(
      (10L, pre + excerpt + post),
      (11L, cleanText),
      (12L, excerpt + soup(73L, 200) + excerpt), // two disjoint copies
      (13L, "tiny"))
      .toDF("doc_id", "text")
    val idx = ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W)
    val got = ContaminationGuard.excise(docs, "text", "doc_id", idx)
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L, 13L),
      "every scanned doc present")
    def md5s(s: String) = md5hex(s)
    val r10 = got(0)
    assert(r10.getAs[Long]("n_spans") == 1L &&
      r10.getAs[Long]("removed_chars") == 100L)
    assert(r10.getAs[Long]("kept_chars") ==
      r10.getAs[Long]("n_chars") - 100L)
    assert(r10.getAs[String]("cleaned_digest") == md5s(pre + post),
      "the rebuilt text is exactly the text around the leak")
    assert(got(1).getAs[Long]("removed_chars") == 0L &&
      got(1).getAs[String]("cleaned_digest") == md5s(cleanText),
      "clean docs byte-identical")
    val r12 = got(2)
    assert(r12.getAs[Long]("n_spans") == 2L &&
      r12.getAs[Long]("removed_chars") == 200L)
    assert(r12.getAs[String]("cleaned_digest") == md5s(soup(73L, 200)))
    assert(got(3).getAs[String]("cleaned_digest") == md5s("tiny"))
    // removed_chars equals flag()'s contaminated_chars when one benchmark
    // is involved (same islands, different consumer)
    val f = ContaminationGuard.flag(docs, "text", "doc_id", idx)
      .filter($"doc_id" === 10L).collect().head
    assert(f.getAs[Long]("contaminated_chars") ==
      r10.getAs[Long]("removed_chars"))
  }

  test("excise/withCuts enforce the exact tier: a sampled index aborts unless the partial cut is opted into") {
    // a sampled (1/16) index only sees the self-selecting windows, so an
    // excision from it silently leaves leaked text in the "cleaned"
    // output — detect sampled, excise exact. The require mirrors the
    // Bloom gate's requireRunDial discipline.
    val docs = Seq((10L, soup(70L, 60) + bench0 + soup(71L, 60)))
      .toDF("doc_id", "text")
    val sampled = ContaminationGuard.benchmarkIndex(
      benchDf, "text", "doc_id", W, hexPrefix = "0")
    val eEx = intercept[IllegalArgumentException] {
      ContaminationGuard.excise(docs, "text", "doc_id", sampled)
    }
    assert(eEx.getMessage.contains("exact tier"))
    val eCut = intercept[IllegalArgumentException] {
      ContaminationGuard.withCuts(docs, "text", sampled)
    }
    assert(eCut.getMessage.contains("exact tier"))
    // the explicit opt-in still works and cuts the (conservative,
    // sampled-positions) subset — every cut is inside the true leak
    val optIn = ContaminationGuard.excise(
      docs, "text", "doc_id", sampled, allowSampled = true).collect()
    assert(optIn.length == 1)
    val exact = ContaminationGuard.excise(docs, "text", "doc_id",
      ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W))
      .collect().head
    assert(optIn.head.getAs[Long]("removed_chars") <=
      exact.getAs[Long]("removed_chars"),
      "a sampled cut list is a subset of the exact tier's")
  }

  test("bloom tier: flagged set supersets the exact tier per doc (no false negatives), bounds its window counts, and graduates to the identical exact verdicts") {
    val excerpt0 = bench0.substring(50, 150)
    val excerpt1 = bench1.substring(0, 80)
    val docs = Seq(
      (10L, soup(10L, 120) + excerpt0 + soup(11L, 90)),  // bench0 leak
      (11L, soup(12L, 300)),                             // clean (may FP)
      (12L, excerpt0 + soup(13L, 100) + excerpt1),       // both benches
      (13L, "tiny"),                                     // shorter than W
      (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val idx = ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id", W)
    val exact = ContaminationGuard.flag(docs, "text", "doc_id", idx)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("n_matched_windows").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = ContaminationGuard.bloomIndex(benchDf, "text", W)
    val flagged = ContaminationGuard.flagBloom(docs, "text", "doc_id",
      bloom)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_might_windows"),
          r.getAs[Long]("first_might_pos"))).toMap
    // no false negatives: every exact-contaminated doc is bloom-flagged,
    // with at least the exact tier's matched windows (FPs only add)
    exact.foreach { case (doc, n) =>
      assert(flagged.contains(doc), s"bloom missed contaminated doc $doc")
      assert(flagged(doc)._1 >= n,
        s"doc $doc: bloom bound ${flagged(doc)._1} < exact $n")
    }
    // the planted leaks' first hit can only move EARLIER via an FP
    assert(flagged(10L)._2 <= 121L && flagged(12L)._2 == 1L)
    // short/null docs cannot flag (no windows to probe)
    assert(!flagged.contains(13L) && !flagged.contains(14L))
    // the minRun dial: requiring 3 CONSECUTIVE might-windows keeps every
    // real leak (their runs are 37/17 long) with at least the exact
    // counts, flags a subset of the run-1 verdicts, and still reports
    // the planted first positions — isolated FP windows no longer
    // promote a doc on their own
    val flaggedRun3 = ContaminationGuard.flagBloom(docs, "text", "doc_id",
      bloom, minRun = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_might_windows"),
          r.getAs[Long]("first_might_pos"))).toMap
    assert(flaggedRun3.keySet.subsetOf(flagged.keySet))
    exact.foreach { case (doc, n) =>
      assert(flaggedRun3.contains(doc) && flaggedRun3(doc)._1 >= n,
        s"doc $doc: run-3 bloom lost a real leak ($flaggedRun3 vs exact $n)")
    }
    assert(flaggedRun3(10L)._2 == 121L && flaggedRun3(12L)._2 == 1L,
      "with isolated FPs suppressed, first_might_pos is the leak's start")
    // the documented NARROWING: a doc whose only leak is exactly one
    // window (64 chars -> a single matched position, run length 1) is
    // caught at minRun 1 but emits NO row at minRun 3 — minimum
    // detectable leak is window+minRun-1 chars, size minRun accordingly
    val shortLeak = Seq(
      (15L, soup(20L, 150) + bench0.substring(0, W) + soup(21L, 150)))
      .toDF("doc_id", "text")
    assert(ContaminationGuard.flagBloom(shortLeak, "text", "doc_id", bloom)
      .collect().map(_.getLong(0)).toSeq == Seq(15L))
    assert(ContaminationGuard.flagBloom(shortLeak, "text", "doc_id", bloom,
      minRun = 3).isEmpty,
      "a sub-(window+minRun-1) leak is below the run dial's floor")
    // sampling keeps non-adjacent windows — minRun > 1 there is rejected
    val sampledBloom = ContaminationGuard.bloomIndex(benchDf, "text", W,
      hexPrefix = "0")
    intercept[IllegalArgumentException] {
      ContaminationGuard.flagBloom(docs, "text", "doc_id", sampledBloom,
        minRun = 3)
    }
    // graduation: the exact tier on just the bloom-flagged docs equals
    // the exact tier run directly — FPs confirm to nothing and the
    // funnel loses no verdicts
    val flaggedIds = flagged.keySet
    val graduated = ContaminationGuard.flag(
      docs.filter(org.apache.spark.sql.functions.col("doc_id")
        .isin(flaggedIds.toSeq: _*)), "text", "doc_id", idx)
      .orderBy("doc_id", "bench_id").collect().toSeq
    val direct = ContaminationGuard.flag(docs, "text", "doc_id", idx)
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(graduated == direct,
      "bloom-pruned exact verdicts must equal the directly-run exact tier")
  }

  test("bloom index save/load: verdicts from the loaded index equal the fresh-built index's, false positives included") {
    // fpp 0.5 makes FP windows near-certain on long clean docs — exactly
    // the rows where bit-identity matters: a reload that lost or gained
    // one bit would flip some FP verdict. minRun=1 keeps them visible.
    val docs = (0 until 6).map(i => (10L + i, soup(80L + i, 150)))
      .toDF("doc_id", "text")
    val built = ContaminationGuard.bloomIndex(benchDf, "text", fpp = 0.5)
    val dir = graft.ScratchDir.dir("bloom-rt")
    built.save(spark, dir)
    val loaded = ContaminationGuard.loadBloomIndex(spark, dir)
    assert(loaded.window == built.window &&
      loaded.hexPrefix == built.hexPrefix && loaded.fpp == built.fpp)
    def verdicts(idx: ContaminationGuard.BloomIndex) =
      ContaminationGuard.flagBloom(docs, "text", "doc_id", idx, minRun = 1)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_might_windows"),
          r.getAs[Long]("first_might_pos"))).toSeq
    assert(verdicts(loaded) == verdicts(built),
      "saved→loaded verdicts must be bit-identical to fresh-built")
    // a re-save overwrites in place and still loads
    built.save(spark, dir)
    assert(verdicts(ContaminationGuard.loadBloomIndex(spark, dir)) ==
      verdicts(built))
    // a non-index file rejects on the magic header instead of mis-parsing
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bloom_index.bin"),
      "not an index".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[Exception] { ContaminationGuard.loadBloomIndex(spark, dir) }
    assert(e.getMessage != null)
  }

  test("CONCURRENT load during re-save: every load resolves one coherent generation — never a missing, torn, or parameter-mixed index") {
    // the publish contract, exercised as an actual race rather than
    // reasoned about: a writer re-saves alternating generations in a
    // tight loop while this thread loads continuously. Each loaded index
    // must be ENTIRELY generation A or ENTIRELY generation B — the
    // bundled (window, hexPrefix, fpp) are the coherence witness (a torn
    // read would fail the CRC32 trailer or pair A's header with B's
    // bits; a non-atomic publish would surface as FileNotFound).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val genA = ContaminationGuard.bloomIndex(benchDf, "text",
      window = 16, hexPrefix = "", fpp = 0.01)
    val genB = ContaminationGuard.bloomIndex(benchDf, "text",
      window = 32, hexPrefix = "0", fpp = 0.25)
    val dir = graft.ScratchDir.dir("bloom-race")
    genA.save(spark, dir)
    @volatile var saving = true
    val writer = Future {
      var i = 0
      while (saving) { (if (i % 2 == 0) genB else genA).save(spark, dir); i += 1 }
      i
    }
    try {
      (0 until 40).foreach { _ =>
        val got = ContaminationGuard.loadBloomIndex(spark, dir)
        val isA = got.window == genA.window &&
          got.hexPrefix == genA.hexPrefix && got.fpp == genA.fpp
        val isB = got.window == genB.window &&
          got.hexPrefix == genB.hexPrefix && got.fpp == genB.fpp
        assert(isA || isB,
          s"load observed a mixed generation: (${got.window}, " +
            s"'${got.hexPrefix}', ${got.fpp})")
      }
    } finally saving = false
    val saves = Await.result(writer, 120.seconds)
    assert(saves > 0, "fixture: the writer must actually have re-saved")
    // quiesced store still loads whole
    val fin = ContaminationGuard.loadBloomIndex(spark, dir)
    assert(fin.window == genA.window || fin.window == genB.window)
  }

  test("bloom run-fold fuzz: flagBloom matches an independent might-mask + run reimplementation at every minRun") {
    // the consecutive-run fold now backs BOTH the audit (flagBloom) and
    // the ingest gate (withBloomHit) — pin it against a brute-force
    // reference: enumerate windows in the spec, ask the same filter for
    // the might-mask, fold runs with plain collections code
    val bloom = ContaminationGuard.bloomIndex(benchDf, "text", W, fpp = 0.3)
    val rnd = new scala.util.Random(42)
    val docs = (0 until 20).map { i =>
      // mix: pure soup, soup with a planted excerpt, short, leaning long
      val t = rnd.nextInt(4) match {
        case 0 => soup(100L + i, 80 + rnd.nextInt(300))
        case 1 => soup(200L + i, 100) +
          bench0.substring(rnd.nextInt(80), 80 + rnd.nextInt(120)) +
          soup(300L + i, 60)
        case 2 => soup(400L + i, rnd.nextInt(70)) // may be < W
        case _ => bench1.substring(0, 70 + rnd.nextInt(80))
      }
      (i.toLong, t)
    }
    val docsDf = docs.toDF("doc_id", "text")
    Seq(1, 2, 3, 5).foreach { minRun =>
      val got = ContaminationGuard.flagBloom(docsDf, "text", "doc_id",
        bloom, minRun)
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Long]("n_might_windows"),
            r.getAs[Long]("first_might_pos"))).toMap
      val expected = docs.flatMap { case (id, t) =>
        if (t.length < W) None
        else {
          val mask = (0 to t.length - W).map(i =>
            bloom.filter.mightContainString(md5hex(t.substring(i, i + W))))
          // runs of consecutive true positions, kept iff length >= minRun
          val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var s = -1
          mask.indices.foreach { i =>
            if (mask(i) && s < 0) s = i
            if (!mask(i) && s >= 0) { runs += ((s, i - s)); s = -1 }
          }
          if (s >= 0) runs += ((s, mask.length - s))
          val kept = runs.filter(_._2 >= minRun)
          if (kept.isEmpty) None
          else Some(id -> (kept.map(_._2.toLong).sum, kept.head._1 + 1L))
        }
      }.toMap
      assert(got == expected, s"minRun=$minRun: $got vs $expected")
    }
  }

  test("streaming flagText == batch flag (shared implementation), envelope kept") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val excerpt = bench0.substring(50, 150)
    val idx = graft.streaming.WatchlistMonitor.textWatchlist(
      benchDf, "text", "doc_id", W)
    val mk = Seq(
      (100L, "crawlA", soup(60L, 50) + excerpt),
      (101L, "crawlB", soup(61L, 300)))
    val batch = graft.streaming.WatchlistMonitor.flagText(
      mk.toDF("item_id", "source", "text"), "text", idx).collect().toSeq
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)]
    stream.addData(mk: _*)
    val out = graft.ScratchDir.dir("contam")
    graft.streaming.WatchlistMonitor.flagText(
        stream.toDF().toDF("item_id", "source", "text"), "text", idx)
      .writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/flags")
      }
      .start().awaitTermination()
    val streamed = spark.read.parquet(s"$out/flags").collect().toSeq
    def key(r: Row) = (r.getAs[Long]("item_id"), r.getAs[String]("source"),
      r.getAs[Long]("bench_id"), r.getAs[Long]("n_matched_windows"),
      r.getAs[Long]("contaminated_chars"), r.getAs[Long]("longest_run_chars"),
      r.getAs[Double]("bench_coverage"))
    assert(streamed.map(key).sorted == batch.map(key).sorted)
    assert(batch.map(r => r.getAs[Long]("item_id")) == Seq(100L))
  }
}
