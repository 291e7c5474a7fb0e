package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench staging harness must mirror the fixture directory exactly: a
  * table added to the fixtures later is staged automatically (the
  * hard-coded-list failure mode was a confusing path-not-found at query
  * time), sized by the bytes-per-split rule.
  */
class BenchStageSpec extends AnyFunSuite with SparkTestSession {

  test("stage enumerates every fixture table and splits by file size") {
    // Bench runs under GraftSession, which pins this for the events table;
    // the shared test session needs it set explicitly before the raw read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sfDir = "/root/testdata/sf0.001"
    val staged = Bench.stage(spark, sfDir, splits = 8)
    try {
      val fixtures = new java.io.File(sfDir).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
      val stagedTables = new java.io.File(staged).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(stagedTables == fixtures)
      // every staged table reads back with the original row count
      fixtures.foreach { t =>
        val orig =
          if (t == "events.parquet") graft.sources.Tables.events(spark, sfDir).count()
          else spark.read.parquet(s"$sfDir/$t").count()
        val got =
          if (t == "events.parquet") graft.sources.Tables.events(spark, staged).count()
          else spark.read.parquet(s"$staged/$t").count()
        assert(got == orig, s"$t row count changed by staging")
      }
      // dims stay single-file; every table stages to at least one part
      val regionParts = new java.io.File(s"$staged/region.parquet")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(regionParts == 1, "tiny dim must stay single-split")
    } finally {
      graft.util.LocalFs.deleteRecursively(staged)
    }
  }

  test("pair_build_sec: one key per staged source SF, no warm-up build") {
    val warm = "word-setsim|/data/sf0.001|n=3|t=0.8"
    val json = Bench.pairBuildSection(
      Map("word-setsim|/tmp/bench-sf1|n=3|t=0.8" -> 3.45,
        "word-setsim|/tmp/bench-sf12|n=3|t=0.8" -> 0.773,
        warm -> 10.94),
      stagedFrom = Map("/tmp/bench-sf1" -> "/data/sf0.1",
        "/tmp/bench-sf12" -> "/data/sf0.01"),
      warmup = Set(warm))
    val keys = "\"([^\"]+)\":".r.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(keys == Seq("word-setsim|staged:/data/sf0.1|n=3|t=0.8",
      "word-setsim|staged:/data/sf0.01|n=3|t=0.8"), json)
    assert(keys.distinct == keys && !json.contains("sf0.001"), json)
  }

  test("regression gate: flags only the slower-AND-more-shuffle conjunction, above floors, on the contention-normalized wall") {
    // the noise-robust conjunction (r10 verdict #5): wall-clock alone
    // swings 3x on this box, shuffle bytes are contention-free — a genuine
    // plan regression moves both
    val prev = (
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 0.05, "e" -> 1.0),
      Map("a" -> 10.0, "b" -> 10.0, "c" -> 10.0, "d" -> 0.1, "e" -> 10.0))
    val now = Seq(
      "a" -> 3.0, // 3x slower AND 2x shuffle -> flagged
      "b" -> 3.0, // 3x slower, shuffle flat -> noise, not flagged
      "c" -> 1.1, // shuffle grew, seconds flat -> not flagged
      "d" -> 0.2, // 4x slower but below the 0.3 s floor -> not flagged
      "f" -> 9.9) // new query, no baseline -> not flagged
    val nowShuffle = scala.collection.Map(
      "a" -> 20.0, "b" -> 10.2, "c" -> 20.0, "d" -> 0.4, "f" -> 99.0)
    val got = Bench.regressionsOf(prev._1, prev._2, now, nowShuffle)
    assert(got == Seq(("a", 1.0, 3.0, 10.0, 20.0, 3.0)), s"got $got")
    // canary normalization (r14 verdict #1): the same run read off a
    // box contended 2x divides the inflation away — "a"'s 3x wall
    // normalizes to 1.5x and stops flagging even with the shuffle growth
    assert(Bench.regressionsOf(prev._1, prev._2, now, nowShuffle,
      contention = 2.0).isEmpty)
  }

  test("lifecycle regression gate: normalized wall-only above 1s for every arc; conjunction catches sub-second arcs with shuffle growth") {
    val prevL = Map("a" -> 5.0, "b" -> 5.0, "c" -> 0.4, "d" -> 5.0,
      "f" -> 5.0, "g" -> 5.0, "h" -> 0.4)
    val prevW = Map("a" -> 10.0, "b" -> 0.0, "c" -> 0.0, "d" -> 10.0,
      "f" -> 10.0, "g" -> 10.0, "h" -> 2.0)
    val now = Seq(
      "a" -> 12.0, // 2.4x wall AND 2x shuffle -> flagged
      "b" -> 12.0, // zero-shuffle arc: 2.4x wall above the 1 s floor -> flagged
      "c" -> 0.9,  // zero-shuffle, 2.25x wall but under the 1 s floor -> noise
      // the r14 FLAT-SHUFFLE BLIND SPOT, closed (r14 verdict finding #2):
      // a big wall move at flat shuffle on a QUIET box is a genuine
      // regression (driver-side loop, sleep, lost cache) — the canary
      // carries the contention verdict now, so this flags
      "d" -> 12.0,
      "e" -> 99.0, // new entry, no baseline -> not flagged
      // COLLAPSE profile (shuffle vanished while wall blew up): still
      // flagged, now via the universal wall branch
      "f" -> 12.0,
      "g" -> 8.0,  // shuffle collapsed but wall within 2x -> improvement, not flagged
      "h" -> 0.9)  // sub-second arc, 2.25x wall AND 2.5x shuffle -> conjunction flags
    val nowShuffle = scala.collection.Map(
      "a" -> 20.0, "b" -> 0.0, "c" -> 0.0, "d" -> 10.1, "e" -> 50.0,
      "f" -> 0.2, "g" -> 0.2, "h" -> 5.0)
    val got = Bench.lifecycleRegressionsOf(prevL, prevW, now, nowShuffle)
    assert(got.map(_._1) == Seq("a", "b", "d", "f", "h"), s"got $got")
    // the synthetic-CONTENDED run (canary ratio 3): every wall above is
    // inflation, nothing at flat-or-collapsed shuffle may flag — the
    // exact false-flag shape that cost a manual adjudication cycle in
    // r13 and r14 (ext134 73.4s driver / 18.3s quiet)
    val contended = Bench.lifecycleRegressionsOf(prevL, prevW, now,
      nowShuffle, contention = 3.0)
    assert(contended.isEmpty, s"contended run false-flagged: $contended")
    // ... while a genuine 2x-plus regression ON A QUIET BOX still flags
    val quiet = Bench.lifecycleRegressionsOf(Map("x" -> 5.0),
      Map("x" -> 0.0), Seq("x" -> 11.0), scala.collection.Map("x" -> 0.0),
      contention = 1.0)
    assert(quiet.map(_._1) == Seq("x"))
  }

  test("throughput gate: flags a dial whose normalized rate halves; contention scales rates UP before comparing") {
    val prev = Map("streaming_fps" -> 250.0, "ingest_docs_per_sec" -> 4000.0)
    // quiet box: fps fell to 100 (< 125 = half) -> flagged; docs held
    val got = Bench.throughputRegressionsOf(prev,
      Seq("streaming_fps" -> 100.0, "ingest_docs_per_sec" -> 3900.0,
        "ingest_images_per_sec" -> 50.0))
    assert(got == Seq(("streaming_fps", 250.0, 100.0, 100.0)), s"got $got")
    // the same read on a 3x-contended box normalizes to 300 -> not flagged
    assert(Bench.throughputRegressionsOf(prev,
      Seq("streaming_fps" -> 100.0), contention = 3.0).isEmpty)
  }

  test("readPrevDetail parses a committed BENCH_DETAIL line and survives absence/garbage") {
    val dir = java.nio.file.Paths.get(graft.ScratchDir.dir("bench-prev"))
    val good = dir.resolve("good.json")
    java.nio.file.Files.write(good,
      """{"metric":"total","value":9.5,"queries":{"q1":1.25,"ext9":0.5},
         "shuffle_write_mb":{"q1":14.0,"ext9":0.0},
         "streaming_fps":254.3,"ingest_docs_per_sec":1234.5}"""
        .replaceAll("\n\\s*", "").getBytes("UTF-8"))
    assert(Bench.readPrevDetail(good.toString).contains(
      Bench.PrevDetail(
        Map("q1" -> 1.25, "ext9" -> 0.5), Map("q1" -> 14.0, "ext9" -> 0.0),
        Map.empty[String, Double],
        Map("streaming_fps" -> 254.3, "ingest_docs_per_sec" -> 1234.5))),
      "a pre-lifecycle-lane artifact reads with an empty lifecycle map " +
        "and only the dials it carries")
    assert(Bench.readPrevDetail(dir.resolve("missing.json").toString).isEmpty)
    val bad = dir.resolve("bad.json")
    java.nio.file.Files.write(bad, "{not json".getBytes("UTF-8"))
    assert(Bench.readPrevDetail(bad.toString).isEmpty,
      "an unparseable artifact must disable the gate, not crash the bench")
  }

  test("readPrevDetail normalizes the committed baseline by ITS OWN " +
      "contention_ratio: walls divide, rates multiply, shuffle untouched") {
    // r15 ADVICE: a baseline captured at contention 2.0 persisted raw —
    // a following quiet-box round would gate at ~4x wall / quarter rate
    graft.ScratchDir.withDir("bench-prev-norm") { dir =>
      val p = java.nio.file.Paths.get(dir, "detail.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        """{"queries":{"q1":4.0},"shuffle_write_mb":{"q1":3.0},
           "lifecycle":{"arc":8.0},"contention_ratio":2.0,
           "streaming_fps":100.0}"""
          .replaceAll("\n\\s*", "").getBytes("UTF-8"))
      assert(Bench.readPrevDetail(p.toString).contains(
        Bench.PrevDetail(Map("q1" -> 2.0), Map("q1" -> 3.0),
          Map("arc" -> 4.0), Map("streaming_fps" -> 200.0))))
    }
  }

  test("ingest throughput lanes run end-to-end at sf0.001 and report positive rates") {
    // wiring smoke for the r14 verdict #3 lanes: the bench-scale numbers
    // ride BENCH_DETAIL; here only the composition is pinned (render ->
    // file-source stream -> guard -> sinks -> rate), cheaply
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (docsBest, docsMedian) =
      Bench.ingestDocsPerSec(spark, "/root/testdata/sf0.001", splits = 4)
    assert(docsBest > 0 && docsBest >= docsMedian,
      s"docs lane: best $docsBest median $docsMedian")
    val (imgsBest, imgsMedian) =
      Bench.ingestImagesPerSec(spark, splits = 4, nImgs = 60)
    assert(imgsBest > 0 && imgsBest >= imgsMedian,
      s"images lane: best $imgsBest median $imgsMedian")
  }

  test("the shared Json.escape keeps the notes text JSON-safe") {
    assert(graft.util.Json.escape("""a "quoted" note""") == "a \\\"quoted\\\" note")
    assert(graft.util.Json.escape("back\\slash") == "back\\\\slash")
    assert(graft.util.Json.escape("two\nlines\tandctl") ==
      "two\\nlines\\tand\\u0001ctl")
    assert(graft.util.Json.escape("plain prose (r9); ratio 3.6") ==
      "plain prose (r9); ratio 3.6")
  }

  test("the canary idle reference is a sane pinned constant") {
    // the ratio rule in README reads max(pre,post)/idle_ref; a zero or
    // wildly-off pin would make every run read as contended or quiet
    assert(Bench.CanaryIdleRefSec > 0.1 && Bench.CanaryIdleRefSec < 2.0)
  }
}
