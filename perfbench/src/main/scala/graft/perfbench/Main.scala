package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{GraftSession, SparkEntry}
import graft.cv.{Kernels, Png}
import graft.model.FrameCodec
import graft.streaming.{MotionPipeline, WireCodecAccess}

/** The benchmark's JVM side: sets up one workload, runs it, and writes the
  * raw measurements as one JSON object for `run.py`, which checks the
  * outputs and derives the metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), cpus,
  * config (the workloads file), work (working directory), out (raw JSON),
  * spans (trace output) and, for the catalog, tables. With mode=setup it
  * only renders the workload's wire into the work directory, once.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val config = new ObjectMapper().readTree(new java.io.File(a("config")))
    val cfg = config.get("workloads").get(a("workload"))
    require(cfg != null, s"unknown workload ${a("workload")}")
    val cpus = a("cpus").toInt
    val traced = a("trace") == "1"
    val trace = new Trace(s"${a("workload")}-${a("seed")}-${a("trace")}-${ProcessHandle.current().pid()}",
      traced)
    val setupOnly = a.get("mode").contains("setup")
    val run = new Run(cfg, a("seed").toLong, a("seconds").toDouble,
      if (setupOnly) 1 else config.get("setup_repeats").asInt(), setupOnly, Paths.get(a("work")),
      trace)
    val spark = GraftSession.builder(s"local[$cpus]", cpus, "perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = run.out
    out("spark_version") = spark.version
    out("jdk") = System.getProperty("java.runtime.version")
    out("heap_max_bytes") = Runtime.getRuntime.maxMemory
    out("cpus") = cpus
    try {
      cfg.get("kind").asText() match {
        case "drain" => run.drain(spark)
        case "live" => run.live(spark)
        case "catalog" => run.catalog(spark, a("tables"))
      }
      out("peak_rss_kb") = Run.peakRssKb()
      out("listener_s") = trace.listenerNs.get / 1e9
      Files.writeString(Paths.get(a("out")), Json.render(out))
      if (traced) trace.write(Paths.get(a("spans")))
    } finally spark.stop()
  }
}

/** One run of one workload. Everything it measures lands in `out`. */
final class Run(cfg: JsonNode, seed: Long, seconds: Double, setupRepeats: Int,
    setupOnly: Boolean, work: Path, trace: Trace) {
  val out = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Any]
  private val rnd = new java.util.Random(seed)
  private lazy val tally = new TaskTally(trace)

  private def int(k: String) = cfg.get(k).asInt()
  private def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Attaches the per-layer SparkListener (traced runs only). */
  private def attachTally(spark: SparkSession): Unit =
    if (trace.enabled) spark.sparkContext.addSparkListener(tally)

  private def step[A](spark: SparkSession, name: String)(body: => A): (A, Double) = {
    spark.sparkContext.setJobGroup(name, name)
    tally.label = name
    try trace.span(name)(_ => body)
    finally { spark.sparkContext.clearJobGroup(); tally.label = "" }
  }

  private def noop(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  /** Repeats the workload's set-up and records each repetition's seconds;
    * the last repetition's product is the one the run uses. */
  private def setup[A](body: Int => (A, Double)): A = {
    val totals = mutable.ArrayBuffer.empty[Double]
    val renders = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    (0 until setupRepeats).foreach { i =>
      val ((a, render), s) = trace.span("setup")(_ => body(i))
      totals += s; renders += render; last = Some(a)
    }
    out("setup_s") = totals.toList
    out("render_s") = renders.toList
    last.get
  }

  // ------------------------------------------------------------ drains

  def drain(spark: SparkSession): Unit = {
    val (cams, rows, cols) = (int("cameras"), int("rows"), int("cols"))
    val perCam = int("frames_per_camera")
    val moving = cfg.get("moving").asBoolean()
    val t0 = Run.drainStartMs(seed)
    val stepMs = cfg.get("step_ms").asLong()
    val phase = Array.fill(cams)(rnd.nextInt(2))
    // set-up: render the scene, then stage the backlog, one file per round
    val staged = setup { i =>
      val (scene, renderS) = trace.span("producer.render")(_ =>
        Scene.render(spark, cams, int("scene_cycle"), rows, cols, phase, _ => moving))
      val d = dir(s"staged-$i")
      if (i > 0) Run.delete(work.resolve(s"staged-${i - 1}"))
      val tmp = dir("gen-tmp")
      (0 until perCam).foreach(r =>
        scene.writeRound(tmp, d.resolve(f"round-$r%05d.json"), r, t0 + r * stepMs))
      (d, renderS)
    }
    out("frames_rendered") = cams * int("scene_cycle")
    if (setupOnly) return

    // The first two drains warm the path and are not measured. After them, a
    // traced run alternates untraced and traced drains, so the pair gives
    // the tracing overhead; a traced drain has the listeners attached.
    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    val log = new ProgressLog(trace)
    def drainOnce(tag: String): Unit = {
      val traced = tag == "traced"
      if (traced) { spark.streams.addListener(log); attachTally(spark) }
      val runDir = dir(s"drain-${drains.size}")
      tally.label = "drain"
      val (_, wall) = trace.span("drain")(_ => runStream(spark, staged, runDir).awaitTermination())
      tally.label = ""
      if (traced) {
        org.apache.spark.graft.ListenerGlue.drain(spark.sparkContext)
        spark.streams.removeListener(log)
        spark.sparkContext.removeSparkListener(tally)
      }
      drains += Map("tag" -> tag, "dir" -> runDir.toString, "wall_s" -> wall,
        "frames" -> cams * perCam)
    }
    def drainLoop(): Unit = {
      val start = System.nanoTime()
      var i = 0
      while (i < (if (trace.enabled) 2 else 1) || (System.nanoTime() - start) / 1e9 < seconds) {
        drainOnce(if (trace.enabled && i % 2 == 1) "traced" else "untraced")
        i += 1
      }
    }
    drainOnce("warmup")
    drainOnce("warmup")
    val (_, jvm) = Run.jvm(trace.span("measure")(_ => drainLoop()))
    if (trace.enabled) {
      layers ++= jvm
      frameLayers(spark, staged, int("cv_sample_frames"))
    }
    out("drains") = drains.toList
    out("progress") = log.snapshot.map(Run.progressRecord)
    out("expected") = Map("cameras" -> cams, "rows" -> rows, "cols" -> cols,
      "frames_per_camera" -> perCam, "t0_ms" -> t0, "step_ms" -> stepMs, "moving" -> moving)
    out("layers") = layers
  }

  /** The deployed path, exactly as `MotionPipeline.runStream` assembles it. */
  private def runStream(spark: SparkSession, in: Path, runDir: Path): StreamingQuery =
    MotionPipeline.runStream(spark, in.toString, s"$runDir/table", s"$runDir/img",
      s"$runDir/ckpt")

  // -------------------------------------------------------------- live

  def live(spark: SparkSession): Unit = {
    val (cams, rows, cols) = (int("cameras"), int("rows"), int("cols"))
    val cycle = int("scene_cycle")
    val rate = cfg.get("rate_fps").asDouble()
    val triggerMs = cfg.get("trigger_ms").asLong()
    val shuffled = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until cams).toList)
    val movingSet = shuffled.take(int("moving_cameras")).toSet
    val phase = Array.fill(cams)(rnd.nextInt(2))

    val scene = setup { _ =>
      trace.span("producer.render")(_ =>
        Scene.render(spark, cams, cycle, rows, cols, phase, movingSet))
    }
    out("frames_rendered") = cams * cycle
    val tmp = dir("gen-tmp")
    if (setupOnly) {
      val d = dir("templates")
      (0 until cycle).foreach(j => scene.writeRound(tmp, d.resolve(s"frame-$j.json"), j, Wire.PlaceholderMs))
      return
    }

    // warm the whole path on a backlog of its own before the live query
    val warm = dir("warm-in")
    (0 until int("prewarm_ticks")).foreach(k =>
      scene.writeRound(tmp, warm.resolve(s"tick-$k.json"), k, Wire.PlaceholderMs + k * 1000L))
    runStream(spark, warm, dir("warm-out")).awaitTermination()

    val log = new ProgressLog(trace)
    spark.streams.addListener(log)
    attachTally(spark)
    val in = dir("live-in")
    val runDir = dir("live-out")
    val periodMs = 1000.0 * cams / rate
    // the first warmup_s of ticks are checked but not measured
    val warmupTicks = (cfg.get("warmup_s").asDouble() * 1000 / periodMs).toInt
    val ticks = warmupTicks + math.max(1, (seconds * 1000 / periodMs).toInt)
    tally.label = "live"
    val (((gen, backlogEnd, drainedAll), _), jvm) = Run.jvm(trace.span("measure") { _ =>
      val q = MotionPipeline.writeResults(
        MotionPipeline.detectBin(
          MotionPipeline.decodeWire(
            spark.readStream.schema("value STRING").text(in.toString).toDF("value")),
          s"$runDir/img"),
        s"$runDir/table", s"$runDir/ckpt", Trigger.ProcessingTime(triggerMs))
      val gen = new LiveGenerator(in, tmp, scene, periodMs, ticks,
        System.currentTimeMillis() + triggerMs)
      trace.span("generator")(_ => { gen.start(); gen.join() })
      val written = gen.ticksWritten.toLong * cams
      val backlog = written - log.committedRows
      // let the query land what is still in flight, then stop it
      val deadline = System.currentTimeMillis() + cfg.get("drain_timeout_ms").asLong()
      while (log.committedRows < written && System.currentTimeMillis() < deadline &&
          q.exception.isEmpty) Thread.sleep(20)
      q.stop()
      q.exception.foreach(e => throw e)
      (gen, backlog, log.committedRows >= written)
    })
    tally.label = ""
    org.apache.spark.graft.ListenerGlue.drain(spark.sparkContext)
    spark.streams.removeListener(log)
    if (gen.failure != null) throw gen.failure
    if (trace.enabled) {
      layers ++= jvm
      frameLayers(spark, in, int("cv_sample_frames"))
    }
    out("live") = Map("table" -> s"$runDir/table", "img" -> s"$runDir/img",
      "ticks" -> gen.ticksWritten, "warmup_ticks" -> warmupTicks, "start_ms" -> gen.dueMs(0), "period_ms" -> periodMs,
      "lag_ms" -> gen.lagMs.take(gen.ticksWritten).toSeq, "backlog_frames_end" -> backlogEnd,
      "drained_all" -> drainedAll)
    out("progress") = log.snapshot.map(Run.progressRecord)
    out("expected") = Map("cameras" -> cams, "rows" -> rows, "cols" -> cols,
      "moving_cameras" -> movingSet.toList.sorted)
    out("layers") = layers
  }

  // --------------------------------------------------- frame-path layers

  /** The traced run's layer breakdown over the workload's own wire:
    * cumulative batch cuts (scan, +decode, +keyBy, +state and kernel,
    * +sink), then single-threaded decode and kernel timings on a sample.
    */
  private def frameLayers(spark: SparkSession, wireDir: Path, sample: Int): Unit = {
    import spark.implicits._
    attachTally(spark)
    def raw() = spark.read.text(wireDir.toString).toDF("value")
    val cutDir = dir("cuts")
    val cuts = Seq[(String, () => Unit)](
      "scan" -> (() => noop(raw())),
      "decode" -> (() => noop(MotionPipeline.decodeWire(raw()))),
      "keyby" -> (() => noop(MotionPipeline.decodeWire(raw())
        .groupByKey(_.camId).mapGroups((k, it) => (k, it.size)))),
      "state" -> (() => noop(MotionPipeline.detectBin(MotionPipeline.decodeWire(raw()),
        s"$cutDir/state-img"))),
      "sink" -> (() => MotionPipeline.runBatch(spark, wireDir.toString,
        s"$cutDir/sink-table-${System.nanoTime()}", s"$cutDir/sink-img")))
    // a streaming query runs without AQE; left on, AQE would coalesce the
    // few camera keys of a batch cut into one task and serialize the kernels
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalesceWas = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    cuts.foreach { case (_, f) => f() } // warm every cut's plan and code first
    cuts.foreach { case (name, f) =>
      val (_, s) = step(spark, s"cut.$name")(f())
      layers(s"processor.${name}_s") = s
    }
    spark.conf.set(coalesce, coalesceWas)
    org.apache.spark.graft.ListenerGlue.drain(spark.sparkContext)
    val kb = tally.get("cut.keyby")
    layers("processor.keyby_shuffle_bytes") = kb.shuffleWrite
    layers("processor.keyby_max_task_ms") = kb.maxReduceTaskMs

    // single-threaded: wire decode, then the kernel chain per camera
    val lines = Files.list(wireDir).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      .iterator.flatMap(p => Files.readAllLines(p).toArray.map(_.toString)).take(sample).toArray
    val factory = new com.fasterxml.jackson.core.JsonFactory()
    var decodeNs, grayNs, blurNs, diffNs, compNs, pngNs = 0L
    var pngN = 0
    val framesByCam = lines.map { l =>
      val t = System.nanoTime()
      val f = WireCodecAccess.decode(factory, l).get
      decodeNs += System.nanoTime() - t
      f
    }.groupBy(_.camId).values.map(_.sortBy(_.timestamp.getTime))
    framesByCam.foreach { fs =>
      var prev: Array[Byte] = null
      fs.foreach { f =>
        val (r, c, ch) = (f.rows, f.cols, FrameCodec.channelsOf(f.matType))
        val gray = new Array[Byte](r * c); val blur = new Array[Byte](r * c)
        val tmp = new Array[Int](r * c); val bin = new Array[Byte](r * c)
        def timed(body: => Unit): Long = { val t = System.nanoTime(); body; System.nanoTime() - t }
        grayNs += timed(Kernels.grayscaleInto(f.px, r, c, ch, gray))
        blurNs += timed(Kernels.gaussianBlur3x3Into(gray, r, c, tmp, blur))
        if (prev != null) {
          diffNs += timed(Kernels.absDiffThresholdInto(prev, blur, 20, bin))
          var regions: Seq[graft.model.MotionRegion] = Nil
          compNs += timed { regions = Kernels.boundingBoxesReuse(bin, r, c, 300,
            new Array[Boolean](r * c), new java.util.ArrayDeque[Int]()) }
          if (regions.nonEmpty) {
            val annotated = f.px.clone()
            regions.foreach(Kernels.drawRect(annotated, r, c, ch, _))
            pngNs += timed(Png.encodeBytes(annotated, r, c, ch))
            pngN += 1
          }
        }
        prev = blur
      }
    }
    val n = lines.length
    val pairs = math.max(1, n - framesByCam.size)
    layers("processor.decode_ms_per_frame") = decodeNs / 1e6 / n
    layers("cv.gray_ms") = grayNs / 1e6 / n
    layers("cv.blur_ms") = blurNs / 1e6 / n
    layers("cv.diff_ms") = diffNs / 1e6 / pairs
    layers("cv.components_ms") = compNs / 1e6 / pairs
    layers("cv.png_encode_ms") = if (pngN == 0) 0.0 else pngNs / 1e6 / pngN
    layers("processor.single_thread_fps") =
      n / ((decodeNs + grayNs + blurNs + diffNs + compNs) / 1e9)
  }

  // ----------------------------------------------------------- catalog

  def catalog(spark: SparkSession, tables: String): Unit = {
    val entries = Seq.tabulate(cfg.get("entries").size())(cfg.get("entries").get(_).asText())
    val known = SparkEntry.queries
    entries.foreach(e => require(known.contains(e), s"unknown catalog entry $e"))
    // the entries export their fingerprint intermediates for the oracle,
    // as in Verify; the JVM's tmpdir keeps them inside the work directory
    System.setProperty(graft.util.OracleAux.EnableProp, "1")
    graft.operators.MaterializedPairs.clear()
    val session = spark.newSession()
    attachTally(spark)
    val results = dir("catalog-out")
    val walls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val (_, jvm) = Run.jvm(trace.span("measure") { _ =>
      entries.foreach { e =>
        val (_, s) = step(spark, e) {
          known(e)(session, tables).coalesce(1).write.mode("overwrite").parquet(s"$results/$e")
        }
        walls += Map("name" -> e, "wall_s" -> s)
      }
    })
    org.apache.spark.graft.ListenerGlue.drain(spark.sparkContext)
    if (trace.enabled) {
      layers ++= jvm
      entries.foreach { e =>
        val t = tally.get(e)
        layers(s"catalog.$e.busy_s") = t.busyMs / 1e3
        layers(s"catalog.$e.jobs") = t.jobs
        layers(s"catalog.$e.shuffle_read_bytes") = t.shuffleRead
        layers(s"catalog.$e.shuffle_write_bytes") = t.shuffleWrite
        layers(s"catalog.$e.spill_bytes") = t.spill
        layers(s"catalog.$e.max_task_ms") = t.maxTaskMs
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }
    Files.writeString(results.resolve("oracle_sql.json"), Json.render(oracle))
    out("catalog") = Map("results" -> results.toString, "entries" -> walls.toList)
    out("layers") = layers
  }
}

object Run {
  /** First frame time of a drain backlog: one day per seed. */
  def drainStartMs(seed: Long): Long = 1700000000000L + Math.floorMod(seed, 10000L) * 86400000L

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Runs `body` and returns its result with the JVM's GC and CPU seconds
    * spent during it. */
  def jvm[A](body: => A): (A, Map[String, Double]) = {
    import java.lang.management.ManagementFactory
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (g0, c0) = (gcMs, os.getProcessCpuTime)
    val a = body
    (a, Map("jvm.gc_s" -> (gcMs - g0) / 1e3, "jvm.cpu_s" -> (os.getProcessCpuTime - c0) / 1e9))
  }

  def progressRecord(p: Progress): Map[String, Any] = Map(
    "batch" -> p.batchId, "arrival_ms" -> p.arrivalMs, "trigger_start_ms" -> p.triggerStartMs,
    "input_rows" -> p.inputRows, "duration_ms" -> p.durationMs,
    "state_commit_ms" -> p.stateCommitMs, "state_rows" -> p.stateRows,
    "state_memory_bytes" -> p.stateMemoryBytes)
}
