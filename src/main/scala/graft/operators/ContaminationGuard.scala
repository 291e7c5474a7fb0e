package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BENCHMARK-CONTAMINATION detection — the train/eval hygiene check every
  * LLM data pipeline runs before a corpus ships (the "data contamination"
  * audit of Brown et al., NeurIPS 2020 §4 and Dodge et al., EMNLP 2021):
  * flag training documents that verbatim-contain text from a held-out
  * benchmark/eval suite, with WHERE and HOW MUCH, so the overlap can be
  * excised or the eval discounted.
  *
  * Shape: the benchmark side is SMALL by contract (eval suites are
  * megabytes; the corpus is the 100 TB side), so its window-hash index is
  * collected once and BROADCAST, and the corpus scan is one map-side pass —
  * per document: enumerate [[SubstringDedup]]-style fixed-length
  * character-window hashes, probe the broadcast set, and fold matched
  * positions into per-benchmark-document islands IN PLACE. Zero shuffle,
  * zero join, no state: the exact economics of the n-gram membership
  * filters production pipelines run at this scale (cf. the 13-gram Bloom
  * probes of GPT-3/C4 decontamination), here with exact positions instead
  * of a probabilistic yes/no.
  *
  * Tiers, mirroring [[SubstringDedup.spanRemoval]]'s dial: `hexPrefix = ""`
  * enumerates EVERY window (the exact audit tier — one md5 per character
  * position, linear but hash-heavy); `hexPrefix = "0"` keeps the 1/16
  * content-sampled (winnowing) windows on BOTH sides — the same window
  * text self-selects identically in the benchmark and in the corpus, so a
  * shared run of ~window+16 chars is still expected to surface while the
  * broadcast holds 1/16 of the entries and the scan probes 1/16 of the
  * positions (the md5 per position is paid either way — content-based
  * selection IS the hash; recall erosion on short runs is exactly what
  * ext80 prices).
  *
  * Both tiers are deterministic pure functions of the text, so both are
  * DuckDB-oracle-checkable (ext126 exact / ext127 sampled).
  */
object ContaminationGuard {

  /** Broadcast-able benchmark window-hash index: md5-hex → benchmark doc
    * ids holding that window, plus each benchmark's distinct-hash count
    * (the coverage denominator). Window positions are NOT kept — the
    * corpus side only needs membership + attribution. */
  final case class BenchIndex(
      window: Int,
      hexPrefix: String,
      hashToBench: Map[String, Array[Long]],
      benchHashes: Map[Long, Long])

  /** One flagged (training doc, benchmark doc) overlap. Chars are island
    * extents (interval union of matched windows, gap ≤ window−1 merges). */
  final case class Overlap(bench_id: Long, n_matched_windows: Long,
      contaminated_chars: Long, longest_run_chars: Long, n_bench_hashes_hit: Long)

  /** Build the benchmark index: distinct (bench_id, window-hash) pairs,
    * collected — BOUNDED BY CONTRACT (an eval suite, not a corpus; a
    * corpus-sized "benchmark" is a duplicated-spans join —
    * [[SubstringDedup.duplicatedSpans]] — not a broadcast probe), and the
    * contract is ENFORCED: more than `maxEntries` distinct windows aborts
    * with a pointer to the banded path instead of silently collecting a
    * corpus onto the driver (`limit(maxEntries + 1)` bounds what the
    * check itself materializes). The default (2M entries ≈ low hundreds
    * of MB broadcast) is far above any real eval suite. */
  def benchmarkIndex(bench: DataFrame, textCol: String, idCol: String,
      window: Int = 64, hexPrefix: String = "",
      maxEntries: Int = 2000000): BenchIndex = {
    require(window >= 8, s"window must be >= 8 code points, got $window")
    val windows = windowHashUdf(window, hexPrefix)
    val rows = bench
      .select(col(idCol).cast("long").as("bench_id"),
        explode(windows(col(textCol))).as("w"))
      .select(col("bench_id"), col("w._2").as("h"))
      .distinct()
      .limit(maxEntries + 1)
      .collect()
    require(rows.length <= maxEntries,
      s"benchmark index exceeds maxEntries=$maxEntries distinct windows: " +
        "the broadcast-probe guard is for eval-suite-sized benchmarks; " +
        "for corpus-vs-corpus overlap use SubstringDedup.duplicatedSpans")
    val byHash = rows.groupBy(_.getString(1))
      .map { case (h, rs) => h -> rs.map(_.getLong(0)).sorted }
    val sizes = rows.groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.length.toLong }
    BenchIndex(window, hexPrefix, byHash, sizes)
  }

  /** Scan `docs` against the broadcast index. Output, one row per
    * contaminated (doc, benchmark) pair — clean documents are absent:
    * (doc_id, bench_id, n_matched_windows, contaminated_chars,
    * longest_run_chars, bench_coverage) where n_matched_windows counts
    * matched corpus positions, the char columns are island extents in the
    * TRAINING doc, and bench_coverage = matched distinct benchmark hashes
    * / the benchmark's distinct hashes (how much of the eval leaked, not
    * how much of the doc is eval). Works on a stream identically —
    * stateless map-side transform ([[graft.streaming.WatchlistMonitor]]
    * wraps it for the ingest-time shape). */
  def flag(docs: DataFrame, textCol: String, idCol: String,
      index: BenchIndex): DataFrame =
    flagKeeping(docs, textCol, index,
      Seq(col(idCol).cast("long").as("doc_id")))

  /** [[flag]] with caller-chosen passthrough columns (the streaming
    * monitor keeps the item's envelope; the batch entry keeps the id). */
  private[graft] def flagKeeping(docs: DataFrame, textCol: String,
      index: BenchIndex, keep: Seq[Column]): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(index)
    val probe = udf { text: String =>
      val idx = bc.value
      // per-bench fold state: positions arrive in ascending order, so
      // islands close as soon as a gap > window-1 appears
      val st = scala.collection.mutable.LongMap.empty[Fold]
      scanMatches(text, idx) { (pos, hex, benches) =>
        benches.foreach { b =>
          st.getOrElseUpdate(b, new Fold(idx.window)).add(pos, hex)
        }
        true
      }
      st.toArray.sortBy(_._1).map { case (b, f) => f.finish(b) }
    }.asNondeterministic() // one hashing pass per row — optimizer fence
    val flagged = docs
      .withColumn("__overlaps", probe(col(textCol)))
      .select(keep :+ explode(col("__overlaps")).as("o"): _*)
    val denom = udf { bench: Long => bc.value.benchHashes(bench) }
    flagged
      .select((flagged.columns.dropRight(1).map(col) ++ Seq(
        col("o.bench_id"),
        col("o.n_matched_windows"),
        col("o.contaminated_chars"),
        col("o.longest_run_chars"),
        round(col("o.n_bench_hashes_hit").cast("double") /
          denom(col("o.bench_id")), 6).as("bench_coverage"))): _*)
  }

  /** One cut interval (1-based chars, inclusive) of [[withCuts]]/
    * [[excise]]; `benches` = the sorted distinct benchmark ids whose
    * windows the island matched — the attribution that survives the
    * excision (the original text does not, so WHICH eval leaked must
    * travel with the cut). */
  final case class CutSpan(s: Long, e: Long, benches: Seq[Long])

  /** DECONTAMINATION — the remediation step after detection, closing the
    * detect (ext126/ext127) → refine ([[refineFlags]]) → REMOVE chain:
    * excise every benchmark-window island from the scanned docs and keep
    * the unique text around it (the span-surgery posture of
    * [[SubstringDedup.spanRemoval]], pointed at eval leakage instead of
    * boilerplate — cutting the leaked span beats dropping the document,
    * which loses its clean majority). Positions leaked to SEVERAL
    * benchmarks are cut once: islands fold over matches against ANY
    * benchmark window, map-side in the same single probe pass as
    * [[flag]]; the rebuild is the shared no-UDF aggregate/substring fold.
    *
    * Output, every scanned document present (clean docs keep their full
    * text): (doc_id, n_chars, n_spans, removed_chars, kept_chars,
    * cleaned_digest) — kept_chars ≡ n_chars − removed_chars and
    * cleaned_digest = md5(rebuilt text), so an oracle verifies the
    * RECONSTRUCTION (ext106's discipline). Runs on the exact tier, and
    * that is ENFORCED (the [[withBloomHit]] `requireRunDial` discipline):
    * a sampled (`hexPrefix != ""`) index only sees 1/16 of the windows,
    * so excising from it SILENTLY leaves leaked eval text in the
    * "cleaned" output while `cleaned_digest` claims the doc was
    * remediated — the one failure mode worse than not remediating.
    * A caller that knowingly wants the partial cut (e.g. pricing the
    * sampled tier's footprint) opts in with `allowSampled = true`. */
  def excise(docs: DataFrame, textCol: String, idCol: String,
      index: BenchIndex, allowSampled: Boolean = false): DataFrame =
    withCuts(
      docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text")),
      "text", index, allowSampled = allowSampled)
      .withColumn("cleaned",
        when(col("cuts").isNull, col("text"))
          .otherwise(SubstringDedup.rebuildCleaned))
      .select(col("doc_id") +:
        length(col("text")).cast("long").as("n_chars") +:
        spanStats(col("cuts")) :+
        length(col("cleaned")).cast("long").as("kept_chars") :+
        md5(col("cleaned")).as("cleaned_digest"): _*)

  /** Island cut-list probe for ingest paths: adds `cuts` — a SORTED,
    * DISJOINT array<struct<s,e,benches>> of the 1-based char intervals
    * covering every benchmark-window island in the row's text (each with
    * the benchmark ids it matched — see [[CutSpan]]), NULL for clean
    * rows and rows whose `guard` is false/null — the cut list
    * [[SubstringDedup.rebuildCleaned]] folds and [[excise]] wraps,
    * exposed so the streaming ingest
    * ([[graft.streaming.CorpusIngest.writeAuditedExcising]]) can cut
    * leaked spans AT THE DOOR instead of dropping the document. Same
    * single map-side hashing pass as [[flag]]/[[withHit]] (the shared
    * [[scanMatches]] scan); `guard` is evaluated INSIDE the UDF
    * ([[withHit]]'s lesson — the nondeterministic fence makes a
    * `when(guard, probe)` wrapper pay the scan anyway). Exact tier
    * ENFORCED like [[excise]]'s — a cut list from a sampled index is a
    * silently partial decontamination (`allowSampled` opts in). */
  def withCuts(docs: DataFrame, textCol: String, index: BenchIndex,
      guard: Column = lit(true),
      allowSampled: Boolean = false): DataFrame = {
    require(allowSampled || index.hexPrefix.isEmpty,
      "excision needs the exact tier: a sampled index sees 1/16 of the " +
        "windows, so its cut list leaves leaked text in the 'cleaned' " +
        "output while claiming remediation; detect on the sampled tier, " +
        "then excise the flagged docs with an exact index " +
        "(or pass allowSampled = true to knowingly take the partial cut)")
    val bc = docs.sparkSession.sparkContext.broadcast(index)
    val probe = udf { (text: String, enabled: Boolean) =>
      cutsEvals.incrementAndGet(): Unit
      if (!enabled) None
      else {
        val cuts = cutList(text, bc.value)
        if (cuts.isEmpty) None else Some(cuts)
      }
    }.asNondeterministic() // one hashing pass per row — optimizer fence
    docs.withColumn("cuts",
      probe(col(textCol), coalesce(guard, lit(false))))
  }

  /** Test seam: total [[withCuts]] probe invocations in this JVM — the
    * excise-policy ingest's single-plan-branch pin counts it (the
    * [[withHit]]/[[probeEvals]] discipline). */
  private[graft] val cutsEvals = new java.util.concurrent.atomic.AtomicLong(0)

  /** (n_spans, removed_chars) of a [[withCuts]] cut-list column — ONE
    * definition of the span arithmetic (removed_chars ≡ Σ(e−s+1), the
    * disjoint-interval identity ext128/ext129's oracles verify) shared
    * by [[excise]] and the excise-policy ingest, so the tiers cannot
    * drift. NULL cuts (clean doc) → (0, 0). */
  private[graft] def spanStats(cuts: Column): Seq[Column] = Seq(
    coalesce(size(cuts), lit(0)).cast("long").as("n_spans"),
    coalesce(aggregate(cuts, lit(0L),
      (acc, c) => acc + c.getField("e") - c.getField("s") + 1L), lit(0L))
      .as("removed_chars"))

  /** The one definition of "cut list": fold [[scanMatches]]'s ascending
    * match positions into merged islands (gap ≤ window−1), each widened
    * to its full char extent [start, last + window − 1] and carrying the
    * sorted distinct benchmark ids its windows matched. */
  private def cutList(text: String, idx: BenchIndex): Array[CutSpan] = {
    val window = idx.window
    val out = scala.collection.mutable.ArrayBuffer.empty[CutSpan]
    var islandStart = -1L
    var last = -1L
    val benches = scala.collection.mutable.SortedSet.empty[Long]
    def close(): Unit =
      if (islandStart >= 0) {
        out += CutSpan(islandStart, last + window - 1, benches.toSeq)
        benches.clear()
      }
    scanMatches(text, idx) { (pos, _, bs) =>
      if (islandStart < 0) { islandStart = pos; last = pos }
      else if (pos - last <= window - 1) last = pos
      else { close(); islandStart = pos; last = pos }
      benches ++= bs
      true
    }
    close()
    out.toArray
  }

  /** The sampled→exact graduation the production tier's scaladoc
    * promises: re-run the EXACT arithmetic on just the flagged pairs —
    * `flags` is any frame holding (doc_id, bench_id) (ext127 output or
    * [[graft.streaming.CorpusIngest]] rejects), and both sides are
    * semi-join-pruned to the flagged ids BEFORE any hashing, so the
    * exact tier's every-window cost is paid on the bounded flagged set,
    * never the corpus. Output: [[flag]]'s exact-tier columns restricted
    * to pairs that were flagged AND confirm exactly (a sampled hit
    * always confirms — sampling only loses windows — so this is a
    * refinement, not a filter; the spec pins that). */
  def refineFlags(flags: DataFrame, docs: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, window: Int = 64): DataFrame = {
    val flaggedPairs = flags.select(
      col("doc_id").cast("long"), col("bench_id").cast("long")).distinct()
    val benchHit = bench.join(
      broadcast(flaggedPairs.select(col("bench_id").as(idCol)).distinct()),
      idCol, "left_semi")
    val docsHit = docs.join(
      broadcast(flaggedPairs.select(col("doc_id").as(idCol)).distinct()),
      idCol, "left_semi")
    val exact = flag(docsHit, textCol, idCol,
      benchmarkIndex(benchHit, textCol, idCol, window, hexPrefix = ""))
    exact.join(broadcast(flaggedPairs), Seq("doc_id", "bench_id"), "left_semi")
  }

  /** BLOOM-FILTER benchmark index — the membership tier that holds when
    * even the exact hash map outgrows a comfortable broadcast (the
    * literal GPT-3/C4 shape: their decontamination ran 13-gram Bloom
    * probes, not exact maps): ~1.2 MB per million distinct windows at 1%
    * FP versus tens of MB of strings for [[benchmarkIndex]], at the
    * price of attribution (none — a Bloom answers "maybe seen", not
    * "which benchmark") and false positives (priced by fpp, graduated
    * away by the exact tier on the flagged subset — ext130). NO false
    * negatives over inserted windows, so [[flagBloom]]'s output is a
    * true SUPERSET of the contaminated docs (at minRun 1; a higher
    * minRun narrows the guarantee to leaks of at least
    * window+minRun−1 chars — see [[flagBloom]]): the funnel never loses
    * a leak it can represent, it only pays some extra exact-tier work.
    * Same window/sampling definitions as every other tier
    * ([[SubstringDedup.sampledWindows]]). Bit-deterministic for a given
    * (item set, fpp) — insertion is order-independent bit-setting.
    * Returns a [[BloomIndex]] bundling the filter WITH its (window,
    * hexPrefix), the [[BenchIndex]] discipline: the probe derives its
    * parameters from the index, so build/probe drift — hashing different
    * window text than what was inserted, which would silently miss
    * everything — is unrepresentable. */
  def bloomIndex(bench: DataFrame, textCol: String, window: Int = 64,
      hexPrefix: String = "", fpp: Double = 0.01): BloomIndex = {
    require(window >= 8, s"window must be >= 8 code points, got $window")
    val windows = windowHashUdf(window, hexPrefix)
    // materialize the distinct hash set once: the count sizes the filter,
    // the second pass fills it — without re-running the enumeration
    val hashes = bench
      .select(explode(windows(col(textCol))).as("w"))
      .select(col("w._2").as("h")).distinct()
      .localCheckpoint(true)
    BloomIndex(window, hexPrefix, fpp,
      hashes.stat.bloomFilter("h", math.max(hashes.count(), 1L), fpp))
  }

  /** [[bloomIndex]]'s product: the filter plus the window/sampling/fpp
    * parameters it was built under (probe-side parameter drift is the
    * one silent way a Bloom funnel loses leaks). [[save]]/
    * [[loadBloomIndex]] round-trip the WHOLE bundle for the same reason —
    * bits without their parameters would let a reload probe different
    * window text than what was inserted. */
  final case class BloomIndex(window: Int, hexPrefix: String, fpp: Double,
      filter: org.apache.spark.util.sketch.BloomFilter) {

    /** Persist this index under `dir` so an ingest restart loads it
      * ([[loadBloomIndex]]) instead of re-enumerating the benchmark
      * suite — the filter is bit-deterministic, so build-once/load-many
      * is exact, not approximate. One small file (~1.2 MB per million
      * windows at 1% fpp): a versioned header carrying (window,
      * hexPrefix, fpp) followed by the filter's own serialization.
      * Published via [[graft.util.AtomicPublish.file]] (dot-temp, then
      * one rename over the target), so a re-save replaces the index
      * atomically: a loader racing the publish reads the old generation
      * or the new one, never a missing or half-written file
      * (race-spec-pinned). The path resolves through the SAME Hadoop
      * configuration [[loadBloomIndex]] uses, so a scheme-less `dir`
      * saves to the filesystem the loader reads from (fs.defaultFS). */
    def save(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
      graft.util.AtomicPublish.file(
        spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(dir, BloomFileName),
        magic = Some(BloomMagic)) { out =>
        out.writeInt(window)
        out.writeUTF(hexPrefix)
        out.writeDouble(fpp)
        filter.writeTo(out)
      }
  }

  private val BloomFileName = "bloom_index.bin"
  private val BloomMagic = "graft-bloom-index-v1"

  /** Reload a [[BloomIndex]] persisted by [[BloomIndex.save]]: verdicts
    * from a loaded index equal the fresh-built index's bit-for-bit
    * (spec-pinned), and the bundled (window, hexPrefix, fpp) travel with
    * the bits so the probe cannot drift from what was inserted. The
    * magic header rejects a file that is not a v1 bloom index instead of
    * mis-parsing it into a silently-empty filter. */
  def loadBloomIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): BloomIndex = {
    val path = new org.apache.hadoop.fs.Path(dir, BloomFileName)
    graft.util.AtomicPublish.readFile(
      spark.sparkContext.hadoopConfiguration, path,
      magic = Some(BloomMagic)) { in =>
      val window = in.readInt()
      val hexPrefix = in.readUTF()
      val fpp = in.readDouble()
      BloomIndex(window, hexPrefix, fpp,
        org.apache.spark.util.sketch.BloomFilter.readFrom(in))
    }.getOrElse(throw new java.io.FileNotFoundException(
      s"$path does not exist — BloomIndex.save writes it"))
  }

  /** Map-side Bloom probe of [[bloomIndex]]: one row per document whose
    * might-contain windows include a run of at least `minRun`
    * CONSECUTIVE positions — (doc_id, n_might_windows, first_might_pos),
    * an attribution-free UPPER BOUND on the doc's leakage. `minRun` is
    * the dial that makes a per-window Bloom usable on LONG documents: a
    * 25 000-char doc probes ~25 000 windows, so at fpp 0.01 almost every
    * doc catches an isolated FP window somewhere — but a REAL leak of L
    * ≥ window+minRun−1 chars produces L−window+1 ≥ minRun consecutive
    * matches, while minRun independent FPs in a row occur at ~fpp^minRun
    * (minRun 3 at fpp 0.01 ≈ one spurious run per million positions).
    * The price is the minimum DETECTABLE leak length (window+minRun−1
    * chars) — the same trade the 13-gram choice itself makes, and a real
    * narrowing of the guarantee: a doc whose ONLY leak is shorter emits
    * no row at minRun > 1 (spec-pinned); size minRun to the shortest
    * leak that matters. Within that bound the counts stay a SUPERSET of
    * the exact tier's: Bloom filters have no false negatives, so a real
    * run can only extend, never break. minRun > 1 requires the exact
    * enumeration (`hexPrefix = ""`) — content sampling makes kept
    * positions non-adjacent by design, so runs cannot form. The
    * production funnel probes the firehose with THIS — the broadcast is
    * megabytes however large the eval suite — and graduates flagged docs
    * (bounded) to [[flag]]'s exact arithmetic for attribution and
    * islands. */
  def flagBloom(docs: DataFrame, textCol: String, idCol: String,
      index: BloomIndex, minRun: Int = 1): DataFrame = {
    requireRunDial(index, minRun)
    val window = index.window
    val hexPrefix = index.hexPrefix
    val bc = docs.sparkSession.sparkContext.broadcast(index.filter)
    val probe = udf { text: String =>
      val (n, first) = bloomRunScan(text, bc.value, window, hexPrefix,
        minRun, stopAtFirst = false)
      if (n > 0) Some((n, first)) else None
    }.asNondeterministic() // one hashing pass per row — optimizer fence
    docs.withColumn("__b", probe(col(textCol)))
      .filter(col("__b").isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        col("__b._1").as("n_might_windows"),
        col("__b._2").as("first_might_pos"))
  }

  private def requireRunDial(index: BloomIndex, minRun: Int): Unit = {
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    require(minRun == 1 || index.hexPrefix.isEmpty,
      "minRun > 1 needs adjacent positions: content sampling keeps " +
        "non-adjacent windows, so consecutive runs cannot form")
  }

  /** THE consecutive-run fold both Bloom probes share ([[flagBloom]]'s
    * audit counts, [[withBloomHit]]'s ingest gate) — one definition of
    * "qualifying run" (positions chaining at +1, length ≥ minRun), the
    * [[scanMatches]] no-silent-divergence discipline. Returns
    * (positions inside qualifying runs, first qualifying run's start —
    * −1 if none); with `stopAtFirst` the scan ends the moment the first
    * run qualifies (the gate's question is answered; the count is then
    * partial and callers must not read it). */
  private def bloomRunScan(text: String,
      bf: org.apache.spark.util.sketch.BloomFilter,
      window: Int, hexPrefix: String, minRun: Int,
      stopAtFirst: Boolean): (Long, Long) = {
    var n = 0L
    var first = -1L
    var runStart = -1L
    var prev = Long.MinValue
    var runLen = 0L
    def closeRun(): Unit =
      if (runLen >= minRun) {
        n += runLen
        if (first < 0) first = runStart
      }
    scanWindows(text, window, hexPrefix) { (pos, hex) =>
      if (bf.mightContainString(hex)) {
        if (pos == prev + 1) runLen += 1
        else { closeRun(); runStart = pos; runLen = 1 }
        prev = pos
        if (stopAtFirst && runLen >= minRun && first < 0) first = runStart
      }
      !(stopAtFirst && first >= 0)
    }
    closeRun()
    (n, first)
  }

  /** First-qualifying-run gate probe of a [[BloomIndex]] — [[withHit]]'s
    * ingest-gate shape on the membership tier, for the ingest whose eval
    * suite outgrows the exact map's broadcast: adds `outCol` — null for
    * clean rows and rows whose `guard` is false/null, else the 1-based
    * start of the FIRST run of `minRun` consecutive might-contain
    * windows. SHORT-CIRCUITS once that run completes (the gating
    * question is answered; the clean common case still pays the full
    * linear scan). Attribution-free like everything Bloom: the verdict
    * is "suspect", graduated by [[flag]] over the bounded rejects with
    * the exact index — never over the corpus. `guard` is evaluated
    * INSIDE the UDF ([[withHit]]'s lesson). */
  def withBloomHit(docs: DataFrame, textCol: String, index: BloomIndex,
      minRun: Int = 3, outCol: String = "contamination",
      guard: Column = lit(true)): DataFrame = {
    requireRunDial(index, minRun)
    val window = index.window
    val hexPrefix = index.hexPrefix
    val bc = docs.sparkSession.sparkContext.broadcast(index.filter)
    val probe = udf { (text: String, enabled: Boolean) =>
      bloomGateEvals.incrementAndGet(): Unit
      if (!enabled) None
      else {
        val (_, first) = bloomRunScan(text, bc.value, window, hexPrefix,
          minRun, stopAtFirst = true)
        if (first >= 0) Some(first) else None
      }
    }.asNondeterministic() // one hashing pass per row — optimizer fence
    docs.withColumn(outCol,
      probe(col(textCol), coalesce(guard, lit(false))))
  }

  /** Test seam: total [[withBloomHit]] probe invocations in this JVM —
    * the bloom-gated ingest's single-plan-branch pin counts it. */
  private[graft] val bloomGateEvals =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** First-hit evidence of [[withHit]]'s gate probe. */
  final case class GateHit(bench_id: Long, match_pos: Long)

  /** First-hit gate probe for ingest paths
    * ([[graft.streaming.CorpusIngest]]): adds `contamination` — null for clean
    * rows, struct(bench_id, match_pos) of the FIRST matched window
    * (lowest position; lowest bench id if one window serves several
    * benchmarks) otherwise. Unlike [[flag]] it SHORT-CIRCUITS at the
    * first hit: the gating question is "does any eval window occur
    * here", so a leaked doc stops scanning at its first leaked window
    * (the clean common case still pays the full linear scan — that cost
    * is irreducible) and the flagged doc's full story is one [[flag]]
    * call over the bounded flagged set, never the corpus. `guard` is
    * evaluated INSIDE the UDF (a row where it is false/null skips the
    * whole hashing scan) — a `when(guard, probe)` wrapper could not make
    * the probe lazy, because the nondeterministic fence keeps the UDF in
    * its own Project where it is computed unconditionally. */
  def withHit(docs: DataFrame, textCol: String, index: BenchIndex,
      guard: Column = lit(true)): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(index)
    val probe = udf { (text: String, enabled: Boolean) =>
      probeEvals.incrementAndGet(): Unit
      if (!enabled) None
      else {
        var hit: Option[GateHit] = None
        scanMatches(text, bc.value) { (pos, _, benches) =>
          hit = Some(GateHit(benches.head, pos)) // ids sorted
          false // first hit answers the gate — stop scanning
        }
        hit
      }
    }.asNondeterministic() // one hashing pass per row — optimizer fence
    docs.withColumn("contamination",
      probe(col(textCol), coalesce(guard, lit(false))))
  }

  /** Test seam: total [[withHit]] probe invocations in this JVM —
    * single-plan-branch pins count it (suites run sequentially in the
    * forked test JVM). One uncontended-in-practice atomic increment per
    * row, dwarfed by the scan the UDF exists to do. */
  private[graft] val probeEvals = new java.util.concurrent.atomic.AtomicLong(0)

  private def nibbles(hexPrefix: String): Array[Int] =
    hexPrefix.toCharArray.map { c =>
      val v = Character.digit(c, 16)
      require(v >= 0, s"hexPrefix must be hex chars, got '$c'")
      v
    }

  /** THE per-document window walk every probe builds on: enumerate
    * `window`-code-point substrings in position order, md5 each, apply
    * the content-sampling prefix test, and call `onWindow(pos, hex)`
    * (pos 1-based, the [[SubstringDedup]] convention). Returning false
    * stops the scan. */
  private def scanWindows(text: String, window: Int, hexPrefix: String)(
      onWindow: (Long, String) => Boolean): Unit = {
    if (text == null) return
    val prefixNibbles = nibbles(hexPrefix)
    val md = java.security.MessageDigest.getInstance("MD5")
    val cps = text.codePointCount(0, text.length)
    if (cps < window) return
    val offsets = graft.functions.TextFunctions.codePointOffsets(text)
    var s = 0
    var go = true
    while (go && s + window <= cps) {
      md.reset()
      val digest = md.digest(text.substring(offsets(s), offsets(s + window))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (SubstringDedup.nibblesMatch(digest, prefixNibbles))
        go = onWindow(s + 1L, SubstringDedup.toHex(digest))
      s += 1
    }
  }

  /** [[scanWindows]] against an exact index — the one definition of
    * "match" the exact-map probes share ([[flag]]'s per-bench fold,
    * [[withHit]]'s first-hit gate, [[excise]]/[[withCuts]]'s island
    * fold), so the tiers cannot silently diverge: `onMatch(pos, hex,
    * benchIds)` fires for every window present in the index (benchIds
    * sorted ascending); returning false stops the scan. */
  private def scanMatches(text: String, idx: BenchIndex)(
      onMatch: (Long, String, Array[Long]) => Boolean): Unit =
    scanWindows(text, idx.window, idx.hexPrefix) { (pos, hex) =>
      idx.hashToBench.get(hex) match {
        case Some(benches) => onMatch(pos, hex, benches)
        case None => true
      }
    }

  /** Island fold over one (doc, bench)'s matched positions, fed in
    * ascending order: counts positions + distinct hashes, merges
    * positions ≤ window−1 apart into char intervals. */
  private final class Fold(window: Int) {
    private var n = 0L
    private var islandStart = -1L
    private var last = -1L
    private var chars = 0L
    private var longest = 0L
    private val hashes = scala.collection.mutable.Set.empty[String]

    def add(pos: Long, hex: String): Unit = {
      n += 1
      hashes += hex
      if (islandStart < 0) { islandStart = pos; last = pos }
      else if (pos - last <= window - 1) last = pos
      else { close(); islandStart = pos; last = pos }
    }

    private def close(): Unit = {
      val ext = last - islandStart + window
      chars += ext
      if (ext > longest) longest = ext
    }

    def finish(bench: Long): Overlap = {
      if (islandStart >= 0) close()
      Overlap(bench, n, chars, longest, hashes.size.toLong)
    }
  }

  /** All (pos, md5-hex) windows of `window` code points passing the
    * `hexPrefix` content-sampling test — the [[SubstringDedup]] window
    * enumeration, shared so the guard and the dedup family can never
    * disagree on what a window is. */
  private def windowHashUdf(window: Int, hexPrefix: String): Column => Column =
    SubstringDedup.sampledWindows(window, hexPrefix)
}
