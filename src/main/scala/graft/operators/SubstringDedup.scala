package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact duplicated-SUBSTRING detection across documents — the
  * Lee et al. ("Deduplicating Training Data Makes Language Models Better",
  * ACL 2022) problem: find long character runs that occur verbatim in more
  * than one document, the signature of boilerplate, licenses, and templated
  * text that survives document-level dedup.
  *
  * Their suffix-array construction is a single-machine algorithm; the
  * distributed restatement here is hashed fixed-length windows with
  * CONTENT-BASED sampling (the winnowing idea of Schleimer/Wilkerson/Aiken,
  * SIGMOD 2003): a window is kept iff its own hash satisfies a predicate,
  * so two copies of the same run select the same windows regardless of
  * where each copy sits in its document — a positional stride could never
  * promise that. With a 1/16 sample, any duplicated run of ~`window + 16`
  * characters is expected to surface while the shuffle carries ~1/16 of the
  * (hash, doc, pos) stream.
  *
  * Scale shape: one map-side pass emits sampled (hash, doc_id, pos) rows,
  * one aggregate on hash counts distinct documents, one self-join of the
  * qualifying hashes back to the sampled rows (AQE broadcasts the
  * dup-hash side — duplicated boilerplate is tiny next to the corpus).
  * Nothing is pairwise in documents.
  */
object SubstringDedup {

  /** [[samplingRecallAudit]]'s window, in code points. */
  private[graft] val AuditWindow = 64

  /** All (pos, md5) windows of `window` code points whose md5 hex starts
    * with one of 16 `sampleHexPrefixes` characters — pos is 1-based in code
    * points, matching both column `substr` and the DuckDB oracle. Documents
    * shorter than `window` have no windows. One pass per row: the code-point
    * offset table is built once, each window hashed once.
    */
  private val HexChars = "0123456789abcdef".toCharArray

  private[operators] def toHex(digest: Array[Byte]): String = {
    val out = new Array[Char](digest.length * 2)
    var i = 0
    while (i < digest.length) {
      out(2 * i) = HexChars((digest(i) >> 4) & 0xF)
      out(2 * i + 1) = HexChars(digest(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** True iff the digest's leading nibbles spell `prefixNibbles` — the
    * sampling test on the raw bytes, so the ~15/16 rejected windows never
    * pay for hex encoding (only MD5 itself).
    */
  private[operators] def nibblesMatch(digest: Array[Byte], prefixNibbles: Array[Int]): Boolean = {
    var i = 0
    while (i < prefixNibbles.length) {
      val nib = if (i % 2 == 0) (digest(i / 2) >> 4) & 0xF else digest(i / 2) & 0xF
      if (nib != prefixNibbles(i)) return false
      i += 1
    }
    true
  }

  private[operators] def sampledWindows(window: Int, hexPrefix: String): Column => Column = {
    val prefixNibbles = hexPrefix.toCharArray.map { c =>
      val v = Character.digit(c, 16)
      require(v >= 0, s"hexPrefix must be hex chars, got '$c'")
      v
    }
    val f = udf((t: String) => {
      if (t == null) null.asInstanceOf[Seq[(Long, String)]]
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val cps = t.codePointCount(0, t.length)
        val out = Seq.newBuilder[(Long, String)]
        if (cps >= window) {
          val offsets = graft.functions.TextFunctions.codePointOffsets(t)
          var s = 0
          while (s + window <= cps) {
            val bytes = t.substring(offsets(s), offsets(s + window))
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            md.reset()
            val digest = md.digest(bytes)
            if (nibblesMatch(digest, prefixNibbles)) out += ((s + 1L, toHex(digest)))
            s += 1
          }
        }
        out.result()
      }
    })
    c => f(c)
  }

  /** Spans of `window` code points occurring verbatim in >= 2 distinct
    * documents, restricted to the content-sampled windows. Output one row
    * per (document, position) holding a duplicated window:
    * (doc_id, pos, h, n_docs) — n_docs = distinct documents sharing that
    * exact window text.
    */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 64, hexPrefix: String = "0"): DataFrame = {
    require(window >= 8, s"window must be >= 8 code points, got $window")
    val sampled = docs.select(col(idCol).as("doc_id"),
        explode(sampledWindows(window, hexPrefix)(col(textCol))).as("w"))
      .select(col("doc_id"), col("w._1").as("pos"), col("w._2").as("h"))
    val dupHashes = sampled.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= 2)
    sampled.join(dupHashes, "h")
      .select(col("doc_id"), col("pos"), col("h"), col("n_docs"))
  }

  /** Recall audit for the content sampling [[duplicatedSpans]] trades on:
    * enumerate EVERY duplicated window (hexPrefix = "", no sampling),
    * collapse consecutive positions into maximal duplicated RUNS
    * (gaps-and-islands per document), and flag for each run whether the
    * 1/16 production dial — and a deliberately coarse 1/256 — would have
    * surfaced it (a run is found iff ≥1 of its windows self-selects, and
    * window hashes are content-based, so the flag is a pure function of
    * the run text; no sampled re-run needed). Detection probability is
    * 1 − (15/16)^windows, so short runs are exactly where recall erodes —
    * this makes that erosion driver-visible next to ext42's output.
    *
    * The exact side shuffles every duplicated-candidate window, which is
    * the thing sampling exists to avoid — at corpus scale this audit runs
    * on a held-out slice (pass a filtered `docs`), same as ext67 grades
    * MinHash on bounded pairs. Output: one row per maximal run
    * (doc_id, run_start, n_windows, run_chars, det_1_16, det_1_256).
    */
  def samplingRecallAudit(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val window = AuditWindow
    val spans = duplicatedSpans(docs, textCol, idCol, window, hexPrefix = "")
    spans
      .withColumn("grp", col("pos") -
        row_number().over(W.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("pos")).as("run_start"),
        count(lit(1)).as("n_windows"),
        max(when(substring(col("h"), 1, 1) === "0", 1L).otherwise(0L)).as("det_1_16"),
        max(when(substring(col("h"), 1, 2) === "00", 1L).otherwise(0L)).as("det_1_256"))
      .select(col("doc_id"), col("run_start"), col("n_windows"),
        (col("n_windows") + (window - 1)).as("run_chars"),
        col("det_1_16"), col("det_1_256"))
  }

  /** Per-document duplicated-character coverage — the Lee et al. headline
    * dial ("what fraction of my corpus is verbatim-duplicated text"),
    * computed as the TRUE char-interval union of the exact duplicated
    * windows: each window covers [pos, pos+window−1], and two consecutive
    * duplicated positions merge iff they are ≤ window−1 apart (their char
    * extents overlap) — summing per-run lengths would double-count
    * overlapping runs. Every document appears in the output (coverage 0.0
    * when nothing is duplicated), so the fraction is a complete corpus
    * profile, not a survivors-only view. Same exact-enumeration caveat as
    * [[samplingRecallAudit]]: audit tooling — run on a slice at corpus
    * scale. Output: (doc_id, n_chars, n_islands, dup_chars, dup_fraction).
    */
  /** REMEDIATION for cross-document duplicated text — the step Lee et al.
    * 2022 actually apply after detection: EXCISE every duplicated span from
    * every document except one canonical copy, rather than dropping whole
    * documents (doc-level dedup loses the unique text around boilerplate;
    * span removal keeps it). Policy: for each duplicated window text the
    * occurrence(s) in the LOWEST doc_id survive; every other document's
    * occurrences are cut. Overlapping removable windows merge into maximal
    * char intervals first (the [[duplicatedCoverage]] island step, so
    * nothing is double-cut), then each document's surviving text is the
    * ordered concatenation of its uncut segments — rebuilt with built-in
    * `aggregate`/`substring` over the per-doc sorted cut list, no UDF on
    * the rebuild path.
    *
    * Scale shape: with the default `hexPrefix = ""` detection is the exact
    * window enumeration (audit tier, like [[duplicatedCoverage]]); passing
    * the production `hexPrefix = "0"` drives the SAME excision from the
    * content-sampled detector — the at-scale path, which removes a subset
    * of the exact cut set (sampling only ever loses windows, so sampled
    * removal is conservative; the delta is ext80's recall erosion made
    * concrete). The excision stage itself is detector-agnostic — it only
    * consumes (doc_id, s, e) intervals. The per-doc cut list is bounded by
    * n_chars/window — each island spans ≥ `window` chars and islands are
    * disjoint — so the collect is as bounded as holding the document
    * itself.
    *
    * Output, every document present (untouched docs keep their full text):
    * (doc_id, n_chars, n_spans, removed_chars, kept_chars, cleaned_digest)
    * where kept_chars = length of the rebuilt text (≡ n_chars −
    * removed_chars, a hash-checked invariant) and cleaned_digest = md5 of
    * the rebuilt text — the digest makes the oracle verify the
    * RECONSTRUCTION, not just the arithmetic.
    */
  def spanRemoval(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 64, hexPrefix: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val byDoc = W.partitionBy("doc_id").orderBy("pos")
    val spans = duplicatedSpans(docs, textCol, idCol, window, hexPrefix)
    // canonical copy per duplicated window text = lowest doc_id holding it
    val keepers = spans.groupBy("h").agg(min(col("doc_id")).as("keep_doc"))
    val removable = spans.join(keepers, "h")
      .where(col("doc_id") =!= col("keep_doc"))
      .select("doc_id", "pos").distinct()
    val cuts = removable
      .withColumn("newgrp",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= window - 1, 0L)
          .otherwise(1L))
      .withColumn("grp", sum(col("newgrp"))
        .over(byDoc.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (window - 1)).as("e"))
    val perDoc = cuts.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cuts"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("removed_chars"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("cleaned",
        when(col("cuts").isNull, col("text")).otherwise(rebuildCleaned))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        length(col("cleaned")).cast("long").as("kept_chars"),
        md5(col("cleaned")).as("cleaned_digest"))
  }

  /** The uncut-segment rebuild: fold a SORTED, DISJOINT `cuts`
    * array<struct<s,e>> (1-based char intervals) over a `text` column,
    * concatenating the segments between cuts — the no-UDF rebuild path
    * shared by [[spanRemoval]], [[ContaminationGuard.excise]] and the
    * excise-policy ingest
    * ([[graft.streaming.CorpusIngest.gateVerdictsExcising]]). */
  private[graft] def rebuildCleaned: Column = expr(
    """aggregate(cuts,
         struct(cast('' as string) as acc, 1L as cur),
         (a, c) -> struct(
           concat(a.acc,
             substring(text, cast(a.cur as int), cast(c.s - a.cur as int))),
           c.e + 1L),
         a -> concat(a.acc,
           substring(text, cast(a.cur as int),
             length(text) - cast(a.cur as int) + 1)))""")

  def duplicatedCoverage(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val byDoc = W.partitionBy("doc_id").orderBy("pos")
    val spans = duplicatedSpans(docs, textCol, idCol, window, hexPrefix = "")
    val islands = spans
      .withColumn("newgrp",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= window - 1, 0L)
          .otherwise(1L))
      .withColumn("grp", sum(col("newgrp"))
        .over(byDoc.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("pos")) - min(col("pos")) + window).as("cov"))
    val perDoc = islands.groupBy("doc_id")
      .agg(count(lit(1)).as("n_islands"), sum(col("cov")).as("dup_chars"))
    docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        when(col("n_chars") > 0,
          round(coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n_chars"), 6))
          .otherwise(0.0).as("dup_fraction"))
  }
}
