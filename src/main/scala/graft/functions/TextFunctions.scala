package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the documents table.
  *
  * Everything here is composed from codegen'd built-in functions (split,
  * transform, filter, aggregate, hash, …) so whole-stage codegen spans stay
  * wide and Catalyst can prune/push as usual — with one deliberate
  * exception: [[charNgramSetFast]] is a Scala UDF that REPLACES an
  * interpreted HOF chain (transform+substr never codegens; the fused single
  * pass measured ~an order of magnitude cheaper per document — the same
  * adjudicated pattern as minHashFromText). All hashes are deterministic
  * (xxhash64 with fixed seeds), which is what makes MinHash/SimHash
  * reproducible across runs and executors.
  */
object TextFunctions {

  /** Lower-cased whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Distinct token set (order-normalized for set ops). */
  def tokenSet(text: Column): Column = array_sort(array_distinct(tokens(text)))

  /** Contiguous word n-gram shingles of the token array. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(
        transform(sequence(lit(0), size(toks) - n), i =>
          array_join(slice(toks, i + 1, lit(n)), " ")))

  /** [[shingles]] without the whole-doc fallback: EMPTY for token arrays
    * shorter than n. A document shorter than n tokens contains no n-gram —
    * repetition ratios and containment checks must not see it as its own
    * shingle.
    */
  def strictShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(shingles(toks, n))

  /** Contiguous word bigrams ("w1 w2"); EMPTY below 2 tokens. */
  def wordBigrams(toks: Column): Column = strictShingles(toks, 2)

  /** BPE-style pre-tokenization: lower-cased text split into maximal runs
    * of letters, digits, or other-non-space — the class boundaries every
    * byte-pair-encoding tokenizer splits on before merging. The whitespace
    * class is spelled out ([ \t\n\r\f]) instead of \s because Java's \s
    * includes vertical tab while RE2's does not — with explicit classes the
    * Spark pattern and the DuckDB oracle's agree byte-for-byte.
    */
  def bpePreTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]+"), lit(0))

  /** UTF-16 offsets of every code-point boundary of `s` (length = cps + 1,
    * where cps = code-point count) — the shared slicing table for every
    * fused code-point-window path (character n-grams here, the sampled
    * windows of [[graft.operators.SubstringDedup]]). One table per string,
    * so each window is exactly n code points, matching column `substr`
    * and the DuckDB oracle's character semantics.
    */
  private[graft] def codePointOffsets(s: String): Array[Int] = {
    val cps = s.codePointCount(0, s.length)
    val offsets = new Array[Int](cps + 1)
    var off = 0
    var i = 0
    while (i < cps) {
      offsets(i) = off
      off = s.offsetByCodePoints(off, 1)
      i += 1
    }
    offsets(cps) = s.length
    offsets
  }

  /** Distinct, sorted CHARACTER n-grams of the lower-cased text (the other
    * classic near-dup representation besides word shingles — robust to
    * missing/extra whitespace and concatenated-word noise). Text shorter
    * than `n` yields its whole (lower-cased) self as the single gram;
    * null text stays null. Map-side only — one pass per row.
    */
  def charNgramSet(text: Column, n: Int): Column = {
    require(n >= 1, s"charNgramSet: n must be >= 1, got $n")
    val t = lower(text)
    array_sort(array_distinct(
      when(length(t) <= n, array(t))
        .otherwise(transform(sequence(lit(1), length(t) - (n - 1)), i =>
          t.substr(i, lit(n))))))
  }

  /** Fused JVM form of [[charNgramSet]]: one pass over the string instead
    * of an interpreted transform+substr per position (the HOF chain is the
    * ext22 hot loop — hundreds of per-position lambda evaluations and
    * intermediate arrays per document). Same SET of grams (cross-checked in
    * TextFunctionsSpec): lower-casing goes through UTF8String like Spark's
    * lower(), and windows advance by CODE POINT exactly like column
    * substr. Element order may differ from the HOF's array_sort — every
    * consumer explodes into order-insensitive aggregation, so only set
    * equality is contractual.
    */
  def charNgramSetFast(text: Column, n: Int): Column = {
    require(n >= 1, s"charNgramSetFast: n must be >= 1, got $n")
    val f = udf((t: String) => {
      if (t == null) null.asInstanceOf[Array[String]]
      else {
        val lowered =
          org.apache.spark.unsafe.types.UTF8String.fromString(t).toLowerCase.toString
        val cps = lowered.codePointCount(0, lowered.length)
        val set = new java.util.TreeSet[String]()
        if (cps <= n) set.add(lowered)
        else {
          val offsets = codePointOffsets(lowered)
          var s = 0
          while (s + n <= cps) {
            set.add(lowered.substring(offsets(s), offsets(s + n))): Unit
            s += 1
          }
        }
        set.toArray(new Array[String](set.size))
      }
    })
    f(text)
  }

  /** ALL character n-grams of the lower-cased text IN ORDER, with repeats —
    * the multiset sibling of [[charNgramSetFast]] for occurrence-weighted
    * consumers (n-gram language models). Strict: text shorter than n code
    * points yields an EMPTY array (no whole-doc fallback — a 2-char string
    * contains no trigram); null stays null. Same fused one-pass shape and
    * code-point window semantics as [[charNgramSetFast]], so the grams
    * match column substr / the DuckDB oracle byte-for-byte.
    */
  def charNgramsFast(text: Column, n: Int): Column = {
    require(n >= 1, s"charNgramsFast: n must be >= 1, got $n")
    val f = udf((t: String) => {
      if (t == null) null.asInstanceOf[Array[String]]
      else {
        val lowered =
          org.apache.spark.unsafe.types.UTF8String.fromString(t).toLowerCase.toString
        val cps = lowered.codePointCount(0, lowered.length)
        if (cps < n) Array.empty[String]
        else {
          val offsets = codePointOffsets(lowered)
          val out = new Array[String](cps - n + 1)
          var s = 0
          while (s + n <= cps) {
            out(s) = lowered.substring(offsets(s), offsets(s + n))
            s += 1
          }
          out
        }
      }
    })
    f(text)
  }

  /** One-pass tokenizer for the fused word-shingle paths: lower-case via
    * UTF8String (matches column lower()), then collect maximal runs of
    * non-\s characters (\s = [ \t\n\x0B\f\r] exactly — Java regex \s, what
    * `split(lower(text), "\\s+")` + empty-filter produces; NOT
    * Character.isWhitespace, which also matches U+2028 etc.).
    */
  private def fusedTokens(t: String): Array[String] = {
    val lowered =
      org.apache.spark.unsafe.types.UTF8String.fromString(t).toLowerCase.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val len = lowered.length
    while (i < len) {
      var j = i
      while (j < len && !isWs(lowered.charAt(j))) j += 1
      if (j > i) out += lowered.substring(i, j)
      i = if (j > i) j else i + 1
    }
    out.toArray
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Fused JVM form of [[strictShingles]]∘[[tokens]] — all word n-gram
    * shingles WITH multiplicity, one pass over the string instead of an
    * interpreted transform+slice+array_join per position (the HOF chain is
    * the bigram/shingle hot loop: hundreds of lambda evaluations and
    * intermediate arrays per document). Same elements in the same order
    * (cross-checked in TextFunctionsSpec); empty below n tokens, null for
    * null text.
    */
  def wordShinglesFast(text: Column, n: Int): Column = {
    require(n >= 1, s"wordShinglesFast: n must be >= 1, got $n")
    val f = udf((t: String) => {
      if (t == null) null.asInstanceOf[Array[String]]
      else {
        val toks = fusedTokens(t)
        if (toks.length < n) Array.empty[String]
        else {
          val out = new Array[String](toks.length - n + 1)
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i + n <= toks.length) {
            sb.setLength(0)
            var k = 0
            while (k < n) {
              if (k > 0) sb.append(' ')
              sb.append(toks(i + k)): Unit
              k += 1
            }
            out(i) = sb.toString
            i += 1
          }
          out
        }
      }
    })
    f(text)
  }

  /** DISTINCT variant of [[wordShinglesFast]] — the fused form of
    * array_distinct∘strictShingles∘tokens that containment checks
    * (decontamination) explode. Set equality with the HOF form is
    * contractual; element order is not (consumers aggregate
    * order-insensitively).
    */
  def wordShingleSetFast(text: Column, n: Int): Column = {
    require(n >= 1, s"wordShingleSetFast: n must be >= 1, got $n")
    val f = udf((t: String) => {
      if (t == null) null.asInstanceOf[Array[String]]
      else {
        val toks = fusedTokens(t)
        if (toks.length < n) Array.empty[String]
        else {
          val set = new java.util.LinkedHashSet[String]()
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i + n <= toks.length) {
            sb.setLength(0)
            var k = 0
            while (k < n) {
              if (k > 0) sb.append(' ')
              sb.append(toks(i + k)): Unit
              k += 1
            }
            set.add(sb.toString): Unit
            i += 1
          }
          set.toArray(new Array[String](set.size))
        }
      }
    })
    f(text)
  }

  /** Per-document bigram repetition statistics in ONE map-side pass:
    * (n_bigrams, n_distinct, top_count) over adjacent-token bigrams — the
    * inputs of the Gopher-style duplicate-bigram-fraction and
    * most-frequent-bigram-share signals. All bigrams of a document live in
    * its own row, so no explode/shuffle is ever semantically needed for a
    * per-doc ratio: this replaces a 2-shuffle explode+groupBy pipeline with
    * zero shuffles, which is the correct shape at any corpus scale. NULL
    * for null text or documents with fewer than 2 tokens (no bigram — the
    * exploded form produces no rows for them, and callers filter the same
    * way).
    */
  def bigramStats(text: Column): Column = {
    val f = udf((t: String) => {
      if (t == null) null
      else {
        val toks = fusedTokens(t)
        if (toks.length < 2) null
        else {
          val counts = new java.util.HashMap[String, Long]()
          val sb = new java.lang.StringBuilder
          var top = 0L
          var i = 0
          while (i + 2 <= toks.length) {
            sb.setLength(0)
            sb.append(toks(i)).append(' ').append(toks(i + 1)): Unit
            val key = sb.toString
            val c = counts.merge(key, 1L, (a, b) => a + b)
            if (c > top) top = c
            i += 1
          }
          (toks.length - 1L, counts.size.toLong, top)
        }
      }
    })
    f(text)
  }

  // ------------------------------------------------------------- MinHash

  /** MinHash signature of a string-array column: `num` independent
    * permutations h_i(x) = (a_i * x64 + b_i) mod p over the xxhash64 of each
    * element. Returns array<long> of length `num`.
    *
    * Scale: signature is computed per-row in one pass (map-side only); the
    * LSH banding in [[graft.operators.Dedup.minHashLsh]] is what bounds the
    * candidate-pair join.
    */
  def minHashSignature(elems: Column, num: Int = 64): Column = {
    import org.apache.spark.sql.graft.ColumnGlue
    ColumnGlue.column(graft.expressions.MinHashSig(
      ColumnGlue.expression(transform(elems, e => xxhash64(e))), num))
  }

  /** DEFLATE-compressed length of the string's UTF-8 bytes (codegen'd
    * [[graft.expressions.DeflateLen]]) — divide by the raw length for the
    * compression-ratio quality signal (low ratio = repetitive/boilerplate,
    * the Gopher §A.1.1 filter).
    */
  def deflateLen(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnGlue
    ColumnGlue.column(graft.expressions.DeflateLen(ColumnGlue.expression(text)))
  }

  /** Reference composed-column MinHash (`num` array traversals — identical
    * arithmetic to [[minHashSignature]]'s one-pass expression; kept for the
    * cross-check spec).
    */
  def minHashSignatureHof(elems: Column, num: Int = 64): Column = {
    val p = 2147483647L // 2^31-1, Mersenne prime
    val hs = (0 until num).map { i =>
      val a = 1L + 2L * i // odd multipliers (small: keeps a*h < 2^39, no ANSI overflow)
      val b = 104729L * (i + 1)
      // reduce xxhash64 into [0, p) first, then permute; min over all elements.
      array_min(transform(elems, e =>
        pmod(pmod(xxhash64(e), lit(p)) * lit(a) + lit(b), lit(p))))
    }
    array(hs: _*)
  }

  // ---------------------------------------------------- fused signature path

  /** JVM-side mirror of `xxhash64(string)` (same bytes, same seed 42) via
    * Spark's own XXH64 — signatures from the fused path and the column path
    * are identical.
    */
  private def xxh64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  private def tokenizeJvm(text: String): Array[String] =
    // lower-case through UTF8String so the fused path matches Spark's
    // lower() byte-for-byte regardless of the JVM default locale
    org.apache.spark.unsafe.types.UTF8String.fromString(text)
      .toLowerCase.toString.split("\\s+").filter(_.nonEmpty)

  private def shinglesJvm(toks: Array[String], n: Int): Array[String] =
    if (toks.length < n) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - n + 1)(i => toks.slice(i, i + n).mkString(" "))

  /** Fused text → MinHash signature in one JVM pass (tokenize → shingle →
    * xxhash64 → all-perm minima). The composed column form builds three
    * intermediate arrays per row through interpreted higher-order
    * functions — at ~50 tokens/doc that's ~45 ms CPU per document, which
    * dominates LSH dedup; this path is ~50× cheaper with identical values
    * (cross-checked in SketchExpressionsSpec).
    */
  def minHashFromText(text: Column, shingleN: Int = 3, perms: Int = 64): Column =
    minHashUdf(shingleN, perms)(text)

  /** [[minHashFromText]]'s UDF, for a call site that must fence it with
    * `asNondeterministic()`. */
  private[graft] def minHashUdf(shingleN: Int, perms: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) => {
      if (t == null) null.asInstanceOf[Array[Long]]
      else {
        val P = 2147483647L
        val mins = Array.fill(perms)(Long.MaxValue)
        shinglesJvm(tokenizeJvm(t), shingleN).foreach { sh =>
          val hp = java.lang.Math.floorMod(xxh64(sh), P)
          var s = 0
          while (s < perms) {
            val v = java.lang.Math.floorMod(hp * (2L * s + 1L) + 104729L * (s + 1), P)
            if (v < mins(s)) mins(s) = v
            s += 1
          }
        }
        mins
      }
    })

  /** Fused text → 64-bit SimHash (tokenize → xxhash64 → one voting pass);
    * same values as [[simHash64]] ∘ [[tokens]].
    */
  def simHashFromText(text: Column): Column = {
    val f = udf((t: String) => {
      if (t == null) null.asInstanceOf[java.lang.Long]
      else {
        val votes = new Array[Int](64)
        tokenizeJvm(t).foreach { tok =>
          val h = xxh64(tok)
          var k = 0
          while (k < 64) {
            if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
            k += 1
          }
        }
        var out = 0L
        var k = 0
        while (k < 64) { if (votes(k) > 0) out |= (1L << k); k += 1 }
        java.lang.Long.valueOf(out)
      }
    })
    f(text)
  }

  /** LSH band keys from a MinHash signature: `bands` strings, each hashing
    * `rows = num/bands` consecutive signature slots. Documents sharing any
    * band key are near-dup candidates.
    */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * rows + 1, rows))).as("key"))
    }: _*)

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash over a token array: sign-sum of each token's xxhash64
    * bits. Near-duplicates differ in few bits (Hamming distance).
    * Pure column expression: bit k of the result = sign of
    * sum_tokens(bit_k(hash) ? +1 : -1).
    */
  def simHash64(toks: Column): Column = {
    import org.apache.spark.sql.graft.ColumnGlue
    ColumnGlue.column(graft.expressions.SimHashBits(
      ColumnGlue.expression(transform(toks, t => xxhash64(t)))))
  }

  /** Reference composed-column SimHash (64 aggregate passes — identical
    * votes to [[simHash64]]'s one-pass expression; kept for the cross-check
    * spec).
    */
  def simHash64Hof(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    val bits = (0 until 64).map { k =>
      val vote = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, k).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote > 0, lit(1L << k)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Hamming distance between two long columns (bit_count of xor). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Codegen'd signature-agreement count ([[graft.expressions.SigAgreement]]
    * — one primitive loop per pair; [[sigAgreementHof]] kept for
    * cross-checks).
    */
  def sigAgreement(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnGlue
    ColumnGlue.column(graft.expressions.SigAgreement(
      ColumnGlue.expression(a), ColumnGlue.expression(b)))
  }

  /** Reference higher-order-function agreement count (identical semantics
    * for fixed-length never-null signatures, slower).
    */
  def sigAgreementHof(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))

  // ------------------------------------------------- fingerprint / quality

  /** Karp–Rabin rolling-hash document fingerprint: polynomial hash of the
    * token sequence mod 2^31−1 (order-sensitive, whitespace-normalized —
    * unlike md5(text) it ignores spacing differences). The small modulus
    * keeps every intermediate below 2^52, inside ANSI-mode long arithmetic.
    */
  def fingerprint(toks: Column): Column = {
    // p = 2^31-1 keeps acc*base + h < 2^52 — safe under ANSI overflow checks.
    val p = lit(2147483647L)
    aggregate(toks, lit(7L), (acc, t) => pmod(acc * 1000003L + pmod(xxhash64(t), p), p))
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Heuristic quality features, all exact-integer or round(…,6) arithmetic
    * so they hash-match a SQL oracle.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val totalLen = aggregate(toks, lit(0), (acc, t) => acc + length(t))
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    // empty documents: ratios are NULL (ANSI mode would otherwise throw on
    // the zero divisor; DuckDB's x/0 is NULL, so the oracle agrees)
    def ratio(num: Column): Column =
      when(nTok === 0, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / nTok, 6))
    Seq(
      "n_tokens" -> nTok.cast("long"),
      "n_distinct" -> size(array_distinct(toks)).cast("long"),
      "avg_token_len" -> ratio(totalLen),
      "stopword_ratio" -> ratio(nStop),
      "distinct_ratio" -> ratio(size(array_distinct(toks))))
  }

  /** Default text-gate thresholds — `DefaultMinDistinctRatio` is ext100's
    * funnel quality stage (distinct_ratio >= 0.55), shared so the batch
    * funnel and the streaming gate cannot drift. */
  val DefaultMinTokens = 5
  val DefaultMinDistinctRatio = 0.55

  /** The TEXT quality gate as one failing-reason column (NULL = pass) —
    * the text sibling of [[graft.operators.MediaQuality.imageQualityReason]]
    * for [[graft.streaming.NearDupIngest]]'s map-side pre-filter: "empty"
    * (null text / zero tokens), "too_few_tokens" (< `minTokens`),
    * "repetitive" (distinct_ratio < `minDistinctRatio`, the ext100 funnel
    * gate's exact arithmetic via [[qualityFeatures]]). Unlike the
    * multimodal gates this is PURE built-in expressions — no UDF, stays
    * inside whole-stage codegen, zero decode analogy to pay. */
  def qualityReason(text: Column,
      minTokens: Int = DefaultMinTokens,
      minDistinctRatio: Double = DefaultMinDistinctRatio): Column = {
    val feats = qualityFeatures(text).toMap
    when(text.isNull || feats("n_tokens") === 0, "empty")
      .when(feats("n_tokens") < minTokens, "too_few_tokens")
      .when(feats("distinct_ratio") < minDistinctRatio, "repetitive")
  }

  /** Shannon entropy (bits) of the character unigram distribution of
    * `text` — the classic cheap junk detector (binary blobs and
    * keyboard-mash score high, "aaaa…" padding scores near 0; natural
    * text sits in a narrow band). Entirely map-side: the whole
    * distribution of one document lives in its own row, so like
    * [[bigramStats]] this needs ZERO shuffles at any corpus scale.
    *
    * Deterministic cross-engine: distinct characters are SORTED before the
    * left-fold so both engines sum identical terms in identical order;
    * empty text → 0.0, null text → null. Cost is O(distinct × length) per
    * row, bounded by the alphabet.
    */
  def charEntropy(text: Column): Column = {
    val chars = transform(sequence(lit(1), length(text)), i => text.substr(i, lit(1)))
    val uniq = array_sort(array_distinct(chars))
    val n = size(chars).cast("double")
    val negSum = aggregate(uniq, lit(0.0), (acc, c) => {
      val p = size(filter(chars, x => x === c)).cast("double") / n
      acc + p * log2(p)
    })
    // + 0.0 normalizes the single-repeated-char case: −(0.0) is IEEE −0.0,
    // which canonicalizes differently from 0.0 across engines.
    when(length(text) === 0, lit(0.0)).otherwise(round(-negSum + 0.0, 6))
  }

  /** Fused one-pass form of [[charEntropy]] plus the distinct-char count:
    * struct(n_distinct_chars, entropy_bits). The HOF form re-scans the
    * char array once per DISTINCT character (O(distinct × length) with an
    * interpreted lambda per element — the catalog's slowest entry at
    * sf0.1); this counts into a sorted map in one pass and folds the same
    * terms in the same sorted-character order with the same FP ops
    * (p = cnt/n, p·(ln p / ln 2), left-to-right sum, HALF_UP round at 6),
    * so equality with [[charEntropy]] is exact, not approximate
    * (cross-checked in TextFunctionsSpec). Counting is per UTF-16 code
    * unit while the HOF form is per code point — identical on the BMP
    * (the corpus contract here is ASCII); supplementary-plane text would
    * need a codePoints() loop.
    */
  def charEntropyStats(text: Column): Column = {
    val ln2 = math.log(2.0)
    val f = udf((t: String) => {
      if (t == null) None
      else if (t.isEmpty) Some((0L, 0.0))
      else {
        val counts = scala.collection.mutable.TreeMap.empty[Char, Long]
        var i = 0
        while (i < t.length) {
          val c = t.charAt(i)
          counts.update(c, counts.getOrElse(c, 0L) + 1L)
          i += 1
        }
        val n = t.length.toDouble
        var acc = 0.0
        counts.valuesIterator.foreach { cnt =>
          val p = cnt / n
          acc += p * (math.log(p) / ln2)
        }
        val h = java.math.BigDecimal.valueOf(-acc + 0.0)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        Some((counts.size.toLong, h))
      }
    })
    f(text).cast("struct<n_distinct_chars: bigint, entropy_bits: double>")
  }

  /** Whitespace token count and regex ("BPE-ish" alnum-run) token count. */
  def tokenCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_ws_tokens" -> size(tokens(text)),
    "n_re_tokens" -> size(regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))))

  /** N-gram-heuristic language ID: score each candidate language by marker
    * token hits; argmax with a stable tie-break on language code, default
    * "und" when no marker hits. Deterministic; markers are illustrative (the
    * test corpus is synthetic).
    */
  def langId(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is"),
      "de" -> Seq("der", "die", "das", "und"),
      "fr" -> Seq("le", "la", "les", "et"),
      "es" -> Seq("el", "los", "las", "que"),
      "zh" -> Seq("的", "是", "了"))
    val toks = tokens(text)
    val scored = markers.map { case (lang, ms) =>
      struct(size(filter(toks, t => t.isin(ms.map(lit): _*))).as("score"), lit(lang).as("lang"))
    }
    // array_max on struct(score, lang): max score, ties → lexicographically
    // larger lang (deterministic).
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
