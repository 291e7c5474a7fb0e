package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Byte-pair-encoding tokenizer TRAINING and APPLICATION (Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL 2016)
  * — the step ext20's pre-tokenizer and ext37's vocabulary audit lead up
  * to: learn the merge table a real tokenizer ships with, then encode the
  * corpus with it.
  *
  * The labor split is the one every production BPE trainer uses
  * (HuggingFace tokenizers, SentencePiece's BPE mode): the corpus-sized
  * work is ONE distributed aggregation — pre-token frequencies — because
  * merge learning only ever looks at the word-frequency dictionary, never
  * at the corpus again. The greedy merge loop then runs on that bounded
  * dictionary driver-side (each iteration is O(|vocab| · word length); the
  * corpus is never rescanned). Application broadcasts the learned merge
  * ranks back into a map-side UDF. The same shape as [[Pca]]: O(rows)
  * distributed, O(model) centralized, model broadcast back.
  *
  * Determinism: pair selection breaks count ties on (left, right) lexical
  * order, and the dictionary collect is capped at [[MaxVocabRows]] taken in
  * (count desc, token asc) order — reproducible across runs, partitions,
  * and cluster sizes.
  */
object Bpe {

  /** The word-dictionary rows [[trainMerges]] collects. */
  private val MaxVocabRows = 100000

  /** Initial symbols of a word: one per CODE POINT, not UTF-16 unit — a
    * surrogate pair (emoji, astral CJK) must stay one symbol, or the UDF
    * boundary mangles the unpaired halves to '?' and chars stop being
    * conserved (the repo-wide code-point-exact convention).
    */
  private[operators] def codePointSymbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** One learned merge: at step `rank`, the adjacent symbol pair
    * (left, right) — occurring `pairCount` weighted times — became the
    * single symbol left+right.
    */
  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** Pre-token (word-run) frequencies — the single corpus-sized pass.
    * Lower-cased letter/digit/punct runs, the exact ext20 pre-tokenizer.
    */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.bpePreTokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))

  /** Learn `numMerges` merges from the word-frequency dictionary of
    * `docs`. The dictionary collect is bounded: the top [[MaxVocabRows]]
    * word types by (count desc, token asc) — at web scale the type
    * distribution is so heavy-tailed that the dropped singleton tail
    * cannot influence early merges (and the cap is the documented
    * trade, same rationale as ivfTopK's bounded quantizer sample).
    */
  def trainMerges(docs: DataFrame, textCol: String,
      numMerges: Int): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val dict = wordFrequencies(docs, textCol)
      .orderBy(col("cnt").desc, col("tok"))
      .limit(MaxVocabRows)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // words as mutable symbol sequences, weighted by type frequency
    val words = dict.map { case (w, c) =>
      (scala.collection.mutable.ArrayBuffer.from(codePointSymbols(w)), c)
    }
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), c) = pairCounts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += Merge(rank, l, r, c)
        val joined = l + r
        words.foreach { case (syms, _) =>
          // non-overlapping left-to-right replacement: after a merge the
          // new symbol l+r can never itself start another (l, r) match
          // (r is non-empty), so always advance
          var i = 0
          while (i < syms.length - 1) {
            if (syms(i) == l && syms(i + 1) == r) {
              syms(i) = joined
              syms.remove(i + 1): Unit
            }
            i += 1
          }
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** Encode one pre-token with the learned ranks: repeatedly merge the
    * present pair with the LOWEST rank (the standard BPE inference loop —
    * reproduces training-time segmentation exactly).
    */
  private[operators] def encodeWord(w: String,
      rankOf: Map[(String, String), Int]): Array[String] = {
    var syms = codePointSymbols(w)
    var continue = syms.length > 1
    while (continue) {
      var best = Int.MaxValue
      var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rankOf.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; at = i }
        i += 1
      }
      if (at < 0) continue = false
      else {
        val merged = new Array[String](syms.length - 1)
        System.arraycopy(syms, 0, merged, 0, at)
        merged(at) = syms(at) + syms(at + 1)
        System.arraycopy(syms, at + 2, merged, at + 1, syms.length - at - 2)
        syms = merged
        continue = syms.length > 1
      }
    }
    syms
  }

  /** Column of BPE tokens for `textCol` under `merges` — pre-tokenize,
    * then encode each pre-token with the broadcast rank map. Map-side
    * only; null text stays null.
    */
  def tokensColumn(textCol: Column, merges: Seq[Merge]): Column = {
    val rankOf = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val enc = udf((toks: Seq[String]) => {
      if (toks == null) null.asInstanceOf[Seq[String]]
      else toks.flatMap(encodeWord(_, rankOf))
    })
    enc(TextFunctions.bpePreTokens(textCol))
  }

  /** Per-document encoding summary under the learned tokenizer:
    * (id, n_pretokens, n_tokens, n_chars, compression) where compression =
    * round(chars-per-token, 6) — the dial tokenizer training optimizes.
    * n_chars counts CODE POINTS of the emitted tokens (chars are conserved:
    * it equals the summed code-point length of the pre-tokens). All three
    * counts come from ONE UDF over ONE pre-tokenization — the regexp
    * extraction must not run once per output column.
    */
  def encodeStats(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[Merge]): DataFrame = {
    val rankOf = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val stats = udf((toks: Seq[String]) => {
      if (toks == null) null.asInstanceOf[(Long, Long, Long)]
      else {
        var nTok = 0L
        var nCh = 0L
        toks.foreach { w =>
          val enc = encodeWord(w, rankOf)
          nTok += enc.length
          enc.foreach(t => nCh += t.codePointCount(0, t.length))
        }
        (toks.length.toLong, nTok, nCh)
      }
    })
    docs.select(col(idCol),
        stats(TextFunctions.bpePreTokens(col(textCol))).as("st"))
      .select(col(idCol), col("st._1").as("n_pretokens"),
        col("st._2").as("n_tokens"), col("st._3").as("n_chars"))
      .withColumn("compression",
        when(col("n_tokens") === 0, lit(0d))
          .otherwise(round(col("n_chars") / col("n_tokens"), 6)))
  }
}
