package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Character-n-gram-profile language identification (the classic Cavnar-
  * Trenkle shape): train a per-language profile of the K most document-
  * frequent character n-grams from a labeled corpus, classify a document by
  * which profile it overlaps most. Deterministic end-to-end (count ties
  * break on the gram, score ties on the language), so the whole
  * train+classify composition is oracle-checkable — unlike the marker-word
  * heuristic in [[graft.functions.TextFunctions.langId]], which stays as
  * the zero-training fallback.
  *
  * Scale shape: training is explode → two-level agg → per-lang top-K
  * window (partial WindowGroupLimit); the profile is nLangs×K rows —
  * FIXED-cardinality, so its classify-join side broadcasts safely at any
  * corpus size (q05 hint policy). Classification is one equi join on the
  * gram plus a per-doc top-1 window.
  */
object LangIdNgram {

  /** Character n-gram width of every profile and document gram set. */
  private[graft] val GramN = 3

  /** (doc_id, gram) pairs — each document's distinct n-gram set, exploded.
    * Uses the fused one-pass gram extractor: the interpreted
    * transform+substr HOF was the suite's hot loop (set parity
    * cross-checked in TextFunctionsSpec).
    */
  private def docGrams(df: DataFrame, textCol: String, idCol: String) =
    df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.charNgramSetFast(col(textCol), GramN)).as("g"))

  /** Top-K profile from an already-extracted (lang, g) gram frame — the
    * ONE copy of the ranking semantics (ties → lexicographically smaller
    * gram). Output: (lang, g).
    */
  private def profilesFromGrams(grams: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("g"))
    grams.groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select("lang", "g")
  }

  /** Per-doc winning profile from an already-extracted (doc_id, g) gram
    * frame — the ONE copy of the scoring semantics (most shared grams;
    * ties → lexicographically smaller language). Output: (doc_id, cand).
    */
  private def bestFromGrams(grams: DataFrame, profiles: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("cand"))
    grams
      .join(broadcast(profiles.select(col("lang").as("cand"), col("g"))), Seq("g"))
      .groupBy("doc_id", "cand").agg(count(lit(1)).as("hits"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cand"))
  }

  /** Per-language profile: the `topK` grams by document frequency
    * (ties → lexicographically smaller gram), as (lang, g).
    */
  def trainProfiles(
      df: DataFrame, textCol: String, langCol: String, idCol: String,
      topK: Int = 50): DataFrame =
    profilesFromGrams(
      df.select(col(langCol).as("lang"),
        explode(TextFunctions.charNgramSetFast(col(textCol), GramN)).as("g")),
      topK)

  /** Classify every document: the language whose profile shares the most
    * grams with the document (ties → lexicographically smaller language);
    * documents overlapping no profile get 'und'. Output:
    * (doc_id, predicted).
    */
  def classify(
      df: DataFrame, profiles: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"))
      .join(bestFromGrams(docGrams(df, textCol, idCol), profiles), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cand"), lit("und")).as("predicted"))

  /** Self-trained train+classify over one labeled corpus — the composed
    * driver-visible form (output: doc_id, lang, predicted). Training and
    * classification read the SAME corpus, so the gram extraction runs once
    * per stage (two scans). That recompute is DELIBERATE: a shared
    * localCheckpoint and a MEMORY_AND_DISK persist were both measured
    * slower at sf0.1 (1.86 s / 1.95 s vs 1.67 s — materializing the
    * exploded gram stream costs more than re-running the codegen'd
    * extraction), and at corpus scale caching an explosion ~n_chars× the
    * input is exactly the cache-pressure trap to avoid. Ranking/scoring
    * semantics live solely in [[profilesFromGrams]]/[[bestFromGrams]],
    * shared with the separate-corpora pair above.
    */
  def selfTest(
      df: DataFrame, textCol: String, langCol: String, idCol: String,
      topK: Int = 50): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        explode(TextFunctions.charNgramSetFast(col(textCol), GramN)).as("g"))
    val profiles = profilesFromGrams(grams.select("lang", "g"), topK)
    val best = bestFromGrams(grams.select("doc_id", "g"), profiles)
    df.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cand"), lit("und")).as("predicted"))
  }
}
