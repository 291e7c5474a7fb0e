package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Character-n-gram language-model quality scoring — the CCNet/KenLM idea
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", LREC 2020) restated over character n-grams so the
  * whole thing is two hash aggregates and two dimension-sized joins:
  * train n-gram counts on a reference slice, then score every document by
  * its average conditional log-probability. Low scores = text unlike the
  * reference (garbled, wrong language, boilerplate soup) — the standard
  * perplexity-bucket quality filter.
  *
  * Model: P(c | prefix) with add-one smoothing over the model's n-gram
  * vocabulary: p = (c_n + 1) / (c_prefix + V), where c_n counts the n-gram
  * in the reference, c_prefix counts its (n−1)-char prefix AS a prefix
  * (derived from the n-gram counts themselves — no second scan), and V is
  * the distinct-n-gram count of the model. Unseen grams get ln(1/(0+V))
  * floors. The flavor of smoothing matters less than both engines
  * computing the identical chain — everything here is counts, one ln, one
  * divide, one avg, rounded to 6 dp.
  *
  * Scale shape: the model is two aggregates over the reference slice whose
  * result is bounded by alphabet^n, not corpus size; scoring explodes each
  * document's grams once and equi-joins the two model tables (AQE
  * broadcasts them when they fit — no forced hint, reference slices can be
  * large). Per-doc aggregate closes the pipeline. Nothing pairwise,
  * nothing on the driver.
  */
object NgramLm {

  /** Character n-gram order of the model. */
  private[graft] val N = 3

  /** Train on `reference`, score `docs`: one row per document with at
    * least one n-gram — (doc_id, n_grams, logprob), logprob = 6-dp average
    * ln p over ALL gram occurrences (multiset, not set: repetition is
    * signal here).
    */
  def score(docs: DataFrame, reference: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val n = N
    val grams = (df: DataFrame) => df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.charNgramsFast(col(textCol), n)).as("gram"))
    val cN = grams(reference).groupBy("gram").agg(count(lit(1)).as("c_n"))
    val cPrefix = cN.groupBy(substring(col("gram"), 1, n - 1).as("prefix"))
      .agg(sum("c_n").as("c_prefix"))
    val vocab = cN.agg(count(lit(1)).as("v"))
    grams(docs)
      .join(cN, Seq("gram"), "left")
      .join(cPrefix, substring(col("gram"), 1, n - 1) === col("prefix"), "left")
      .crossJoin(vocab)
      .select(col("doc_id"),
        log((coalesce(col("c_n"), lit(0L)) + lit(1d)) /
          (coalesce(col("c_prefix"), lit(0L)) + col("v"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), round(avg("lp"), 6).as("logprob"))
  }
}
