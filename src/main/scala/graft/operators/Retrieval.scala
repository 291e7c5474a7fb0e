package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval as a batch top-k join — the retrieval primitive a
  * training-data pipeline uses for decontamination-by-retrieval, dedup
  * triage and eval-set mining (Robertson et al., Okapi at TREC-3; the
  * "+1-inside-the-log" idf variant popularized by Lucene, which keeps idf
  * positive even when df > N/2 — essential on small shared vocabularies).
  *
  * Shape, built for scale:
  *   - postings = explode(tokens) → hash-agg tf per (doc, term): one shuffle
  *     keyed by (doc, term), no driver state;
  *   - df / doclen / corpus stats are hash aggs; the 3-row corpus-stats
  *     frame and the query-term table are BROADCAST, so scoring adds no
  *     extra shuffle beyond the postings-by-term equi-join;
  *   - per-(query, doc) score is a fold over AT MOST |query terms| entries —
  *     bounded by construction, so the sorted-fold determinism convention
  *     (sort_array + aggregate HOF, the ext51 rule) is legal here;
  *   - top-k per query is a rank window over candidates that matched at
  *     least one query term → Catalyst's WindowGroupLimit pushes the k
  *     cutoff map-side; candidates carry ids and scalars, never text.
  *
  * Determinism contract (oracle-checkable): scores are doubles but every
  * reduction is either exact (BIGINT tf/df/dl/totals) or a sorted fold over
  * a bounded set; term-level arithmetic is written in the exact same
  * operation order as the DuckDB oracle, and the final score is rounded to
  * 6 dp BEFORE ranking so the (score DESC, doc_id) order is engine-portable.
  */
object Retrieval {

  /** BM25's term-saturation and length-normalization parameters. */
  private[graft] val K1 = 1.2
  private[graft] val B = 0.75

  /** Top-`k` documents per query under BM25([[K1]], [[B]]).
    *
    * @param docs    corpus with `idCol` and `textCol`
    * @param queries (queryIdCol, termCol) table of query terms, assumed
    *                small (broadcast) and distinct per (query, term)
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, textCol: String,
      idCol: String, queryIdCol: String, termCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_len"))

    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(termCol).as("term")))
    // (1 - b + b * dl/avgdl) with avgdl expanded as dl*n_docs/tot_len so both
    // engines evaluate the identical double-op sequence (left-assoc * then /).
    val denom = col("tf").cast("double") +
      lit(K1) * (lit(1.0) - lit(B) +
        lit(B) * (col("dl").cast("double") * col("n_docs") / col("tot_len")))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val scored = tf.join(q, "term")
      .join(dl, idCol)
      .join(broadcast(dfreq.join(q.select("term").distinct(), "term")), "term")
      .crossJoin(broadcast(stats))
      .withColumn("tscore",
        idf * (col("tf").cast("double") * lit(K1 + 1.0)) / denom)

    val folded = scored.groupBy(col("query_id"), col(idCol))
      .agg(sort_array(collect_list(struct(col("term"), col("tscore")))).as("arr"))
      .select(col("query_id"), col(idCol),
        round(aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField("tscore")) + lit(0.0), 6).as("score"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol))
    folded.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col(idCol), col("score"))
  }
}
