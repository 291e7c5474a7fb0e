package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class SamplingSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val docs = (0L until 200L).map(i =>
    (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr", s"text $i"))
    .toDF("doc_id", "lang", "text")

  test("hashSample is deterministic, per-row stable, and ~pct sized") {
    val a = Sampling.hashSample(docs, "doc_id", 20).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs, "doc_id", 20).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b) // re-run identical
    assert(a.size > 10 && a.size < 80) // ~40 expected of 200, generous band
    // membership is per-row stable: sampling a subset keeps the same ids
    val subset = Sampling.hashSample(docs.filter(col("doc_id") < 100), "doc_id", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(subset == a.filter(_ < 100))
    // pct monotonicity: a 20% sample is contained in a 50% sample
    val wider = Sampling.hashSample(docs, "doc_id", 50).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider))
  }

  test("stratifiedExact keeps exactly ceil(f*n) rows per stratum, deterministically") {
    val sampled = Sampling.stratifiedExact(docs, "lang", "doc_id", 0.25)
    val perLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // strata sizes: en=67, de=67, fr=66 → ceil(0.25*n) = 17, 17, 17
    assert(perLang == Map("en" -> 17L, "de" -> 17L, "fr" -> 17L))
    val again = Sampling.stratifiedExact(docs, "lang", "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == sampled.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("null ids never enter a hash sample (documented drop, not a crash)") {
    val withNull = Seq((java.lang.Long.valueOf(1L), "en"), (null.asInstanceOf[java.lang.Long], "en"))
      .toDF("doc_id", "lang")
    assert(Sampling.hashSample(withNull, "doc_id", 100).count() == 1)
  }

  test("fraction edge cases: 0 keeps nothing, 1 keeps everything") {
    assert(Sampling.stratifiedExact(docs, "lang", "doc_id", 0.0).count() == 0)
    assert(Sampling.stratifiedExact(docs, "lang", "doc_id", 1.0).count() == 200)
    assert(Sampling.hashSample(docs, "doc_id", 0).count() == 0)
    assert(Sampling.hashSample(docs, "doc_id", 100).count() == 200)
  }

  test("topFractionBy keeps the best ceil(f*n) by score, nulls last, ties on id") {
    // stratum "a": scores 9,7,7,null over ids 1..4; stratum "b": 5,3 over 10,11
    val d = Seq(
      (1L, "a", java.lang.Double.valueOf(9.0)), (2L, "a", java.lang.Double.valueOf(7.0)),
      (3L, "a", java.lang.Double.valueOf(7.0)), (4L, "a", null.asInstanceOf[java.lang.Double]),
      (10L, "b", java.lang.Double.valueOf(5.0)), (11L, "b", java.lang.Double.valueOf(3.0)))
      .toDF("doc_id", "source", "score")
    val kept = Sampling.topFractionBy(d, "source", "score", "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // a: ceil(0.5*4)=2 → 9.0 then the id-2 seven (tie-break); null never kept
    // b: ceil(0.5*2)=1 → the 5.0
    assert(kept == Set(1L, 2L, 10L))
    // fraction 1.0 keeps the null-scored row too — the gate prunes by rank,
    // it is not a null filter
    assert(Sampling.topFractionBy(d, "source", "score", "doc_id", 1.0).count() == 6)
  }

  test("tokenBudget keeps the md5-order prefix whose running weight fits, per stratum") {
    val d = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 300L),
      (10L, "b", 700L), (11L, "b", 100L))
      .toDF("doc_id", "source", "n_tok")
    val got = Sampling.tokenBudget(d, "source", "n_tok", "doc_id", budget = 600L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // stratum a: exactly two 300s fit whatever the md5 order; stratum b:
    // md5("11") < md5("10"), so doc 11 (weight 100, cum 100) is kept and
    // the 700 lands at cum 800 and drops — the kept set is the exact
    // md5-order prefix, pinned per id
    val aKept = got.keySet.filter(_ < 10L)
    assert(aKept.size == 2)
    assert(got.get(11L).contains(100L), s"doc 11 must be stratum b's kept prefix: $got")
    assert(!got.contains(10L), "the 700-token doc exceeds the budget at cum 800")
    // deterministic: same input, same selection
    val again = Sampling.tokenBudget(d, "source", "n_tok", "doc_id", budget = 600L)
      .collect().map(r => r.getLong(0)).toSet
    assert(again == got.keySet)
    // zero budget keeps nothing
    assert(Sampling.tokenBudget(d, "source", "n_tok", "doc_id", 0L).count() == 0)
  }

  test("tokenBudget: an oversized head document is dropped, not budget-blowing") {
    val d = Seq((1L, "a", 1000L)).toDF("doc_id", "source", "n_tok")
    assert(Sampling.tokenBudget(d, "source", "n_tok", "doc_id", 600L).count() == 0)
  }

  test("tokenBudget rejects negative and NULL weights at execution (prefix contract)") {
    val neg = Seq((1L, "a", -1L), (2L, "a", 5L)).toDF("doc_id", "source", "n_tok")
    val e = intercept[Exception] {
      Sampling.tokenBudget(neg, "source", "n_tok", "doc_id", 600L).collect()
    }
    assert(e.getMessage.contains("must be non-null and >= 0"))
    val nul = Seq((1L, "a", java.lang.Long.valueOf(3L)),
      (2L, "a", null.asInstanceOf[java.lang.Long])).toDF("doc_id", "source", "n_tok")
    val e2 = intercept[Exception] {
      Sampling.tokenBudget(nul, "source", "n_tok", "doc_id", 600L).collect()
    }
    assert(e2.getMessage.contains("must be non-null and >= 0"))
  }

  test("an input that already has a __rn/__n column is rejected, not silently clobbered") {
    // withColumn REPLACES same-named columns — without the guard the
    // caller's __rn would vanish from the output
    val clashing = docs.withColumn("__rn", lit(42))
    val e = intercept[IllegalArgumentException] {
      Sampling.stratifiedExact(clashing, "lang", "doc_id", 0.5)
    }
    assert(e.getMessage.contains("__rn"))
  }

  test("weightedSample: deterministic, k per stratum, heavy weights dominate, bad weights throw") {
    val d = (0L until 1000L).map(i =>
      (i, if (i < 500) "light" else "heavy", if (i < 500) 1L else 100L))
      .toDF("doc_id", "grp", "w")
      .withColumn("stratum", lit("all"))
    val pick = Sampling.weightedSample(d, "stratum", "w", "doc_id", k = 100)
    val rows = pick.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 100)
    // A-Res: inclusion odds scale with weight — the w=100 half must
    // dominate a 100-of-1000 sample (E[heavy] ≈ 99 under exact A-Res;
    // the bound is loose so the assertion tests the MECHANISM, not noise)
    val heavy = rows.count(_._2 == "heavy")
    assert(heavy > 80, s"heavy-weight rows underrepresented: $heavy/100")
    // deterministic: same input, same sample
    val again = Sampling.weightedSample(d, "stratum", "w", "doc_id", k = 100)
      .collect().map(_.getLong(0)).toSet
    assert(again == rows.map(_._1).toSet)
    // per-stratum k: two strata each cap at k
    val strat = Sampling.weightedSample(
      d.withColumn("stratum", col("grp")), "stratum", "w", "doc_id", k = 7)
    assert(strat.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("light" -> 7L, "heavy" -> 7L))
    // weights must be strictly positive, enforced at execution
    val bad = Seq((1L, "a", 0L)).toDF("doc_id", "stratum", "w")
    val e = intercept[Exception] {
      Sampling.weightedSample(bad, "stratum", "w", "doc_id", k = 1).collect()
    }
    assert(e.getMessage.contains("must be non-null and > 0") ||
      Option(e.getCause).exists(_.getMessage.contains("must be non-null and > 0")))
  }

  test("leakageFreeSplit: transitive closes the A~B~test chain the direct guard misses") {
    // 12-token docs → 10 word-3-grams each. C (id 4 hashes into the test
    // bucket) differs from B in the LAST token (J = 9/11 ≈ 0.818 ≥ 0.8);
    // A differs from B in the FIRST token (J ≈ 0.818); A vs C differ in
    // both end grams (J = 8/12 ≈ 0.667 < 0.8). So A is chained to test
    // content only THROUGH B — exactly the hole the r6 advice flagged.
    val w = (1 to 12).map(i => s"w$i")
    val cTxt = w.mkString(" ")
    val bTxt = (w.init :+ "xx").mkString(" ")
    val aTxt = ("yy" +: w.init.tail :+ "xx").mkString(" ")
    val chain = Seq(
      (1L, aTxt), (2L, bTxt), (4L, cTxt),
      (10L, "completely different text here entirely unrelated words now"))
      .toDF("doc_id", "text")
    def splits(transitive: Boolean): Map[Long, String] =
      Sampling.leakageFreeSplit(chain, "text", "doc_id",
        simThreshold = 0.8, transitive = transitive)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = splits(transitive = false)
    assert(direct == Map(1L -> "train", 2L -> "dropped_leak",
      4L -> "test", 10L -> "train"))
    val trans = splits(transitive = true)
    assert(trans == Map(1L -> "dropped_leak", 2L -> "dropped_leak",
      4L -> "test", 10L -> "train"))
  }

  test("leakageFreeSplit: precomputed pairs give identical output to in-place pairs") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.setSimilarityJoin(docs, "text", "doc_id", n = 3, threshold = 0.8)
    val inPlace = Sampling.leakageFreeSplit(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val precomp = Sampling.leakageFreeSplit(docs, "text", "doc_id",
        precomputedPairs = Some(pairs))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(inPlace == precomp)
  }
}
