package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Character-trigram LM scoring: the smoothing chain against a hand
  * computation on a tiny corpus, and the quality-dial property the filter
  * exists for — reference-like text outscores garbled text.
  */
class NgramLmSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("scores match a hand-computed add-one chain on a tiny corpus") {
    val ref = Seq((1L, "ababa")).toDF("doc_id", "text")
    val docs = Seq((1L, "ababa"), (2L, "aba"), (3L, "xyz")).toDF("doc_id", "text")
    // model trigrams of "ababa": aba(×2), bab(×1) → V = 2
    // prefixes-as-trigram-starts: ab → 2, ba → 1
    val got = NgramLm.score(docs, ref, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val pAba = math.log((2.0 + 1) / (2 + 2)) // c3=2, c2(ab)=2, V=2
    val pBab = math.log((1.0 + 1) / (1 + 2)) // c3=1, c2(ba)=1
    val pUnseen = math.log(1.0 / 2) // c3=0, c2 missing → (0+1)/(0+2)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val exp1 = r6((2 * pAba + pBab) / 3) // "ababa": aba, bab, aba
    val exp2 = r6(pAba) // "aba": one trigram
    val exp3 = r6(pUnseen) // "xyz": one unseen trigram
    assert(got(1L) == ((3L, exp1)))
    assert(got(2L) == ((1L, exp2)))
    assert(got(3L) == ((1L, exp3)))
  }

  test("reference-like text scores above garbled text (the quality dial)") {
    val ref = (0 until 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "zq xv kj wpt qqg zzx mnb vvc lkj hgf dsa qwe")).toDF("doc_id", "text")
    val got = NgramLm.score(docs, ref, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(100L) > got(101L) + 1.0,
      s"in-domain ${got(100L)} must clearly beat garbage ${got(101L)}")
  }

  test("documents shorter than n produce no row; casing is normalized") {
    val ref = Seq((1L, "ABCABC")).toDF("doc_id", "text")
    val docs = Seq((1L, "abcabc"), (2L, "ab")).toDF("doc_id", "text")
    val got = NgramLm.score(docs, ref, "text", "doc_id")
      .collect().map(r => r.getLong(0)).toSet
    assert(got == Set(1L))
  }
}
