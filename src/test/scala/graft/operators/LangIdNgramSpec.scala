package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The n-gram-profile classifier must actually separate languages when the
  * character distributions differ (the driver fixture's labels carry no
  * signal, so ext22 only pins determinism — this spec pins quality).
  */
class LangIdNgramSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // three "languages" with disjoint character inventories
  private def sent(words: Seq[String], seed: Int, n: Int): String =
    (0 until n).map(i => words((i * 7 + seed) % words.size)).mkString(" ")

  private val enW = Seq("the", "quick", "brown", "fox", "jumped", "river")
  private val deW = Seq("über", "größe", "straße", "müde", "schön", "zwölf")
  private val elW = Seq("αλφα", "βητα", "γαμμα", "δελτα", "λογος", "κοσμος")

  private val corpus = (
    (0 until 20).map(i => (i.toLong, "en", sent(enW, i, 12))) ++
    (20 until 40).map(i => (i.toLong, "de", sent(deW, i, 12))) ++
    (40 until 60).map(i => (i.toLong, "el", sent(elW, i, 12)))
  ).toDF("doc_id", "lang", "text")

  test("self-test accuracy is 100% when languages have distinct character signal") {
    val res = LangIdNgram.selfTest(corpus, "text", "lang", "doc_id", topK = 30)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(res.length == 60)
    val wrong = res.filter { case (_, lang, pred) => lang != pred }
    assert(wrong.isEmpty, s"misclassified: ${wrong.take(5).toSeq}")
  }

  test("classify with a held-out profile generalizes to unseen documents") {
    val profiles = LangIdNgram.trainProfiles(corpus, "text", "lang", "doc_id", topK = 30)
    val unseen = Seq(
      (100L, sent(enW.reverse, 3, 8)),
      (101L, sent(deW.reverse, 5, 8)),
      (102L, sent(elW.reverse, 1, 8))).toDF("doc_id", "text")
    val pred = LangIdNgram.classify(unseen, profiles, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(100L -> "en", 101L -> "de", 102L -> "el"))
  }

  test("a document overlapping no profile is 'und', not dropped") {
    val profiles = LangIdNgram.trainProfiles(corpus, "text", "lang", "doc_id")
    val alien = Seq((200L, "0123 4567 8901")).toDF("doc_id", "text")
    val pred = LangIdNgram.classify(alien, profiles, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(200L -> "und"))
  }
}
