package graft

import org.apache.spark.sql.Row

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexStore}
import graft.model.DocKey
import graft.search.Searcher

/** `term^N` boosts in the extended boolean language: the scanner's unit
  * cases, scoring composition identities (plain, wildcard, quoted, and
  * boosted slop/fuzzy sentinels), and the Lucene posture that counting ignores
  * boosts entirely. */
class BoostSpec extends SparkTestBase {
  import spark.implicits._

  private val NConvs = 30

  private lazy val corpusDs = TranscriptGen.dataset(spark, NConvs.toLong,
    partitions = 4)
  private lazy val indexDir: String = {
    val dir = tmpDir("graft-boost-idx")
    IndexBuilder.build(spark, corpusDs, dir)
    dir
  }
  private lazy val searcher = new Searcher(spark, new IndexStore(indexDir))

  private def scoresExt(q: String): Map[DocKey, Double] =
    searcher.searchBm25WithPhrases(corpusDs, q, k = 100000).collect().map {
      case Row(c: String, t: Int, v: Double) => DocKey(c, t) -> v
    }.toMap

  private def countsExt(q: String): Map[DocKey, Long] =
    searcher.searchCountWithPhrases(corpusDs, q).collect().map {
      case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
    }.toMap

  /** Single-word BM25 per-doc map on the DF-algebra path (the boost
    * branch's arithmetic twin — WAND associates one formula term
    * differently, so identities must stay on one path). */
  private def scores1(q: String): Map[DocKey, Double] =
    searcher.searchBm25(q, k = 100000, useWand = false).collect().map {
      case Row(c: String, t: Int, v: Double) => DocKey(c, t) -> v
    }.toMap

  test("rewriteBoost unit cases") {
    import Searcher._
    // ^N right after a word, a quoted word or an extended term; boost
    // applies last, so slop and fuzzy terms can be boosted
    PhraseSpec.checkExtRows(Seq(
      ("customer^2", "$0", Seq(Boost(Word("customer", quoted = false), 2.0))),
      ("\"Customer\"^2.5 AND stream", "$0 AND stream",
        Seq(Boost(Word("customer", quoted = true), 2.5))),
      ("a ^2", "a ^2", Nil),
      ("word^", "word^", Nil),
      ("word^x", "word^x", Nil),
      ("2^2", "2^2", Nil),
      ("w ^ 3", "w ^ 3", Nil),
      ("word^2.", "$0.", Seq(Boost(Word("word", quoted = false), 2.0))),
      ("graftboostqa word^3", "graftboostqa $0",
        Seq(Boost(Word("word", quoted = false), 3.0))),
      ("'alpha bravo'~2^3 AND ~wordz^2 OR \"stream\"^1.5", "$0 AND $1 OR $2",
        Seq(Boost(Slop("alpha bravo", 2), 3.0), Boost(Fuzzy("wordz"), 2.0),
          Boost(Word("stream", quoted = true), 1.5)))))
  }

  test("boosted scores compose: quoted, wildcard, and ^1 identity") {
    // ("which"^2 OR "would"): per doc 2·s(which) + s(would), exactly
    val s1 = scores1("\"which\"")
    val s2 = scores1("\"would\"")
    val expected = (s1.keySet ++ s2.keySet).map { k =>
      k -> (s1.get(k).map(_ * 2.0), s2.get(k)) match {
        case (key, (Some(a), Some(b))) => key -> (a + b)
        case (key, (Some(a), None)) => key -> a
        case (key, (None, b)) => key -> b.get
      }
    }.toMap
    assert(scoresExt("(\"which\"^2 OR \"would\")") == expected)
    // wildcard semantics survive the boost: whic^2 == 2 × the prefix query
    val sw = scores1("whic")
    assert(scoresExt("whic^2") == sw.map { case (k, v) => k -> v * 2.0 })
    // ^1 is the identity
    assert(scoresExt("(which^1 OR would)") == scoresExt("(which OR would)"))
    // boost scales relative rank: a tiny boost can't create/drop hits
    assert(scoresExt("(which^0.5 OR would)").keySet ==
      scoresExt("(which OR would)").keySet)
  }

  test("boosted slop and fuzzy sentinels re-dispatch and scale") {
    val slop = "'which would'~4"
    val base = scoresExt(s"($slop OR \"people\")")
    val s1 = scoresExt(slop)
    assert(s1.nonEmpty) // fixture sanity: the slop phrase actually hits
    val boosted = scoresExt(s"($slop^3 OR \"people\")")
    val sw = scores1("\"people\"")
    val expected = (s1.keySet ++ sw.keySet).map { k =>
      k -> (s1.get(k).map(_ * 3.0).getOrElse(0.0) + sw.getOrElse(k, 0.0))
    }.toMap
    assert(boosted == expected)
    assert(base.keySet == boosted.keySet)
    // boosted fuzzy term: ~whichh^2 == 2 × ~whichh per doc
    val f1 = scoresExt("~whichh")
    assert(f1.nonEmpty)
    assert(scoresExt("~whichh^2") == f1.map { case (k, v) => k -> v * 2.0 })
  }

  test("counting ignores boosts (the Lucene posture)") {
    for (q <- Seq("(which AND would)", "(which OR would)",
        "('customer message'~4 AND which)")) {
      val boosted = q.replace("which", "which^7")
      assert(countsExt(boosted) == countsExt(q), q)
    }
  }
}
