package perfbench

import scala.collection.mutable

import graft.model.{DocKey, EngineConf, Turn}
import graft.search.{QueryParser, ResultAlgebra}
import graft.verify.Oracle

/** Expected answers from `graft.verify.Oracle` built over the same turns,
  * regenerated in this process. Count rankings come straight from
  * `Oracle.searchCount`. BM25 rankings use the Oracle's index (postings,
  * doc stats, matched words) and its formula with avgdl computed once:
  * `Oracle.termScores` recomputes avgdl for every posting, which is
  * O(postings × docs) and takes minutes for one head-word query. */
final class Expected(turns: Seq[Turn], conf: EngineConf = EngineConf.default) {
  private val oracle = new Oracle(conf).indexAll(turns)
  private val n = oracle.numDocs.toDouble
  private val avgdl = oracle.avgdl

  def searchCount(q: String): Seq[(DocKey, Long)] = oracle.searchCount(q)

  private def termScores(term: String, exact: Boolean): Map[DocKey, Double] = {
    val acc = mutable.HashMap.empty[DocKey, Double]
    oracle.matchedWords(term, exact).foreach { w =>
      val ps = oracle.postings(w)
      val df = ps.size.toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      ps.foreach { case (d, (tf, dl)) =>
        val norm = tf + conf.k1 *
          (1 - conf.b + conf.b * (if (avgdl == 0) 0.0 else dl / avgdl))
        acc.update(d, acc.getOrElse(d, 0.0) + idf * (tf * (conf.k1 + 1) / norm))
      }
    }
    acc.toMap
  }

  /** The full BM25 ranking of `q` under the reference boolean reduction. */
  def searchBm25(q: String): Seq[(DocKey, Double)] = {
    val parsed = QueryParser.parse("(" + q + ")", conf.exactMatch)
    val per = parsed.searchWords.map { case (t, e) => termScores(t, e) }
    type M = Map[DocKey, Double]
    val alg = new ResultAlgebra[M] {
      def empty: M = Map.empty
      def term(i: Int): M = per(i)
      def or(acc: M, x: M): M = x.foldLeft(acc) { case (m, (d, c)) =>
        m.updated(d, m.getOrElse(d, 0.0) + c) }
      def and(acc: M, x: M): M =
        acc.collect { case (d, c) if x.contains(d) => d -> (c + x(d)) }
      def not(acc: M, x: M): M = acc -- x.keys
    }
    parsed.eval(alg).getOrElse(Map.empty).toSeq
      .sortBy { case (d, s) => (-s, d.conv_id, d.turn_idx) }
  }
}
