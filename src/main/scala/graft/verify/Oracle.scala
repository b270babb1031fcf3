package graft.verify

import scala.collection.mutable

import graft.model.{DocKey, EngineConf, Turn}
import graft.search.{QueryParser, ResultAlgebra}
import graft.tokenize.Tokenizer

/** Brute-force in-memory reference implementation (no Spark). Shares the
  * tokenizer and query parser/eval with the engine so rank-identity tests
  * compare the distributed execution against independent naive evaluation
  * over the same semantics (SURVEY.md §5, §7.7).
  */
final class Oracle(conf: EngineConf = EngineConf.default) {

  // term -> doc -> (tf, dl-at-index-time). dl rides with the posting, like
  // the engine's inline-dl codec — after an additive merge an old posting
  // keeps its original (tf, dl).
  val postings = mutable.HashMap.empty[String, mutable.LinkedHashMap[DocKey, (Int, Int)]]
  // doc -> (word_count, dl)
  val docStats = mutable.LinkedHashMap.empty[DocKey, (Int, Int)]

  def indexAll(turns: Seq[Turn]): this.type = { turns.foreach(index); this }

  def index(t: Turn): Unit = {
    val doc = DocKey(t.conv_id, t.turn_idx)
    val st = Tokenizer.stats(t.text)
    docStats.update(doc, (st.wordCount, st.dl)) // overwrite on re-index (M1)
    st.tf.foreach { case (term, tf) =>
      val m = postings.getOrElseUpdate(term, mutable.LinkedHashMap.empty)
      // additive merge semantics: a doc already present for this term keeps
      // its existing posting (reference M4 removes already-present doc IDs
      // from the incoming batch, app/Index/Index_Merge.cpp:63-296)
      if (!m.contains(doc)) m.update(doc, (tf, st.dl))
    }
  }

  def numDocs: Long = docStats.size.toLong
  def avgdl: Double =
    if (docStats.isEmpty) 0.0
    else docStats.valuesIterator.map(_._2.toLong).sum.toDouble / docStats.size

  /** Dictionary words matching one search word (Q4 semantics: exact =
    * equality; wildcard = prefix, and only when the search term is longer
    * than minCharForMatch — app/Index/Index_Search.cpp:179-274 quirk). */
  def matchedWords(term: String, isExact: Boolean): Seq[String] =
    if (isExact) if (postings.contains(term)) Seq(term) else Nil
    else if (term.length <= conf.minCharForMatch) Nil
    else postings.keysIterator.filter(_.startsWith(term)).toSeq.sorted

  private def idf(df: Long): Double = {
    val n = numDocs.toDouble
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))
  }

  private def tfNorm(tf: Int, dl: Int, ad: Double): Double = {
    val denom = tf + conf.k1 * (1 - conf.b + conf.b * (if (ad == 0) 0.0 else dl / ad))
    tf * (conf.k1 + 1) / denom
  }

  /** Per-search-word doc→count: number of matched dictionary words
    * containing the doc (Q6, app/Index/Index_Search.cpp:331-350). */
  def termCounts(term: String, isExact: Boolean): Map[DocKey, Long] = {
    val acc = mutable.HashMap.empty[DocKey, Long]
    matchedWords(term, isExact).foreach { w =>
      postings(w).keysIterator.foreach(d => acc.update(d, acc.getOrElse(d, 0L) + 1L))
    }
    acc.toMap
  }

  /** Per-search-word doc→BM25 contribution (north-star scoring). */
  def termScores(term: String, isExact: Boolean): Map[DocKey, Double] = {
    val acc = mutable.HashMap.empty[DocKey, Double]
    // avgdl is a sum over every doc: once per call, not once per posting
    val ad = avgdl
    matchedWords(term, isExact).foreach { w =>
      val df = postings(w).size.toLong
      val w_idf = idf(df)
      postings(w).foreach { case (d, (tf, dl)) =>
        acc.update(d, acc.getOrElse(d, 0.0) + w_idf * tfNorm(tf, dl, ad))
      }
    }
    acc.toMap
  }

  private final class MapAlgebra[N](perTerm: Int => Map[DocKey, N])(
      implicit num: Numeric[N]) extends ResultAlgebra[Map[DocKey, N]] {
    def empty = Map.empty
    def term(i: Int): Map[DocKey, N] = perTerm(i)
    def or(acc: Map[DocKey, N], x: Map[DocKey, N]) =
      x.foldLeft(acc) { case (m, (d, c)) =>
        m.updated(d, num.plus(m.getOrElse(d, num.zero), c)) }
    def and(acc: Map[DocKey, N], x: Map[DocKey, N]) =
      acc.collect { case (d, c) if x.contains(d) => d -> num.plus(c, x(d)) }
    def not(acc: Map[DocKey, N], x: Map[DocKey, N]) = acc -- x.keys
  }

  /** Count-parity search (the reference's output, ranked count desc with the
    * deterministic tie-break (SURVEY.md §7.6.1)). Input is the bare query —
    * wrapped in parens like Search::search (Search.cpp:345-346). */
  def searchCount(query: String): Seq[(DocKey, Long)] = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    val cache = parsed.searchWords.map { case (t, e) => termCounts(t, e) }
    val alg = new MapAlgebra[Long](cache(_))
    parsed.eval(alg).getOrElse(Map.empty).toSeq
      .sortBy { case (d, c) => (-c, d.conv_id, d.turn_idx) }
  }

  /** BM25 search over the same boolean structure; top-k. */
  def searchBm25(query: String, k: Int): Seq[(DocKey, Double)] = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    val cache = parsed.searchWords.map { case (t, e) => termScores(t, e) }
    val alg = new MapAlgebra[Double](cache(_))
    parsed.eval(alg).getOrElse(Map.empty).toSeq
      .sortBy { case (d, s) => (-s, d.conv_id, d.turn_idx) }
      .take(k)
  }
}
