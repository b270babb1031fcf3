package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.tokenize.Tokenizer

/** A query of one workload kind. `q` is the bare query string the engine
  * takes (the engine wraps it in parentheses). */
final case class QSpec(kind: String, q: String)

/** Generated corpus: conversations `[first, first + n)` of
  * `TranscriptGen.benchConv`. The offset comes from the seed, so each seed
  * indexes different conversations over the same zipf vocabulary. */
final case class Corpus(first: Long, n: Long) {
  def convNos: Iterator[Long] = (first until first + n).iterator
  def turns: Iterator[Turn] = convNos.flatMap(TranscriptGen.benchConv)

  def dataset(spark: SparkSession, partitions: Int): Dataset[Turn] = {
    import spark.implicits._
    spark.range(first, first + n, 1L, partitions).as[Long]
      .flatMap(TranscriptGen.benchConv _)
  }
}

object Corpus {
  /** Conversation-number offset of a seed. Ids stay below 10^6 so the
    * zero-padded conversation ids sort in numeric order. */
  def offset(seed: Long): Long = Math.floorMod(seed * 7919L, 600L) * 1000L
}

/** Document frequencies and text volume of a corpus, computed by the
  * benchmark itself with the engine's tokenizer from the generated text —
  * never read from the index, so an index change cannot move the query
  * stream. */
final class TextStats(turns: Iterator[Turn]) {
  val df = mutable.HashMap.empty[String, Int]
  var numTurns = 0L
  var textBytes = 0L
  turns.foreach { t =>
    numTurns += 1
    textBytes += t.text.getBytes(StandardCharsets.UTF_8).length
    Tokenizer.stats(t.text).tf.keysIterator.foreach { w =>
      df.update(w, df.getOrElse(w, 0) + 1)
    }
  }
  private val byDf = df.toSeq.sortBy { case (w, d) => (-d, w) }.map(_._1)

  /** Words in at most 0.5 % of turns, by df rank: tiny postings. */
  val selective: IndexedSeq[String] =
    byDf.filter(w => df(w) <= numTurns / 200).toIndexedSeq
  /** The 30 highest-df words: long postings. */
  val head: IndexedSeq[String] = byDf.take(30).toIndexedSeq
  /** The 200 highest-df words. */
  val top200: IndexedSeq[String] = byDf.take(200).toIndexedSeq
}

/** Query streams. A query is a pure function of its position in the
  * stream, so the stream does not depend on which client thread takes which
  * position. The draws pick df ranks with a fixed generator, and the seed's
  * corpus maps ranks to words: every seed sees queries of the same shape
  * and posting sizes over different words and documents, which keeps the
  * seed-to-seed spread of a run's median near the host's own noise. */
final class QueryGen(ts: TextStats) {
  private def rnd(salt: Long, i: Long): scala.util.Random =
    new scala.util.Random(salt * 1000003L + i)

  private def pick(r: scala.util.Random, from: IndexedSeq[String],
      k: Int): Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < k) out += from(r.nextInt(from.size))
    out.toSeq
  }

  /** Pure-OR BM25 top-10 of 1-3 selective words. */
  def selective(i: Long): QSpec = {
    val r = rnd(1, i)
    QSpec("selective", pick(r, ts.selective, 1 + r.nextInt(3)).mkString(" "))
  }
  private val LookupBase = 1L << 32
  /** The one-client phase of `service`: selective queries from stream
    * positions the mix never reaches, so no query repeats one the mix ran
    * (whose generated code Spark would have cached). */
  def lookup(i: Long): QSpec = QSpec("lookup", selective(LookupBase + i).q)
  /** OR of 3 of the 30 highest-df words (WAND over long postings). */
  def head(i: Long): QSpec = QSpec("head", pick(rnd(2, i), ts.head, 3).mkString(" "))
  /** Page-2 walk over an OR of 2 of the top 200 words. */
  def page(i: Long): QSpec = QSpec("page", pick(rnd(3, i), ts.top200, 2).mkString(" "))

  // fixed pools drawn with zipf repeats: about half the draws repeat a query
  private val poolRnd = rnd(4, 0)
  private val boolPool = IndexedSeq.fill(20) {
    val Seq(a, b, c) = pick(poolRnd, ts.top200, 3)
    s"($a AND $b) NOT $c"
  }
  private val countPool =
    IndexedSeq.fill(20)(pick(poolRnd, ts.head, 2).mkString(" "))
  private def zipf(r: scala.util.Random, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (n * u * u).toInt)
  }
  def bool(i: Long): QSpec = QSpec("bool", boolPool(zipf(rnd(5, i), boolPool.size)))
  def count(i: Long): QSpec = QSpec("count", countPool(zipf(rnd(6, i), countPool.size)))

  /** The service mix, 40 % selective, 20 % head, 15 % bool, 15 % count and
    * 10 % page, stratified: every 20 consecutive positions hold exactly
    * 8/4/3/3/2 of the kinds in a seeded order, so a short run sees the
    * same mix as a long one. */
  def service(i: Long): QSpec = {
    val deck = rnd(7, Math.floorDiv(i, 20L)).shuffle(
      Seq.fill(8)(0) ++ Seq.fill(4)(1) ++ Seq.fill(3)(2) ++ Seq.fill(3)(3) :+ 4 :+ 4)
    deck(Math.floorMod(i, 20L).toInt) match {
      case 0 => selective(i)
      case 1 => head(i)
      case 2 => bool(i)
      case 3 => count(i)
      case _ => page(i)
    }
  }
}
