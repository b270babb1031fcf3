package graft

import org.apache.spark.sql.Row

import graft.index.Codec
import graft.model.DocKey
import graft.search.Wand
import graft.search.Wand.ShardRow

/** Block-max WAND correctness: per-shard kernel vs brute force on random
  * posting sets, and the distributed path vs oracle through the Searcher
  * (exercised in EndToEndSpec — here the kernel gets adversarial inputs). */
class WandSpec extends SparkTestBase {

  private val k1 = 1.2; private val b = 0.75

  private def bruteTopK(words: Seq[(String, Double, Seq[Codec.Posting])],
      lo: Long, hi: Long, avgdl: Double, k: Int): Seq[(Long, Double)] = {
    val scores = scala.collection.mutable.HashMap.empty[Long, Double]
    for ((_, w, ps) <- words; p <- ps if p.docId >= lo && p.docId < hi) {
      val tn = p.tf * (k1 + 1) / (p.tf + k1 * (1 - b + b * p.dl / avgdl))
      scores.update(p.docId, scores.getOrElse(p.docId, 0.0) + w * tn)
    }
    scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  test("runShard matches brute force (300 seeded random cases)") {
    val rnd = new scala.util.Random(2026)
    for (c <- 0 until 300) {
      val nWords = 1 + rnd.nextInt(5)
      val span = 50L + rnd.nextInt(500)
      val avgdl = 5.0 + rnd.nextInt(40)
      val words = (0 until nWords).map { wi =>
        val df = 1 + rnd.nextInt(60)
        val docs = rnd.shuffle((0L until span).toList).take(df).sorted
        val ps = docs.map(d => Codec.Posting(d, 1 + rnd.nextInt(8), 1 + rnd.nextInt(60)))
        (s"word$wi", 0.1 + rnd.nextDouble() * 3, ps)
      }
      val lo = rnd.nextInt(span.toInt / 2).toLong
      val hi = lo + 1 + rnd.nextInt(span.toInt)
      val k = 1 + rnd.nextInt(8)
      // split each word's postings into random parts (blockSize 4)
      val rows = words.flatMap { case (w, weight, ps) =>
        val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[Codec.Posting]]
        var rest = ps
        while (rest.nonEmpty) {
          val n = 1 + rnd.nextInt(math.max(1, rest.length))
          chunks += rest.take(n); rest = rest.drop(n)
        }
        chunks.filter(_.nonEmpty).map { ch =>
          ShardRow(0, w, weight, ch.head.docId, Codec.encode(ch, 4))
        }
      }
      val got = Wand.runShard(rows.iterator, lo, hi, k1, b, avgdl, k)
        .toSeq.sortBy(c => (-c.score, c.doc_id))
      val expected = bruteTopK(words, lo, hi, avgdl, k)
      assert(got.length == expected.length, s"case $c size")
      got.zip(expected).zipWithIndex.foreach { case ((g, (ed, es)), r) =>
        assert(math.abs(g.score - es) <= 1e-9 * math.max(1.0, math.abs(es)),
          s"case $c rank $r score")
        if (g.score != es || g.doc_id != ed)
          assert(math.abs(g.score - es) > 0 || g.doc_id == ed,
            s"case $c rank $r doc ${g.doc_id} vs $ed")
      }
    }
  }

  test("shard boundaries: parts spanning shards double-route but dedupe by range") {
    // one word, postings 0..99, sharded into 4 ranges of width 25 — the
    // distributed path must not double-count docs
    val ps = (0L until 100L).map(d => Codec.Posting(d, 1, 10))
    val bytes = Codec.encode(ps, 8)
    val all = (0 until 4).flatMap { s =>
      Wand.runShard(Iterator(ShardRow(s, "w", 1.0, 0L, bytes)),
        s * 25L, (s + 1) * 25L, k1, b, 10.0, 100).toSeq
    }
    assert(all.map(_.doc_id).sorted == (0L until 100L))
    assert(all.map(_.score).distinct.length == 1) // identical tf/dl → same score
  }

  /** Every doc's score with [[Wand.runShard]]'s arithmetic: per word
    * weight × tfNorm, summed in word order from 0.0. */
  private def exactScores(words: Seq[(String, Double, Seq[Codec.Posting])],
      avgdl: Double): Map[Long, Double] = {
    val scores = scala.collection.mutable.HashMap.empty[Long, Double]
    for ((_, w, ps) <- words.sortBy(_._1); p <- ps) {
      val tn = p.tf * (k1 + 1) / (p.tf + k1 * (1 - b + b * (p.dl / avgdl)))
      scores.update(p.docId, scores.getOrElse(p.docId, 0.0) + w * tn)
    }
    scores.toMap
  }

  test("runShard with a keyset floor matches brute force (200 seeded cases)") {
    val rnd = new scala.util.Random(1117)
    val order: Ordering[(Long, Double)] = Ordering.by { case (d, s) => (-s, d) }
    var tieCases = 0
    for (c <- 0 until 200) {
      val nWords = 1 + rnd.nextInt(3)
      val span = 40L + rnd.nextInt(300)
      val avgdl = 5.0 + rnd.nextInt(20)
      // few distinct (tf, dl) pairs, so equal scores are common
      val words = (0 until nWords).map { wi =>
        val df = 1 + rnd.nextInt(40)
        val docs = rnd.shuffle((0L until span).toList).take(df).sorted
        val ps = docs.map(d =>
          Codec.Posting(d, 1 + rnd.nextInt(2), 10 * (1 + rnd.nextInt(2))))
        (s"word$wi", 0.1 + rnd.nextDouble() * 3, ps)
      }
      val rows = words.flatMap { case (w, weight, ps) =>
        ps.grouped(1 + rnd.nextInt(ps.length)).map(ch =>
          ShardRow(0, w, weight, ch.head.docId, Codec.encode(ch, 4))).toSeq
      }
      val scores = exactScores(words, avgdl)
      val ranked = scores.toSeq.sorted(order)
      // the shard-computed cursor score equals the un-floored run's score
      val unfloored = Wand.runShard(rows.iterator, 0L, span, k1, b, avgdl,
        scores.size).map(x => x.doc_id -> x.score).toMap
      assert(unfloored == scores, s"case $c: exact scores")
      for ((d, sc) <- scores)
        assert(Wand.cursorScore(rows.iterator, d, k1, b, avgdl) == Some(sc),
          s"case $c doc $d")
      val missing = (0L until span).find(d => !scores.contains(d))
      missing.foreach(d =>
        assert(Wand.cursorScore(rows.iterator, d, k1, b, avgdl).isEmpty))

      // floors: inside a tie group, above every doc, below every doc, and
      // on a tombstoned doc
      val tied = ranked.indices.dropRight(1)
        .filter(i => ranked(i)._2 == ranked(i + 1)._2)
      if (tied.nonEmpty) tieCases += 1
      val tieFloor =
        if (tied.isEmpty) ranked.head else ranked(tied(rnd.nextInt(tied.length)))
      val deadFloor = ranked(rnd.nextInt(ranked.length))
      val exclude = (deadFloor._1 +: ranked.map(_._1).filter(_ => rnd.nextInt(5) == 0))
        .distinct.sorted.toArray
      val floors = Seq(
        (tieFloor._2, tieFloor._1, Array.emptyLongArray),
        (Double.MaxValue, 0L, Array.emptyLongArray),
        (ranked.last._2, ranked.last._1, Array.emptyLongArray),
        (deadFloor._2, deadFloor._1, exclude))
      val lo = rnd.nextInt(span.toInt / 2).toLong
      val hi = lo + 1 + rnd.nextInt(span.toInt)
      val k = 1 + rnd.nextInt(8)
      for ((fv, fa, ex) <- floors) {
        val got = Wand.runShard(rows.iterator, lo, hi, k1, b, avgdl, k, ex,
          Some((fv, fa))).map(x => (x.doc_id, x.score)).toSeq.sorted(order)
        val expected = ranked.filter { case (d, s) =>
          d >= lo && d < hi && !ex.contains(d) &&
            (s < fv || (s == fv && d > fa))
        }.take(k)
        assert(got == expected, s"case $c floor ($fv, $fa) k=$k [$lo, $hi)")
      }
    }
    assert(tieCases > 100, s"only $tieCases cases with a tie group")
  }
}
