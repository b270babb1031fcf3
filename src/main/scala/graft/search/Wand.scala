package graft.search

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, lit}

import graft.index.Codec
import graft.model.EngineConf

/** Distributed block-max WAND (Ding & Suel BMW) top-k over the compressed
  * posting parts — the north star's query path, for one-shot top-k and for
  * every page of a keyset walk.
  *
  * Input: the matched posting parts themselves (term, mult, df, first_doc,
  * last_doc, bytes) — the caller filters the postings scan to the query's
  * words and sets `mult`, the number of search terms matching the part's
  * term. No dictionary table is read: each term's weight is computed
  * inside the shard pass from the parts' own df.
  *
  * Sharding: the doc-id space is cut into `numShards` ranges, and every
  * part is routed to every shard. Shards its [first_doc, last_doc] range
  * overlaps get its bytes (block skipping makes per-shard decode
  * proportional to the shard's content, not the part size); all others
  * get (term, mult, df) with null bytes. A shard therefore sees every part
  * of each term, sums df per term (Σ part df = dictionary df, IndexCheck's
  * `dict_df_vs_parts_df`) and sets weight = idf(df) × mult — the same
  * operations, in the same order, as the DataFrame paths' BM25 idf, so
  * weights are bit-identical to theirs. A doc's score sums its words'
  * contributions in word order; the DataFrame algebra sums in its own
  * order, so scores of three or more words can differ from it by 1 ULP.
  * Each shard runs BMW locally with the per-block (maxTf, minDl) directory
  * bounds — which stay valid upper bounds across merges for any avgdl —
  * and emits its local top-k; the global top-k is the built-in
  * TakeOrderedAndProject over shard candidates.
  *
  * Keyset floor (a page after a cursor doc `a_id`): the cursor arrives as
  * a one-row frame joined into every part, and the parts whose doc range
  * covers `a_id` go with their bytes to EVERY shard. Each shard then scores
  * `a_id` itself ([[cursorScore]]) with the arithmetic its pivot sum uses,
  * so the floor `a_v` is bit-identical to the score the cursor doc got on
  * the previous page, and offers only docs strictly after the cursor in
  * the (score desc, doc id) order. theta comes only from docs past the
  * floor, so the bounds stay valid and pruning stays exact. An absent
  * cursor key empties the join and so the page; a cursor doc with no
  * posting of the query's words makes every shard emit nothing.
  *
  * Scoring is BM25: weight × tf(k1+1) / (tf + k1(1-b+b·dl/avgdl)).
  */
object Wand {

  final case class ShardRow(shard: Int, word: String, weight: Double,
      first_doc: Long, bytes: Array[Byte])
  final case class Cand(doc_id: Long, score: Double)
  /** One part as routed to one shard; `bytes` is null where the part's
    * doc range misses the shard and the cursor doc `after` (the row then
    * carries only its df). */
  final case class Routed(shard: Int, term: String, mult: Int, df: Long,
      first_doc: Long, last_doc: Long, after: Option[Long],
      bytes: Array[Byte])

  /** Top-k over the matched posting `parts` (pass them PRE-FILTERED with
    * the query's coarse predicate — letter equality for partition pruning
    * plus the pushable equals/startsWith/In per search word — and with
    * the `mult` column) in a doc-id space of `span` ids over `numDocs`
    * docs.
    *
    * `exclude`: SORTED tombstoned doc ids skipped during scoring (the
    * Lucene live-docs check — candidates are dropped at offer time, so
    * upper bounds stay valid and live docs can never be displaced by a
    * deleted one), shipped to executors once as a broadcast.
    *
    * `after`: the keyset cursor, a frame of at most one `a_id` row — the
    * result is then the top-k strictly after that doc in the (score desc,
    * doc id) order. */
  def topK(spark: SparkSession, parts: DataFrame, span: Long, numDocs: Long,
      avgdl: Double, conf: EngineConf, k: Int,
      exclude: Broadcast[Array[Long]],
      after: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    if (span <= 0)
      return spark.emptyDataset[Cand].toDF()
    val numShards = math.max(spark.sparkContext.defaultParallelism, 1)
    val width = math.max(1L, (span + numShards - 1) / numShards)
    val k1 = conf.k1; val b = conf.b
    val n = numDocs.toDouble

    val cols = Seq($"term", $"mult", $"df", $"first_doc", $"last_doc",
      $"bytes")
    val withCursor = after match {
      case None => parts.select(cols :+ lit(null).cast("long").as("a_id"): _*)
      case Some(a) => parts.crossJoin(broadcast(a.select($"a_id")))
        .select(cols :+ $"a_id": _*)
    }
    val routed = withCursor
      .as[(String, Int, Long, Long, Long, Array[Byte], Option[Long])]
      .flatMap { case (term, mult, df, fd, ld, bytes, aId) =>
        val (s0, s1) = ((fd / width).toInt, (ld / width).toInt)
        // a part holding the cursor doc goes whole to every shard, so each
        // shard can score the cursor itself
        val covers = aId.exists(a => fd <= a && a <= ld)
        (0 until numShards).iterator.map(s => Routed(s, term, mult, df, fd,
          ld, aId, if (covers || (s >= s0 && s <= s1)) bytes else null))
      }

    val cands = routed.groupByKey(_.shard).flatMapGroups { (shard, rows) =>
      val lo = shard.toLong * width
      val hi = math.min(lo + width, span)
      val dfs = mutable.HashMap.empty[String, Long]
      val scored = mutable.ArrayBuffer.empty[Routed]
      var aId = Option.empty[Long]
      rows.foreach { r =>
        dfs(r.term) = dfs.getOrElse(r.term, 0L) + r.df
        if (r.bytes != null) scored += r
        aId = r.after
      }
      // the BM25 idf of the summed df, as Spark's log evaluates it
      def weight(r: Routed): Double = {
        val df = dfs(r.term)
        StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5)) * r.mult
      }
      def shardRows(rs: Iterable[Routed]): Iterator[ShardRow] =
        rs.iterator.map(r =>
          ShardRow(shard, r.term, weight(r), r.first_doc, r.bytes))
      def top(floor: Option[(Double, Long)]): Iterator[Cand] = runShard(
        shardRows(scored), lo, hi, k1, b, avgdl, k, exclude.value, floor)
      aId match {
        case None => top(None)
        case Some(a) => cursorScore(shardRows(scored.filter(r =>
            r.first_doc <= a && a <= r.last_doc)), a, k1, b, avgdl) match {
          case None => Iterator.empty // a non-hit cursor: no page
          case Some(v) => top(Some((v, a)))
        }
      }
    }

    cands.toDF().orderBy($"score".desc, $"doc_id").limit(k)
  }

  // ---- per-shard BMW --------------------------------------------------

  private final class Cursor(val word: String, val weight: Double,
      parts: Array[Codec.Decoded], lo: Long, hi: Long,
      k1: Double, b: Double, avgdl: Double) {

    private var pi = 0 // part index
    private var bi = 0 // block index in part
    private var ei = 0 // entry index in decoded block
    private var blk: Array[Codec.Posting] = null
    var curDoc: Long = Long.MaxValue
    private var curTf = 0
    private var curDl = 0
    var exhausted = false

    /** Term upper bound within [lo, hi): from directory only, no decode. */
    val ub: Double = {
      var best = 0.0
      var p = 0
      while (p < parts.length) {
        val d = parts(p)
        var i = 0
        while (i < d.blocks.length) {
          val info = d.blocks(i)
          val blockFirst = if (i == 0) d.firstDoc else d.blocks(i - 1).lastDoc + 1
          if (info.lastDoc >= lo && blockFirst < hi) {
            val s = weight * tfNorm(info.maxTf, info.minDl)
            if (s > best) best = s
          }
          i += 1
        }
        p += 1
      }
      best
    }

    @inline private def tfNorm(tf: Int, dl: Int): Double =
      tf * (k1 + 1) / (tf + k1 * (1 - b + b * (if (avgdl == 0) 0.0 else dl / avgdl)))

    def score: Double = weight * tfNorm(curTf, curDl)

    /** Upper bound of the block the cursor currently sits in. */
    def blockBound: Double = {
      val info = parts(pi).blocks(bi)
      weight * tfNorm(info.maxTf, info.minDl)
    }

    def blockLastDoc: Long = parts(pi).blocks(bi).lastDoc

    /** Position at first posting with doc >= target (and >= lo, < hi).
      * Blocks are skipped via the directory; payloads decode lazily. */
    def advanceTo(target0: Long): Unit = {
      if (exhausted) return
      val target = math.max(target0, lo)
      while (true) {
        if (pi >= parts.length) { markDone(); return }
        val d = parts(pi)
        if (d.blocks.isEmpty || d.blocks.last.lastDoc < target) {
          pi += 1; bi = 0; ei = 0; blk = null
        } else {
          while (d.blocks(bi).lastDoc < target) { bi += 1; ei = 0; blk = null }
          if (blk == null) { blk = d.block(bi); ei = 0 }
          while (ei < blk.length && blk(ei).docId < target) ei += 1
          // block.lastDoc >= target guarantees a hit within the block
          val p = blk(ei)
          if (p.docId >= hi) markDone()
          else { curDoc = p.docId; curTf = p.tf; curDl = p.dl }
          return
        }
      }
    }

    def next(): Unit = {
      if (exhausted) return
      ei += 1
      if (blk != null && ei < blk.length) {
        val p = blk(ei)
        if (p.docId >= hi) markDone()
        else { curDoc = p.docId; curTf = p.tf; curDl = p.dl }
      } else {
        bi += 1; ei = 0; blk = null
        if (pi < parts.length && bi < parts(pi).blocks.length) {
          blk = parts(pi).block(bi)
          val p = blk(0)
          if (p.docId >= hi) markDone()
          else { curDoc = p.docId; curTf = p.tf; curDl = p.dl }
        } else {
          pi += 1; bi = 0
          advanceTo(curDoc + 1)
        }
      }
    }

    private def markDone(): Unit = { exhausted = true; curDoc = Long.MaxValue }

    def init(): this.type = { advanceTo(lo); this }
  }

  /** Cursors over `rows` in [lo, hi): one per word, in word order,
    * chaining the word's parts in doc order; exhausted ones dropped. */
  private def cursorsOf(rows: Iterator[ShardRow], lo: Long, hi: Long,
      k1: Double, b: Double, avgdl: Double): mutable.ArrayBuffer[Cursor] = {
    val byWord = mutable.LinkedHashMap.empty[String, (Double, mutable.ArrayBuffer[(Long, Array[Byte])])]
    rows.foreach { r =>
      val e = byWord.getOrElseUpdate(r.word, (r.weight, mutable.ArrayBuffer.empty))
      e._2 += ((r.first_doc, r.bytes))
    }
    byWord.toSeq.sortBy(_._1).map { case (w, (weight, ps)) =>
      new Cursor(w, weight, ps.sortBy(_._1).map(p => Codec.decode(p._2)).toArray,
        lo, hi, k1, b, avgdl).init()
    }.filterNot(_.exhausted).to(mutable.ArrayBuffer)
  }

  /** The score [[runShard]] gives doc `aId` (pass at least the parts whose
    * range covers it): the cursors sitting at `aId`, summed in word order
    * from 0.0 as a pivot is summed. None when no word has a posting there. */
  private[graft] def cursorScore(rows: Iterator[ShardRow], aId: Long,
      k1: Double, b: Double, avgdl: Double): Option[Double] = {
    val at = cursorsOf(rows, aId, aId + 1, k1, b, avgdl)
    if (at.isEmpty) None
    else {
      var s = 0.0
      at.foreach { c => s += c.score }
      Some(s)
    }
  }

  /** Local top-k of one shard over [lo, hi). `floor` = (a_v, a_id) keeps
    * only docs strictly after the cursor: score < a_v, or = a_v with a
    * larger doc id. */
  private[graft] def runShard(rows: Iterator[ShardRow], lo: Long, hi: Long,
      k1: Double, b: Double, avgdl: Double, k: Int,
      exclude: Array[Long] = Array.emptyLongArray,
      floor: Option[(Double, Long)] = None): Iterator[Cand] = {
    @inline def isDeleted(d: Long): Boolean =
      exclude.length > 0 && java.util.Arrays.binarySearch(exclude, d) >= 0
    val (fv, fa) = floor.getOrElse((Double.PositiveInfinity, Long.MinValue))
    val cursors = cursorsOf(rows, lo, hi, k1, b, avgdl)
    if (cursors.isEmpty) return Iterator.empty

    // head = worst candidate: smallest score, ties broken by larger doc id
    val worstFirst: Ordering[Cand] = Ordering.by(c => (-c.score, c.doc_id))
    val heap = mutable.PriorityQueue.empty[Cand](worstFirst)
    @inline def heapFull = heap.size >= k
    @inline def beatsWorst(s: Double, d: Long): Boolean =
      !heapFull || {
        val w = heap.head
        s > w.score || (s == w.score && d < w.doc_id)
      }
    // theta only ever holds docs past the floor, so every bound below
    // stays a valid bound on what could still enter the heap
    def offer(s: Double, d: Long): Unit =
      if ((s < fv || (s == fv && d > fa)) && beatsWorst(s, d)) {
        if (heapFull) heap.dequeue()
        heap.enqueue(Cand(d, s))
      }

    var done = false
    while (!done) {
      cursors.filterInPlace(!_.exhausted)
      if (cursors.isEmpty) done = true
      else {
        cursors.sortInPlace()(Ordering.by((c: Cursor) => (c.curDoc, c.word)))
        val theta = if (heapFull) heap.head.score else Double.NegativeInfinity
        // pivot: first UB prefix that could still beat (or tie) the worst —
        // exact scoring decides ties by doc id, so >= keeps tie candidates
        var prefix = 0.0
        var pivot = -1
        var i = 0
        while (i < cursors.length && pivot < 0) {
          prefix += cursors(i).ub
          if (prefix >= theta) pivot = i
          i += 1
        }
        if (pivot < 0) done = true
        else {
          val pivotDoc = cursors(pivot).curDoc
          if (pivotDoc >= hi) done = true
          else if (cursors.head.curDoc == pivotDoc) {
            val atPivot = cursors.takeWhile(_.curDoc == pivotDoc)
            // block-max refinement: directory bound of the exact blocks
            var bm = 0.0
            atPivot.foreach(c => bm += c.blockBound)
            if (heapFull && (bm < theta ||
                (bm == theta && pivotDoc > heap.head.doc_id))) {
              // skip past the smallest block boundary among pivot cursors,
              // but not past the next cursor's current doc
              var boundary = Long.MaxValue
              atPivot.foreach(c => boundary = math.min(boundary, c.blockLastDoc))
              val nextCur = if (cursors.length > atPivot.length)
                cursors(atPivot.length).curDoc else Long.MaxValue
              val target = math.min(math.max(boundary + 1, pivotDoc + 1), nextCur)
              atPivot.foreach(_.advanceTo(target))
            } else {
              // a tombstoned pivot doc is skipped, never offered — live
              // docs below the bound still advance normally
              if (!isDeleted(pivotDoc)) {
                var s = 0.0
                atPivot.foreach { c => s += c.score }
                offer(s, pivotDoc)
              }
              atPivot.foreach(_.next())
            }
          } else {
            cursors.head.advanceTo(pivotDoc)
          }
        }
      }
    }
    heap.dequeueAll.iterator // order irrelevant downstream
  }
}
