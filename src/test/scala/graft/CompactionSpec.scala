package graft

import org.apache.spark.sql.Row

import graft.fixtures.TranscriptGen
import graft.index.{Compactor, IndexBuilder, IndexDeleter, IndexMerger,
  IndexStore}
import graft.model.{DocKey, EngineConf, Turn}
import graft.search.Searcher
import graft.verify.IndexCheck

/** Compaction: layer squash preserves the additive-merge semantics exactly;
  * the fix extension (SURVEY.md §4.2) makes search equal a fresh full build
  * of the current truth (stale postings dropped, tf/dl refreshed). */
class CompactionSpec extends SparkTestBase {

  private val N = 50L
  private val Extra = 12L
  private val Overlap = 8
  private val conf = EngineConf.default.copy(maxPostingsPerPart = 48,
    blockSize = 8)

  private def counts(s: Searcher, q: String): Map[DocKey, Long] =
    s.searchCount(q).collect()
      .map { case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n }.toMap

  private val queries = Seq("which", "would", "(which AND would)",
    "rewritten", "appended", "((which OR would) AND there)")

  /** batch1 overridden by batch2 on overlapping keys — the current truth. */
  private def currentTruth: Seq[Turn] = {
    val b2 = TranscriptGen.batch2(N, Extra, Overlap)
    val b2Keys = b2.map(t => (t.conv_id, t.turn_idx)).toSet
    TranscriptGen.local(N.toInt)
      .filterNot(t => b2Keys.contains((t.conv_id, t.turn_idx))) ++ b2
  }

  test("pure squash: one layer, identical search results, healthy") {
    val dir = tmpDir("graft-compact")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, N, partitions = 4), dir, conf)
    IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, N, Extra, Overlap), dir, conf)
    val store = new IndexStore(dir)
    val before = queries.map(q =>
      q -> counts(new Searcher(spark, store, conf), q)).toMap
    val metaBefore = store.currentMeta

    val meta = Compactor.compact(spark, dir, conf)
    assert(store.currentVersion.contains(3))
    assert(store.layers(3).length == 1)
    assert(meta.numDocs == metaBefore.numDocs)
    assert(math.abs(meta.avgdl - metaBefore.avgdl) < 1e-9)
    assert(meta.numTerms == metaBefore.numTerms)
    val after = new Searcher(spark, store, conf)
    queries.foreach(q => assert(counts(after, q) == before(q), s"query: $q"))
    assert(IndexCheck.healthy(spark, store))
  }

  test("purge compaction: ids kept, purge counted, healthy through a merge") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-purge")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, N, partitions = 4), dir, conf)
    val store = new IndexStore(dir)
    // a conversation mid-range and the last one: purged ids below the top
    // and at it
    val keys = Seq(TranscriptGen.convId(3), TranscriptGen.convId(N - 1))
      .toDF("conv_id")
    val (_, nDel) = IndexDeleter.delete(spark, dir, keys)
    assert(nDel > 1)
    val before = store.currentMeta

    val meta = Compactor.compact(spark, dir, conf)
    assert(meta.numDocs == before.numDocs - nDel)
    assert(meta.maxDocId == before.maxDocId)
    assert(meta.purgedDocs == nDel)
    assert(IndexCheck.healthy(spark, store))

    // a later merge assigns fresh ids above every id ever assigned and
    // carries the purge count forward
    IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, N, Extra, Overlap), dir, conf)
    val merged = new IndexStore(dir).currentMeta
    assert(merged.purgedDocs == nDel)
    assert(merged.maxDocId > before.maxDocId)
    assert(IndexCheck.healthy(spark, new IndexStore(dir)))
  }

  test("gc reclaims versions a compacted snapshot no longer references") {
    val dir = tmpDir("graft-compact-gc")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, N, partitions = 4), dir, conf)
    IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, N, Extra, Overlap), dir, conf)
    val store = new IndexStore(dir)
    // the merge chain keeps v1 live: gc must delete NOTHING yet
    assert(store.gc() == Seq.empty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(store.snapshotDir(1))))

    Compactor.compact(spark, dir, conf)
    val got = store.gc()
    assert(got == Seq(1, 2), s"gc deleted: $got")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store.snapshotDir(1))))
    // the compacted snapshot still answers and checks out
    val s = new Searcher(spark, store, conf)
    assert(counts(s, "which").nonEmpty)
    assert(IndexCheck.healthy(spark, store))
  }

  test("fix compaction: equals a fresh full build of the current truth") {
    val dir = tmpDir("graft-compact-fix")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, N, partitions = 4), dir, conf)
    IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, N, Extra, Overlap), dir, conf)

    import spark.implicits._
    val truth = currentTruth
    Compactor.compact(spark, dir, conf,
      fix = Some(spark.createDataset(truth).repartition(4)))
    val store = new IndexStore(dir)
    assert(store.layers(store.currentVersion.get).length == 1)
    assert(IndexCheck.healthy(spark, store))

    val freshDir = tmpDir("graft-compact-fresh")
    IndexBuilder.build(spark,
      spark.createDataset(truth).repartition(4), freshDir, conf)
    val fresh = new Searcher(spark, new IndexStore(freshDir), conf)
    val fixed = new Searcher(spark, store, conf)

    // counts equal the fresh build: stale postings are GONE (the un-fixed
    // merge keeps conv 0 turn 0's original terms matching it forever)
    queries.foreach { q =>
      assert(counts(fixed, q) == counts(fresh, q), s"query: $q")
    }
    // BM25 scores equal too (numDocs/avgdl/tf/dl all refreshed)
    val fb = fresh.searchBm25("which would there", 10).collect()
      .map { case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s) }
    val xb = fixed.searchBm25("which would there", 10).collect()
      .map { case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s) }
    assert(fb.map(_._1).toSeq == xb.map(_._1).toSeq)
    fb.zip(xb).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a)))
    }
    // and the fix is visible: some pre-compaction stale match disappeared
    val mergedDir = tmpDir("graft-compact-ref")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, N, partitions = 4), mergedDir, conf)
    IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, N, Extra, Overlap), mergedDir, conf)
    val merged = new Searcher(spark, new IndexStore(mergedDir), conf)
    val staleDiffer = queries.exists(q => counts(merged, q) != counts(fixed, q))
    assert(staleDiffer, "expected at least one query to lose a stale match")
  }
}
