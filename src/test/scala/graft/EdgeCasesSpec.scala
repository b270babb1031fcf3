package graft

import java.sql.Timestamp

import graft.index.{IndexBuilder, IndexMerger, IndexStore}
import graft.model.{EngineConf, Turn}
import graft.search.Searcher

/** Degenerate-input hardening: empty corpus, all-separator texts,
  * single-doc builds — the engine must produce a committed, healthy,
  * searchable (if vacuous) snapshot for every one of them. */
class EdgeCasesSpec extends SparkTestBase {
  import spark.implicits._

  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64,
    blockSize = 16)
  private def ts(s: Int) = Timestamp.valueOf(f"2026-01-01 00:00:$s%02d")
  private def turn(c: String, text: String) =
    Turn(c, 0, "u", text, null, ts(1))

  test("empty corpus builds a committed, healthy, searchable snapshot") {
    val dir = tmpDir("graft-empty")
    val meta = IndexBuilder.build(spark,
      spark.emptyDataset[Turn], dir, conf)
    assert(meta.numDocs == 0 && meta.numTerms == 0 && meta.avgdl == 0.0)
    val store = new IndexStore(dir)
    assert(store.currentVersion.contains(1))
    val s = new Searcher(spark, store, conf)
    assert(s.searchCount("anything").collect().isEmpty)
    assert(s.searchBm25("anything here", 5).collect().isEmpty)
    s.close()
    val checks = graft.verify.IndexCheck.run(spark, store).collect()
    assert(checks.map(_.getLong(1)).sum == 0, "empty index must be healthy")
  }

  test("merge a real batch INTO an empty index") {
    val dir = tmpDir("graft-empty-merge")
    IndexBuilder.build(spark, spark.emptyDataset[Turn], dir, conf)
    val batch = Seq(turn("c1", "zebra wombat searching indexes")).toDS()
    val meta = IndexMerger.merge(spark, batch, dir, conf)
    assert(meta.numDocs == 1 && meta.numTerms == 4)
    val s = new Searcher(spark, new IndexStore(dir), conf)
    assert(s.searchCount("zebra").collect().map(_.getString(0)).toSeq
      == Seq("c1"))
    s.close()
  }

  test("all-separator and null-ish texts keep doc rows with zero tokens") {
    val dir = tmpDir("graft-seps")
    val corpus = Seq(
      turn("c1", "!!! 123 ... ---"), // every char folds to separator
      turn("c2", ""),
      turn("c3", "zebra wombat here")).toDS()
    val meta = IndexBuilder.build(spark, corpus, dir, conf)
    assert(meta.numDocs == 3)
    val store = new IndexStore(dir)
    val stats = store.docStats(spark).join(store.docs(spark), "doc_id")
      .select($"conv_id", $"dl").as[(String, Int)].collect().toMap
    assert(stats("c1") == 0 && stats("c2") == 0 && stats("c3") == 3)
    val checks = graft.verify.IndexCheck.run(spark, store).collect()
    assert(checks.map(_.getLong(1)).sum == 0)
  }

  test("single-doc corpus: BM25 and count agree on the only doc") {
    val dir = tmpDir("graft-single")
    IndexBuilder.build(spark, Seq(turn("only", "zebra zebra wombat")).toDS(),
      dir, conf)
    val s = new Searcher(spark, new IndexStore(dir), conf)
    val cnt = s.searchCount(""""zebra"""").collect()
    assert(cnt.length == 1 && cnt.head.getLong(2) == 1L) // 1 matched word
    val bm = s.searchBm25("zebra", 5).collect()
    assert(bm.length == 1 && bm.head.getString(0) == "only")
    s.close()
  }

  test("indexAndPromote: empty corpus writes no watermark, no NPE") {
    val store1 = new IndexStore(tmpDir("graft-wm-empty"))
    // empty FIRST build: max(ts) is null -> promoted None, nothing written
    val (m1, wm1) = graft.app.Mains.indexAndPromote(spark, store1,
      spark.emptyDataset[Turn], store1.root, conf)
    assert(m1.numDocs == 0 && wm1.isEmpty)
    assert(store1.currentWatermark.isEmpty)
    // then a real batch merges in and promotes normally
    val (m2, wm2) = graft.app.Mains.indexAndPromote(spark, store1,
      Seq(turn("c1", "zebra wombat here")).toDS(), store1.root, conf)
    assert(m2.numDocs == 1 && wm2.contains(ts(1)))
    assert(store1.currentWatermark.contains(ts(1)))
    // a no-op (empty) merge keeps the watermark and version
    val (m3, wm3) = graft.app.Mains.indexAndPromote(spark, store1,
      spark.emptyDataset[Turn], store1.root, conf)
    assert(m3.version == m2.version && wm3.contains(ts(1)))
  }

  test("REPL warm path survives queries (close-in-evalQuery regression)") {
    val dir = tmpDir("graft-warm")
    IndexBuilder.build(spark, Seq(turn("c1", "zebra wombat here")).toDS(),
      dir, conf)
    val s = new Searcher(spark, new IndexStore(dir), conf)
    s.warm()
    assert(s.warmed)
    // the warmed dict must SURVIVE a query (r3 review: a query path that
    // released cached state through close() killed it)
    assert(s.searchCount("zebra").collect().nonEmpty)
    assert(s.warmed, "dict pin must survive a query")
    assert(s.searchBm25(""""zebra" AND wombat""", 5).collect().nonEmpty)
    assert(s.warmed, "dict pin must survive the boolean BM25 path")
    s.close()
    assert(!s.warmed)
    // warm() after (or racing) close() must not re-pin on a closed
    // searcher — that frame would never be released
    s.warm()
    assert(!s.warmed, "warm() on a closed searcher must be a no-op")
  }

  test("components and stratified sample on empty inputs") {
    import org.apache.spark.sql.functions.col
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.pipeline.Dedup.components(emptyPairs).collect().isEmpty)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipeline.TextStats.stratifiedSample(
      graft.pipeline.TextStats.langId(emptyDocs), Map("en" -> 10))
      .collect().isEmpty)
  }
}
