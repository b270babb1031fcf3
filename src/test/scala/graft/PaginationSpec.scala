package graft

import org.apache.spark.sql.Row

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexStore}
import graft.model.EngineConf
import graft.search.Searcher

/** Keyset pagination (search_after): walking the BM25 ranking page by page
  * must reproduce the one-shot ranking exactly — across tie groups, page
  * sizes, layers, tombstones and both query shapes — and a stale/unknown
  * cursor degrades to empty. Pure-OR queries page on WAND and are checked
  * against `searchBm25(q, n)`; boolean queries page on the DataFrame
  * algebra and are checked against `searchBm25(q, n, useWand = false)`.
  * The cursor is the doc KEY only (each page re-scores it with its own
  * path's arithmetic), so walks stay bit-exact with `===` even though the
  * two paths can differ by 1 ULP. */
class PaginationSpec extends SparkTestBase {

  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64,
    blockSize = 16)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-page-idx")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, 40, partitions = 4), dir, conf)
    dir
  }

  private lazy val searcher =
    new Searcher(spark, new IndexStore(indexDir), conf)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Int, Double)] =
    df.collect().toSeq.map {
      case Row(c: String, t: Int, s: Double) => (c, t, s)
    }

  /** Up to `maxPages` pages of `k` (all pages by default), each after the
    * previous page's last key. */
  private def pageWalk(query: String, k: Int, s: Searcher = searcher,
      maxPages: Int = Int.MaxValue): Seq[(String, Int, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double)]
    var page = rows(s.searchBm25Page(query, k))
    var n = 0
    while (page.nonEmpty && n < maxPages) {
      // a page that repeats a row would walk forever
      assert(!out.contains(page.last), s"page ${n + 1} repeats ${page.last}")
      out ++= page
      n += 1
      val (c, t, _) = page.last
      if (n < maxPages) page = rows(s.searchBm25Page(query, k, Some((c, t))))
    }
    out.toSeq
  }

  /** The one-shot ranking a walk must equal: WAND for pure-OR queries,
    * the DataFrame algebra for boolean ones. */
  private def ranking(s: Searcher, q: String, n: Int,
      boolean: Boolean = false): Seq[(String, Int, Double)] =
    rows(s.searchBm25(q, n, useWand = !boolean))

  test("page walk reproduces the full ranking exactly (ties included)") {
    for ((q, boolean) <- Seq("which would there" -> false,
        "(which AND would)" -> true); k <- Seq(7, 50)) {
      // the full ranking in one shot through the same path
      val full = ranking(searcher, q, 100000, boolean)
      assert(full.size > 7, s"fixture too small for $q") // k=7 multi-pages
      assert(pageWalk(q, k) === full, s"q=$q k=$k")
    }
  }

  test("a WAND page-1 key still works as a cursor (key-only contract)") {
    val q = "which would there"
    val p1 = rows(searcher.searchBm25(q, 10)) // WAND path
    val (c, t, _) = p1.last
    val p2 = rows(searcher.searchBm25Page(q, 10, Some((c, t))))
    assert(p2.nonEmpty)
    assert(p1.map(r => (r._1, r._2)).toSet
      .intersect(p2.map(r => (r._1, r._2)).toSet).isEmpty)
    // the ranking's order holds across the page boundary
    assert(p2.head._3 <= p1.last._3)
  }

  test("seeded fuzz: page walks reproduce full rankings at random k") {
    val rnd = new scala.util.Random(0x9A6E5)
    val queries = Seq("which would" -> false,
      """("there" OR "search")""" -> false,
      "(whichever AND would)" -> true, "assistant message which" -> false)
    for ((q, boolean) <- queries) {
      val full = ranking(searcher, q, 100000, boolean)
      val k = 1 + rnd.nextInt(math.max(1, full.size)) // 1..|hits|
      assert(pageWalk(q, k) === full, s"q=$q k=$k")
    }
  }

  test("a tombstoned boundary doc still works as a cursor") {
    import spark.implicits._
    // own index: the shared one must stay tombstone-free
    val dir = tmpDir("graft-page-del")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, 40, partitions = 4), dir, conf)
    val clean = new Searcher(spark, new IndexStore(dir), conf)
    val q = "which would there"
    val full = ranking(clean, q, 100000)
    val p1 = rows(clean.searchBm25Page(q, 10))
    val (bc, bt, _) = p1.last
    clean.close()
    // delete the boundary doc's conversation mid-walk
    graft.index.IndexDeleter.delete(spark, dir, Seq(bc).toDF("conv_id"))
    val masked = new Searcher(spark, new IndexStore(dir), conf)
    val p2After = rows(masked.searchBm25Page(q, 10, Some((bc, bt))))
    // the walk continues: the cursor resolves through the UNMASKED doc
    // table; the page itself masks. Survivors keep their exact scores
    // (the stale-stats tombstone contract), so the page equals the
    // pre-delete ranking after the cursor, minus the deleted conv
    val cut = full.indexWhere(r => r._1 == bc && r._2 == bt)
    assert(cut >= 0)
    assert(p2After === full.drop(cut + 1).filter(_._1 != bc).take(10))
    assert(p2After.nonEmpty)
    masked.close()
  }

  test("unknown cursor key, non-hit cursor, and bad inputs degrade to empty") {
    val q = "which would there"
    assert(searcher.searchBm25Page(q, 10, Some(("no-such-conv", 0)))
      .collect().isEmpty)
    assert(searcher.searchBm25Page(q, 0,
      Some((TranscriptGen.convId(0L), 0))).collect().isEmpty)
    assert(searcher.searchBm25Page("((((broken", 10,
      Some((TranscriptGen.convId(0L), 0))).collect().isEmpty)
  }

  test("WAND walks equal one ranking: layers, a cut tie group, a tombstoned cursor, absent and non-hit cursors") {
    import spark.implicits._
    // identical turns in different conversations score identically, in
    // both layers; one conversation names none of the query's words
    def turns(convs: Seq[String], text: String) = convs.map(c =>
      graft.model.Turn(c, 0, "user", text, null,
        new java.sql.Timestamp(0L)))
    val same = "which would there happen"
    val dir = tmpDir("graft-page-wand")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, 40, partitions = 4)
        .union(spark.createDataset(
          turns((0 until 5).map(i => s"tie-00$i"), same) ++
            turns(Seq("nohit-000"), "alpha bravo charlie delta"))),
      dir, conf)
    graft.index.IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, 40, extra = 10, overlap = 3)
        .union(spark.createDataset(
          turns((5 until 8).map(i => s"tie-00$i"), same))),
      dir, conf)
    val store = new IndexStore(dir)
    assert(store.layers(store.currentVersion.get).length == 2)
    val before = new Searcher(spark, store, conf)
    val q = "which would there"
    val full = ranking(before, q, 100000)
    // k cuts the tie group after its third member
    val k = full.indexWhere(_._1.startsWith("tie-")) + 3
    assert(full(k - 1)._1.startsWith("tie-") && full(k)._1.startsWith("tie-"))
    assert(full(k - 1)._3 == full(k)._3)
    for (n <- Seq(1, 4))
      assert(pageWalk(q, k, before, n) === ranking(before, q, n * k),
        s"n=$n k=$k")
    // absent and non-hit cursors degrade to the empty page
    assert(rows(before.searchBm25Page(q, k, Some(("no-such-conv", 0))))
      .isEmpty)
    assert(rows(before.searchBm25Page(q, k, Some(("nohit-000", 0)))).isEmpty)
    // the cursor (a tie-group member) is tombstoned mid-walk: the walk
    // continues from its unmasked key, and survivors keep their scores
    val p1 = rows(before.searchBm25Page(q, k))
    val (bc, bt, _) = p1.last
    before.close()
    graft.index.IndexDeleter.delete(spark, dir, Seq(bc).toDF("conv_id"))
    val after = new Searcher(spark, new IndexStore(dir), conf)
    val rest = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double)]
    var cursor = (bc, bt)
    for (_ <- 0 until 3) {
      val page = rows(after.searchBm25Page(q, k, Some(cursor)))
      rest ++= page
      if (page.nonEmpty) cursor = (page.last._1, page.last._2)
    }
    assert(rest.nonEmpty)
    assert(rest.toSeq === full.drop(k).filter(_._1 != bc).take(3 * k))
    after.close()
  }
}
