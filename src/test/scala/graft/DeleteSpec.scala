package graft

import org.apache.spark.sql.Row

import graft.fixtures.TranscriptGen
import graft.index.{Codec, Compactor, IndexBuilder, IndexDeleter, IndexMerger, IndexStore}
import graft.model.{DocKey, EngineConf, Turn}
import graft.search.{Fuzzy, Searcher}
import graft.verify.Oracle

/** Document deletion (LSM tombstones): masked hits before compaction with
  * the Lucene stale-stats contract, resurrection on re-index, and the
  * compaction purge equalling a fresh build over the live corpus. */
class DeleteSpec extends SparkTestBase {

  private val NConvs = 40
  // small parts/blocks so tombstoned docs cross part boundaries
  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64, blockSize = 16)

  private lazy val full: Seq[Turn] = TranscriptGen.local(NConvs)

  // conv-level deletions (every 5th conversation) plus ONE turn-level key
  private val delConvs: Set[String] =
    (0 until NConvs).filter(_ % 5 == 2)
      .map(i => TranscriptGen.convId(i.toLong)).toSet
  // a multi-turn, multi-hit conversation (14 % 5 != 2, so not conv-deleted)
  private val delTurn = DocKey(TranscriptGen.convId(14L), 0)
  private def isDeleted(k: DocKey): Boolean =
    delConvs.contains(k.conv_id) || k == delTurn

  private def buildIndex(): String = {
    val dir = tmpDir("graft-del-idx")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, NConvs.toLong, partitions = 4), dir, conf)
    dir
  }

  private def deleteKeys(dir: String): Long = {
    import spark.implicits._
    val keys = spark.createDataset(
        delConvs.toSeq.sorted.map(c => (c, None: Option[Int])) :+
          (delTurn.conv_id, Some(delTurn.turn_idx)))
      .select($"_1".as("conv_id"), $"_2".as("turn_idx"))
    IndexDeleter.delete(spark, dir, keys)._2
  }

  private def counts(s: Searcher, q: String): Map[DocKey, Long] =
    s.searchCount(q).collect().map {
      case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
    }.toMap

  private def bm25Map(s: Searcher, q: String, wand: Boolean)
      : Map[DocKey, Double] =
    s.searchBm25(q, k = 100000, useWand = wand).collect().map {
      case Row(c: String, t: Int, v: Double) => DocKey(c, t) -> v
    }.toMap

  // one tombstoned index shared by the masking tests
  private lazy val delDir: String = {
    val dir = buildIndex()
    val n = deleteKeys(dir)
    assert(n > 0)
    dir
  }
  private lazy val fullDir: String = buildIndex()

  private val queries = Seq("which", "would", "(which AND would)",
    "(which NOT would)", "\"people\"", TranscriptGen.UniqueWord)

  test("tombstoned docs stop matching; live counts unchanged") {
    val sFull = new Searcher(spark, new IndexStore(fullDir), conf)
    val sDel = new Searcher(spark, new IndexStore(delDir), conf)
    for (q <- queries) {
      val expected = counts(sFull, q).filter { case (k, _) => !isDeleted(k) }
      assert(counts(sDel, q) == expected, s"query: $q")
    }
    // fixture sanity: turn-granularity is actually exercised — some OTHER
    // turn of the turn-deleted conversation matches somewhere (and the
    // equality above then proves it survived the delete)
    assert(queries.exists(q => counts(sFull, q).keys.exists(k =>
      k.conv_id == delTurn.conv_id && k != delTurn)))
  }

  test("BM25 under tombstones: WAND skip == DF mask == post-hoc filter") {
    val sFull = new Searcher(spark, new IndexStore(fullDir), conf)
    val sDel = new Searcher(spark, new IndexStore(delDir), conf)
    for (q <- Seq("which", "(which OR would)", "people")) {
      // stale-stats contract: live docs keep their EXACT score — compared
      // per path (WAND associates b·(dl/avgdl), the DF algebra (b·dl)/
      // avgdl, so cross-path equality only holds to the last ulp)
      def live(m: Map[DocKey, Double]) =
        m.filter { case (k, _) => !isDeleted(k) }
      assert(bm25Map(sDel, q, wand = true) ==
        live(bm25Map(sFull, q, wand = true)), s"WAND query: $q")
      assert(bm25Map(sDel, q, wand = false) ==
        live(bm25Map(sFull, q, wand = false)), s"DF query: $q")
    }
  }

  private def ranked(df: org.apache.spark.sql.DataFrame)
      : Seq[(DocKey, Double)] =
    df.collect().map { case Row(c: String, t: Int, v: Double) =>
      DocKey(c, t) -> v }.toSeq

  /** `got` ranks like the oracle's `live` ranking (tombstoned docs already
    * removed): the same docs at every rank, scores within 1e-9. */
  private def assertRanksLike(got: Seq[(DocKey, Double)],
      live: Seq[(DocKey, Double)], k: Int, what: String): Unit = {
    val exp = live.take(k)
    assert(got.map(_._1) == exp.map(_._1), s"$what: ranking")
    got.zip(exp).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) <= 1e-9 * math.max(1.0, math.abs(es)),
        s"$what: score $gs vs $es")
    }
  }

  test("a large tombstone set: WAND and fuzzy WAND rank like the oracle minus deletions") {
    import spark.implicits._
    // every other conversation tombstoned — half the corpus
    val gone = (0 until NConvs by 2).map(i => TranscriptGen.convId(i.toLong))
    val dir = buildIndex()
    assert(IndexDeleter.delete(spark, dir,
      spark.createDataset(gone).select($"value".as("conv_id")))._2 > 0)
    val oracle = new Oracle(conf).indexAll(full)
    val goneSet = gone.toSet
    def live(exp: Seq[(DocKey, Double)]) =
      exp.filterNot { case (d, _) => goneSet.contains(d.conv_id) }
    val s = new Searcher(spark, new IndexStore(dir), conf)
    for (q <- Seq("which", "which would there", "\"people\" OR peopl",
        TranscriptGen.UniqueWord); k <- Seq(5, 1000)) {
      assertRanksLike(ranked(s.searchBm25(q, k)),
        live(oracle.searchBm25(q, full.size)), k, s"bm25 $q k=$k")
    }
    // fuzzy: every dictionary word within the edit bound, as exact OR'd
    // terms of the oracle
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for ((w, edits) <- Seq(("whicj", 1), ("woukd", 1), ("wuold", 2))) {
      val words =
        if (edits == 1) Fuzzy.neighborhood1(w).filter(oracle.postings.contains)
        else oracle.postings.keys.filter(lev(_, w) <= edits).toSeq.sorted
      assert(words.nonEmpty, w)
      val exp = live(oracle.searchBm25(
        words.map(x => "\"" + x + "\"").mkString(" OR "), full.size))
      for (k <- Seq(5, 1000))
        assertRanksLike(ranked(s.searchFuzzyBm25(w, k, edits)), exp, k,
          s"fuzzy $w~$edits k=$k")
    }
    s.close()
  }

  test("layered, regrouped, tombstoned index: WAND weights from part df rank like the oracle") {
    import spark.implicits._
    // three layers: the base, then two merges that re-issue conversations
    // (turn-0 rewrites + appended turns: old-wins regroups masked through
    // replaced_terms, stacked by the second re-issue) and add fresh ones,
    // so a term's df is spread over parts of several layers
    val b2 = TranscriptGen.batch2(NConvs.toLong, 8, 6)
    val b3 = TranscriptGen.batch2(NConvs + 8L, 5, 3)
    val dir = buildIndex()
    IndexMerger.merge(spark, spark.createDataset(b2).repartition(2), dir, conf)
    IndexMerger.merge(spark, spark.createDataset(b3).repartition(2), dir, conf)
    deleteKeys(dir)
    val store = new IndexStore(dir)
    val layers = store.layers(store.currentVersion.get)
    assert(layers.count(_.replaced.nonEmpty) == 2, layers)
    // fixture: some term has parts in two layers, and a regrouped one too
    val termLayers = layers.take(3).map(l =>
      spark.read.parquet(s"$dir/${l.postings}").select($"term").distinct()
        .as[String].collect().toSet)
    assert(termLayers(0).intersect(termLayers(1)).contains("which"))
    assert(termLayers(1).contains("therefore") &&
      termLayers(2).contains("therefore"))
    val oracle = new Oracle(conf).indexAll(full ++ b2 ++ b3)
    val s = new Searcher(spark, store, conf)
    // a word OR'd with its own prefix scores it twice (mult = 2)
    for (q <- Seq("which", "which would there", "(therefore OR there)",
        "sparkle rewritten", "\"people\" OR peopl", "which OR which");
        k <- Seq(10, 1000)) {
      val live = oracle.searchBm25(q, Int.MaxValue)
        .filterNot { case (d, _) => isDeleted(d) }
      assertRanksLike(ranked(s.searchBm25(q, k)), live, k, s"$q k=$k")
    }
    s.close()
  }

  test("stats stay as-of the snapshot until compaction (Lucene contract)") {
    val before = new IndexStore(fullDir).currentMeta
    val after = new IndexStore(delDir).currentMeta
    assert(after.numDocs == before.numDocs)
    assert(after.avgdl == before.avgdl)
    assert(after.numTerms == before.numTerms)
    // ...and the structural check still passes over the layered tables
    val bad = graft.verify.IndexCheck.run(spark,
      new IndexStore(delDir)).collect().map(_.getLong(1)).sum
    assert(bad == 0)
  }

  test("unknown keys and repeated deletes are no-ops") {
    import spark.implicits._
    val store = new IndexStore(delDir)
    val v = store.currentVersion.get
    val unknown = spark.createDataset(Seq("no-such-conv"))
      .select($"value".as("conv_id"))
    assert(IndexDeleter.delete(spark, delDir, unknown)._2 == 0)
    assert(deleteKeys(delDir) == 0) // idempotent
    assert(store.currentVersion.get == v) // nothing committed
  }

  test("re-indexing a tombstoned key resurrects it") {
    import spark.implicits._
    val dir = buildIndex()
    val uniqueConv = TranscriptGen.convId(0) // holds UniqueWord at turn 1
    val keys = spark.createDataset(Seq(uniqueConv)).select($"value".as("conv_id"))
    assert(IndexDeleter.delete(spark, dir, keys)._2 > 0)
    val gone = new Searcher(spark, new IndexStore(dir), conf)
    assert(counts(gone, TranscriptGen.UniqueWord).isEmpty)
    // merge the same conversation back (ids kept, tombstones shrink)
    val batch = TranscriptGen.dataset(spark, NConvs.toLong, partitions = 2)
      .filter(_.conv_id == uniqueConv)
    IndexMerger.merge(spark, batch, dir, conf)
    val back = new Searcher(spark, new IndexStore(dir), conf)
    assert(counts(back, TranscriptGen.UniqueWord).keySet ==
      Set(DocKey(uniqueConv, 1)))
    // full resurrection leaves an empty (sentinel-only) tombstone set
    assert(new IndexStore(dir).deletedIds(spark)
      .forall(_.isEmpty))
  }

  test("compaction purges: equals a fresh build over the live corpus") {
    import spark.implicits._
    val dir = buildIndex()
    deleteKeys(dir)
    Compactor.compact(spark, dir, conf)
    val store = new IndexStore(dir)
    assert(store.deletedIds(spark).isEmpty)

    // physical purge: no tombstoned id anywhere in docs or decoded postings
    val liveKeys = full.map(t => DocKey(t.conv_id, t.turn_idx))
      .filterNot(isDeleted).toSet
    val docKeys = store.docs(spark).collect()
      .map(r => DocKey(r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")))
      .toSet
    assert(docKeys == liveKeys)
    val docIds = store.docs(spark).select($"doc_id").as[Long].collect().toSet
    val postedIds = store.postings(spark).select($"bytes")
      .as[Array[Byte]].collect()
      .flatMap(b => Codec.decodeAll(b).map(_.docId)).toSet
    assert(postedIds.subsetOf(docIds))
    assert(store.currentMeta.numDocs == liveKeys.size)

    // fresh build over the live corpus: identical counts AND scores
    // (df/numDocs/avgdl all recomputed — the purge restores exactness)
    val freshDir = tmpDir("graft-del-fresh")
    // local copies: the filter closure must not capture the suite instance
    val (dc, dtc, dti) = (delConvs, delTurn.conv_id, delTurn.turn_idx)
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, NConvs.toLong, partitions = 4)
        .filter(t => !(dc.contains(t.conv_id) ||
          (t.conv_id == dtc && t.turn_idx == dti))),
      freshDir, conf)
    val sC = new Searcher(spark, store, conf)
    val sF = new Searcher(spark, new IndexStore(freshDir), conf)
    for (q <- queries)
      assert(counts(sC, q) == counts(sF, q), s"count query: $q")
    for (q <- Seq("which", "(which OR would)"))
      assert(bm25Map(sC, q, wand = true) == bm25Map(sF, q, wand = true),
        s"bm25 query: $q")
  }

  test("gc keeps the tombstone table live until compaction drops it") {
    val dir = buildIndex()
    deleteKeys(dir)
    val store = new IndexStore(dir)
    assert(store.gc().isEmpty) // delete layer references the build's dirs
    assert(store.deletedIds(spark).nonEmpty) // tombstones survived gc
    Compactor.compact(spark, dir, conf)
    assert(store.gc().nonEmpty) // pre-compaction versions now garbage
    assert(store.deletedIds(spark).isEmpty)
  }

  test("DeleteDocsMain key parsing") {
    import graft.app.DeleteDocsMain.parseKey
    assert(parseKey("conv-000002") == ("conv-000002", None))
    assert(parseKey("conv-000002:3") == ("conv-000002", Some(3)))
    assert(parseKey("a:b:7") == ("a:b", Some(7)))
    assert(parseKey("a:") == ("a:", None)) // empty tail is conv text
    assert(parseKey("a:12x") == ("a:12x", None))
  }
}
