package graft

import org.apache.spark.sql.Row

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexStore}
import graft.model.{DocKey, EngineConf, Turn}
import graft.search.Searcher
import graft.verify.Oracle

/** End-to-end: build index from the synthetic transcript corpus, run the
  * reference query set (FIXTURES.md) in count-parity and BM25 modes, assert
  * rank-identity against the brute-force oracle (SURVEY.md §7.4). */
class EndToEndSpec extends SparkTestBase {

  private val NConvs = 120
  // small part size + tiny blocks to exercise splitting/coalescing paths
  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64, blockSize = 16)

  private lazy val corpus = TranscriptGen.local(NConvs)
  private lazy val oracle = new Oracle(conf).indexAll(corpus)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-e2e-idx")
    val ds = TranscriptGen.dataset(spark, NConvs.toLong, partitions = 4)
    IndexBuilder.build(spark, ds, dir, conf)
    dir
  }

  private lazy val searcher = new Searcher(spark, new IndexStore(indexDir), conf)

  /** 16 groups of three terms (48 term references over 32 distinct search
    * words, wildcard and exact), nested two deep and chained by OR with
    * every fourth link a NOT: a long boolean evaluation must stay linear
    * in the query, not exponential. */
  private val longChain = {
    val ws = Seq("which", "would", "there", "people", "search", "index",
      "spark", "query", "token", "merge", "shuffle", "partition",
      "cluster", "executor", "transcript", "conversation")
    val groups = ws.indices.map { i =>
      val (a, b, c) =
        (ws(i), "\"" + ws((i + 5) % 16) + "\"", ws((i + 11) % 16))
      i % 3 match {
        case 0 => s"(($a OR $b) AND $c)"
        case 1 => s"($a OR ($b NOT $c))"
        case _ => s"($a AND $b OR $c)"
      }
    }
    groups.zipWithIndex.map { case (g, i) =>
      if (i == 0) g else if (i % 4 == 3) s"NOT $g" else s"OR $g"
    }.mkString(" ")
  }

  // reference query set (FIXTURES.md / tests/run_tests.sh:232-289), plus
  // a long chain, a repeated term, and the skipped-OR quirk
  // (Search.cpp:162-199: "x AND OR y" behaves like "x AND y")
  private val queries = Seq(
    "xyzzyqwkplm",
    "which", "would", "there",
    "\"people\"",
    "(which AND would)",
    "(xyzzy OR which)",
    "(which NOT xyzzyqwk)",
    "((which OR would) AND there)",
    TranscriptGen.UniqueWord,
    "\"" + TranscriptGen.UniqueWord + "\"",
    longChain,
    "(which OR which)",
    "(which AND OR would)")

  private def engineCounts(q: String): Map[DocKey, Long] =
    searcher.searchCount(q).collect().map {
      case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
    }.toMap

  test("corpus generators agree (local vs distributed)") {
    val ds = TranscriptGen.dataset(spark, NConvs.toLong, partitions = 4)
      .collect().sortBy(t => (t.conv_id, t.turn_idx))
    val loc = corpus.sortBy(t => (t.conv_id, t.turn_idx))
    assert(ds.length == loc.length)
    assert(ds.toSeq == loc)
  }

  test("index meta matches oracle corpus stats") {
    val meta = new IndexStore(indexDir).currentMeta
    assert(meta.numDocs == oracle.numDocs)
    assert(math.abs(meta.avgdl - oracle.avgdl) < 1e-9)
    assert(meta.numTerms == oracle.postings.size)
  }

  test("count-parity on the reference query set") {
    assert(oracle.searchCount(longChain).nonEmpty, longChain)
    for (q <- queries) {
      val expected = oracle.searchCount(q).toMap
      val got = engineCounts(q)
      assert(got == expected, s"query: $q")
    }
  }

  test("unique word is found in exactly the known turn") {
    val r = oracle.searchCount(TranscriptGen.UniqueWord)
    assert(r.map(_._1) == Seq(DocKey(TranscriptGen.convId(0), 1)))
    assert(engineCounts(TranscriptGen.UniqueWord).keySet ==
      Set(DocKey(TranscriptGen.convId(0), 1)))
  }

  test("wildcard prefix expands to multiple dictionary words") {
    // 'which' is a prefix of 'whichever' → docs containing both get count 2
    val r = oracle.searchCount("which")
    assert(r.exists(_._2 >= 2L), "fixture should contain a doc with which+whichever")
    assert(engineCounts("which") == r.toMap)
  }

  test("BM25 top-10 rank-identity vs oracle") {
    for (q <- queries) {
      val expected = oracle.searchBm25(q, 10)
      val got = searcher.searchBm25(q, 10).collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s)
      }.toSeq
      assert(got.length == expected.length, s"query: $q size")
      got.zip(expected).zipWithIndex.foreach { case (((gd, gs), (ed, es)), i) =>
        assert(math.abs(gs - es) <= 1e-9 * math.max(1.0, math.abs(es)),
          s"query: $q rank $i score $gs vs $es")
        if (math.abs(gs - es) > 0) {
          // near-tie: allow doc swap only between equal-score ranks
          assert(gd == ed || math.abs(gs - es) < 1e-9, s"query: $q rank $i doc")
        } else assert(gd == ed, s"query: $q rank $i doc")
      }
    }
  }

  test("metadata-filtered search == post-hoc filter; bad predicates empty") {
    import spark.implicits._
    val meta = spark.createDataset(corpus).toDF()
      .select($"conv_id", $"turn_idx", $"role", $"tool")
    val preds: Seq[(String, Turn => Boolean)] = Seq(
      ("role = 'user'", t => t.role == "user"),
      ("turn_idx % 2 = 0 AND role <> 'tool'",
        t => t.turn_idx % 2 == 0 && t.role != "tool"))
    val keepOf = preds.map { case (sql, f) =>
      sql -> corpus.filter(f).map(t => DocKey(t.conv_id, t.turn_idx)).toSet
    }.toMap
    for (q <- Seq("which", "(which AND would)", "((which OR would) NOT there)");
        (p, _) <- preds) {
      val keep = keepOf(p)
      val expected = engineCounts(q).filter { case (k, _) => keep(k) }
      val got = searcher.searchCountWhere(meta, q, p).collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap
      assert(got == expected, s"where($q, $p)")
    }
    // BM25: filtered top-k == post-hoc filter of the full ranking, take k
    for ((p, _) <- preds) {
      val keep = keepOf(p)
      val full = searcher.searchBm25("(which OR would)", corpus.size,
          useWand = false).collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s)
      }.toSeq
      val expected = full.filter { case (k, _) => keep(k) }.take(10)
      val got = searcher.searchBm25Where(meta, "(which OR would)", p, 10)
        .collect().map {
          case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s)
        }.toSeq
      assert(got.map(_._1) == expected.map(_._1), s"bm25 where($p) keys")
      got.zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(gs == es, s"bm25 where($p) score $gs vs $es") }
    }
    // malformed / unresolvable predicates: empty, no crash
    assert(searcher.searchCountWhere(meta, "which", "not a predicate ((")
      .collect().isEmpty)
    assert(searcher.searchCountWhere(meta, "which", "no_such_col = 1")
      .collect().isEmpty)
    assert(searcher.searchBm25Where(meta, "which", "((", 5)
      .collect().isEmpty)
    // --where at the CLI requires a corpus (the metadata source) and is
    // REJECTED for modes that would silently ignore it (review finding)
    assert(graft.app.SearchMain.resolve(
      Array("/idx", "q", "--where=role = 'user'")).isLeft)
    assert(graft.app.SearchMain.resolve(
      Array("/idx", "q", "--where=role = 'user'", "--corpus=gen:5"))
      .exists(_.where.contains("role = 'user'")))
    for (m <- Seq("countp", "bm25p", "phrase", "fuzzy", "related"))
      assert(graft.app.SearchMain.resolve(Array("/idx", "q", s"--mode=$m",
        "--where=role = 'user'", "--corpus=gen:5")).isLeft, m)
    assert(graft.app.SearchMain.resolve(Array("/idx", "q", "--mode=bm25",
      "--where=role = 'user'", "--corpus=gen:5")).isRight)
  }

  test("facet counts == brute-force grouping of the hit frame") {
    import spark.implicits._
    val meta = spark.createDataset(corpus).toDF()
      .select($"conv_id", $"turn_idx", $"role", $"tool")
    val metaOf = corpus.map(t => DocKey(t.conv_id, t.turn_idx) -> t).toMap
    // tool is null on non-tool turns — exercises the NULL facet group
    for (q <- Seq("which", "(which AND would)");
        fcol <- Seq("role", "tool"); k <- Seq(2, 100)) {
      val hits = engineCounts(q)
      val expected = hits.toSeq
        .groupBy { case (key, _) =>
          val t = metaOf(key)
          Option(if (fcol == "role") t.role else t.tool)
        }
        .map { case (f, rows) =>
          (f, rows.size.toLong, rows.map(_._2).sum) }.toSeq
        .sortBy { case (f, n, _) => (-n, f.isDefined, f.getOrElse("")) }
        .take(k)
      val got = searcher.searchFacets(meta, q, fcol, k).collect().map {
        case Row(f, n: Long, tc: Long) =>
          (Option(f).map(_.toString), n, tc)
      }.toSeq
      assert(got == expected, s"facets($q, $fcol, $k)")
    }
    // unresolvable facet column / bad k: empty, no crash
    assert(searcher.searchFacets(meta, "which", "no_such_col", 5)
      .collect().isEmpty)
    assert(searcher.searchFacets(meta, "which", "role", 0)
      .collect().isEmpty)
    // CLI: facets needs --facet and --corpus
    assert(graft.app.SearchMain.resolve(Array("/idx", "q",
      "--mode=facets", "--corpus=gen:5")).isLeft)
    assert(graft.app.SearchMain.resolve(Array("/idx", "q",
      "--mode=facets", "--facet=role")).isLeft)
    assert(graft.app.SearchMain.resolve(Array("/idx", "q",
      "--mode=facets", "--facet=role", "--corpus=gen:5"))
      .exists(_.facet.contains("role")))
  }

  test("WAND and DataFrame BM25 paths agree") {
    for (q <- Seq("which", "(which OR would)", "(assistant message)",
        "\"people\"", TranscriptGen.UniqueWord)) {
      val wand = searcher.searchBm25(q, 10, useWand = true).collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s) }.toSeq
      val df = searcher.searchBm25(q, 10, useWand = false).collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s) }.toSeq
      assert(wand.length == df.length, s"query: $q")
      wand.zip(df).foreach { case ((wd, ws), (dd, ds)) =>
        assert(math.abs(ws - ds) <= 1e-9 * math.max(1.0, math.abs(ds)), s"$q score")
        if (ws == ds) assert(wd == dd, s"$q doc")
      }
    }
  }

  test("exact-match mode (C4 config_exact_match) end-to-end vs oracle") {
    val exactConf = conf.copy(exactMatch = true)
    val exactSearcher = new Searcher(spark, new IndexStore(indexDir), exactConf)
    val exactOracle = new Oracle(exactConf).indexAll(corpus)
    // "which" as a wildcard also matches longer dictionary words; in exact
    // mode it matches only the term itself — counts must differ accordingly
    for (q <- Seq("which", "would", "(which AND would)", "there")) {
      val got = exactSearcher.searchCount(q).collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap
      assert(got == exactOracle.searchCount(q).toMap, s"exact query: $q")
    }
    exactSearcher.close()
  }

  test("min-char config: a short wildcard term matches nothing") {
    val strictConf = conf.copy(minCharForMatch = 7)
    val s = new Searcher(spark, new IndexStore(indexDir), strictConf)
    // "which" (5 chars, wildcard) is <= 7 -> no dictionary match
    assert(s.searchCount("which").collect().isEmpty)
    // but quoted (exact) terms are exempt from the min-char rule
    assert(s.searchCount("\"which\"").collect().nonEmpty)
    s.close()
  }

  test("posting parts are split for hot terms and doc-sorted") {
    val store = new IndexStore(indexDir)
    val parts = store.postings(spark)
      .select("term", "part", "first_doc", "last_doc", "df")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // hot fixture terms must have been split into >1 part
    val hotParts = parts.filter(_._1 == "assistant")
    assert(hotParts.length > 1, "hot term 'assistant' should be split")
    // parts of a term are doc-range ordered and non-overlapping
    parts.groupBy(_._1).foreach { case (term, ps) =>
      val sorted = ps.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 < b._3, s"term $term parts overlap")
        case _ => ()
      }
    }
    // df consistency vs oracle
    val dfByTerm = parts.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    oracle.postings.foreach { case (t, m) =>
      assert(dfByTerm.getOrElse(t, 0L) == m.size.toLong, s"df mismatch for $t")
    }
  }
}
