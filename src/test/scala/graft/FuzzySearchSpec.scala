package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.index.{IndexBuilder, IndexStore}
import graft.model.{DocKey, Turn}
import graft.search.{Fuzzy, Searcher}
import graft.tokenize.Tokenizer

/** Fuzzy term search: the generated 1-edit neighborhood against a local
  * levenshtein (seeded fuzz over the iff property), and both engine paths
  * (bounded-neighborhood probe, bounded-levenshtein dictionary scan)
  * against brute force over [[Tokenizer.tokens]]. */
class FuzzySearchSpec extends SparkTestBase {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")
  private def turn(conv: String, idx: Int, text: String): Turn =
    Turn(conv, idx, "doc", text, null, ts)

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("neighborhood1: membership iff levenshtein <= 1 (seeded fuzz)") {
    val rnd = new scala.util.Random(20260818)
    // a small alphabet makes 1-edit collisions common enough to matter
    def word(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 0 until 2000) {
      val a = word(3 + rnd.nextInt(5))
      val b = word(3 + rnd.nextInt(5))
      val hood = Fuzzy.neighborhood1(a, minLen = 1, maxLen = 100).toSet
      assert(hood.contains(b) == (lev(a, b) <= 1),
        s"a=$a b=$b lev=${lev(a, b)}")
    }
  }

  test("neighborhood1: length bounds filter and determinism") {
    val h = Fuzzy.neighborhood1("abcd", minLen = 4, maxLen = 4)
    assert(h.forall(_.length == 4))
    assert(h == h.sorted && h.distinct == h)
    assert(h.contains("abcd") && h.contains("abce") && !h.contains("abc"))
    assert(Fuzzy.neighborhood1("abcd") == Fuzzy.neighborhood1("abcd"))
  }

  // vocabulary at controlled edit distances from the query 'stram':
  //   stream (insert e -> 1), strap (sub -> 1), strand (2), words (>2)
  private val corpus = Seq(
    turn("c0", 0, "stream words appear right here"),
    turn("c1", 0, "strap holds things quite nicely"),
    turn("c2", 0, "stream strap strand words"),
    turn("c3", 0, "strand cable runs along"),
    turn("c4", 0, "unrelated content entirely present"),
    turn("c5", 0, ""))

  private lazy val idxDir: String = {
    val dir = tmpDir("graft-fuzzy-idx")
    IndexBuilder.build(spark, spark.createDataset(corpus), dir)
    dir
  }
  private lazy val searcher = new Searcher(spark, new IndexStore(idxDir))

  private def brute(word: String, maxEdits: Int): Map[DocKey, Long] =
    corpus.flatMap { t =>
      val n = Tokenizer.tokens(t.text).distinct
        .count(tok => lev(tok, word) <= maxEdits)
      if (n > 0) Some(DocKey(t.conv_id, t.turn_idx) -> n.toLong) else None
    }.toMap

  private def engine(word: String, maxEdits: Int): Map[DocKey, Long] =
    searcher.searchFuzzy(word, maxEdits).collect().map {
      case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
    }.toMap

  test("searchFuzzy maxEdits=1 (neighborhood probe) matches brute force") {
    for (w <- Seq("stram", "strap", "stream", "wordz", "zzzzz"))
      assert(engine(w, 1) == brute(w, 1), s"word=$w")
  }

  test("searchFuzzy maxEdits=2 (levenshtein dict scan) matches brute force") {
    for (w <- Seq("stram", "strnd", "wordz"))
      assert(engine(w, 2) == brute(w, 2), s"word=$w")
  }

  test("searchFuzzy rejects malformed input") {
    assert(searcher.searchFuzzy("", 1).isEmpty)
    assert(searcher.searchFuzzy("str4m", 1).isEmpty)
    assert(searcher.searchFuzzy("stram", 0).isEmpty)
    assert(searcher.searchFuzzyBm25("STRAM", 5).isEmpty)
  }

  test("searchRegex matches brute force; invalid pattern is empty") {
    for (pat <- Seq("^str", "am$", "a.d", "^zzz$")) {
      val re = pat.r
      val exp = corpus.flatMap { t =>
        val n = Tokenizer.tokens(t.text).distinct
          .count(tok => re.findFirstIn(tok).isDefined)
        if (n > 0) Some(DocKey(t.conv_id, t.turn_idx) -> n.toLong) else None
      }.toMap
      val got = searcher.searchRegex(pat).collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap
      assert(got == exp, s"pattern=$pat")
    }
    assert(searcher.searchRegex("[unclosed").isEmpty)
    assert(searcher.searchRegex("").isEmpty)
  }

  test("suggest: df-ranked prefix completion off the dictionary only") {
    // dictionary truth from brute force over the corpus
    val df = corpus.flatMap(t => Tokenizer.tokens(t.text).distinct
        .map(tok => (tok, (t.conv_id, t.turn_idx))))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val exp = df.filter(_._1.startsWith("str")).toSeq
      .sortBy { case (t, d) => (-d, t) }.take(3)
    val got = searcher.suggest("str", 3).collect()
      .map { case Row(t: String, d: Long) => (t, d) }.toSeq
    assert(got == exp)
    assert(got.nonEmpty)
    assert(searcher.suggest("", 3).isEmpty)
    assert(searcher.suggest("St4", 3).isEmpty)
    assert(searcher.suggest("str", 0).isEmpty)
  }

  test("didYouMean: df-ranked 1-edit dictionary neighbors, self excluded") {
    val df = corpus.flatMap(t => Tokenizer.tokens(t.text).distinct
        .map(tok => (tok, (t.conv_id, t.turn_idx))))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    // independent edit-distance truth (not the engine's neighborhood)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def lev1(a: String, b: String): Boolean = lev(a, b) == 1
    for (w <- Seq("stram", "stream", "strap")) {
      val exp = df.filter { case (t, _) => lev1(w, t) }.toSeq
        .sortBy { case (t, d) => (-d, t) }.take(5)
      val got = searcher.didYouMean(w, 5).collect()
        .map { case Row(t: String, d: Long) => (t, d) }.toSeq
      assert(got == exp, s"word=$w")
    }
    // a word present in the dictionary never suggests itself
    assert(!searcher.didYouMean("stream", 5).collect()
      .map(_.getString(0)).contains("stream"))
    assert(searcher.didYouMean("", 5).isEmpty)
    assert(searcher.didYouMean("stram", 0).isEmpty)
    assert(searcher.didYouMean("St4am", 5).isEmpty)
  }

  test("searchFuzzyBm25 equals the exact OR query of the matched words") {
    // 'stram' fuzzy-matches exactly {stream, strap}: scoring through the
    // fuzzy WAND path must be row-identical (scores included) to the
    // pure-OR exact query of those words through searchBm25
    val fuzzy = searcher.searchFuzzyBm25("stram", k = 10).collect().toSeq
    val exact = searcher.searchBm25(""""stream" "strap"""", k = 10)
      .collect().toSeq
    assert(fuzzy == exact)
    assert(fuzzy.nonEmpty)
  }

  test("rewriteFuzzy: sentinels, interior tilde, collision, case") {
    import Searcher.{Fuzzy => F, Phrase}
    // word-initial ~ before a letter, lowercased; an interior tilde is
    // CharFold separator text, a tilde inside a quoted phrase its text
    PhraseSpec.checkExtRows(Seq(
      ("~stram AND words", "$0 AND words", Seq(F("stram"))),
      ("foo~bar", "foo~bar", Nil),
      ("graftfuzzyqa OR ~word", "graftfuzzyqa OR $0", Seq(F("word"))),
      ("~STRAM", "$0", Seq(F("stram"))),
      ("~ word ~4x", "~ word ~4x", Nil),
      ("~stram OR ~strap", "$0 OR $1", Seq(F("stram"), F("strap"))),
      ("'alpha ~beta' AND ~stram", "$0 AND $1",
        Seq(Phrase("alpha ~beta"), F("stram")))))
  }

  private def key(t: Turn): DocKey = DocKey(t.conv_id, t.turn_idx)
  private def hasTok(t: Turn, w: String): Boolean =
    Tokenizer.tokens(t.text).contains(w)
  private def runExt(q: String): Map[DocKey, Long] =
    searcher.searchCountWithPhrases(spark.createDataset(corpus), q)
      .collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap

  test("~word composes in the boolean count algebra") {
    val fz = brute("stram", 1) // distinct 1-edit dictionary words per doc
    // AND adds counts: fuzzy distinct-match count + 1 matched exact word
    assert(runExt("""~stram AND "words"""") == corpus.flatMap { t =>
      fz.get(key(t)).filter(_ => hasTok(t, "words"))
        .map(c => key(t) -> (c + 1))
    }.toMap)
    // OR adds counts across fuzzy and exact operands
    assert(runExt("""~stram OR "words"""") == corpus.flatMap { t =>
      val c = fz.getOrElse(key(t), 0L) +
        (if (hasTok(t, "words")) 1L else 0L)
      if (c > 0) Some(key(t) -> c) else None
    }.toMap)
    // NOT erases the fuzzy term's docs from a word result
    assert(runExt(""""words" NOT ~stram""") == corpus.flatMap { t =>
      if (hasTok(t, "words") && !fz.contains(key(t)))
        Some(key(t) -> 1L)
      else None
    }.toMap)
    // an unmatched fuzzy term is an empty operand, not an error
    assert(runExt("""~zzzzz AND "words"""").isEmpty)
  }

  test("~word composes in the boolean BM25 algebra") {
    val res = searcher.searchBm25WithPhrases(spark.createDataset(corpus),
        """~stram AND "words"""", k = 10)
      .collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s)
      }
    val meta = new IndexStore(idxDir).currentMeta
    def idf(df: Double): Double =
      math.log(1.0 + (meta.numDocs - df + 0.5) / (df + 0.5))
    def tfn(tf: Double, d: Int): Double =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * d / meta.avgdl))
    val dl = corpus.map(t => key(t) -> Tokenizer.tokens(t.text).length).toMap
    val dict = corpus.flatMap(t => Tokenizer.tokens(t.text).distinct
      .map(w => (w, key(t)))).groupBy(_._1)
      .view.mapValues(_.map(_._2).distinct).toMap
    // fuzzy contribution: sum over matched dictionary words present in the
    // doc of that word's own idf·tfnorm (searchFuzzyBm25's semantics)
    val matched = dict.keys.filter(w => lev(w, "stram") <= 1).toSeq
    val expected = corpus.flatMap { t =>
      val k0 = key(t)
      val toks = Tokenizer.tokens(t.text)
      val fc = matched.filter(toks.contains).map { w =>
        idf(dict(w).size.toDouble)
          .*(tfn(toks.count(_ == w).toDouble, dl(k0)))
      }.sum
      val wtf = toks.count(_ == "words")
      if (fc > 0 && wtf > 0)
        Some(k0 -> (fc + idf(dict("words").size.toDouble) *
          tfn(wtf.toDouble, dl(k0))))
      else None
    }.toMap
    assert(res.map(_._1).toSet == expected.keySet)
    for ((k0, s) <- res) assert(math.abs(s - expected(k0)) < 1e-12, k0)
    assert(res.nonEmpty)
  }
}
