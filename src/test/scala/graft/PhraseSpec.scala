package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexStore}
import graft.model.{DocKey, EngineConf, Turn}
import graft.search.Searcher
import graft.tokenize.{GraftNearCount, GraftPhraseCount, Tokenizer}

/** Phrase search: the kernel against a brute-force sliding compare over
  * [[Tokenizer.tokens]], and the end-to-end index-pruned + map-side-confirm
  * pipeline against the same brute force on handcrafted edge cases and the
  * synthetic transcript corpus. */
class PhraseSpec extends SparkTestBase {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")
  private def turn(conv: String, idx: Int, text: String): Turn =
    Turn(conv, idx, "doc", text, null, ts)

  /** Brute force: overlapping occurrences of `words` in the kept stream. */
  private def brute(text: String, words: Seq[String]): Int = {
    val toks = Tokenizer.tokens(text)
    (0 to toks.length - words.length)
      .count(i => words.indices.forall(j => toks(i + j) == words(j)))
  }

  private def bruteSearch(corpus: Seq[Turn], phrase: String)
      : Map[DocKey, Long] = {
    val words = GraftPhraseCount.foldWords(phrase)
    if (words.isEmpty || words.exists(w => w.length < 4 || w.length > 19))
      return Map.empty
    corpus.flatMap { t =>
      val c = brute(t.text, words)
      if (c > 0) Some(DocKey(t.conv_id, t.turn_idx) -> c.toLong) else None
    }.toMap
  }

  // edge-case corpus: adjacency across dropped words, overlap, final-token
  // rule, repeated phrases, a doc that has both words but never adjacent
  private val edge = Seq(
    turn("c0", 0, "alpha of bravo words"),           // 'of' dropped: adjacent
    turn("c1", 0, "alpha alpha alpha words"),        // overlap: 'alpha alpha' x2
    turn("c2", 0, "alpha bravo and alpha bravo"),    // two occurrences
    turn("c3", 0, "alpha words bravo"),              // both present, not adjacent
    turn("c4", 0, "words alpha very long bravo"),    // 'very'/'long' 4ch dropped
    turn("c5", 0, "bravo alpha"),                    // reversed
    turn("c6", 0, "words ending alpha part"),        // 'part' kept only as FINAL
    turn("c7", 0, "alpha part words"),               // 'part' interior: dropped
    turn("c8", 0, ""),                               // empty
    turn("c9", 0, "alpha"))                          // single word doc

  private lazy val edgeIdx: String = {
    val dir = tmpDir("graft-phrase-idx")
    IndexBuilder.build(spark, spark.createDataset(edge), dir)
    dir
  }
  private lazy val edgeSearcher =
    new Searcher(spark, new IndexStore(edgeIdx))

  private def engine(searcher: Searcher, corpus: Seq[Turn], phrase: String)
      : Map[DocKey, Long] =
    searcher.searchPhrase(spark.createDataset(corpus), phrase)
      .collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap

  test("kernel: brute-force identity on adversarial strings") {
    val texts = Seq(
      "alpha of bravo", "alpha alpha alpha", "", "short", null,
      "ALPHA!!BRAVO charlie", "alpha" + Tokenizer.FileEnd + "bravo alpha bravo",
      "àlphä bravo", "alpha  bravo", "x" * 300 + " alpha bravo")
    val phrases = Seq(Seq("alpha"), Seq("alpha", "bravo"),
      Seq("alpha", "alpha"), Seq("bravo", "alpha"), Seq("charlie"))
    for (t <- texts; p <- phrases) {
      if (t == null) {
        // null text short-circuits at the expression level (nullSafeEval);
        // the static entry is only reached with non-null input
      } else {
        assert(GraftPhraseCount.count(
          UTF8String.fromString(t), p.toArray) == brute(t, p),
          s"text='$t' phrase=$p")
      }
    }
  }

  test("kernel: codegen and interpreted eval agree") {
    val df = edge.map(t => (t.conv_id, t.text)).toDF("id", "text")
    def run(): Map[String, Int] = df.selectExpr(
        "id", "graft_phrase_count(text, 'alpha bravo') AS c")
      .as[(String, Int)].collect().toMap
    graft.tokenize.GraftFunctions.register(spark)
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == withCodegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("edge corpus: engine matches brute force for every phrase shape") {
    val phrases = Seq(
      "alpha bravo",   // dropped-word adjacency + multiplicity
      "alpha alpha",   // overlapping
      "bravo alpha",   // order matters
      "alpha part",    // final-token-only second word
      "alpha",         // single word = exact tf
      "words ending alpha") // three words
    for (p <- phrases) {
      assert(engine(edgeSearcher, edge, p) == bruteSearch(edge, p),
        s"phrase '$p'")
    }
  }

  test("unsatisfiable phrases return empty") {
    // 'of' (2ch) can never be a kept token; 20+ch word can never be kept;
    // empty / separator-only phrases have no words
    for (p <- Seq("alpha of", "of", "", "!!!", "a" * 20)) {
      assert(engine(edgeSearcher, edge, p).isEmpty, s"phrase '$p'")
    }
    // a word absent from the dictionary prunes to nothing
    assert(engine(edgeSearcher, edge, "alpha missingword").isEmpty)
  }

  test("phrase with uppercase/accents folds like the tokenizer") {
    assert(engine(edgeSearcher, edge, "ALPHA!!BRAVO") ==
      bruteSearch(edge, "alpha bravo"))
  }

  test("synthetic transcript corpus: brute-force identity") {
    val nConvs = 60
    val corpus = TranscriptGen.local(nConvs)
    val dir = tmpDir("graft-phrase-tg")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, nConvs.toLong, partitions = 4), dir)
    val searcher = new Searcher(spark, new IndexStore(dir))
    // phrases harvested from real adjacent kept-token pairs + negatives
    val streams = corpus.map(t => Tokenizer.tokens(t.text))
    val pairs = streams.filter(_.length >= 2)
      .flatMap(s => s.sliding(2).map(_.mkString(" "))).distinct.take(5)
    val phrases = pairs ++ Seq(TranscriptGen.UniqueWord,
      "which would never adjacency")
    for (p <- phrases) {
      assert(engine(searcher, corpus, p) == bruteSearch(corpus, p),
        s"phrase '$p'")
    }
    searcher.close()
  }

  /** Brute force NEAR: position pairs within d (unordered; i<j if a==b);
    * `ordered` keeps only a-before-b pairs (1 <= j-i <= d). */
  private def bruteNear(text: String, a: String, b: String, d: Int,
      ordered: Boolean = false): Int = {
    val toks = Tokenizer.tokens(text)
    val pa: Seq[Int] =
      toks.zipWithIndex.collect { case (t, i) if t == a => i }.toSeq
    if (a == b)
      pa.combinations(2).count(p => (p(1) - p(0)).abs <= d)
    else {
      val pb: Seq[Int] =
        toks.zipWithIndex.collect { case (t, i) if t == b => i }.toSeq
      if (ordered) (for (i <- pa; j <- pb if j - i >= 1 && j - i <= d)
        yield 1).size
      else (for (i <- pa; j <- pb if (i - j).abs <= d) yield 1).size
    }
  }

  private def engineNear(searcher: Searcher, corpus: Seq[Turn],
      words: String, d: Int): Map[DocKey, Long] =
    searcher.searchNear(spark.createDataset(corpus), words, d)
      .collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap

  test("NEAR kernel: brute-force identity incl. repeated-word case") {
    val texts = Seq(
      "alpha words bravo", "alpha bravo", "bravo words words alpha",
      "alpha alpha alpha alpha", "alpha words words words words bravo",
      "", "alpha", "alpha bravo alpha bravo alpha")
    val cases = Seq(("alpha", "bravo", 1), ("alpha", "bravo", 3),
      ("alpha", "alpha", 2), ("bravo", "alpha", 2), ("alpha", "charlie", 5))
    for (t <- texts; (a, b, d) <- cases; ord <- Seq(false, true)) {
      assert(GraftNearCount.count(UTF8String.fromString(t), a, b, d, ord) ==
        bruteNear(t, a, b, d, ord), s"text='$t' near($a,$b,$d,ord=$ord)")
    }
  }

  test("NEAR search: engine matches brute force; bad queries empty") {
    for (d <- Seq(1, 2, 4); words <- Seq("alpha bravo", "alpha alpha",
        "words alpha")) {
      val Seq(a, b) = words.split(" ").toSeq
      val expected = edge.flatMap { t =>
        val c = bruteNear(t.text, a, b, d)
        if (c > 0) Some(DocKey(t.conv_id, t.turn_idx) -> c.toLong) else None
      }.toMap
      assert(engineNear(edgeSearcher, edge, words, d) == expected,
        s"near($words, $d)")
    }
    // ordered (ONEAR/BEFORE): engine == brute across d, and direction
    // matters — "bravo alpha" on the reversed doc differs from unordered
    for (d <- Seq(1, 2, 4); words <- Seq("alpha bravo", "bravo alpha")) {
      val Seq(a, b) = words.split(" ").toSeq
      val expected = edge.flatMap { t =>
        val c = bruteNear(t.text, a, b, d, ordered = true)
        if (c > 0) Some(DocKey(t.conv_id, t.turn_idx) -> c.toLong) else None
      }.toMap
      val got = edgeSearcher.searchNear(spark.createDataset(edge), words, d,
          ordered = true).collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap
      assert(got == expected, s"onear($words, $d)")
    }
    // c5 "bravo alpha": ordered alpha-before-bravo misses it, the
    // reversed query hits it — the asymmetry the unordered op erases
    val fwd = edgeSearcher.searchNear(spark.createDataset(edge),
        "alpha bravo", 2, ordered = true).collect().map {
      case Row(c: String, t: Int, _) => DocKey(c, t) }.toSet
    val rev = edgeSearcher.searchNear(spark.createDataset(edge),
        "bravo alpha", 2, ordered = true).collect().map {
      case Row(c: String, t: Int, _) => DocKey(c, t) }.toSet
    assert(!fwd(DocKey("c5", 0)) && rev(DocKey("c5", 0)))
    // one word, three words, an infeasible word, d < 1 → empty
    assert(engineNear(edgeSearcher, edge, "alpha", 3).isEmpty)
    assert(engineNear(edgeSearcher, edge, "alpha bravo words", 3).isEmpty)
    assert(engineNear(edgeSearcher, edge, "alpha of", 3).isEmpty)
    assert(engineNear(edgeSearcher, edge, "alpha bravo", 0).isEmpty)
  }

  /** Brute force n-word anchor NEAR: positions of words.head with every
    * other word somewhere within ±d. */
  private def bruteNearAll(text: String, words: Seq[String], d: Int): Int = {
    val toks = Tokenizer.tokens(text)
    def pos(w: String): Seq[Int] =
      toks.zipWithIndex.collect { case (t, i) if t == w => i }.toSeq
    pos(words.head).count(p =>
      words.tail.forall(w => pos(w).exists(q => (q - p).abs <= d)))
  }

  private def engineNearAll(searcher: Searcher, corpus: Seq[Turn],
      words: String, d: Int): Map[DocKey, Long] =
    searcher.searchNearAll(spark.createDataset(corpus), words, d)
      .collect().map {
        case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
      }.toMap

  test("NEAR-all kernel: brute-force identity; codegen parity") {
    import graft.tokenize.GraftNearAllCount
    val texts = Seq(
      "alpha words bravo", "alpha bravo words alpha",
      "bravo words alpha words bravo", "alpha alpha bravo words",
      "", "words bravo", "alpha charlie bravo words charlie",
      "words words words alpha words words bravo")
    val cases = Seq(
      (Array("alpha", "bravo"), 1), (Array("alpha", "bravo", "words"), 2),
      (Array("words", "alpha", "bravo"), 3), (Array("bravo", "alpha"), 4),
      (Array("alpha", "bravo", "delta"), 5))
    for (t <- texts; (ws, d) <- cases) {
      assert(GraftNearAllCount.count(UTF8String.fromString(t), ws, d) ==
        bruteNearAll(t, ws.toSeq, d), s"text='$t' nearall(${ws.toSeq},$d)")
    }
    // codegen and interpreted eval agree
    val df = edge.map(t => (t.conv_id, t.text)).toDF("id", "text")
    def run(): Map[String, Int] = df.selectExpr(
        "id", "graft_nearall_count(text, 'alpha bravo words', 3) AS c")
      .as[(String, Int)].collect().toMap
    graft.tokenize.GraftFunctions.register(spark)
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == withCodegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("NEAR-all search: engine matches brute force; anchor asymmetry") {
    for (d <- Seq(1, 2, 4); words <- Seq("alpha bravo words",
        "words alpha bravo", "alpha bravo", "bravo alpha words")) {
      val ws = GraftPhraseCount.foldWords(words).distinct
      val expected = edge.flatMap { t =>
        val c = bruteNearAll(t.text, ws, d)
        if (c > 0) Some(DocKey(t.conv_id, t.turn_idx) -> c.toLong) else None
      }.toMap
      assert(engineNearAll(edgeSearcher, edge, words, d) == expected,
        s"nearall($words, $d)")
    }
    // anchor semantics: word order changes the COUNT on a doc where the
    // anchor repeats ("alpha alpha alpha words": 3 alpha anchors see
    // words, 1 words anchor sees alpha)
    val rep = engineNearAll(edgeSearcher, edge, "alpha words", 3)
    val revRep = engineNearAll(edgeSearcher, edge, "words alpha", 3)
    assert(rep(DocKey("c1", 0)) == 3L && revRep(DocKey("c1", 0)) == 1L)
    // duplicate words dedupe to one; a single distinct word, an
    // infeasible word, and d < 1 are empty
    assert(engineNearAll(edgeSearcher, edge, "alpha bravo alpha", 2) ==
      engineNearAll(edgeSearcher, edge, "alpha bravo", 2))
    assert(engineNearAll(edgeSearcher, edge, "alpha alpha", 3).isEmpty)
    assert(engineNearAll(edgeSearcher, edge, "alpha of bravo", 3).isEmpty)
    assert(engineNearAll(edgeSearcher, edge, "alpha bravo", 0).isEmpty)
  }

  test("seeded fuzz: phrase and NEAR match brute force on random corpora") {
    // tiny vocab (heavy accidental adjacency), mixed feasible/infeasible
    // word lengths, and FileEnd-marker texts (the fs-corpus shape: the
    // marker flushes the pending token with the FINAL 4..19 rule
    // mid-stream — engine and brute must agree through it)
    val vocab = Array("gamma", "delta", "omega", "sigma", "theta", "ka")
    for (seed <- Seq(7L, 8L, 9L)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0 until 30).map { i =>
        val words = Seq.fill(3 + rnd.nextInt(25))(
          vocab(rnd.nextInt(vocab.length)))
        val text =
          if (i % 7 == 3) words.mkString(" ") + Tokenizer.FileEnd +
            vocab(rnd.nextInt(vocab.length))
          else words.mkString(" ")
        turn(f"f$i%03d", 0, text)
      }
      val dir = tmpDir(s"graft-phrase-fuzz$seed")
      IndexBuilder.build(spark, spark.createDataset(corpus), dir)
      val searcher = new Searcher(spark, new IndexStore(dir))
      for (_ <- 1 to 6) {
        val m = 1 + rnd.nextInt(3)
        val phrase = Seq.fill(m)(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")
        assert(engine(searcher, corpus, phrase) ==
          bruteSearch(corpus, phrase), s"seed=$seed phrase='$phrase'")
      }
      for (_ <- 1 to 4) {
        val a = vocab(rnd.nextInt(vocab.length))
        val b = vocab(rnd.nextInt(vocab.length))
        val d = 1 + rnd.nextInt(5)
        val feasible = Seq(a, b).forall(w => w.length >= 4 && w.length <= 19)
        val expected = if (!feasible) Map.empty[DocKey, Long]
          else corpus.flatMap { t =>
            val c = bruteNear(t.text, a, b, d)
            if (c > 0) Some(DocKey(t.conv_id, t.turn_idx) -> c.toLong)
            else None
          }.toMap
        assert(engineNear(searcher, corpus, s"$a $b", d) == expected,
          s"seed=$seed near($a,$b,$d)")
      }
      for (_ <- 1 to 4) {
        val n = 2 + rnd.nextInt(3)
        val ws = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
        val d = 1 + rnd.nextInt(5)
        val distinct = ws.distinct
        val feasible = distinct.length >= 2 &&
          distinct.forall(w => w.length >= 4 && w.length <= 19)
        val expected = if (!feasible) Map.empty[DocKey, Long]
          else corpus.flatMap { t =>
            val c = bruteNearAll(t.text, distinct, d)
            if (c > 0) Some(DocKey(t.conv_id, t.turn_idx) -> c.toLong)
            else None
          }.toMap
        assert(engineNearAll(searcher, corpus, ws.mkString(" "), d) ==
          expected, s"seed=$seed nearall($ws,$d)")
      }
      searcher.close()
    }
  }

  test("rewritePhrases: sentinels, passthrough, collision, unterminated") {
    import Searcher._
    PhraseSpec.checkExtRows(Seq(
      ("no quotes here", "no quotes here", Nil),
      ("'alpha bravo' AND words", "$0 AND words", Seq(Phrase("alpha bravo"))),
      ("'a b' OR 'c d'", "$0 OR $1", Seq(Phrase("a b"), Phrase("c d"))),
      ("alpha 'unclosed bravo", "alpha 'unclosed bravo", Nil),
      ("graftphraseqa OR 'x y'", "graftphraseqa OR $0", Seq(Phrase("x y")))))
  }

  test("rewriteSlop: sentinels, spaced tilde, plain phrases, cap") {
    import Searcher._
    // ~digits right after the closing quote, clamped by value; a spaced
    // tilde leaves a plain phrase
    PhraseSpec.checkExtRows(Seq(
      ("'alpha bravo'~3 AND words", "$0 AND words",
        Seq(Slop("alpha bravo", 3))),
      ("'alpha bravo' ~3", "$0 ~3", Seq(Phrase("alpha bravo"))),
      ("'alpha bravo' AND 'c d'~2", "$0 AND $1",
        Seq(Phrase("alpha bravo"), Slop("c d", 2))),
      ("alpha 'unclosed~3", "alpha 'unclosed~3", Nil),
      ("'alpha bravo'~123456789", "$0", Seq(Slop("alpha bravo", 9999))),
      ("'alpha bravo'~00003", "$0", Seq(Slop("alpha bravo", 3))),
      ("'alpha bravo'~000000000003", "$0", Seq(Slop("alpha bravo", 3))),
      ("'alpha bravo'~99999999999999999999999", "$0",
        Seq(Slop("alpha bravo", 9999))),
      ("graftslopqa 'a b'~1", "graftslopqa $0", Seq(Slop("a b", 1))),
      ("'alpha bravo'~2 OR 'c d' OR ~wordz", "$0 OR $1 OR $2",
        Seq(Slop("alpha bravo", 2), Phrase("c d"), Fuzzy("wordz")))))
  }

  test("parseExtended: every extended form as one typed term (table)") {
    import Searcher._
    // the per-kind rows are the rewritePhrases / rewriteSlop tests here,
    // FuzzySearchSpec's rewriteFuzzy and BoostSpec's rewriteBoost
    PhraseSpec.checkExtRows(Seq(
      // plain reference grammar passes through
      ("plain (query AND words)", "plain (query AND words)", Nil),
      // a double-quoted word is opaque: a ' or ~ inside it is its text
      ("\"it's ~word\" AND 'a b'", "\"it's ~word\" AND $0", Seq(Phrase("a b"))),
      // a word spelling the first sentinel, in any case or accenting,
      // moves the base
      ("GRAFTEXTQA OR 'x y'", "GRAFTEXTQA OR $0", Seq(Phrase("x y"))),
      ("\"gräftextqa\" OR 'x y'", "\"gräftextqa\" OR $0", Seq(Phrase("x y")))))
    // the base grows past every folded spelling of it
    assert(parseExtended("GRAFTEXTQA 'x y'")._2.keys.head
      .startsWith(SentinelBase + "q"))
    assert(parseExtended(null) == ((null, Map.empty)))
  }

  test("a user word spelling a sentinel counts like the phrase alone") {
    def run(q: String): Map[DocKey, Long] =
      edgeSearcher.searchCountWithPhrases(spark.createDataset(edge), q)
        .collect().map {
          case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
        }.toMap
    val alone = run("'alpha bravo'")
    assert(alone.nonEmpty)
    // the scanner's first sentinel and another sentinel-shaped word,
    // uppercase and accented (À, Ä fold to a), unquoted and quoted
    val first = (Searcher.SentinelBase + "a").toUpperCase
    for (w <- Seq(first, first.replace('A', 'Ä'), "GRAFTPHRASEQA",
        "GRÀFTPHRASEQA", "\"" + first + "\""))
      assert(run(s"$w OR 'alpha bravo'") == alone, w)
  }

  test("phrases compose in the boolean algebra (engine extension)") {
    def run(q: String): Map[DocKey, Long] =
      edgeSearcher.searchCountWithPhrases(spark.createDataset(edge), q)
        .collect().map {
          case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
        }.toMap
    def hasTok(t: Turn, w: String): Boolean =
      Tokenizer.tokens(t.text).contains(w)
    def key(t: Turn): DocKey = DocKey(t.conv_id, t.turn_idx)
    val phraseAB = bruteSearch(edge, "alpha bravo")
    val phraseAA = bruteSearch(edge, "alpha alpha")

    // AND adds counts: phrase occurrences + 1 matched exact word
    assert(run("""'alpha bravo' AND "words"""") == edge.flatMap { t =>
      phraseAB.get(key(t)).filter(_ => hasTok(t, "words"))
        .map(c => key(t) -> (c + 1))
    }.toMap)

    // OR adds counts across two phrase terms
    assert(run("'alpha bravo' OR 'alpha alpha'") ==
      (phraseAB.keySet ++ phraseAA.keySet).map(k =>
        k -> (phraseAB.getOrElse(k, 0L) + phraseAA.getOrElse(k, 0L))).toMap)

    // NOT erases the phrase's docs from a word result
    assert(run(""""alpha" NOT 'alpha bravo'""") == edge.flatMap { t =>
      if (hasTok(t, "alpha") && !phraseAB.contains(key(t)))
        Some(key(t) -> 1L)
      else None
    }.toMap)

    // a query with no phrases behaves exactly like searchCount
    val plain = """"alpha" AND "words""""
    val viaPhrases = run(plain)
    val viaCount = edgeSearcher.searchCount(plain).collect().map {
      case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
    }.toMap
    assert(viaPhrases == viaCount)

    // an unsatisfiable phrase term is an empty operand, not an error
    assert(run("""'alpha of' AND "words"""").isEmpty)
  }

  test("phrase BM25 composes in the boolean algebra") {
    val res = edgeSearcher.searchBm25WithPhrases(spark.createDataset(edge),
        """'alpha bravo' AND "words"""", k = 10)
      .collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s)
      }
    val meta = new IndexStore(edgeIdx).currentMeta
    val phraseHits = bruteSearch(edge, "alpha bravo")
    def key(t: Turn): DocKey = DocKey(t.conv_id, t.turn_idx)
    val dl = edge.map(t => key(t) -> Tokenizer.tokens(t.text).length).toMap
    val wordTf = edge.flatMap { t =>
      val c = Tokenizer.tokens(t.text).count(_ == "words")
      if (c > 0) Some(key(t) -> c) else None
    }.toMap
    def idf(df: Double): Double =
      math.log(1.0 + (meta.numDocs - df + 0.5) / (df + 0.5))
    def tfn(tf: Double, d: Int): Double =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * d / meta.avgdl))
    val expected = phraseHits.flatMap { case (k0, c) =>
      wordTf.get(k0).map { wtf =>
        k0 -> (idf(phraseHits.size) * tfn(c.toDouble, dl(k0)) +
          idf(wordTf.size) * tfn(wtf.toDouble, dl(k0)))
      }
    }
    assert(res.map(_._1).toSet == expected.keySet)
    for ((k0, s) <- res) assert(math.abs(s - expected(k0)) < 1e-12, k0)
    // NOT erases; a plain query scores like the ordinary BM25 algebra path
    val not = edgeSearcher.searchBm25WithPhrases(spark.createDataset(edge),
        """"alpha" NOT 'alpha bravo'""", k = 10)
      .collect().map { case Row(c: String, t: Int, _) => DocKey(c, t) }.toSet
    assert(not.nonEmpty && not.intersect(phraseHits.keySet).isEmpty)
    val plainExt = edgeSearcher.searchBm25WithPhrases(
        spark.createDataset(edge), """"alpha" AND "words"""", k = 10)
      .collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s) }.toMap
    val plainRef = edgeSearcher.searchBm25(""""alpha" AND "words"""",
        k = 10, useWand = false)
      .collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s) }.toMap
    assert(plainExt == plainRef)
  }

  test("slop phrases compose in the boolean count algebra") {
    def run(q: String): Map[DocKey, Long] =
      edgeSearcher.searchCountWithPhrases(spark.createDataset(edge), q)
        .collect().map {
          case Row(c: String, t: Int, n: Long) => DocKey(c, t) -> n
        }.toMap
    def hasTok(t: Turn, w: String): Boolean =
      Tokenizer.tokens(t.text).contains(w)
    def key(t: Turn): DocKey = DocKey(t.conv_id, t.turn_idx)
    def near(a: String, b: String, d: Int): Map[DocKey, Long] =
      edge.flatMap { t =>
        val c = bruteNear(t.text, a, b, d)
        if (c > 0) Some(key(t) -> c.toLong) else None
      }.toMap
    val near2 = near("alpha", "bravo", 2)
    // AND adds counts: near-pair count + 1 matched exact word
    assert(run("""'alpha bravo'~2 AND "words"""") == edge.flatMap { t =>
      near2.get(key(t)).filter(_ => hasTok(t, "words"))
        .map(c => key(t) -> (c + 1))
    }.toMap)
    // OR adds counts across a slop term and an adjacency phrase
    val adj = bruteSearch(edge, "alpha bravo")
    assert(run("'alpha bravo'~2 OR 'alpha bravo'") ==
      (near2.keySet ++ adj.keySet).map(k =>
        k -> (near2.getOrElse(k, 0L) + adj.getOrElse(k, 0L))).toMap)
    // NOT erases the slop term's docs from a word result
    assert(run(""""alpha" NOT 'alpha bravo'~4""") == edge.flatMap { t =>
      if (hasTok(t, "alpha") && !near("alpha", "bravo", 4).contains(key(t)))
        Some(key(t) -> 1L)
      else None
    }.toMap)
    // a 3-word slop phrase routes to the anchor-counting NEAR-all kernel
    val nearAll3 = edge.flatMap { t =>
      val c = bruteNearAll(t.text, Seq("alpha", "bravo", "words"), 2)
      if (c > 0) Some(key(t) -> c.toLong) else None
    }.toMap
    assert(run("""'alpha bravo words'~2 AND "words"""") == edge.flatMap { t =>
      nearAll3.get(key(t)).filter(_ => hasTok(t, "words"))
        .map(c => key(t) -> (c + 1))
    }.toMap)
    // duplicated words collapse BEFORE the 2-vs-n dispatch: 'a b a'~d
    // keeps pair counting, identical to 'a b'~d (review finding)
    assert(run("""'alpha bravo alpha'~2 AND "words"""") ==
      run("""'alpha bravo'~2 AND "words""""))
    // an all-duplicate phrase counts like the same-word pair 'a a'~d
    assert(run("""'alpha alpha alpha'~2 AND "words"""") ==
      run("""'alpha alpha'~2 AND "words""""))
    // d=0 and an infeasible word: empty operands
    assert(run("""'alpha bravo'~0 AND "words"""").isEmpty)
    assert(run("""'alpha of'~2 AND "words"""").isEmpty)
  }

  test("slop phrase BM25 composes in the boolean algebra") {
    val res = edgeSearcher.searchBm25WithPhrases(spark.createDataset(edge),
        """'alpha bravo'~2 AND "words"""", k = 10)
      .collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s)
      }
    val meta = new IndexStore(edgeIdx).currentMeta
    def key(t: Turn): DocKey = DocKey(t.conv_id, t.turn_idx)
    val nearHits = edge.flatMap { t =>
      val c = bruteNear(t.text, "alpha", "bravo", 2)
      if (c > 0) Some(key(t) -> c.toLong) else None
    }.toMap
    val dl = edge.map(t => key(t) -> Tokenizer.tokens(t.text).length).toMap
    val wordTf = edge.flatMap { t =>
      val c = Tokenizer.tokens(t.text).count(_ == "words")
      if (c > 0) Some(key(t) -> c) else None
    }.toMap
    def idf(df: Double): Double =
      math.log(1.0 + (meta.numDocs - df + 0.5) / (df + 0.5))
    def tfn(tf: Double, d: Int): Double =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * d / meta.avgdl))
    val expected = nearHits.flatMap { case (k0, c) =>
      wordTf.get(k0).map { wtf =>
        k0 -> (idf(nearHits.size) * tfn(c.toDouble, dl(k0)) +
          idf(wordTf.size) * tfn(wtf.toDouble, dl(k0)))
      }
    }
    assert(res.map(_._1).toSet == expected.keySet)
    for ((k0, s) <- res) assert(math.abs(s - expected(k0)) < 1e-12, k0)
    assert(res.nonEmpty)
  }

  test("SearchMain resolve: phrase/near modes without --corpus fail fast") {
    import graft.app.SearchMain
    assert(SearchMain.resolve(Array("/idx", "q", "--mode=phrase")).isLeft)
    assert(SearchMain.resolve(Array("/idx", "q", "--mode=phrase-bm25")).isLeft)
    assert(SearchMain.resolve(Array("/idx", "q", "--mode=near")).isLeft)
    assert(SearchMain.resolve(
      Array("/idx", "q", "--mode=phrase", "--corpus=gen:5")).isRight)
    assert(SearchMain.resolve(
      Array("/idx", "q", "--mode=near", "--corpus=gen:5", "--dist=2"))
      .exists(_.dist == 2))
    assert(SearchMain.resolve(Array("/idx", "q")).isRight)
  }

  test("phrase BM25: score formula and ranking match brute force") {
    val corpus = edge
    val res = edgeSearcher
      .searchPhraseBm25(spark.createDataset(corpus), "alpha bravo", k = 10)
      .collect().map {
        case Row(c: String, t: Int, s: Double) => (DocKey(c, t), s)
      }
    val hits = bruteSearch(corpus, "alpha bravo")
    val meta = new IndexStore(edgeIdx).currentMeta
    val df = hits.size.toDouble
    val idf = math.log(
      1.0 + (meta.numDocs.toDouble - df + 0.5) / (df + 0.5))
    val dl = corpus.map(t =>
      DocKey(t.conv_id, t.turn_idx) -> Tokenizer.tokens(t.text).length).toMap
    val expected = hits.map { case (k, tf) =>
      k -> idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * dl(k) / meta.avgdl))
    }
    assert(res.map(_._1).toSet == expected.keySet)
    for ((k, s) <- res) assert(math.abs(s - expected(k)) < 1e-12, k)
    // ranked by score desc, doc order tie-break
    assert(res.map(_._2).toSeq == res.map(_._2).toSeq.sorted(
      Ordering[Double].reverse))
  }
}

object PhraseSpec {
  import org.scalatest.Assertions._

  /** Checks [[Searcher.parseExtended]] on rows of (query, rewritten query
    * with `$i` for the i-th sentinel, the typed terms in order). */
  def checkExtRows(rows: Seq[(String, String, Seq[Searcher.Ext])]): Unit =
    for ((q, rewritten, terms) <- rows) {
      val (out, ext) = Searcher.parseExtended(q)
      val folded = q.map(graft.tokenize.CharFold.fold)
      // the sentinels in order of appearance, each an exact-quoted word
      val names = "\"([a-z]+)\"".r.findAllMatchIn(out).map(_.group(1))
        .filter(ext.contains).toSeq
      assert(names.map(ext) == terms, q)
      assert(ext.size == terms.size, q)
      // no row has ten terms, so a sentinel is its base plus one letter
      assert(names.forall(n => !folded.contains(n.dropRight(1))), q)
      val generic = names.zipWithIndex.foldLeft(out) { case (o, (n, i)) =>
        o.replace("\"" + n + "\"", "$" + i) }
      assert(generic == rewritten, q)
    }
}
