package graft.search

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType,
  LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.index.{Codec, IndexMeta, IndexStore}
import graft.model.{EngineConf, Turn}
import graft.tokenize.{CharFold, GraftPhraseCount}

/** Query execution over the index tables.
  *
  * Spark shape (SURVEY.md §3.2): term list (tiny, driver) → dictionary
  * lookup with letter-partition pruning + parquet min/max file skipping (the
  * words_f jump-table analog) → postings join → explode/decode → per-term
  * doc aggregation → pivot to one row per doc → boolean evaluation as one
  * column expression per doc ([[evalHits]]) → ranked output.
  *
  * A Searcher is safe to share across threads: queries build lazy frames
  * and keep no per-query state. Only [[warm]] and [[close]] mutate it (the
  * dictionary and doc-key pins), and they serialize on one lock.
  *
  * `asOf` pins the searcher to an OLDER committed snapshot version —
  * point-in-time search over the LSM store (the Elasticsearch PIT /
  * Iceberg `VERSION AS OF` posture, free by construction here: snapshots
  * are immutable and a merge chain keeps its ancestors' table dirs live).
  * Every query then answers exactly as the index did at that commit:
  * tables, collection stats, AND the tombstone set are all the pinned
  * version's (a delete committed later is invisible; one committed before
  * masks as it did then). Constraints: the version must still be on disk
  * ([[IndexStore.gc]] reclaims snapshots the CURRENT chain no longer
  * references — pin-then-gc is the caller's hazard, as with Iceberg
  * snapshot expiration) and must be ≤ CURRENT (newer dirs are uncommitted
  * staging builds, not readable snapshots).
  */
final class Searcher(spark: SparkSession, store: IndexStore,
    conf: EngineConf = EngineConf.default, asOf: Option[Int] = None) {
  import spark.implicits._

  /** The snapshot version every read below binds to. */
  val version: Int = {
    val cur = store.currentVersion.getOrElse(
      throw new IllegalArgumentException(s"no index snapshot at ${store.root}"))
    asOf match {
      case None => cur
      case Some(v) =>
        require(v >= 1 && v <= cur,
          s"as-of version v$v out of range (committed snapshots: v1..v$cur)")
        require(java.nio.file.Files.exists(
            java.nio.file.Paths.get(store.snapshotDir(v), "meta.json")),
          s"as-of version v$v was garbage-collected from ${store.root}")
        v
    }
  }

  val meta: IndexMeta = store.meta(version)

  // lazy vals: the layered-snapshot readers (parquet listing + schema +
  // layer masking plan) are built once per Searcher and reused across
  // queries — the long-lived-searcher/REPL reuse pattern
  private lazy val dict: DataFrame = store.dictAt(spark, version)
  private lazy val postings: DataFrame = store.postingsAt(spark, version)
  private lazy val docStats: DataFrame = store.docStatsAt(spark, version)

  // tombstone masking (the Lucene live-docs contract, [[graft.index
  // .IndexDeleter]]): deleted docs stop matching IMMEDIATELY — the doc-key
  // resolution join below excludes them, [[maskHits]] guards every
  // rank-then-limit path, and WAND skips them via [[deletedArr]] — while
  // collection statistics (meta.numDocs/avgdl, per-term df) stay as-of the
  // snapshot until compaction purges. An index with no tombstones keeps
  // every plan byte-identical (None short-circuits all three).
  private lazy val deletedIds: Option[DataFrame] =
    store.deletedIdsAt(spark, version)

  /** Tombstones as a sorted array for WAND's per-shard skip check —
    * bounded by deletes-since-compaction, collected once per Searcher. */
  private lazy val deletedArr: Array[Long] = deletedIds match {
    case None => Array.emptyLongArray
    case Some(del) => del.as[Long].collect().sorted
  }

  private lazy val docs: DataFrame = {
    val base = store.docsAt(spark, version)
    deletedIds match {
      case None => base
      case Some(del) => base.join(broadcast(del), Seq("doc_id"), "left_anti")
    }
  }

  /** Drop tombstoned docs from a (doc_id, …) hit frame BEFORE any top-k
    * limit — resolving keys through the masked [[docs]] after a limit
    * would under-fill k instead. */
  private def maskHits(hits: DataFrame): DataFrame = deletedIds match {
    case None => hits
    case Some(del) => hits.join(broadcast(del), Seq("doc_id"), "left_anti")
  }

  // the only mutable state: the warm pins. Queries hold no per-query
  // state, so any number of client threads may share one Searcher; warm()
  // and close() serialize on pinLock, and a warm() racing or following
  // close() must not re-pin frames on a closed Searcher
  private val pinLock = new Object
  private var isClosed = false
  private var dictWarmed = false
  private var docsWarmed = false

  /** Test hook: whether the warm-path dictionary pin is still in effect. */
  private[graft] def warmed: Boolean = dictWarmed

  /** REPL warm path: pin the dictionary in executor memory (the analog of
    * the reference's always-mmapped words.index, docs/Disk-Structure.md).
    * The dictionary is vocabulary-sized — orders of magnitude smaller than
    * postings — so pinning is safe at any corpus scale; postings stay on
    * parquet where letter pruning + min/max skipping bound each query's
    * read. Repeat queries then skip the dict parquet scan entirely.
    *
    * `includeDocs` additionally pins the doc-key table (the paths.index
    * analog — one row per doc, MEMORY_AND_DISK so an executor short on
    * memory degrades to local disk instead of evicting). */
  def warm(includeDocs: Boolean = false): Unit = pinLock.synchronized {
    if (isClosed) return
    if (!dictWarmed) {
      dict.persist(StorageLevel.MEMORY_AND_DISK).count()
      dictWarmed = true
    }
    if (includeDocs && !docsWarmed) {
      docs.persist(StorageLevel.MEMORY_AND_DISK).count()
      docsWarmed = true
    }
  }

  /** Release the warm pins — call when done with the Searcher. */
  def close(): Unit = pinLock.synchronized {
    isClosed = true
    if (dictWarmed) { dict.unpersist(blocking = false); dictWarmed = false }
    if (docsWarmed) { docs.unpersist(blocking = false); docsWarmed = false }
  }

  // the posting decoder as a native Catalyst generator (graft_postings):
  // InternalRows straight from the varint decoder, no UDF boundary
  graft.tokenize.GraftFunctions.register(spark)

  /** Dictionary match predicate for one search word (Q4 semantics including
    * the wildcard min-length quirk, SURVEY.md §7.1.4). Letter equality makes
    * Catalyst prune the letter= partitions. */
  private def matchCond(term: String, isExact: Boolean): Option[Column] = {
    if (term.isEmpty || term.exists(c => c < 'a' || c > 'z')) return None
    val letterC = $"letter" === term.substring(0, 1)
    if (isExact) Some(letterC && $"term" === term)
    else if (term.length <= conf.minCharForMatch) None // quirk: no match
    else Some(letterC && $"term".startsWith(term))
  }

  /** (term_idx, dictionary predicate) for every search word, in order —
    * the one condition list [[matchedWords]], [[coarsePred]] and the
    * synonym path build from. Each synonym of a word joins as an EXACT
    * condition under the word's term_idx. */
  private def matchConds(searchWords: Seq[(String, Boolean)],
      synMap: Map[String, Seq[String]] = Map.empty): Seq[(Int, Column)] =
    searchWords.zipWithIndex.flatMap { case ((t, e), i) =>
      (matchCond(t, e).toSeq ++
        synMap.getOrElse(t, Nil).flatMap(matchCond(_, isExact = true)))
        .map(i -> _)
    }

  /** (term_idx, word, df) for every matched dictionary word of every
    * condition — a single pruned scan of dict for all terms (the
    * reference's shared dictionary scan, app/Index/Index_Search.cpp:99-104).
    * A dictionary word can match several search words (shared prefixes):
    * one pruned dict scan per condition, unioned; Catalyst merges the
    * scans and each branch keeps its partition filter + pushed predicate. */
  private def matchedOf(conds: Seq[(Int, Column)]): DataFrame =
    if (conds.isEmpty)
      spark.emptyDataFrame
        .select(lit(0).as("term_idx"), lit("").as("word"), lit(0L).as("df"))
        .limit(0)
    else conds.map { case (i, c) => dict.filter(c)
        .select(lit(i).as("term_idx"), $"term".as("word"), $"df") }
      .reduce(_ unionByName _)

  /** Coarse postings-scan predicate from the conditions alone — letter
    * equality (partition pruning) plus the pushable equals / startsWith
    * per word (parquet min/max file skipping). None when no word can
    * match. */
  private def coarseOf(conds: Seq[(Int, Column)]): Option[Column] =
    if (conds.isEmpty) None else Some(conds.map(_._2).reduce(_ || _))

  /** [[matchedOf]] over the search words' conditions. */
  def matchedWords(searchWords: Seq[(String, Boolean)]): DataFrame =
    matchedOf(matchConds(searchWords))

  private def coarsePred(searchWords: Seq[(String, Boolean)])
      : Option[Column] =
    coarseOf(matchConds(searchWords))

  /** Exploded postings of all matched words:
    * (term_idx, word, df, doc_id, tf, dl). `coarse` pre-prunes the
    * postings scan (letter partitions + pushed term predicates) before the
    * join refines to the exact matched-word set. */
  def matchedPostings(matched: DataFrame,
      coarse: Option[Column] = None): DataFrame = {
    val p = coarse.map(postings.filter).getOrElse(postings)
      .select($"letter", $"term".as("word"), $"bytes")
    matched
      .withColumn("letter", substring($"word", 1, 1))
      .join(p, Seq("letter", "word"))
      .select($"term_idx", $"word", $"df", expr("graft_postings(bytes)"))
  }

  private def emptyDf(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** The boolean evaluator's algebra over nullable per-doc columns, NULL
    * meaning "doc absent": `or` keeps either side and adds where both are
    * present, `and` adds where both are present, `not` keeps the left side
    * where the right is absent — the reference's left fold
    * (Search.cpp:144-281), one document at a time. `plus` is `+` for
    * counts and scores, `concat` for retained term lists
    * ([[explainScore]]). Each node becomes a named column appended to
    * `nodes`, and later nodes read it by name: the projection chain grows
    * linearly with the query, where one nested expression would repeat
    * both operands of every `or` and grow exponentially. An absent
    * operand (an empty subresult) folds away without a node. */
  private final class ColumnAlgebra(leaf: Int => Column,
      plus: (Column, Column) => Column,
      nodes: ArrayBuffer[(String, Column)]) extends ResultAlgebra[Column] {
    def empty: Column = Absent
    def term(i: Int): Column = leaf(i)
    private def node(c: Column): Column = {
      val name = s"_n${nodes.length}"
      nodes += name -> c
      col(name)
    }
    def or(a: Column, x: Column): Column =
      if (a eq Absent) x else if (x eq Absent) a
      else node(coalesce(plus(a, x), a, x))
    def and(a: Column, x: Column): Column =
      if ((a eq Absent) || (x eq Absent)) Absent else node(plus(a, x))
    def not(a: Column, x: Column): Column =
      if ((a eq Absent) || (x eq Absent)) a else node(when(x.isNull, a))
  }

  private val Absent: Column = lit(null)

  /** THE boolean evaluator, for one query or a batch. The
    * (term_idx, doc_id, v) per-term frame pivots to one row per doc —
    * `t<i>` = the doc's value for term i, NULL when absent; `max` is
    * exact because that frame holds one row per (term, doc) — and every
    * query's tree evaluates over that row with [[ColumnAlgebra]].
    * `queries` are (query_id, parsed, term offset): a batch shares one
    * global term space. Every node adds its two operands in the order of
    * the reference's fold, so counts and scores are bit-identical to
    * evaluating the fold over per-term maps. Returns
    * (query_id, doc_id, v) for every hit; None when no query can match. */
  private def evalHits(perTerm: DataFrame, nTerms: Int,
      queries: Seq[(Int, QueryParser.Parsed, Int)],
      leaf: Int => Column = i => col(s"t$i"),
      plus: (Column, Column) => Column = _ + _): Option[DataFrame] = {
    val nodes = ArrayBuffer.empty[(String, Column)]
    val results = queries.flatMap { case (qi, p, off) =>
      p.eval(new ColumnAlgebra(i => leaf(i + off), plus, nodes))
        .filterNot(_ eq Absent).map(qi -> _)
    }
    if (results.isEmpty) return None
    val perDoc = perTerm.groupBy($"doc_id").agg(
      max(when($"term_idx" === 0, $"v")).as("t0"),
      (1 until nTerms).map(i =>
        max(when($"term_idx" === i, $"v")).as(s"t$i")): _*)
    val evaluated = nodes.foldLeft(perDoc) { case (df, (n, c)) =>
      df.withColumn(n, c) }
    // hits leave through a generator: a filter on a result column would be
    // pushed down the node chain, inlining every node into the predicate —
    // the exponential expression the chain exists to avoid
    Some(evaluated
      .select($"doc_id", explode(array(results.map { case (qi, v) =>
        struct(lit(qi).as("query_id"), v.as("v")) }: _*)).as("h"))
      .filter($"h.v".isNotNull)
      .select($"h.query_id".as("query_id"), $"doc_id", $"h.v".as("v")))
  }

  /** (doc_id, v) hits of one query over its per-term frame. */
  private def hitsOf(parsed: QueryParser.Parsed, perTerm: DataFrame)
      : DataFrame =
    evalHits(perTerm, parsed.searchWords.length, Seq((0, parsed, 0)))
      .map(_.select($"doc_id", $"v"))
      .getOrElse(emptyDf("doc_id" -> LongType, "v" -> DoubleType))

  /** Count hits → (conv_id, turn_idx, cnt) ranked like the reference's
    * output with the deterministic tie-break. */
  private def countResult(hits: DataFrame): DataFrame =
    hits.join(docs, Seq("doc_id"))
      .select($"conv_id", $"turn_idx", $"v".cast("long").as("cnt"))
      .orderBy($"cnt".desc, $"conv_id", $"turn_idx")

  /** Batch count execution: N boolean queries answered in ONE index pass —
    * the dictionary scan prunes for the UNION of every query's words, the
    * postings scan and decode run once under the combined coarse
    * predicate, and every query's boolean tree evaluates over the same
    * per-doc pivot (term indexes shifted per query). Postings decode — the
    * expensive step — happens once per BATCH, not once per query: the
    * workload shape of a scheduled analytics run over a 100-TB index,
    * where job-launch and scan cost must amortize across the query set
    * (the bench's qps phase measured 3-4 job launches as the single-query
    * latency floor).
    *
    * Output: (query_id, conv_id, turn_idx, cnt) — query_id is the input
    * position; a query that is invalid or has no hits contributes zero
    * rows (the reference's malformed-query tolerance, per query). */
  def searchCountBatch(queries: Seq[String]): DataFrame =
    batchHits(queries, countAgg)
      .map(_.join(docs, Seq("doc_id"))
        .select($"query_id", $"conv_id", $"turn_idx",
          $"v".cast("long").as("cnt"))
        .orderBy($"query_id", $"cnt".desc, $"conv_id", $"turn_idx"))
      .getOrElse(emptyBatchResult("cnt"))

  /** The scoring sibling of [[searchCountBatch]]: N BM25 queries (any
    * boolean shape) in ONE index pass — the shared pivot carries BM25
    * contributions, and each query ranks its own top k (score desc, doc
    * id; tombstones masked before the rank) in one window over the batch.
    * The DataFrame-algebra path throughout (the batch analog of
    * [[searchBm25Df]]): one shared decode beats per-query WAND early
    * termination when the queries ARRIVE as a batch, because the postings
    * read amortizes across the whole set. */
  def searchBm25Batch(queries: Seq[String], k: Int): DataFrame = {
    if (k < 1) return emptyBatchResult("score")
    val rank = Window.partitionBy($"query_id").orderBy($"v".desc, $"doc_id")
    batchHits(queries, bm25Agg)
      .map(h => maskHits(h)
        .withColumn("rank", row_number().over(rank))
        .filter($"rank" <= k)
        .join(docs, Seq("doc_id"))
        .select($"query_id", $"conv_id", $"turn_idx", $"v".as("score"),
          $"doc_id")
        .orderBy($"query_id", $"score".desc, $"doc_id")
        .drop("doc_id"))
      .getOrElse(emptyBatchResult("score"))
  }

  /** Score explanation (the Lucene `explain` / Elasticsearch `_explain`
    * posture): the per-matched-word BM25 breakdown of ONE document under a
    * query — (word, tf, df, idf, tfnorm, contribution), contribution =
    * idf·tfnorm, built from the SAME [[bm25Idf]]/[[bm25TfNorm]] blocks
    * every scoring path uses, so an explanation can never drift from the
    * ranking it explains. The boolean structure is honored exactly like
    * the ranking honors it: the doc's retained term indexes come from the
    * same evaluator ([[evalHits]]) with term lists concatenated where
    * values would add, so a document OUTSIDE the query's hit set explains
    * to empty (Lucene's match=false), a word whose value the evaluation
    * discarded (NOT'd away — even when the doc is a hit through another OR
    * branch) never appears, and a word matched by several surviving
    * search terms folds its multiplicity into the contribution (it scored
    * once per match), so the contributions ALWAYS sum to the doc's actual
    * score. The plan is a normal query-shaped index read (letter-pruned
    * dict scan + pushed postings predicates) narrowed to the one doc by a
    * one-row broadcast join — never a full postings pass, and no driver
    * job at call time (the method stays lazy like every other Searcher
    * API). Unknown key, malformed query, or a non-hit doc → empty (the
    * tolerance posture). */
  def explainScore(query: String, convId: String, turnIdx: Int): DataFrame = {
    val empty = emptyDf("word" -> StringType, "tf" -> DoubleType,
      "df" -> DoubleType, "idf" -> DoubleType, "tfnorm" -> DoubleType,
      "contribution" -> DoubleType)
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid || parsed.searchWords.isEmpty) return empty
    val mp = matchedPostings(matchedWords(parsed.searchWords),
      coarsePred(parsed.searchWords))
    // the doc key as a one-row broadcast; tombstone-masked docs are not
    // hits, so a deleted doc explains to empty like the ranking treats it
    val cursorId = docs
      .filter($"conv_id" === convId && $"turn_idx" === turnIdx)
      .select($"doc_id".as("a_id"))
    val mine = evalHits(
        countAgg(mp).join(broadcast(cursorId), $"doc_id" === $"a_id"),
        parsed.searchWords.length, Seq((0, parsed, 0)),
        leaf = i => when(col(s"t$i").isNotNull, array(lit(i))),
        plus = concat(_, _)) match {
      case None => return empty
      case Some(h) => h.select($"doc_id", explode($"v").as("term_idx"))
    }
    mp.join(broadcast(mine), Seq("term_idx", "doc_id"))
      .select($"word", $"tf".cast("double").as("tf"),
        $"df".cast("double").as("df"), $"dl")
      // one row per distinct word; a word retained under several search
      // terms scored once per term — fold that into the contribution
      .groupBy($"word", $"tf", $"df", $"dl")
      .agg(count(lit(1)).cast("double").as("times"))
      .withColumn("idf", bm25Idf($"df"))
      .withColumn("tfnorm", bm25TfNorm($"tf"))
      .withColumn("contribution", $"idf" * $"tfnorm" * $"times")
      .select($"word", $"tf", $"df", $"idf", $"tfnorm", $"contribution")
      .orderBy($"word")
  }

  private def emptyBatchResult(valCol: String): DataFrame =
    emptyDf(("query_id" -> IntegerType) +: resultFields(valCol): _*)

  /** Shared batch scaffolding: parse every query, shift each query's term
    * indexes into one global space, build ONE per-term frame over the
    * union of all matched words (`perTermOf` maps the shared
    * matched-postings frame to (term_idx, doc_id, v)), and evaluate every
    * query over it. (query_id, doc_id, v); None ⇔ no query contributes
    * anything. */
  private def batchHits(queries: Seq[String],
      perTermOf: DataFrame => DataFrame): Option[DataFrame] = {
    val parsedAll =
      queries.map(q => QueryParser.parse("(" + q + ")", conf.exactMatch))
    // global term index space: query qi's local term j ⇒ offsets(qi) + j
    // (an invalid parse has no search words)
    val offsets = parsedAll.scanLeft(0)(_ + _.searchWords.length)
    val allWords = parsedAll.flatMap(_.searchWords)
    if (allWords.isEmpty) return None
    evalHits(perTermOf(matchedPostings(matchedWords(allWords),
        coarsePred(allWords))), allWords.length,
      parsedAll.zipWithIndex.map { case (p, qi) => (qi, p, offsets(qi)) })
  }

  /** Count-parity search: (conv_id, turn_idx, cnt) ranked like the
    * reference's output with the deterministic tie-break. */
  def searchCount(query: String): DataFrame = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid) return emptyResult("cnt")
    countResult(hitsOf(parsed, countAgg(matchedPostings(
      matchedWords(parsed.searchWords), coarsePred(parsed.searchWords)))))
  }

  /** Shared BM25 building blocks — ONE definition each, so the scoring
    * paths (WAND dispatch weights, DataFrame algebra, phrase virtual
    * terms) can never drift apart in the last ulp and silently break the
    * hash-exact oracle contract (r5 review finding). `bm25TfNorm` reads
    * the frame's `dl` column. */
  private def bm25Idf(df: Column): Column = {
    val n = lit(meta.numDocs.toDouble)
    log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
  }

  private def bm25TfNorm(tf: Column): Column = {
    val avgdl = if (meta.avgdl == 0) lit(1.0) else lit(meta.avgdl)
    (tf * lit(conf.k1 + 1)) /
      (tf + lit(conf.k1) * (lit(1 - conf.b) + lit(conf.b) * $"dl" / avgdl))
  }

  /** Shared ranked-result tail: top-k by score with the doc-id tie-break,
    * keys resolved against the docs table (tombstones masked pre-limit). */
  private def rankTopK(res: DataFrame, k: Int): DataFrame =
    maskHits(res).orderBy($"v".desc, $"doc_id").limit(k)
      .join(docs, Seq("doc_id"))
      .select($"conv_id", $"turn_idx", $"v".as("score"), $"doc_id")
      .orderBy($"score".desc, $"doc_id")
      .drop("doc_id")

  /** BM25 search over the same boolean structure (north-star scoring).
    *
    * Pure-OR queries (the common top-k case) run distributed block-max WAND
    * over the compressed parts ([[Wand]]); boolean-structured queries fall
    * back to the DataFrame algebra with BM25 contributions. WAND scores
    * each search word once, while the reference fold adds a word once per
    * reference, so a query that names a word twice (`which OR which`) or
    * never (an unquoted word under exactMatch) takes the algebra too. */
  def searchBm25(query: String, k: Int, useWand: Boolean = true): DataFrame = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid) return emptyResult("score")
    val pureOr = parsed.items.forall {
      case QueryParser.OpItem(op) => op == QueryParser.OR
      case _ => true
    }
    val refs = parsed.items.collect { case QueryParser.TermRef(i) => i }
    if (useWand && pureOr && parsed.searchWords.nonEmpty &&
        refs.sorted == parsed.searchWords.indices)
      return searchBm25Wand(parsed, k)
    searchBm25Df(parsed, k)
  }

  /** WAND path: matched words collapse to a (word, weight) frame with
    * weight = idf × multiplicity (a word matched by two search terms
    * contributes twice, like two OR'd per-term passes); the frame stays
    * distributed — [[Wand.topK]] broadcast-joins it against the postings
    * scan, so wide wildcards never collect to the driver. */
  private def searchBm25Wand(parsed: QueryParser.Parsed, k: Int): DataFrame = {
    val words = matchedWords(parsed.searchWords)
      .groupBy($"word").agg(count(lit(1)).as("mult"), first($"df").as("df"))
      .select($"word", (bm25Idf($"df") * $"mult").as("weight"))
    // coarse scan predicate from the query words alone (no job): letter
    // equality prunes the letter= partitions, equals/startsWith push to
    // parquet min/max file skipping; the broadcast join refines to the
    // exact matched-word set with its weight
    val coarse = coarsePred(parsed.searchWords)
    if (coarse.isEmpty) return emptyResult("score")
    wandTopK(postings.filter(coarse.get), words, k)
  }

  /** Block-max WAND top-k over the `scanned` postings for the (word,
    * weight) frame `words`, keys resolved against the docs table and
    * ranked (score desc, doc id). `drop` removes matching docs after WAND:
    * WAND then ranks k + 1, since the one dropped doc (a seed) may hold
    * a slot. */
  private def wandTopK(scanned: DataFrame, words: DataFrame, k: Int,
      drop: Option[Column] = None): DataFrame = {
    val top = Wand.topK(spark, scanned, words, meta.maxDocId + 1,
      meta.avgdl, conf, if (drop.isEmpty) k else k + 1, exclude = deletedArr)
    // the top-k side is k rows — broadcast it so resolving doc keys is a
    // map-side lookup over the docs scan, not a sort-merge join
    val resolved = broadcast(top).join(docs, Seq("doc_id"))
    drop.fold(resolved)(d => resolved.filter(!d))
      .select($"conv_id", $"turn_idx", $"score", $"doc_id")
      .orderBy($"score".desc, $"doc_id").limit(k).drop("doc_id")
  }

  /** The (term_idx, doc_id, v) BM25 per-term frame — ONE definition for
    * the single-query DataFrame-algebra scoring paths ([[searchBm25Df]],
    * [[searchBm25Page]], [[searchBm25Where]]), so the per-term
    * shape cannot drift between them (the same reason [[bm25Idf]]/
    * [[bm25TfNorm]] are centralized). */
  private def bm25PerTerm(searchWords: Seq[(String, Boolean)]): DataFrame =
    bm25Agg(matchedPostings(matchedWords(searchWords),
      coarsePred(searchWords)))

  /** The two per-term aggregations over a matched-postings frame — ONE
    * definition each, shared by the single-query paths ([[searchCount]],
    * [[bm25PerTerm]]) and the batch paths ([[searchCountBatch]],
    * [[searchBm25Batch]]), so batch results cannot drift from the
    * single-query results they must equal. */
  private def countAgg(mp: DataFrame): DataFrame =
    // per search word: docs counted once per matched dictionary word (Q6)
    mp.groupBy($"term_idx", $"doc_id")
      .agg(count(lit(1)).cast("double").as("v"))
  private def bm25Agg(mp: DataFrame): DataFrame =
    mp.withColumn("c", bm25Idf($"df") * bm25TfNorm($"tf"))
      .groupBy($"term_idx", $"doc_id").agg(sum($"c").as("v"))

  private def searchBm25Df(parsed: QueryParser.Parsed, k: Int): DataFrame =
    rankTopK(hitsOf(parsed, bm25PerTerm(parsed.searchWords)), k)

  /** Keyset pagination over the BM25 ranking (the Elasticsearch
    * `search_after` posture): page 1 with `after = None`, then each next
    * page passes the previous page's LAST doc key — the page is the next k
    * results STRICTLY after that cursor in the ranking's total order
    * (score desc, doc key asc). Unlike an OFFSET, a page never
    * materializes or ranks the rows before the cursor: the cursor becomes
    * a filter on the scored frame, so page depth costs nothing extra —
    * every page is one scoring pass + its own top-k.
    *
    * The cursor is the doc KEY only; the cursor doc's score re-derives
    * from this query's own scored frame INSIDE the page's single action (a
    * broadcast-join chain, no driver collect — the method stays lazy like
    * every other Searcher API), so the walk is bit-stable by construction:
    * the cursor comparison and the page read the same scoring plan, the
    * caller never round-trips a floating-point score, and pages cannot
    * shift even though the WAND top-k path may differ from the
    * DataFrame-algebra path by 1 ULP (the summation-order artifact this
    * API exists to be immune to: all pages of a walk score through the
    * SAME algebra path; WAND stays the one-shot top-k engine). A cursor
    * key absent from the index or the hit set returns empty (the
    * malformed-input tolerance). */
  def searchBm25Page(query: String, k: Int,
      after: Option[(String, Int)] = None): DataFrame = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid || k < 1) return emptyResult("score")
    val scored = hitsOf(parsed, bm25PerTerm(parsed.searchWords))
    val pageBase = after match {
      case None => scored
      case Some((aConv, aTurn)) =>
        // doc_id is assigned in (conv_id, turn_idx) order, so the internal
        // tie-break key resolves from the caller-visible cursor by a
        // pushed-equality docs lookup (≤ 1 row, broadcast) — against the
        // UNMASKED doc table: a boundary doc tombstoned mid-walk must
        // still resolve so the walk continues (results stay masked by
        // rankTopK; a compaction PURGE removes the doc's postings, so the
        // cursor then reads as absent — the documented empty). The
        // cursor's own score rides a second one-row broadcast off the
        // SAME scored frame — an absent key or non-hit cursor makes the
        // inner join empty, which is exactly the documented empty result
        val cursorId = store.docsAt(spark, version)
          .filter($"conv_id" === aConv && $"turn_idx" === aTurn)
          .select($"doc_id".as("a_id"))
        val cursor = scored.join(broadcast(cursorId),
            $"doc_id" === $"a_id")
          .select($"v".as("a_v"), $"a_id")
        scored.join(broadcast(cursor),
            $"v" < $"a_v" || ($"v" === $"a_v" && $"doc_id" > $"a_id"))
          .select($"doc_id", $"v")
    }
    rankTopK(pageBase, k)
  }

  /** (conv_id, turn_idx, cnt: long | score: double) — the ranked result
    * schema. */
  private def resultFields(valCol: String): Seq[(String, DataType)] =
    Seq("conv_id" -> StringType, "turn_idx" -> IntegerType,
      valCol -> (if (valCol == "cnt") LongType else DoubleType))

  private def emptyResult(valCol: String): DataFrame =
    emptyDf(resultFields(valCol): _*)

  // ---- phrase search (engine extension) ----------------------------------

  /** Shared phrase pipeline: (doc_id, conv_id, turn_idx, cnt>0) for every
    * doc whose kept-token stream contains the folded phrase consecutively.
    * None when the phrase is unsatisfiable (no foldable words, or a word
    * outside the 4..19 range no tokenizer output can ever contain).
    *
    * 100-TB shape: the positionless index AND-prunes candidates first —
    * pruned dict scan + pushed postings predicates (the same letter
    * partition pruning / parquet min/max skipping as every query) feed ONE
    * pair-list-sized doc_id aggregate — then candidate keys resolve
    * against the docs table and ONLY candidate rows of `corpus` are
    * re-read: adjacency is confirmed by the native [[GraftPhraseCount]]
    * kernel in one map-side pass. The corpus is never shuffled — the
    * candidate key set is the selective side and AQE broadcasts it; a
    * phrase of common words degrades to a key-side shuffle join of
    * (conv_id, turn_idx) rows, never of text. */
  private def phraseCounts(corpus: Dataset[Turn], phraseRaw: String)
      : Option[DataFrame] = {
    val words = GraftPhraseCount.foldWords(phraseRaw)
    // folded words are pure [a-z]+, so splicing into the kernel call is
    // quote-safe by construction
    confirmCounts(corpus, words,
      s"graft_phrase_count(text, '${words.mkString(" ")}')")
  }

  /** [[phraseCounts]]'s proximity sibling: co-occurring position pairs of
    * the two folded words within distance `d` (`ordered` keeps only
    * first-before-second pairs — the ONEAR/BEFORE operator), None when
    * the query does not fold to exactly two feasible words or d < 1. */
  private def nearCounts(corpus: Dataset[Turn], wordsRaw: String, d: Int,
      ordered: Boolean = false): Option[DataFrame] = {
    val words = GraftPhraseCount.foldWords(wordsRaw)
    val fn = if (ordered) "graft_onear_count" else "graft_near_count"
    if (words.length == 2 && d >= 1)
      confirmCounts(corpus, words,
        s"$fn(text, '${words.mkString(" ")}', $d)")
    else None
  }

  /** n-word proximity with ANCHOR semantics ([[graft.tokenize
    * .GraftNearAllCount]]): occurrences of the FIRST folded word with
    * every other distinct word within ±d. None when fewer than two
    * distinct feasible words remain or d < 1. */
  private def nearAllCounts(corpus: Dataset[Turn], wordsRaw: String, d: Int)
      : Option[DataFrame] = {
    val words = GraftPhraseCount.foldWords(wordsRaw).distinct
    if (words.length >= 2 && d >= 1)
      confirmCounts(corpus, words,
        s"graft_nearall_count(text, '${words.mkString(" ")}', $d)")
    else None
  }

  /** The slop-phrase dispatch: up to two DISTINCT words keep
    * [[searchNear]]'s position-PAIR counting (the gate-frozen semantics —
    * duplicated words collapse first, so `'a b a'~d` counts like
    * `'a b'~d`); three or more distinct words route to
    * [[nearAllCounts]]'s anchor counting — the only n-list proximity
    * count that stays O(Σ positions). */
  private def slopCounts(corpus: Dataset[Turn], wordsRaw: String, d: Int)
      : Option[DataFrame] = {
    val words = GraftPhraseCount.foldWords(wordsRaw)
    val distinct = words.distinct
    // an all-duplicate phrase keeps the same-word pair semantics of 'a a'~d
    if (words.length >= 2 && distinct.length <= 2) {
      val pair = if (distinct.length == 1) words.take(2) else distinct
      nearCounts(corpus, pair.mkString(" "), d)
    } else nearAllCounts(corpus, wordsRaw, d)
  }

  /** ONE BM25 virtual-term contribution over a positional hit frame
    * (`doc_id, conv_id, turn_idx, cnt`): tf = cnt, df = hit count from a
    * one-row broadcast aggregate. The single definition behind the
    * phrase/slop virtual terms and [[searchPhraseBm25]], so the formula
    * cannot drift between paths (the bm25Idf/bm25TfNorm rationale).
    * Returns (doc_id, conv_id, turn_idx, v). */
  private def virtualTermScore(hits: DataFrame): DataFrame = {
    val dfc = hits.agg(count(lit(1)).cast("double").as("df"))
    hits.join(docStats.select($"doc_id", $"dl"), Seq("doc_id"))
      .crossJoin(broadcast(dfc))
      .select($"doc_id", $"conv_id", $"turn_idx",
        (bm25Idf($"df") * bm25TfNorm($"cnt")).as("v"))
  }

  /** The shared positional pipeline: AND-prune candidates through the
    * index for `words`, then evaluate `confirmSql` (a scalar native
    * kernel over `text`) on ONLY the candidate corpus rows, keeping
    * cnt > 0. None when a word is outside the 4..19 kept range (no
    * tokenizer output can ever contain it). */
  private def confirmCounts(corpus: Dataset[Turn], words: Seq[String],
      confirmSql: String): Option[DataFrame] = {
    if (words.isEmpty || words.exists(w => w.length < 4 || w.length > 19))
      return None
    val terms = words.distinct.map((_, true))
    val mp = matchedPostings(matchedWords(terms), coarsePred(terms))
    val cand = mp.groupBy($"doc_id")
      .agg(countDistinct($"term_idx").as("nw"))
      .filter($"nw" === terms.length).select($"doc_id")
    val keys = cand.join(docs, Seq("doc_id"))
      .select($"doc_id", $"conv_id", $"turn_idx")
    Some(corpus.toDF()
      .join(keys, Seq("conv_id", "turn_idx"))
      .withColumn("cnt", expr(confirmSql))
      .filter($"cnt" > 0)
      .select($"doc_id", $"conv_id", $"turn_idx", $"cnt"))
  }

  /** Phrase search: (conv_id, turn_idx, cnt) for docs containing the
    * folded phrase as consecutive kept tokens, cnt = overlapping
    * occurrence count, ranked like [[searchCount]]. The reference index
    * stores positionless word sets (Indexer.cpp:77), so this is an engine
    * extension: index-pruned candidates + map-side positional confirm
    * against the corpus text (see [[phraseCounts]] for the plan shape). */
  def searchPhrase(corpus: Dataset[Turn], phraseRaw: String): DataFrame =
    rankedCounts(phraseCounts(corpus, phraseRaw))

  /** Proximity search (NEAR): docs where the two folded words co-occur
    * within `d` kept-token positions, cnt = number of co-occurring
    * position pairs (unordered; i < j for a repeated word). Same engine
    * shape as [[searchPhrase]] — the positionless index AND-prunes, the
    * native [[graft.tokenize.GraftNearCount]] kernel confirms distance
    * map-side over candidate rows only. A query that does not fold to
    * exactly two feasible words, or d < 1, returns empty. */
  def searchNear(corpus: Dataset[Turn], wordsRaw: String, d: Int,
      ordered: Boolean = false): DataFrame =
    rankedCounts(nearCounts(corpus, wordsRaw, d, ordered))

  /** n-word proximity search (NEAR/d with an anchor): docs where EVERY
    * distinct folded word occurs within ±d kept-token positions of some
    * occurrence of the FIRST word; cnt = number of such anchor
    * occurrences. The same index-prune + map-side-confirm shape as
    * [[searchNear]], with the [[graft.tokenize.GraftNearAllCount]] kernel
    * (one forward pointer per word list — O(Σ positions) per doc).
    * Fewer than two distinct feasible words, or d < 1, returns empty. */
  def searchNearAll(corpus: Dataset[Turn], wordsRaw: String, d: Int)
      : DataFrame =
    rankedCounts(nearAllCounts(corpus, wordsRaw, d))

  // ---- metadata-filtered search (engine extension) --------------------------

  /** The filtered-search key set: `meta` is ANY frame carrying `conv_id`,
    * `turn_idx` plus metadata columns (role, ts, lang, source, …; one row
    * per doc key, the corpus contract), filtered by a SQL predicate. None
    * when the predicate fails to parse or resolve (the reference's
    * malformed-query tolerance). 100-TB shape: the predicate and the
    * two-column projection push to the metadata parquet scan — text is
    * never read on this side. */
  private def filteredKeys(meta: DataFrame, whereSql: String)
      : Option[DataFrame] =
    try Some(meta.filter(expr(whereSql)).select($"conv_id", $"turn_idx"))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Count-parity search restricted by a metadata predicate (the
    * transcript-analytics filter: role, ts range, lang, source, tool):
    * hit counting is IDENTICAL to [[searchCount]] — counts stay
    * corpus-global, the predicate only restricts which hits return (the
    * standard filtered-search posture) — and the filtered key set joins
    * the selective index-hit frame, never the other way around. */
  def searchCountWhere(meta: DataFrame, query: String, whereSql: String)
      : DataFrame =
    filteredKeys(meta, whereSql) match {
      case None => emptyResult("cnt")
      case Some(keys) =>
        searchCount(query).join(keys, Seq("conv_id", "turn_idx"))
          .select($"conv_id", $"turn_idx", $"cnt")
          .orderBy($"cnt".desc, $"conv_id", $"turn_idx")
    }

  /** BM25 sibling of [[searchCountWhere]]: top-k AFTER the predicate
    * restriction, scores corpus-global. Runs the DataFrame-algebra path —
    * WAND's block-max early termination cannot see the filter, so its
    * top-k would under-fill against a selective predicate. */
  def searchBm25Where(meta: DataFrame, query: String, whereSql: String,
      k: Int): DataFrame = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid || parsed.searchWords.isEmpty)
      return emptyResult("score")
    filteredKeys(meta, whereSql) match {
      case None => emptyResult("score")
      case Some(keys) =>
        hitsOf(parsed, bm25PerTerm(parsed.searchWords))
          .join(docs, Seq("doc_id"))
          .join(keys, Seq("conv_id", "turn_idx"))
          .orderBy($"v".desc, $"doc_id").limit(k)
          .select($"conv_id", $"turn_idx", $"v".as("score"), $"doc_id")
          .orderBy($"score".desc, $"doc_id").drop("doc_id")
    }
  }

  /** Facet counts over a search ("hits by role / lang / source / tool"
    * — the search-analytics aggregation every commercial engine pairs
    * with filtered search): the query's hit set ([[searchCount]]
    * semantics, counts corpus-global) joins `meta` (the
    * [[searchCountWhere]] contract: one row per doc key plus metadata
    * columns) and aggregates per distinct value of `facetCol` —
    * (facet, n_docs, total_cnt), top k by (n_docs desc, facet asc); a
    * null facet value groups as the NULL facet, exactly like SQL. A
    * facet column that fails to resolve returns empty (the malformed-
    * query tolerance posture shared with [[filteredKeys]]).
    *
    * 100-TB shape: the aggregate runs over the SELECTIVE index-hit frame
    * joined to a key+facet projection of the metadata scan (text never
    * read on that side); the facet shuffle carries hit-frame-sized rows
    * into at most |distinct facets| groups, then k rows move. */
  def searchFacets(meta: DataFrame, query: String, facetCol: String,
      k: Int = 20): DataFrame = {
    val empty = emptyDf("facet" -> StringType, "n_docs" -> LongType,
      "total_cnt" -> LongType)
    if (k < 1) return empty
    val proj =
      try {
        val p = meta.select($"conv_id", $"turn_idx",
          col(facetCol).cast("string").as("facet"))
        p.queryExecution.assertAnalyzed()
        p
      } catch {
        case _: org.apache.spark.sql.AnalysisException => return empty
      }
    searchCount(query)
      .join(proj, Seq("conv_id", "turn_idx"))
      .groupBy($"facet")
      .agg(count(lit(1L)).as("n_docs"), sum($"cnt").as("total_cnt"))
      .orderBy($"n_docs".desc, $"facet".asc_nulls_first)
      .limit(k)
  }

  // ---- synonym expansion (engine extension) --------------------------------

  /** Synonyms of the query's words, collected from `syn` — a (term,
    * synonym) frame, one-way Solr-style expansion (no transitive
    * closure). The scan pushes an isin over the QUERY's words (a handful)
    * and the collect is bounded by synonyms-per-word × query length —
    * synonym dictionaries are vocabulary-bounded, never corpus-scale.
    * Only feasible synonyms survive (pure a-z; anything else can never
    * be a dictionary term). */
  private def collectSynonyms(syn: DataFrame, words: Seq[String])
      : Map[String, Seq[String]] = {
    if (words.isEmpty) return Map.empty
    try {
      syn.select(lower($"term").as("t"), lower($"synonym").as("s"))
        .filter($"t".isin(words.distinct: _*))
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
        .filter { case (_, s) =>
          s != null && s.nonEmpty && s.forall(c => c >= 'a' && c <= 'z') }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    } catch {
      case _: org.apache.spark.sql.AnalysisException => Map.empty
    }
  }

  /** Matched postings of every search word WITH synonym expansion: the
    * word keeps its own semantics (wildcard/exact, quirks included) and
    * each synonym joins as an EXACT dictionary term under the same
    * term_idx; duplicates collapse (a synonym also caught by the word's
    * prefix counts once — the Q6 distinct-matched-words invariant).
    * Letter pruning and pushed predicates survive expansion because
    * synonyms are exact equality conditions. A word the dictionary
    * lookup rejects (the min-length quirk) can still match through its
    * synonyms — expansion rescues it, the standard synonym-filter
    * behavior. */
  private def synPostings(syn: DataFrame, parsed: QueryParser.Parsed)
      : DataFrame = {
    val conds = matchConds(parsed.searchWords,
      collectSynonyms(syn, parsed.searchWords.map(_._1)))
    matchedPostings(matchedOf(conds).dropDuplicates("term_idx", "word"),
      coarseOf(conds))
  }

  /** Count-parity search with query-time synonym expansion: each query
    * word also matches its synonyms from `syn` as exact terms, counts
    * follow Q6 (distinct matched dictionary words per doc per search
    * word), boolean structure untouched. */
  def searchCountSynonyms(syn: DataFrame, query: String): DataFrame = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid) return emptyResult("cnt")
    countResult(hitsOf(parsed, countAgg(synPostings(syn, parsed))))
  }

  /** BM25 sibling of [[searchCountSynonyms]]: every matched word —
    * original or synonym — contributes its idf·tfnorm term score,
    * summed per search word (the wildcard-expansion scoring shape),
    * composed under the boolean algebra on the DataFrame path. */
  def searchBm25Synonyms(syn: DataFrame, query: String, k: Int): DataFrame = {
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid || parsed.searchWords.isEmpty)
      return emptyResult("score")
    rankTopK(hitsOf(parsed, bm25Agg(synPostings(syn, parsed))), k)
  }

  // ---- related terms (query expansion, engine extension) --------------------

  /** Top-k terms co-occurring with an exact seed word ("related
    * searches" / query expansion): every kept term of the seed's docs
    * ranked by PMI against the seed — pmi = ln(co_df · N / (df_seed ·
    * df_term)) with co_df = seed docs containing the term — ordered
    * (pmi desc, term asc), seed excluded, co_df >= minCoDf (a one-doc
    * co-occurrence's PMI is noise). Returns (term, co_df, pmi).
    *
    * 100-TB shape: the seed doc set comes from the INDEX (letter-pruned
    * dict lookup + pushed postings predicates — df_seed rows, selective)
    * and ONLY those corpus rows are re-read and re-tokenized (the phrase
    * confirm economics, never a full postings decode); the co-term
    * aggregate shuffles seed-doc tokens only, then joins the
    * vocabulary-bounded dictionary for global df. An unknown or
    * infeasible seed returns empty. */
  def relatedTerms(corpus: Dataset[Turn], word: String, k: Int = 10,
      minCoDf: Int = 2): DataFrame = {
    val empty = emptyDf("term" -> StringType, "co_df" -> LongType,
      "pmi" -> DoubleType)
    val folded = GraftPhraseCount.foldWords(word)
    if (folded.length != 1) return empty
    val w = folded.head
    val seedTerms = Seq((w, true))
    val mw = matchedWords(seedTerms)
    // exact seed → at most one dictionary row; df_seed stays IN-PLAN as a
    // one-row broadcast scalar (no eager driver job — the method returns
    // a lazy frame like every other Searcher API; an unknown seed makes
    // the candidate key set empty, so no row survives to read the scalar)
    val dfSeed = mw.agg(max($"df").cast("double").as("df_seed"))
    val keys = matchedPostings(mw, coarsePred(seedTerms))
      .select($"doc_id").distinct()
      .join(docs, Seq("doc_id"))
      .select($"conv_id", $"turn_idx")
    val n = lit(meta.numDocs.toDouble)
    corpus.toDF().join(keys, Seq("conv_id", "turn_idx"))
      .select(explode(array_distinct(expr("graft_tokenize(text)")))
        .as("term"))
      .filter($"term" =!= w)
      .groupBy($"term").agg(count(lit(1)).as("co_df"))
      .filter($"co_df" >= minCoDf)
      .join(dict.select($"term", $"df"), Seq("term"))
      .crossJoin(broadcast(dfSeed))
      .select($"term", $"co_df",
        log(($"co_df".cast("double") * n) /
          ($"df_seed" * $"df".cast("double"))).as("pmi"))
      .orderBy($"pmi".desc, $"term")
      .limit(k)
  }

  // ---- result snippets (engine extension) ----------------------------------

  /** Ranked hits WITH a context snippet (the search-result UX the
    * reference lacks): the top-k [[searchCount]] hits re-read ONLY their
    * own corpus rows (a k-row broadcast join keyed by doc key), and the
    * snippet composes from codegen builtins over the SAME kept-token
    * stream the index is built from (`graft_tokenize`): the window of
    * `width` tokens either side of the FIRST position matching any query
    * word — exact words by equality, wildcard words by prefix with the
    * min-length quirk applied (a word the dictionary lookup would reject
    * never anchors a snippet). NOT'd words also highlight when present —
    * snippet anchoring is word-set, not boolean-structure, semantics.
    * Plain reference grammar only (no `'...'` phrase sentinels).
    *
    * 100-TB shape: hits are k rows; the corpus join is broadcast; the
    * token walk is one map-side pass over k texts — the corpus is never
    * re-tokenized. */
  def searchSnippets(corpus: Dataset[Turn], query: String, width: Int = 5,
      k: Int = 10): DataFrame = {
    val empty = emptyDf("conv_id" -> StringType, "turn_idx" -> IntegerType,
      "cnt" -> LongType, "snippet" -> StringType)
    if (width < 0 || k < 1) return empty
    val parsed = QueryParser.parse("(" + query + ")", conf.exactMatch)
    if (!parsed.valid) return empty
    val words = parsed.searchWords.distinct.filter { case (w, e) =>
      w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z') &&
        (e || w.length > conf.minCharForMatch)
    }
    if (words.isEmpty) return empty
    val top = searchCount(query).limit(k)
    val toks = call_function("graft_tokenize", $"text")
    def tokMatch(t: Column): Column = words.map { case (w, e) =>
      if (e) t === w else t.startsWith(w)
    }.reduce(_ || _)
    // first matching kept-token position (0-based); every hit doc has one
    // by construction (it matched the index over the same token stream)
    val p = element_at(filter(
      transform(toks, (t, i) => when(tokMatch(t), i).otherwise(lit(-1))),
      x => x >= 0), 1)
    val start = greatest(lit(0), p - width)
    broadcast(top).join(corpus.toDF(), Seq("conv_id", "turn_idx"))
      .withColumn("snippet",
        array_join(slice(toks, start + 1, p + lit(width) - start + 1), " "))
      .select($"conv_id", $"turn_idx", $"cnt", $"snippet")
      .orderBy($"cnt".desc, $"conv_id", $"turn_idx")
  }

  // ---- more-like-this + conversation rollup (engine extensions) -----------

  /** More-like-this (the classic Lucene-family MLT shape): rank docs by
    * BM25 similarity to ONE seed doc. The seed's kept-token tf vector is
    * computed locally from its text (one bounded corpus row — turns are
    * bounded by construction, SURVEY §2.1), its distinct terms look up df
    * through the SAME letter-pruned pushed-predicate dictionary scan as
    * any query (the probe list is seed-vocabulary-sized), the top
    * `nTerms` by tf·idf (tie: term asc) become a pure-OR BM25 query
    * through the WAND path, and the seed doc itself is excluded from the
    * top-k. Empty/unknown seed or no indexed seed terms → empty. */
  def moreLikeThis(corpus: Dataset[Turn], convId: String, turnIdx: Int,
      nTerms: Int = 5, k: Int = 10): DataFrame = {
    if (nTerms < 1 || k < 1) return emptyResult("score")
    // column predicates (not a typed lambda) so the seed lookup pushes to
    // the parquet reader — one pruned row fetch, never a corpus scan
    val seed = corpus
      .filter(col("conv_id") === convId && col("turn_idx") === turnIdx)
      .take(1)
    if (seed.isEmpty || seed.head.text == null) return emptyResult("score")
    val tf = graft.tokenize.Tokenizer.tokens(seed.head.text)
      .groupBy(identity).view.mapValues(_.size).toMap
    if (tf.isEmpty) return emptyResult("score")
    val terms = tf.keys.toSeq.sorted
    val letters = terms.map(_.substring(0, 1)).distinct
    // seed-vocab-sized collect: df of each seed term from the pruned dict
    val dfMap = dict
      .filter($"letter".isin(letters: _*) && $"term".isin(terms: _*))
      .select($"term", $"df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = meta.numDocs.toDouble
    def idf(df: Long): Double = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    val chosen = terms
      .flatMap(t => dfMap.get(t).map(df => (t, tf(t) * idf(df), idf(df))))
      .sortBy { case (t, s, _) => (-s, t) }.take(nTerms)
    if (chosen.isEmpty) return emptyResult("score")
    val words = spark.createDataFrame(
      chosen.map { case (t, _, w) => (t, w) }).toDF("word", "weight")
    val coarse = $"letter".isin(chosen.map(_._1.substring(0, 1)).distinct: _*) &&
      $"term".isin(chosen.map(_._1): _*)
    // the seed is a perfect self-match and may occupy one WAND slot;
    // dropping it afterwards still leaves the true non-seed top-k
    wandTopK(postings.filter(coarse), words, k,
      drop = Some($"conv_id" === convId && $"turn_idx" === turnIdx))
  }

  /** Conversation-level rollup of [[searchCount]] (transcript analytics:
    * "which conversations match most"): per conv_id, total_cnt = sum of
    * matched-turn counts and n_turns = number of matching turns, top-k by
    * (total_cnt desc, conv_id asc). One extra conv_id aggregation over
    * the hit frame — hits are selective, the corpus is never re-read. */
  def searchConvTopK(query: String, k: Int): DataFrame =
    searchCount(query)
      .groupBy($"conv_id")
      .agg(sum($"cnt").as("total_cnt"), count(lit(1)).as("n_turns"))
      .orderBy($"total_cnt".desc, $"conv_id")
      .limit(k)

  // ---- fuzzy term search (engine extension) -------------------------------

  /** Dictionary words within `maxEdits` edits of the query word, as a
    * (matched-words frame, coarse postings predicate) pair — the
    * [[matchedWords]]/[[coarsePred]] analog for approximate matching.
    *
    * maxEdits == 1 probes the bounded generated neighborhood
    * ([[Fuzzy.neighborhood1]] — at most 52n+27 keys for a length-n word,
    * independent of corpus size) as exact dictionary keys: the scan keeps
    * letter-partition pruning and pushed isin predicates exactly like an
    * exact-term query. maxEdits >= 2 falls back to a dictionary scan with
    * Spark's bounded `levenshtein(l, r, threshold)` — vocabulary-sized
    * (sublinear in corpus), but no letter pruning is possible because one
    * edit can rewrite the first character; the postings scan then has no
    * coarse predicate and relies on the matched-words join. */
  private def fuzzyMatched(word: String, maxEdits: Int)
      : Option[(DataFrame, Option[Column])] = {
    if (word == null || word.isEmpty || maxEdits < 1 ||
        word.exists(c => c < 'a' || c > 'z'))
      return None
    if (maxEdits == 1) {
      val cands = Fuzzy.neighborhood1(word)
      if (cands.isEmpty) return None
      val letters = cands.map(_.substring(0, 1)).distinct
      val cond = $"letter".isin(letters: _*) && $"term".isin(cands: _*)
      Some((dict.filter(cond)
        .select(lit(0).as("term_idx"), $"term".as("word"), $"df"),
        Some(cond)))
    } else {
      // threshold form returns -1 when the distance EXCEEDS maxEdits (and
      // short-circuits the row), so "within" is >= 0, not <= maxEdits
      val cond = length($"term")
        .between(word.length - maxEdits, word.length + maxEdits) &&
        levenshtein($"term", lit(word), maxEdits) >= 0
      Some((dict.filter(cond)
        .select(lit(0).as("term_idx"), $"term".as("word"), $"df"), None))
    }
  }

  /** Shared matched-words counting tail (fuzzy/regex matchers): postings
    * hold each doc once per word, so count(1) per doc = distinct matched
    * dictionary words present in the doc (the reference's Q6
    * wildcard-counting semantics), ranked like [[searchCount]]. */
  private def countMatched(matched: DataFrame,
      coarse: Option[Column]): DataFrame =
    matchedPostings(matched, coarse)
      .groupBy($"doc_id").agg(count(lit(1)).cast("long").as("cnt"))
      .join(docs, Seq("doc_id"))
      .select($"conv_id", $"turn_idx", $"cnt")
      .orderBy($"cnt".desc, $"conv_id", $"turn_idx")

  /** Fuzzy term search (engine extension — the reference grammar has only
    * exact and prefix terms, docs/Query-Language.md): docs containing any
    * dictionary word within `maxEdits` edits of `word`; cnt = number of
    * distinct matched dictionary words in the doc, ranked like
    * [[searchCount]]. */
  def searchFuzzy(word: String, maxEdits: Int = 1): DataFrame =
    fuzzyMatched(word, maxEdits) match {
      case None => emptyResult("cnt")
      case Some((matched, coarse)) => countMatched(matched, coarse)
    }

  /** Regex term search (engine extension): docs containing any dictionary
    * word matching `pattern` (Java regex, unanchored find — anchor with
    * ^/$ for whole-word semantics); cnt = distinct matched words per doc.
    * The dictionary scan is vocabulary-sized (sublinear in corpus — the
    * same documented posture as the maxEdits >= 2 fuzzy path: a regex has
    * no pushable prefix in general, so no letter pruning); the postings
    * join then refines to the matched-word set. An invalid pattern
    * returns empty (the reference's malformed-query tolerance). */
  def searchRegex(pattern: String): DataFrame = {
    if (pattern == null || pattern.isEmpty) return emptyResult("cnt")
    try { java.util.regex.Pattern.compile(pattern) }
    catch { case _: java.util.regex.PatternSyntaxException =>
      return emptyResult("cnt") }
    val matched = dict.filter($"term".rlike(pattern))
      .select(lit(0).as("term_idx"), $"term".as("word"), $"df")
    countMatched(matched, None)
  }

  /** Prefix autocomplete over the dictionary (engine extension): top-k
    * terms by (df desc, term asc) — a letter-pruned pushed-StartsWith
    * dictionary-only scan; postings are never read, and the wildcard
    * min-length quirk deliberately does NOT apply (autocomplete exists
    * for short prefixes). */
  def suggest(prefix: String, k: Int = 10): DataFrame = {
    if (prefix == null || prefix.isEmpty || k < 1 ||
        prefix.exists(c => c < 'a' || c > 'z'))
      return emptyDf("term" -> StringType, "df" -> LongType)
    dict.filter($"letter" === prefix.substring(0, 1) &&
        $"term".startsWith(prefix))
      .select($"term", $"df")
      .orderBy($"df".desc, $"term").limit(k)
  }

  /** Index vocabulary statistics (the Lucene terms-enum / `_cat/indices`
    * analytics view), per letter partition: term count, posting entries
    * (Σdf), and the hottest term with its df — the operational answer to
    * "what does this index hold and where is the skew". Dictionary-only
    * (vocabulary-sized, postings never read); one aggregation over the
    * letter-partitioned dict scan, so the partition column doubles as the
    * grouping key. */
  def dictStats(): DataFrame =
    dict.groupBy($"letter")
      // hottest term, tie → first alphabetically: min over (-df, term)
      .agg(count(lit(1)).as("n_terms"), sum($"df").as("sum_df"),
        min(struct((-$"df").as("ndf"), $"term")).as("top"))
      .select($"letter", $"n_terms", $"sum_df",
        $"top.term".as("top_term"), (-$"top.ndf").as("top_df"))
      .orderBy($"letter")

  /** "Did you mean" spell suggestion (the Lucene spellchecker shape):
    * top-k dictionary words EXACTLY one edit from `word`, ranked by
    * (df desc, term asc) — corpus frequency is the suggestion signal.
    * The word itself is excluded (suggesting the input back is noise);
    * the probe is the same bounded generated neighborhood as
    * [[searchFuzzy]] (≤ 52n+27 exact keys, letter-pruned pushed isin —
    * corpus-size-independent). */
  def didYouMean(word: String, k: Int = 5): DataFrame = {
    val empty = emptyDf("term" -> StringType, "df" -> LongType)
    if (k < 1) return empty
    fuzzyMatched(word, maxEdits = 1) match {
      case None => empty
      case Some((matched, _)) =>
        matched.filter($"word" =!= word)
          .select($"word".as("term"), $"df")
          .orderBy($"df".desc, $"term").limit(k)
    }
  }

  /** BM25-scored fuzzy search: every matched dictionary word scores as an
    * independent OR'd term (weight = idf — the [[searchBm25]] pure-OR
    * shape), evaluated by the same distributed block-max WAND. */
  def searchFuzzyBm25(word: String, k: Int, maxEdits: Int = 1): DataFrame =
    fuzzyMatched(word, maxEdits) match {
      case None => emptyResult("score")
      case Some((matched, coarse)) =>
        wandTopK(coarse.map(postings.filter).getOrElse(postings),
          matched.select($"word", bm25Idf($"df").as("weight")), k)
    }

  private def rankedCounts(hits: Option[DataFrame]): DataFrame = hits match {
    case None => emptyResult("cnt")
    case Some(h) => h
      .select($"conv_id", $"turn_idx", $"cnt".cast("long").as("cnt"))
      .orderBy($"cnt".desc, $"conv_id", $"turn_idx")
  }

  /** Boolean search WITH composable phrases (engine extension): the
    * reference grammar plus `'...'`-quoted phrases as virtual terms —
    * `('value table' AND customer NOT 'spark batch')` intersects the
    * phrase's docs with customer's under the reference's own boolean
    * algebra (counts add under AND/OR exactly like word terms; a phrase
    * term's count is its occurrence count). Double quotes keep the
    * reference's exact-term meaning untouched; single quotes have no
    * reference meaning to collide with (CharFold folds them to the
    * separator, so an unquoted apostrophe never reached term text anyway).
    * See [[extendedHits]] for the evaluation. */
  def searchCountWithPhrases(corpus: Dataset[Turn], query: String)
      : DataFrame =
    extendedHits(corpus, query, scoring = false).map(countResult)
      .getOrElse(emptyResult("cnt"))

  /** BM25 over the phrase-extended boolean language — the scoring
    * sibling of [[searchCountWithPhrases]]: word terms contribute their
    * summed BM25 term scores (the [[searchBm25]] DataFrame-algebra path),
    * a `'...'`-quoted phrase contributes ONE virtual-term BM25 score
    * (tf = occurrence count, df = phrase hit count — the
    * [[searchPhraseBm25]] formula), and contributions compose under the
    * reference algebra (AND/OR add, NOT erases). Top-k ranked like
    * [[searchBm25]]. Each phrase's confirm pipeline evaluates per
    * consumer (df aggregate + score join — recompute-over-persist, the
    * operator-wide convention; the candidate frame is dup-bounded). */
  def searchBm25WithPhrases(corpus: Dataset[Turn], query: String,
      k: Int): DataFrame =
    extendedHits(corpus, query, scoring = true).map(rankTopK(_, k))
      .getOrElse(emptyResult("score"))

  /** (doc_id, v) hits of the extended language, counts or BM25 scores.
    * [[Searcher.parseExtended]] turns each extended term into an
    * exact-quoted sentinel word, so the parse — validation quirks included
    * — is EXACTLY [[QueryParser]]'s. A sentinel search word skips the
    * dictionary lookup and contributes its term's frame under its
    * term_idx instead, unioned into the plain words' per-term frame
    * before the one evaluator ([[evalHits]]) runs. None when the query is
    * invalid or has no search words. */
  private def extendedHits(corpus: Dataset[Turn], query: String,
      scoring: Boolean): Option[DataFrame] = {
    import Searcher._
    val (rewritten, ext) = parseExtended(query)
    val parsed = QueryParser.parse("(" + rewritten + ")", conf.exactMatch)
    if (!parsed.valid || parsed.searchWords.isEmpty) return None
    // a term is keyed by its exact-quoted sentinel word only: a user's
    // unquoted word is never a sentinel, whatever it spells
    def extOf(sw: (String, Boolean)): Option[Ext] =
      if (sw._2) ext.get(sw._1) else None
    val agg: DataFrame => DataFrame = if (scoring) bm25Agg else countAgg
    def matchedFrame(matched: DataFrame, coarse: Option[Column]) =
      agg(matchedPostings(matched, coarse)).select($"doc_id", $"v")
    // a positional hit frame as ONE virtual term: v = its occurrence
    // count, or its BM25 contribution (tf = count, df = hit count)
    def positional(hits: Option[DataFrame]): Option[DataFrame] =
      hits.map(h =>
        if (scoring) virtualTermScore(h).select($"doc_id", $"v")
        else h.select($"doc_id", $"cnt".cast("double").as("v")))
    // a term's (doc_id, v) frame; None when it can match nothing
    def frameOf(e: Ext): Option[DataFrame] = e match {
      case Phrase(text) => positional(phraseCounts(corpus, text))
      // 'a b'~d: co-occurring position pairs within d (searchNear's
      // counting); >= 3 words count anchors (searchNearAll's)
      case Slop(text, d) => positional(slopCounts(corpus, text, d))
      // ~word: the distinct 1-edit dictionary words present in the doc
      // (searchFuzzy's counting), or their summed term scores
      // (searchFuzzyBm25's; the gate query keeps the neighborhood
      // single-match so the oracle is bit-exact)
      case Fuzzy(w) =>
        fuzzyMatched(w, maxEdits = 1).map((matchedFrame _).tupled)
      case Word(w, quoted) =>
        val terms = Seq((w, quoted || conf.exactMatch))
        Some(matchedFrame(matchedWords(terms), coarsePred(terms)))
      // term^N: the inner term exactly as if unboosted; a score scales by
      // the boost (ONE IEEE multiply, so oracles stay bit-exact), a count
      // does not (boosts affect scoring only, the Lucene posture)
      case Boost(inner, b) =>
        val f = frameOf(inner)
        if (scoring) f.map(_.select($"doc_id", ($"v" * lit(b)).as("v")))
        else f
    }
    val lookupWords = parsed.searchWords.map { case sw @ (_, e) =>
      if (extOf(sw).isDefined) ("", e) else sw }
    val perTerm = agg(matchedPostings(matchedWords(lookupWords),
      coarsePred(lookupWords)))
    val virtual = parsed.searchWords.zipWithIndex.flatMap { case (sw, i) =>
      extOf(sw).flatMap(frameOf)
        .map(_.select(lit(i).as("term_idx"), $"doc_id", $"v"))
    }
    Some(hitsOf(parsed, (perTerm +: virtual).reduce(_ unionByName _)))
  }

  /** BM25-scored phrase search: the phrase is scored as ONE virtual term
    * with tf = occurrence count and df = number of docs containing it
    * (the classical positional-index phrase ranking), k1/b and the idf
    * form identical to [[searchBm25]]. df comes from a bounded aggregate
    * over the hit frame (one row) broadcast back over the hits — the
    * corpus-scale tables are never re-read. The hit frame evaluates per
    * consumer (df aggregate + scoring — recompute-over-persist, like
    * [[searchBm25WithPhrases]]). */
  def searchPhraseBm25(corpus: Dataset[Turn], phraseRaw: String,
      k: Int): DataFrame = phraseCounts(corpus, phraseRaw) match {
    case None => emptyResult("score")
    case Some(hits) =>
      virtualTermScore(hits)
        .select($"conv_id", $"turn_idx", $"v".as("score"), $"doc_id")
        .orderBy($"score".desc, $"doc_id").limit(k).drop("doc_id")
  }
}

object Searcher {

  /** A term of the extended query language, as [[parseExtended]] reads
    * it. A [[Word]] occurs only inside a [[Boost]]. */
  sealed trait Ext
  /** A term a boost can wrap. */
  sealed trait Term extends Ext
  /** A reference word, unquoted or double-quoted (lowercased). */
  final case class Word(w: String, quoted: Boolean) extends Term
  /** `'...'`: the folded words as consecutive kept tokens. */
  final case class Phrase(text: String) extends Term
  /** `'...'~d`: the folded words within d kept positions. */
  final case class Slop(text: String, d: Int) extends Term
  /** `~word`: the dictionary words one edit from `word` (lowercased). */
  final case class Fuzzy(word: String) extends Term
  /** `term^b`: the inner term, its score scaled by b. */
  final case class Boost(inner: Term, b: Double) extends Ext

  /** The sentinel base [[parseExtended]] starts from. */
  private[graft] val SentinelBase = "graftextq"

  /** Read the extended query language in one left-to-right pass. Each
    * extended term becomes one reserved exact-quoted sentinel word, so
    * [[QueryParser]] parses the rewritten query — validation quirks
    * included — exactly as it parses the reference grammar. Returns the
    * rewritten query and sentinel → term.
    *
    *  - `'...'~digits` (no space before `~`) is a slop phrase; d is
    *    clamped by value to 9999 (`~00003` is 3). Any other `'...'`, also
    *    `'a b' ~3`, is a phrase; a `~` or `^` inside it is phrase text.
    *  - `~word` is a fuzzy term only at a word start: `foo~bar` and
    *    `~ word` stay text, which CharFold folds to separators.
    *  - `^N` (digits, optionally `.digits`) right after a word, a
    *    double-quoted word or an extended term boosts that term; `word^2.`
    *    keeps its dot as text. Any other `^` stays text.
    *  - A double-quoted `"..."` is opaque: a `'` or `~` inside it is part
    *    of the quoted word, never an extended term.
    *  - An unterminated `"` passes the rest of the query through verbatim;
    *    an unterminated `'` is plain text.
    *
    * All sentinels share one base, grown until the CharFold-folded query
    * does not contain it, so no user word — in any case or accenting —
    * can spell a sentinel. */
  private[graft] def parseExtended(query: String)
      : (String, Map[String, Ext]) = {
    if (query == null) return (query, Map.empty)
    val n = query.length
    val folded = query.map(CharFold.fold)
    var base = SentinelBase
    while (folded.contains(base)) base += "q"
    val out = new StringBuilder
    val terms = scala.collection.mutable.LinkedHashMap.empty[String, Ext]
    def sentinel(e: Ext): Unit = {
      // the term's number spelled in letters (0 → a … 9 → j): one word
      val s = base + terms.size.toString.map(d => (d - '0' + 'a').toChar)
      terms(s) = e
      out.append('"').append(s).append('"')
    }
    // the end of the run of chars from j that satisfy p
    def runEnd(j: Int, p: Char => Boolean): Int = {
      var k = j
      while (k < n && p(query.charAt(k))) k += 1
      k
    }
    def digitAt(k: Int): Boolean = k < n && query.charAt(k).isDigit
    // a `^N` boost at j: (boost, index after it)
    def boostAt(j: Int): Option[(Double, Int)] =
      if (j + 1 >= n || query.charAt(j) != '^' || !digitAt(j + 1)) None
      else {
        var k = runEnd(j + 1, _.isDigit)
        if (k + 1 < n && query.charAt(k) == '.' && digitAt(k + 1))
          k = runEnd(k + 1, _.isDigit)
        // BigDecimal: isDigit admits non-ASCII digits, which toDouble rejects
        Some((BigDecimal(query.substring(j + 1, k)).toDouble, k))
      }
    // an extended term ending at j: one sentinel, boosted when `^N`
    // follows; returns the index after it
    def term(t: Term, j: Int): Int = boostAt(j) match {
      case Some((b, k)) => sentinel(Boost(t, b)); k
      case None => sentinel(t); j
    }
    // a reference word spanning [i, j): verbatim unless boosted
    def word(w: Word, i: Int, j: Int): Int = boostAt(j) match {
      case Some((b, k)) => sentinel(Boost(w, b)); k
      case None => out.append(query.substring(i, j)); j
    }
    var i = 0
    while (i < n) {
      val c = query.charAt(i)
      val close = if (c == '"' || c == '\'') query.indexOf(c, i + 1) else -1
      if (c == '"' && close < 0) { out.append(query.substring(i)); i = n }
      else if (c == '"')
        i = word(Word(query.substring(i + 1, close).toLowerCase, quoted = true),
          i, close + 1)
      else if (c == '\'' && close >= 0) {
        val text = query.substring(i + 1, close)
        val d0 = close + 2
        if (digitAt(d0) && query.charAt(close + 1) == '~') {
          val j = runEnd(d0, _.isDigit)
          val d = BigInt(query.substring(d0, j)).min(9999).toInt
          i = term(Slop(text, d), j)
        } else i = term(Phrase(text), close + 1)
      } else if (c == '~' && i + 1 < n && query.charAt(i + 1).isLetter &&
          (out.isEmpty || !out.charAt(out.length - 1).isLetter)) {
        val j = runEnd(i + 1, _.isLetter)
        i = term(Fuzzy(query.substring(i + 1, j).toLowerCase), j)
      } else if (c.isLetter) {
        val j = runEnd(i, _.isLetter)
        i = word(Word(query.substring(i, j).toLowerCase, quoted = false), i, j)
      } else { out.append(c); i += 1 }
    }
    (out.toString, terms.toMap)
  }
}
