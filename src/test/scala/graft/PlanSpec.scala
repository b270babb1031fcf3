package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexMerger, IndexStore}
import graft.model.EngineConf
import graft.search.Searcher

/** Physical-plan regression guards: the predicates the search and dict
  * paths rely on must actually REACH the parquet scans (partition filters
  * on letter=, pushed term predicates for min/max file skipping). A r2
  * refactor silently dropped the pushed term filter from the WAND path and
  * tripled BM25 p50 — these assertions make that class of regression a
  * test failure instead of a bench surprise. */
class PlanSpec extends SparkTestBase {

  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64,
    blockSize = 16)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-plan-idx")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, 40, partitions = 4), dir, conf)
    // second layer so the assertions cover the LAYERED read path
    IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, 40, extra = 10, overlap = 0),
      dir, conf)
    dir
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("dict prefix lookup: letter partition pruning + pushed StartsWith in every layer") {
    val store = new IndexStore(indexDir)
    val plan = formatted(store.dict(spark)
      .filter(col("letter") === "w" && col("term").startsWith("whi")))
    val scans = plan.split("\\(\\d+\\) Scan parquet").length - 1
    assert(scans >= 2, s"expected scans of both layers:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*letter[^\\]]* = w".r
      .findAllIn(plan).length >= 2, plan)
    assert("StringStartsWith\\(term,whi\\)".r.findAllIn(plan).length >= 2, plan)
  }

  test("WAND BM25 plan: coarse term predicate pushed to the postings scan") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val plan = formatted(searcher.searchBm25("which would", 10))
    // wildcard words push startsWith; the letter= equality prunes partitions
    assert(plan.contains("StringStartsWith(term,which)"), plan)
    assert(plan.contains("StringStartsWith(term,would)"), plan)
    assert(plan.contains("letter"), plan)
    // and the matched words are the filtered scan itself, not an In-list
    assert(!plan.contains("term#") || !plan.contains(" IN ("),
      "dispatch must not be an In-list")
    searcher.close()
  }

  test("WAND plan: no dictionary read, one shuffle (the shard exchange), pushed predicates") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val plan = formatted(searcher.searchBm25("which would", 10))
    // term weights come from the parts' own df: no dict table is scanned
    assert(!plan.contains("/dict"), plan)
    assert(plan.contains("/postings"), plan)
    // the only hash shuffle is the shard routing; the weights no longer
    // need a matched-words aggregate
    assert("Arguments: hashpartitioning\\(".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("StringStartsWith(term,which)"), plan)
    assert(plan.contains("StringStartsWith(term,would)"), plan)
    assert("PartitionFilters: \\[[^\\]]*letter".r.findAllIn(plan).nonEmpty, plan)
    searcher.close()
  }

  test("WAND page-2 plan: the cursor floor joins the shard pass — no dictionary, one shuffle") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val plan = formatted(searcher.searchBm25Page("which would", 10,
      Some((TranscriptGen.convId(0L), 0))))
    // the cursor's score comes from the shard pass itself: no dict scan
    // and no second scoring plan for the cursor
    assert(!plan.contains("/dict"), plan)
    assert(plan.contains("/docs"), plan)
    assert("Arguments: hashpartitioning\\(".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("StringStartsWith(term,which)"), plan)
    assert(plan.contains("StringStartsWith(term,would)"), plan)
    assert("PartitionFilters: \\[[^\\]]*letter".r.findAllIn(plan).nonEmpty, plan)
    searcher.close()
  }

  test("count search plan: coarse predicate on the postings scan too") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val plan = formatted(searcher.searchCount("\"which\" AND would"))
    // exact term pushes EqualTo, wildcard pushes StartsWith
    assert(plan.contains("EqualTo(term,which)"), plan)
    assert(plan.contains("StringStartsWith(term,would)"), plan)
    searcher.close()
  }

  test("fuzzy plan: generated neighborhood pushed as In on dict AND postings") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val plan = formatted(searcher.searchFuzzy("whicj", 1))
    // the bounded 1-edit neighborhood reaches the parquet readers as
    // pushed In(term, [...]) filters on BOTH the dictionary and the
    // postings scans (min/max + dictionary-page file skipping), with the
    // letter in-set as a partition filter — the plan of an exact-term OR
    // query, never a vocabulary scan with a distance predicate
    assert("In\\(term, \\[".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("whicj"), plan) // the word itself is in the probe set
    assert("PartitionFilters: \\[[^\\]]*letter".r.findAllIn(plan).nonEmpty,
      plan)
    assert(!plan.toLowerCase.contains("levenshtein"), plan)
    searcher.close()
  }

  test("phrase plan: exact EqualTo pushed per word; corpus text never exploded") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val corpus = TranscriptGen.dataset(spark, 40, partitions = 4)
    val plan = formatted(searcher.searchPhrase(corpus, "which would"))
    // each phrase word dictionary-prunes as an exact term (letter
    // partition pruning + pushed equality for parquet min/max skipping)
    assert(plan.contains("EqualTo(term,which)"), plan)
    assert(plan.contains("EqualTo(term,would)"), plan)
    // the adjacency confirm is ONE scalar kernel projection over the
    // candidate join — the token stream is never exploded into rows or
    // re-assembled (the removeSpans r4 anti-pattern)
    assert(plan.contains("graft_phrase_count"), plan)
    assert(!plan.contains("posexplode"), plan)
    assert(!plan.contains("collect_list"), plan)
    searcher.close()
  }

  test("filtered search plan: predicate + projection pushed to the metadata scan") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val metaDir = tmpDir("graft-plan-meta")
    TranscriptGen.dataset(spark, 40, partitions = 4)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"))
      .write.mode("overwrite").parquet(metaDir)
    val meta = spark.read.parquet(metaDir)
    val plan = formatted(
      searcher.searchCountWhere(meta, "which", "role = 'user'"))
    // the predicate reaches the metadata parquet scan...
    assert(plan.contains("EqualTo(role,user)"), plan)
    // ...and that scan projects only the key + predicate columns (tool —
    // present in the file, unused by the query — must be pruned away)
    val metaSection = plan.substring(plan.indexOf("graft-plan-meta"))
    val readSchema = metaSection.substring(
      metaSection.indexOf("ReadSchema:"),
      metaSection.indexOf('\n', metaSection.indexOf("ReadSchema:")))
    assert(readSchema.contains("conv_id") && readSchema.contains("role") &&
      !readSchema.contains("tool"), readSchema)
    searcher.close()
  }

  test("relatedTerms plan: exact seed pushed; only seed docs re-tokenized") {
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val corpus = TranscriptGen.dataset(spark, 40, partitions = 4)
    val plan = formatted(searcher.relatedTerms(corpus, "which", 10))
    // the seed resolves as an exact pruned dictionary/postings lookup
    assert(plan.contains("EqualTo(term,which)"), plan)
    // the co-occurrence pass is the kernel tokenizer over the candidate
    // join, never a full postings decode of the co-terms
    assert(plan.contains("graft_tokenize"), plan)
    searcher.close()
  }

  test("synonym expansion keeps letter pruning and pushes exact synonyms") {
    import spark.implicits._
    val searcher = new Searcher(spark, new IndexStore(indexDir), conf)
    val syn = Seq(("which", "would"), ("which", "there"))
      .toDF("term", "synonym")
    val plan = formatted(searcher.searchCountSynonyms(syn, "\"which\""))
    // the word and each synonym arrive as pushed exact equalities on the
    // letter-pruned dict scan — expansion must not degrade to a full scan
    for (w <- Seq("which", "would", "there"))
      assert(plan.contains(s"EqualTo(term,$w)"), s"missing $w:\n$plan")
    assert(plan.contains("letter"), plan)
    searcher.close()
  }

  test("tombstone masking: broadcast anti-join only when tombstones exist") {
    import spark.implicits._
    // the shared (tombstone-free) index: NO anti-join in the count plan —
    // zero-delete indexes keep their plans byte-identical
    val clean = new Searcher(spark, new IndexStore(indexDir), conf)
    val cleanPlan = formatted(clean.searchCount("which"))
    assert(!cleanPlan.contains("LeftAnti"), cleanPlan)
    clean.close()
    // a tombstoned copy: the doc-key resolution carries ONE broadcast
    // anti-join against the (tiny) tombstone table; the postings-side
    // pushed predicates survive untouched
    val dir = tmpDir("graft-plan-del")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, 20, partitions = 4), dir, conf)
    graft.index.IndexDeleter.delete(spark, dir,
      Seq(TranscriptGen.convId(0L)).toDF("conv_id"))
    val del = new Searcher(spark, new IndexStore(dir), conf)
    val plan = formatted(del.searchCount("which"))
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("StringStartsWith(term,which)"), plan)
    del.close()
  }

  test("shingle generation is map-side: zero exchanges before the join") {
    // r3 rewrote shingles from posexplode + per-doc window + post-explode
    // distinct (two shuffles) to a sliding array transform with
    // array_distinct before the explode — at scale the shingle frame must
    // go straight from the scan into the inverted join's exchange
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Dedup.shingles(docs, 3)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).isEmpty, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("corpus-hygiene projections are shuffle-free; chunking too") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for ((name, df) <- Seq(
        "pii" -> graft.pipeline.CorpusFilters.piiRedact(docs),
        "repetition" -> graft.pipeline.CorpusFilters.repetition(docs),
        "urls" -> graft.pipeline.CorpusFilters
          .urlFilter(docs, Seq("x.example")),
        "chunk" -> graft.pipeline.TextStats.chunk(docs, 40, 10))) {
      val plan = df.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).isEmpty, s"$name:\n$plan")
    }
  }

  test("positional grams are map-side; span dedup shuffles exactly twice") {
    // the spanDups contract at scale: ONE hash shuffle of the gram stream
    // (the occurrence count) and ONE doc_id shuffle shared by BOTH
    // gaps-and-islands windows and the island aggregate (the groupBy
    // reuses the window's partitioning — a regression inserting a third
    // shuffle between them is exactly what this pin catches); the small
    // dup-gram set and the span frame ride broadcasts
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pgPlan = graft.pipeline.Dedup.positionalGrams(docs, 8)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(pgPlan).isEmpty, pgPlan)
    val plan = graft.pipeline.Dedup.spanDups(docs, 8)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(g".r.findAllIn(plan).length == 1, plan)
    assert("Exchange hashpartitioning\\(doc_id".r
      .findAllIn(plan).length == 1, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("removeSpans: corpus stays map-side — broadcast ranges, no token shuffle") {
    // r4's shape posexploded the whole corpus token stream and shuffled it
    // by doc_id to reassemble; the r5 kernel shape must keep the corpus on
    // the streamed side of a broadcast join with the strip in ONE
    // projection (removeSpans scaladoc: the hint is explicit because AQE
    // cannot size the range side here).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cleaned = graft.pipeline.Dedup.removeSpans(docs,
      graft.pipeline.Dedup.spanDups(docs, 8))
    cleaned.collect()
    val plan = cleaned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the outer corpus ⟵ ranges join is broadcast; nothing SMJs
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exchanges: 1 on the gram hash + 1 on doc_id (the span-side
    // gaps-and-islands window, whose partitioning the island AND range
    // aggregates reuse) — a corpus-side token shuffle would add another
    assert("Exchange hashpartitioning\\(g".r.findAllIn(plan).length == 1,
      plan)
    assert("Exchange hashpartitioning\\(doc_id".r
      .findAllIn(plan).length == 1, plan)
    assert(!plan.contains("SinglePartition"), plan)
    // the old reassembly markers must be gone from the corpus side
    assert(!plan.contains("collect_list(struct"), plan)
  }

  test("sequence packing shuffles ONCE, by the stratum column") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.TextStats.packSequences(docs, 2048)
      .queryExecution.executedPlan.toString
    // one hashpartitioning(source) exchange feeding the window — not a
    // global single-partition sort
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("hashpartitioning(source"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("relational scan: filter and projection reach the parquet reader") {
    val df = graft.app.EntryQueries.all("q_agg_pushdown")(
      spark, "/root/testdata/sf0.001")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    // column pruning: the read schema holds only the referenced columns
    val read = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(read.contains("l_shipdate") && read.contains("l_quantity"))
    assert(!read.contains("l_comment") && !read.contains("l_partkey"), read)
  }
}
