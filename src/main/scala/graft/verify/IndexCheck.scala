package graft.verify

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{Codec, IndexStore}

/** Structural index validation — the Spark analog of the reference's
  * `--check` / `Index::expensive_index_check` (reference:
  * app/Index/Index_Check.cpp:12-385, docs/Index-Checks.md): a handful of
  * aggregations/joins over the snapshot tables instead of a sequential
  * byte-structure walk. Each check returns its violation count; a healthy
  * snapshot returns all zeros.
  *
  * Checks (reference analog in parens):
  *   - docs: unique doc_id, unique (conv_id, turn_idx), ids within
  *     0..maxDocId and exactly maxDocId + 1 - purgedDocs of them (dense
  *     but for the ids compaction purged) (paths separators consistency /
  *     no duplicate IDs)
  *   - doc_stats: exactly one row per doc; dl >= word_count >= 0
  *     (counts file size = 4 x paths)
  *   - dict: terms lowercase a-z within the tokenizer's length bounds;
  *     unique; df > 0 (words sorted, chars in range)
  *   - postings: part doc ranges well-formed and non-overlapping per term,
  *     part numbering contiguous (reversed/additional chain well-formedness)
  *   - postings decode: stored df / max_tf / first_doc / last_doc match the
  *     decoded payload; doc ids strictly increasing (no 0-gaps, no dups)
  *   - referential: every posting doc range within [0, max doc_id]; every
  *     dict term has parts and vice versa (no additional block referenced
  *     twice / IDs in range)
  */
object IndexCheck {

  /** Run all checks on the current snapshot; returns (check, violations).
    *
    * The result is ONE DataFrame whose plan runs one multi-column
    * aggregate per INPUT (a check over the docs table shares its scan
    * with every other docs check), exploded back to (check_name,
    * violations) rows — the caller's single action runs every check with
    * one pass per table (r1: 4.4 s of the bench was 16 sequential count
    * jobs; r6: the 16-branch union still paid one scan + exchange +
    * AQE stage job PER CHECK — 28 jobs for one action. Grouping by input
    * is the guide §2.4 shared-scan move and reads each snapshot table
    * once at any corpus scale). */
  def run(spark: SparkSession, store: IndexStore): DataFrame = {
    import spark.implicits._
    val docs = store.docs(spark)
    val stats = store.docStats(spark)
    val dict = store.dict(spark)
    val posts = store.postings(spark)
    val meta = store.currentMeta

    /** One multi-column aggregate over `df`, exploded to one
      * (check_name, violations) row per check — N checks, one scan. */
    def multi(df: DataFrame, checks: (String, org.apache.spark.sql.Column)*)
        : DataFrame = {
      val aggs = checks.zipWithIndex.map { case ((_, c), i) =>
        coalesce(c, lit(0L)).cast("long").as(s"_c$i") }
      val pairs = checks.zipWithIndex.flatMap { case ((n, _), i) =>
        Seq(lit(n), col(s"_c$i")) }
      df.agg(aggs.head, aggs.tail: _*)
        .select(explode(map(pairs: _*)).as(Seq("check_name", "violations")))
    }

    // -- docs: ONE scan feeds all three aggregates
    val docsChecks = multi(docs,
      "docs_duplicate_ids" -> (count(lit(1)) - countDistinct($"doc_id")),
      "docs_duplicate_keys" ->
        (count(lit(1)) - countDistinct($"conv_id", $"turn_idx")),
      // ids are never reused, so with unique ids in 0..maxDocId the row
      // count pins them: every assigned id but the purged ones
      // (coalesce: an EMPTY docs table has no out-of-range id)
      "docs_ids_dense" ->
        when(count(lit(1)) === meta.maxDocId + 1 - meta.purgedDocs &&
          coalesce(min($"doc_id") >= 0 && max($"doc_id") <= meta.maxDocId,
            lit(true)), 0L)
          .otherwise(1L))

    // -- doc_stats: the referential join and the bounds, one pass each
    val statsJoinChecks = multi(
      docs.join(stats, Seq("doc_id"), "full_outer"),
      "doc_stats_missing_or_orphan" ->
        sum(when($"conv_id".isNull || $"word_count".isNull, 1L).otherwise(0L)))
    val statsChecks = multi(stats,
      "doc_stats_bounds" ->
        sum(when($"word_count" < 0 || $"dl" < $"word_count", 1L).otherwise(0L)))

    // -- dict: one scan, three aggregates; the letter consistency the
    // reference's words_f validation covers (app/Index/Index_Check.cpp:
    // 121-180 — a letter/term mismatch would silently break partition
    // pruning) spans dict ∪ postings, so it keeps its own pass
    val dictChecks = multi(dict,
      "dict_term_charset_or_length" ->
        sum(when(!$"term".rlike("^[a-z]+$") ||
          length($"term") < 4 || length($"term") > 19, 1L).otherwise(0L)),
      "dict_duplicate_terms" -> (count(lit(1)) - countDistinct($"term")),
      "dict_nonpositive_df" -> sum(when($"df" <= 0, 1L).otherwise(0L)))
    val letterChecks = multi(
      dict.select($"letter", $"term")
        .unionByName(posts.select($"letter", $"term")),
      "letter_term_consistency" ->
        sum(when($"letter" =!= substring($"term", 1, 1), 1L).otherwise(0L)))

    // -- postings: one windowed pass covers ordering + numbering; the
    // range bound rides the plain scan
    val partW = Window.partitionBy($"term").orderBy($"part")
    val partsOrdered = posts
      .withColumn("prev_last", lag($"last_doc", 1).over(partW))
      .withColumn("rn", row_number().over(partW) - 1)
    val postChecks = multi(partsOrdered,
      "postings_part_range_overlap" ->
        sum(when($"first_doc" > $"last_doc" ||
          ($"prev_last".isNotNull && $"prev_last" >= $"first_doc"), 1L)
          .otherwise(0L)),
      "postings_part_numbering" ->
        sum(when($"part" =!= $"rn", 1L).otherwise(0L)))
    val rangeChecks = multi(posts,
      "postings_doc_range" ->
        sum(when($"first_doc" < 0 || $"last_doc" > meta.maxDocId, 1L)
          .otherwise(0L)))

    // -- postings payloads: the one decode pass (heavy, stays its own scan)
    val decodeBad = posts.select($"term", $"part", $"first_doc", $"last_doc",
        $"df", $"max_tf", $"bytes")
      .as[(String, Int, Long, Long, Long, Int, Array[Byte])]
      .map { case (term, part, fd, ld, df, maxTf, bytes) =>
        val ps = Codec.decodeAll(bytes)
        val increasing = ps.length < 2 ||
          ps.sliding(2).forall(w => w(0).docId < w(1).docId)
        val ok = ps.nonEmpty && increasing &&
          ps.length.toLong == df && ps.head.docId == fd &&
          ps.last.docId == ld && ps.map(_.tf).max == maxTf &&
          ps.forall(p => p.tf > 0 && p.dl >= 0)
        if (ok) 0L else 1L
      }.toDF("bad")
    val decodeChecks = multi(decodeBad,
      "postings_decode_mismatch" -> sum($"bad"))

    // -- referential dict <-> postings: one full-outer aggregate pass
    val refJoin = posts.groupBy($"term").agg(sum($"df").as("pdf"))
      .join(dict.select($"term", $"df"), Seq("term"), "full_outer")
    val refChecks = multi(refJoin,
      "dict_without_parts" -> sum(when($"pdf".isNull, 1L).otherwise(0L)),
      "parts_without_dict" -> sum(when($"df".isNull, 1L).otherwise(0L)),
      "dict_df_vs_parts_df" ->
        sum(when($"pdf".isNotNull && $"df".isNotNull && $"pdf" =!= $"df", 1L)
          .otherwise(0L)))

    Seq(docsChecks, statsJoinChecks, statsChecks, dictChecks, letterChecks,
      postChecks, rangeChecks, decodeChecks, refChecks)
      .reduce(_ unionByName _)
  }

  /** True iff every check passes. */
  def healthy(spark: SparkSession, store: IndexStore): Boolean = {
    import spark.implicits._
    run(spark, store).filter($"violations" > 0).count() == 0
  }

  /** Check names in report order (shared with the driver oracle). */
  val CheckNames: Seq[String] = Seq(
    "docs_duplicate_ids", "docs_duplicate_keys", "docs_ids_dense",
    "doc_stats_missing_or_orphan", "doc_stats_bounds",
    "dict_term_charset_or_length", "dict_duplicate_terms",
    "dict_nonpositive_df", "letter_term_consistency",
    "postings_part_range_overlap", "postings_part_numbering",
    "postings_decode_mismatch", "postings_doc_range", "dict_without_parts",
    "parts_without_dict", "dict_df_vs_parts_df")
}
