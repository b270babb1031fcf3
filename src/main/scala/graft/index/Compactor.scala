package graft.index

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EngineConf, Turn}
import graft.tokenize.Tokenizer

/** Snapshot compaction: squash a merge-layer chain back into one
  * self-contained layer, and optionally apply the "fix extension"
  * (SURVEY.md §4.2) that the reference's additive merge cannot: rebuild the
  * postings of re-indexed docs from their CURRENT text, dropping stale
  * postings (terms the doc no longer contains) and stale tf/dl values that
  * old-wins merge semantics keep forever (reference:
  * app/Index/Index_Merge.cpp:63-296 never deletes).
  *
  * Compaction is Θ(index) by design — it is the scheduled background job
  * that bounds read amplification (layer count) and reclaims merge garbage,
  * exactly like Iceberg table compaction; merges stay Θ(batch).
  */
object Compactor {

  /** Squash the current snapshot's layers into a new single-layer snapshot.
    *
    * @param fix when given, docs present in this corpus (matched on
    *   (conv_id, turn_idx); ids are PRESERVED) get their postings and
    *   doc_stats rebuilt from the corpus text — search results afterwards
    *   equal a fresh full build of the current truth. Docs in `fix` that
    *   were never indexed are ignored (compaction never assigns ids). */
  def compact(spark: SparkSession, root: String,
      conf: EngineConf = EngineConf.default,
      fix: Option[Dataset[Turn]] = None): IndexMeta = {
    import spark.implicits._
    val store = new IndexStore(root)
    val oldV = store.currentVersion.getOrElse(
      throw new IllegalStateException(s"no snapshot to compact at $root"))
    val oldMeta = store.meta(oldV)
    val v = store.nextVersion
    val dir = store.snapshotDir(v)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val done = store.completedStages(v)
    val P = conf.shufflePartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    // scale-adaptive shuffle width (the IndexBuilder pEff rationale):
    // compaction is Θ(index), so size the shuffles to the index being
    // squashed — oldMeta.numDocs is already on the driver, no extra job
    val pEff = math.min(P, math.max(1, (oldMeta.numDocs / 2000L).toInt))

    def stage(name: String)(f: => Unit): Unit =
      store.instrumentedStage(spark, v, name, done) { f; -1L }

    // tombstoned ids as of the old snapshot — compaction PURGES them (the
    // [[IndexDeleter]] contract: after compaction the snapshot equals a
    // fresh build over the live corpus, stats included)
    val deleted: Option[org.apache.spark.sql.DataFrame] =
      store.deletedIdsAt(spark, oldV)
    def dropDeleted(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = deleted match {
      case None => df
      case Some(del) => df.join(broadcast(del), Seq("doc_id"), "left_anti")
    }

    // resolved (doc_id, text) of the fix corpus — empty when fix is None;
    // a doc both fixed and tombstoned stays deleted (the tombstone wins)
    def fixDocs: Dataset[(Long, String)] = fix match {
      // named columns even when empty: the tombstone-only rewrite path
      // consumes this frame by column (doc_id), not by position
      case None => spark.emptyDataset[(Long, String)]
        .toDF("doc_id", "text").as[(Long, String)]
      case Some(corpus) =>
        dropDeleted(corpus.dropDuplicates(Seq("conv_id", "turn_idx"))
          .select($"conv_id", $"turn_idx", $"text")
          .join(store.docsAt(spark, oldV), Seq("conv_id", "turn_idx"))
          .select($"doc_id", $"text"))
          .as[(Long, String)]
    }

    stage("docs") {
      dropDeleted(store.docsAt(spark, oldV))
        .repartitionByRange(pEff, $"doc_id").sortWithinPartitions($"doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
    }

    stage("doc_stats") {
      val base = dropDeleted(store.docStatsAt(spark, oldV))
      val out = fix match {
        case None => base
        case Some(_) =>
          val fresh = fixDocs.map { case (id, text) =>
            val st = Tokenizer.stats(text)
            (id, st.wordCount, st.dl)
          }.toDF("doc_id", "word_count", "dl")
          base.join(fresh.select($"doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(fresh)
      }
      out.repartitionByRange(pEff, $"doc_id").sortWithinPartitions($"doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/doc_stats")
    }

    stage("postings") {
      val cur = store.postingsAt(spark, oldV)
      if (fix.isEmpty && deleted.isEmpty) {
        // pure squash: masked-union rows already carry dense part
        // numbering per term — rewrite as one layer, no decode
        IndexBuilder.writeParts(cur, s"$dir/postings", pEff)
      } else if (fix.isEmpty) {
        // tombstone-only purge: decode-filter-re-encode each part IN
        // PLACE (the Lucene live-docs merge move). Removal can only
        // SHRINK a part, so doc ranges stay disjoint and ordered and the
        // per-task buffer stays bounded by the part itself — no need to
        // explode every posting into a corpus-wide (term, doc) shuffle
        // and re-aggregate it (the fix-rewrite path below pays that
        // because fresh tokens must interleave into existing parts; a
        // pure purge never does). One map-side pass + a part-row-sized
        // renumber window replace the exploded exchange (guide §2.3:
        // shuffle bytes ~posting-rows → ~part-rows). Parts whose postings
        // were all tombstoned drop out; a term losing every part loses
        // its dict row in the dict stage below, exactly like the rewrite
        // path. Tombstones are Θ(deletes-since-compaction) by the
        // [[IndexDeleter]] contract — the sorted-array broadcast is the
        // same bounded shape the WAND skip list ships.
        val delArr = deleted.get.select($"doc_id").as[Long]
          .collect().sorted
        val delB = spark.sparkContext.broadcast(delArr)
        val filtered = cur
          .select($"term", $"part", $"bytes")
          .as[(String, Int, Array[Byte])]
          .mapPartitions { it =>
            val del = delB.value
            it.flatMap { case (term, part, bytes) =>
              val ps = Codec.decodeAll(bytes).filter(p =>
                java.util.Arrays.binarySearch(del, p.docId) < 0)
              if (ps.isEmpty) Iterator.empty
              else {
                var maxTf = 0
                ps.foreach(p => if (p.tf > maxTf) maxTf = p.tf)
                Iterator((term, part, ps.head.docId, ps.last.docId,
                  ps.length.toLong, maxTf,
                  Codec.encode(ps, conf.blockSize)))
              }
            }
          }
          .toDF("term", "opart", "first_doc", "last_doc", "df", "max_tf",
            "bytes")
        val renumbered = filtered
          .withColumn("part",
            (row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy($"term").orderBy($"opart")) - 1))
          .select(substring($"term", 1, 1).as("letter"), $"term", $"part",
            $"first_doc", $"last_doc", $"df", $"max_tf", $"bytes")
        IndexBuilder.writeParts(renumbered, s"$dir/postings", pEff)
      } else {
        // decode everything, drop rows of fixed AND tombstoned docs,
        // union fixed docs' fresh tokens, re-encode — the one
        // full-rewrite pass compaction owns (a term whose postings all
        // belonged to tombstoned docs vanishes here, dict row included)
        val fd = fixDocs
        val fixedIds = fd.select($"doc_id")
        val fresh = fd.flatMap { case (id, text) =>
          val st = Tokenizer.stats(text)
          st.tf.iterator.map { case (term, tf) => (term, id, tf, st.dl) }
        }.toDF("term", "doc_id", "tf", "dl")
        val decoded = dropDeleted(cur
          .select($"term", $"bytes")
          .as[(String, Array[Byte])]
          .flatMap { case (term, bytes) =>
            Codec.decodeAll(bytes).iterator
              .map(p => (term, p.docId, p.tf, p.dl))
          }.toDF("term", "doc_id", "tf", "dl"))
          .join(fixedIds, Seq("doc_id"), "left_anti")
        val tokens = decoded.unionByName(fresh)
          .select($"term", $"doc_id", $"tf", $"dl")
        val span = oldMeta.maxDocId + 1
        val hot: Map[String, Int] = tokens.groupBy($"term")
          .agg(count(lit(1)).as("df"))
          .filter($"df" > conf.maxPostingsPerPart)
          .as[(String, Long)].collect()
          .map { case (t, df) =>
            t -> math.ceil(df.toDouble / conf.maxPostingsPerPart).toInt }
          .toMap
        IndexBuilder.writeParts(
          IndexBuilder.encodeParts(spark, tokens, span, hot, conf, pEff),
          s"$dir/postings", pEff)
      }
    }

    stage("dict") {
      spark.read.parquet(s"$dir/postings")
        .groupBy($"letter", $"term")
        .agg(sum($"df").as("df"), count(lit(1)).cast("int").as("parts"))
        .repartitionByRange(math.max(1, pEff / 4), $"term")
        .sortWithinPartitions($"term")
        .write.mode(SaveMode.Overwrite).partitionBy("letter")
        .parquet(s"$dir/dict")
    }

    store.writeLayers(v, Seq(TableLayer(v, s"v$v/docs", s"v$v/doc_stats",
      s"v$v/postings", s"v$v/dict", None)))
    val stats = store.docStatsAt(spark, v)
    // Option aggregate (the IndexBuilder meta convention): a snapshot
    // whose docs were ALL tombstoned compacts to a valid empty index
    val (numDocs, totalTokensOpt) = stats
      .agg(count(lit(1)), sum($"dl"))
      .as[(Long, Option[Long])].head()
    val totalTokens = totalTokensOpt.getOrElse(0L)
    // compaction writes a fresh single-layer dict with one row per term —
    // numTerms is its parquet footer row count (same invariant the
    // builder's meta stage relies on), not a distinct shuffle
    val numTerms =
      if (IndexStore.dirHasParquet(s"${store.snapshotDir(v)}/dict"))
        spark.read.parquet(s"${store.snapshotDir(v)}/dict").count()
      else 0L
    // ids are never reused: maxDocId stays, and the purge is counted
    // (numDocs before compaction still includes the tombstoned docs)
    val meta = IndexMeta(v, numDocs, oldMeta.maxDocId, totalTokens,
      if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs,
      numTerms, conf.k1, conf.b, conf.blockSize,
      oldMeta.purgedDocs + oldMeta.numDocs - numDocs)
    store.writeMeta(v, meta)
    store.recordStage(v, "meta", numDocs, 0L,
      Map("compactedFrom" -> s"v$oldV", "fix" -> fix.nonEmpty,
        "numTerms" -> numTerms))
    store.commit(v)
    meta
  }
}
