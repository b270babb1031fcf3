package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.model._
import graft.tokenize.Tokenizer

/** One tagged part row entering a posting merge (src 0 = old snapshot wins). */
final case class MIn(first_doc: Long, last_doc: Long, bytes: Array[Byte], src: Int)

/** Wrapper so the merge aggregator output has a Product encoder. */
final case class MOut(parts: Seq[PartAgg])

/** Merge-regroup aggregator: decodes the overlapping old+new parts of one
  * term, unions postings with the reference's additive semantics (a doc
  * already present keeps its old posting — M4 removes already-present doc
  * IDs from the incoming batch, reference: app/Index/Index_Merge.cpp:63-296),
  * then re-splits into bounded parts. */
final class MergePartsAgg(maxPerPart: Int, blockSize: Int)
    extends Aggregator[MIn, ArrayBuffer[MIn], MOut] {
  override def zero: ArrayBuffer[MIn] = ArrayBuffer.empty
  override def reduce(b: ArrayBuffer[MIn], a: MIn): ArrayBuffer[MIn] = { b += a; b }
  override def merge(a: ArrayBuffer[MIn], b: ArrayBuffer[MIn]): ArrayBuffer[MIn] = { a ++= b; a }
  override def finish(buf: ArrayBuffer[MIn]): MOut = {
    def stream(src: Int): Array[Codec.Posting] =
      buf.filter(_.src == src).sortBy(_.first_doc).toArray
        .flatMap(p => Codec.decodeAll(p.bytes))
    val olds = stream(0); val news = stream(1)
    val out = new ArrayBuffer[Codec.Posting](olds.length + news.length)
    var i = 0; var j = 0
    while (i < olds.length || j < news.length) {
      if (j >= news.length) { out += olds(i); i += 1 }
      else if (i >= olds.length) { out += news(j); j += 1 }
      else if (olds(i).docId < news(j).docId) { out += olds(i); i += 1 }
      else if (olds(i).docId > news(j).docId) { out += news(j); j += 1 }
      else { out += olds(i); i += 1; j += 1 } // old wins (additive semantics)
    }
    MOut(out.grouped(maxPerPart).map { chunk =>
      var maxTf = 0
      chunk.foreach(p => if (p.tf > maxTf) maxTf = p.tf)
      PartAgg(chunk.head.docId, chunk.last.docId, chunk.length.toLong, maxTf,
        Codec.encode(chunk, blockSize))
    }.toSeq)
  }
  override def bufferEncoder = Encoders.kryo[ArrayBuffer[MIn]]
  override def outputEncoder = Encoders.product[MOut]
}

/** Incremental merge: new corpus batch into an existing snapshot — the
  * Spark-first replacement for the reference's in-place WAL merge
  * (reference: app/Index/Index_Merge.cpp:547-1037).
  *
  * Cost model (north_rule incremental economy): the new snapshot is the old
  * snapshot's data directories carried BY REFERENCE in tables.jsonl plus
  * delta directories written here — fresh docs, the batch's doc_stats, the
  * batch's posting parts, their dict rows. Bytes written are Θ(batch), not
  * Θ(index); the only old-index I/O is one docs scan (id resolution, batch
  * keys broadcast) and — only when the batch re-indexes existing docs — a
  * letter-pruned read of the affected terms' old parts for the regroup. A
  * pure-append batch (new conversations arriving, the transcript steady
  * state) reads zero old posting bytes.
  *
  * Semantics preserved from the reference (SURVEY.md §7.1.7):
  *   - re-indexed docs keep their ids (M1 path join) and OVERWRITE their
  *     doc_stats (the delta layer wins at read), but stale postings are
  *     never deleted;
  *   - on a (term, doc) collision the old posting wins (M4) — those terms
  *     are regrouped into this layer and the old layers masked via
  *     `replaced_terms`;
  *   - new docs are appended with fresh ids (M2);
  *   - new terms are inserted (M5) — free in the layer union.
  */
object IndexMerger {

  def merge(spark: SparkSession, corpus: Dataset[Turn], root: String,
      conf: EngineConf = EngineConf.default): IndexMeta = {
    import spark.implicits._
    val store = new IndexStore(root)
    val oldV = store.currentVersion.getOrElse(
      throw new IllegalStateException(s"no snapshot to merge into at $root"))
    val oldMeta = store.meta(oldV)
    val v = store.nextVersion
    val dir = store.snapshotDir(v)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val done = store.completedStages(v)
    val P = conf.shufflePartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)

    def stage(name: String)(f: => Unit): Unit =
      store.instrumentedStage(spark, v, name, done) { f; -1L }

    // -- batch_prep: resolve ids at TURN granularity (M1 keep / M2 append)
    // and compute the row-local tokenizer stats in the same pass. The old
    // docs table is scanned once with the batch keys broadcast (map-side
    // semi/inner); every other frame here is batch-sized.
    stage("batch_prep") {
      // both the deduped batch (its shuffle) and the old-docs lookup are
      // consumed by three downstream jobs (anti, zipWithIndex's count, the
      // write) — persist so each computes ONCE
      val batch = corpus.dropDuplicates(Seq("conv_id", "turn_idx"))
        .select($"conv_id", $"turn_idx", $"text")
        .persist()
      val keys = batch.select($"conv_id", $"turn_idx")
      val known = store.docsAt(spark, oldV)
        .join(broadcast(keys), Seq("conv_id", "turn_idx"))
        .select($"doc_id", $"conv_id", $"turn_idx", lit(false).as("is_new"))
        .persist()
      val fresh = keys
        .join(known.select($"conv_id", $"turn_idx"),
          Seq("conv_id", "turn_idx"), "left_anti")
        .repartitionByRange(P, $"conv_id", $"turn_idx")
        .sortWithinPartitions($"conv_id", $"turn_idx")
        .as[(String, Int)]
      val offset = oldMeta.maxDocId + 1
      val assigned = spark.createDataset(
          fresh.rdd.zipWithIndex().map { case ((c, t), i) =>
            (offset + i, c, t) })
        .toDF("doc_id", "conv_id", "turn_idx")
        .withColumn("is_new", lit(true))
      batch.join(known.unionByName(assigned), Seq("conv_id", "turn_idx"))
        .select($"doc_id", $"conv_id", $"turn_idx", $"text", $"is_new")
        .as[(Long, String, Int, String, Boolean)]
        .map { case (id, c, t, text, isNew) =>
          val st = Tokenizer.stats(text)
          (id, c, t, text, isNew, st.wordCount, st.dl)
        }
        .toDF("doc_id", "conv_id", "turn_idx", "text", "is_new",
          "word_count", "dl")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/_batch")
      known.unpersist(blocking = false)
      batch.unpersist(blocking = false)
    }
    val batchPrep = spark.read.parquet(s"$dir/_batch")

    // ONE aggregate job over the (batch-sized) prep frame feeds everything
    // the driver used to learn from four separate jobs (r2: batch count,
    // fresh-docs max, doc_stats totals, numDocs) PLUS the empty-batch
    // check (r2: a separate corpus.isEmpty pre-job): row count, fresh-doc
    // count/max-id, token totals, re-indexed count
    val (batchRows, nNewOpt, maxNewId, batchDlOpt, nReidxOpt) = batchPrep.agg(
        count(lit(1)),
        sum(when($"is_new", 1L).otherwise(0L)),
        max(when($"is_new", $"doc_id")),
        sum($"dl".cast("long")),
        sum(when(!$"is_new", 1L).otherwise(0L)))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .head()
    val (nNew, batchDl, nReidx) =
      (nNewOpt.getOrElse(0L), batchDlOpt.getOrElse(0L), nReidxOpt.getOrElse(0L))

    // an empty batch is a no-op: keep the current snapshot, drop the
    // (empty) staging dir, commit nothing
    if (batchRows == 0) {
      IndexBuilder.deleteRecursive(java.nio.file.Paths.get(dir))
      return oldMeta
    }

    // scale-adaptive shuffle width for the Θ(batch) stages (the
    // IndexBuilder pEff rationale): a 2% merge batch must not pay P
    // near-empty sort tasks and write P near-empty delta files per table
    val pEff = math.min(P, math.max(1, (batchRows / 2000L).toInt))

    // -- docs delta: ONLY the fresh docs; old docs ride along by reference
    stage("docs") {
      batchPrep.filter($"is_new")
        .select($"doc_id", $"conv_id", $"turn_idx")
        .repartitionByRange($"doc_id")
        .sortWithinPartitions($"doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
    }

    // -- doc_stats delta: every batch doc (fresh AND re-indexed — the layer
    // precedence at read time is the M1 stats overwrite)
    stage("doc_stats") {
      batchPrep.select($"doc_id", $"word_count", $"dl")
        .repartitionByRange($"doc_id")
        .sortWithinPartitions($"doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/doc_stats")
    }

    // -- segment: tokenize fused into the term shuffle (no token
    // materialization), exact hot-term split over the batch
    stage("segment") {
      val tokens = batchPrep.select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val st = Tokenizer.stats(text)
          st.tf.iterator.map { case (term, tf) => (term, id, tf, st.dl) }
        }
        .toDF("term", "doc_id", "tf", "dl")
      // a term's batch df is bounded by the batch row count (from the fused
      // prep aggregate), so small batches skip the hot-term detection pass
      // entirely (the encoder's hard run cap still bounds memory either
      // way — salting only adds parallelism)
      val span = 1 + math.max(oldMeta.maxDocId, maxNewId.getOrElse(0L))
      val hot: Map[String, Int] =
        if (batchRows <= conf.maxPostingsPerPart) Map.empty
        else tokens.groupBy($"term")
          .agg(count(lit(1)).as("df"))
          .filter($"df" > conf.maxPostingsPerPart)
          .as[(String, Long)].collect()
          .map { case (t, df) =>
            t -> math.ceil(df.toDouble / conf.maxPostingsPerPart).toInt }
          .toMap
      IndexBuilder.writeParts(
        IndexBuilder.encodeParts(spark, tokens, span, hot, conf, pEff),
        s"$dir/_segment", pEff)
    }

    // -- postings delta: batch parts whose terms never touch the old id
    // space append with part numbers offset past the old count; terms that
    // DO reach into old ids (re-indexed docs) get the old-wins regroup, and
    // their old-layer rows are masked via replaced_terms
    def dirHasParquet(p: String): Boolean = IndexStore.dirHasParquet(p)

    // letters present in a letter=? partitioned delta dir — from the
    // directory listing, no Spark job; used to letter-prune the old dict
    // scans below (the batch's vocabulary usually touches a subset)
    def deltaLetters(p: String): Seq[String] = {
      val path = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.isDirectory(path)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        val ls = java.nio.file.Files.list(path)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("letter=")).map(_.stripPrefix("letter="))
          .toSeq
        finally ls.close()
      }
    }

    stage("postings") { if (dirHasParquet(s"$dir/_segment")) {
      val newP = spark.read.parquet(s"$dir/_segment")
      val affected = newP.filter($"first_doc" <= oldMeta.maxDocId)
        .select($"term").distinct().persist()
      // one job: affected-term count AND their letters (r2 ran two)
      val (nAffected, letters) = affected
        .agg(count(lit(1)), collect_set(substring($"term", 1, 1)))
        .as[(Long, Seq[String])].head()

      val segLetters = deltaLetters(s"$dir/_segment")
      val oldDict = store.dictAt(spark, oldV)
        .filter($"letter".isin(segLetters: _*))
        .select($"term", $"parts".as("old_parts"))
      val appended = newP.join(broadcast(affected), Seq("term"), "left_anti")
        .join(oldDict, Seq("term"), "left")
        .withColumn("part",
          $"part" + coalesce($"old_parts", lit(0)).cast("int"))
        .drop("old_parts")

      val regrouped = if (nAffected == 0) spark.emptyDataFrame else {
        val oldAffected = store.postingsAt(spark, oldV)
          .filter($"letter".isin(letters: _*))
          .join(broadcast(affected), Seq("term"))
        val magg = udaf(
          new MergePartsAgg(conf.maxPostingsPerPart, conf.blockSize),
          Encoders.product[MIn])
        oldAffected
          .select($"term", $"first_doc", $"last_doc", $"bytes", lit(0).as("src"))
          .unionByName(newP.join(broadcast(affected), Seq("term"))
            .select($"term", $"first_doc", $"last_doc", $"bytes",
              lit(1).as("src")))
          .groupBy($"term")
          .agg(magg($"first_doc", $"last_doc", $"bytes", $"src").as("ps"))
          .select($"term", explode($"ps.parts").as("p"))
          .select(substring($"term", 1, 1).as("letter"), $"term",
            (row_number().over(
              Window.partitionBy($"term").orderBy($"p.first_doc")) - 1)
              .as("part"),
            $"p.first_doc".as("first_doc"), $"p.last_doc".as("last_doc"),
            $"p.df".as("df"), $"p.max_tf".as("max_tf"), $"p.bytes".as("bytes"))
      }

      val delta =
        if (nAffected == 0) appended else appended.unionByName(regrouped)
      IndexBuilder.writeParts(delta, s"$dir/postings", pEff)
      if (nAffected > 0)
        affected.repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/replaced_terms")
      affected.unpersist()
      store.recordStage(v, "postings_lineage", nAffected, 0L,
        Map("affectedTerms" -> nAffected, "appendOnly" -> (nAffected == 0)))
    } } // a tokenless batch (all-empty texts) writes no postings delta

    // -- dict delta: derived from the delta postings alone (regrouped terms
    // carry their FULL df here and mask the base row; appended terms sum
    // with the base row at read)
    stage("dict") { if (dirHasParquet(s"$dir/postings")) {
      spark.read.parquet(s"$dir/postings")
        .groupBy($"letter", $"term")
        .agg(sum($"df").as("df"), count(lit(1)).cast("int").as("parts"))
        .repartitionByRange($"term")
        .sortWithinPartitions($"term")
        .write.mode(SaveMode.Overwrite).partitionBy("letter")
        .parquet(s"$dir/dict")
    } }

    // -- resurrection: re-indexing a tombstoned key makes it live again —
    // the newest-wins tombstone table shrinks by the batch's ids (see
    // [[IndexDeleter]]; a full resurrection keeps the -1 sentinel row so
    // the table stays non-empty — an empty dir would read as "inherit").
    // Θ(tombstones) + one broadcast probe of the batch — never the index.
    val deletedPath: Option[String] = store.deletedIdsAt(spark, oldV) match {
      case None => None
      case Some(del) =>
        val hit = batchPrep.select($"doc_id")
          .join(broadcast(del), Seq("doc_id")).count()
        if (hit == 0) None
        else {
          del.join(batchPrep.select($"doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(spark.range(1).select(lit(-1L).as("doc_id")))
            .repartition(1).sortWithinPartitions($"doc_id")
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/deleted")
          store.recordStage(v, "undelete", hit, 0L,
            Map("resurrected" -> hit))
          Some(s"v$v/deleted")
        }
    }

    // -- layer list, meta, commit
    val replaced =
      if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/replaced_terms")))
        Some(s"v$v/replaced_terms")
      else None
    store.writeLayers(v, store.layers(oldV) :+ TableLayer(v, s"v$v/docs",
      s"v$v/doc_stats", s"v$v/postings", s"v$v/dict", replaced,
      deletedPath))

    // -- meta, computed INCREMENTALLY from the old meta + batch aggregates
    // (r2 recomputed numDocs/totalTokens/numTerms from the full layered
    // doc_stats and dict unions — Θ(index) reads for a Θ(batch) merge):
    //   numDocs     += fresh docs (known ids were already counted)
    //   totalTokens += batch dl − the re-indexed docs' PREVIOUS dl (their
    //                  delta doc_stats row wins at read, M1 overwrite);
    //                  pure-append batches skip the old doc_stats read
    //   numTerms    += delta-dict terms absent from the (letter-pruned)
    //                  old dict; regrouped terms existed before, so they
    //                  never change the count
    val reindexedOldDl: Long =
      if (nReidx == 0) 0L
      else store.docStatsAt(spark, oldV)
        .join(broadcast(batchPrep.filter(!$"is_new").select($"doc_id")),
          Seq("doc_id"))
        .agg(coalesce(sum($"dl".cast("long")), lit(0L))).as[Long].head()
    val newTerms: Long =
      if (!dirHasParquet(s"$dir/dict")) 0L
      else spark.read.parquet(s"$dir/dict").select($"letter", $"term")
        .join(store.dictAt(spark, oldV)
          .filter($"letter".isin(deltaLetters(s"$dir/dict"): _*))
          .select($"term"), Seq("term"), "left_anti")
        .count()
    val numDocs = oldMeta.numDocs + nNew
    val totalTokens = oldMeta.totalTokens + batchDl - reindexedOldDl
    val maxId = math.max(oldMeta.maxDocId, maxNewId.getOrElse(Long.MinValue))
    val numTerms = oldMeta.numTerms + newTerms
    val meta = IndexMeta(v, numDocs, maxId, totalTokens,
      if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs,
      numTerms, conf.k1, conf.b, conf.blockSize, oldMeta.purgedDocs)
    store.writeMeta(v, meta)
    store.recordStage(v, "meta", numDocs, 0L,
      Map("mergedInto" -> s"v$oldV", "numTerms" -> numTerms))
    store.commit(v)
    IndexBuilder.deleteRecursive(java.nio.file.Paths.get(s"$dir/_batch"))
    IndexBuilder.deleteRecursive(java.nio.file.Paths.get(s"$dir/_segment"))
    meta
  }
}
