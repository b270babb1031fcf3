package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Jsonl

/** Snapshot metadata persisted in `meta.json`. Doc ids are never reused:
  * `maxDocId` is the highest id ever assigned, and `purgedDocs` counts the
  * ids compaction has purged since, so the docs table holds exactly
  * `maxDocId + 1 - purgedDocs` rows. */
final case class IndexMeta(
    version: Int,
    numDocs: Long,
    maxDocId: Long,
    totalTokens: Long,
    avgdl: Double,
    numTerms: Long,
    k1: Double,
    b: Double,
    blockSize: Int,
    purgedDocs: Long = 0L) {
  def toJson: String = Jsonl.write(Map(
    "version" -> version, "numDocs" -> numDocs, "maxDocId" -> maxDocId,
    "totalTokens" -> totalTokens, "avgdl" -> avgdl, "numTerms" -> numTerms,
    "k1" -> k1, "b" -> b, "blockSize" -> blockSize,
    "purgedDocs" -> purgedDocs))
}

object IndexMeta {
  /** A snapshot written before `purgedDocs` was recorded reads it as 0. */
  def fromJson(s: String): IndexMeta = {
    val m = Jsonl.parse(s)
    IndexMeta(m("version").toInt, m("numDocs").toLong, m("maxDocId").toLong,
      m("totalTokens").toLong, m("avgdl").toDouble, m("numTerms").toLong,
      m("k1").toDouble, m("b").toDouble, m("blockSize").toInt,
      m.get("purgedDocs").fold(0L)(_.toLong))
  }
}

/** One data layer of a snapshot: the delta directories one build or merge
  * produced. `replaced` names terms whose postings/dict rows in EARLIER
  * layers are superseded by this layer's regrouped parts (None = pure
  * append — the common transcript-ingest case). `deleted` names the FULL
  * tombstone set as of this layer (the newest layer carrying one wins —
  * tombstones are Θ(deletes since compaction), so the full rewrite per
  * delete/resurrect is tiny; None = inherit from the previous layer). */
final case class TableLayer(version: Int, docs: String, docStats: String,
    postings: String, dict: String, replaced: Option[String],
    deleted: Option[String] = None) {
  def toJson: String = Jsonl.write(Map(
    "version" -> version, "docs" -> docs, "doc_stats" -> docStats,
    "postings" -> postings, "dict" -> dict,
    "replaced" -> replaced.getOrElse(""),
    "deleted" -> deleted.getOrElse("")))
}

object TableLayer {
  def fromJson(s: String): TableLayer = {
    val m = Jsonl.parse(s)
    TableLayer(m("version").toInt, m("docs"), m("doc_stats"), m("postings"),
      m("dict"), Some(m.getOrElse("replaced", "")).filter(_.nonEmpty),
      Some(m.getOrElse("deleted", "")).filter(_.nonEmpty))
  }
}

/** On-disk index layout and snapshot/commit management.
  *
  * Replaces the reference's 6-file mmap layout + WAL/backup machinery
  * (reference: docs/Disk-Structure.md, app/Index/Index_Transaction.cpp) with
  * immutable versioned snapshots and an atomic commit point:
  *
  * {{{
  *   <root>/CURRENT          -- text "v<N>"; atomically replaced = commit point
  *   <root>/v<N>/meta.json
  *   <root>/v<N>/tables.jsonl     -- the layer list: which data dirs (of this
  *                                   or EARLIER versions) make up each table
  *   <root>/v<N>/manifest.jsonl   -- one JSON line per completed stage:
  *                                   lineage (inputs), rows, files, millis
  *   <root>/v<N>/docs/            -- (doc_id, conv_id, turn_idx)
  *   <root>/v<N>/doc_stats/       -- (doc_id, word_count, dl)
  *   <root>/v<N>/postings/letter=?/ -- (term, part, first_doc, last_doc,
  *                                      df, max_tf, bytes)
  *   <root>/v<N>/dict/letter=?/     -- (term, df, parts)
  *   <root>/v<N>/replaced_terms/  -- merges only: terms this layer regrouped
  * }}}
  *
  * The design is the Iceberg-snapshot pattern expressed over plain Parquet
  * (no Iceberg runtime jar ships in this sandbox, SURVEY.md §7.3): writers
  * build `v<N+1>` fully, then flip `CURRENT`. Readers resolve `CURRENT` once.
  * Crash before the flip leaves a partial staging dir that is simply ignored
  * (and resumable — completed stages are recorded in manifest.jsonl, the
  * analog of the reference's transaction WAL restart, Index.cpp:196-218).
  *
  * Incremental economy (north_rule "per-partition lineage", the Spark answer
  * to the reference's in-place merge, app/Index/Index_Merge.cpp:547-1037): a
  * merge snapshot lists the previous snapshot's data dirs in tables.jsonl
  * and adds only its own delta dirs — untouched postings/docs bytes are
  * carried by REFERENCE, never rewritten. Readers union the layers:
  *   - docs: plain union (doc ids are unique across layers);
  *   - doc_stats: latest layer wins per doc_id (re-index overwrites, M1);
  *   - postings/dict: rows of layer i are masked for terms a later layer
  *     regrouped (`replaced`); everything else unions additively (M2-M5).
  */
object IndexStore {
  /** True iff the local directory holds at least one parquet file
    * (recursive — letter= partition subdirs included). */
  def dirHasParquet(p: String): Boolean = {
    val path = Paths.get(p)
    Files.isDirectory(path) && {
      val walk = Files.walk(path)
      try walk.iterator().asScala
        .exists(_.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }
  }
}

final class IndexStore(val root: String) {
  private val rootPath: Path = Paths.get(root)

  def currentVersion: Option[Int] = {
    val cur = rootPath.resolve("CURRENT")
    if (Files.exists(cur))
      Some(Files.readString(cur).trim.stripPrefix("v").toInt)
    else None
  }

  def snapshotDir(v: Int): String = rootPath.resolve(s"v$v").toString
  def currentDir: Option[String] = currentVersion.map(snapshotDir)

  def nextVersion: Int = currentVersion.getOrElse(0) + 1

  /** Atomically flip CURRENT to version v (the commit point). */
  def commit(v: Int): Unit = {
    Files.createDirectories(rootPath)
    val tmp = rootPath.resolve(s".CURRENT.tmp")
    Files.writeString(tmp, s"v$v")
    Files.move(tmp, rootPath.resolve("CURRENT"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def meta(v: Int): IndexMeta =
    IndexMeta.fromJson(Files.readString(Paths.get(snapshotDir(v), "meta.json")))
  def currentMeta: IndexMeta = meta(currentVersion.get)

  def writeMeta(v: Int, m: IndexMeta): Unit =
    Files.writeString(Paths.get(snapshotDir(v), "meta.json"), m.toJson)

  // ---- incremental-scan watermark (reference S4 analog) -----------------
  // The reference marks a temp mtime watermark BEFORE scanning and promotes
  // it after success (app/Index/Index_Last_Updated.cpp:9-78) so mid-scan
  // changes re-index next run. Batch analog: the promoted watermark is the
  // max `ts` actually indexed — anything later re-enters the next batch.

  def writeWatermark(v: Int, maxTs: java.sql.Timestamp): Unit =
    Files.writeString(Paths.get(snapshotDir(v), "watermark"),
      maxTs.toInstant.toString)

  def watermark(v: Int): Option[java.sql.Timestamp] = {
    val p = Paths.get(snapshotDir(v), "watermark")
    if (Files.exists(p))
      Some(java.sql.Timestamp.from(
        java.time.Instant.parse(Files.readString(p).trim)))
    else None
  }

  def currentWatermark: Option[java.sql.Timestamp] =
    currentVersion.flatMap(watermark)

  // ---- stage manifest (checkpoint-resume lineage) ----------------------

  private def manifestPath(v: Int): Path =
    Paths.get(snapshotDir(v), "manifest.jsonl")

  def completedStages(v: Int): Set[String] = {
    val p = manifestPath(v)
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(l => Jsonl.parse(l)("stage")).toSet
  }

  /** Run one resumable pipeline stage with task-metric instrumentation:
    * skip if already recorded, else execute `f`, then record wall millis
    * (measured BEFORE the metrics drain — drain cost never pollutes stage
    * timing) plus the stage's shuffle/spill/max-task-read bytes from a
    * stage-scoped [[graft.util.TaskMetricsTap]]. ONE definition for
    * build, merge, and compaction — the wrapper cannot drift between
    * them. Only valid for stages whose Spark jobs run on the calling
    * thread (concurrent stages cannot be attributed from global
    * counters). */
  def instrumentedStage(spark: SparkSession, v: Int, name: String,
      done: Set[String])(f: => Long): Unit =
    if (!done.contains(name)) {
      val tap = new graft.util.TaskMetricsTap
      spark.sparkContext.addSparkListener(tap)
      val t0 = System.nanoTime()
      try {
        val rows = f
        val millis = (System.nanoTime() - t0) / 1000000L
        tap.drain()
        recordStage(v, name, rows, millis, tap.metricsMap)
      } finally spark.sparkContext.removeSparkListener(tap)
    }

  def recordStage(v: Int, stage: String, rows: Long, millis: Long,
      extra: Map[String, Any] = Map.empty): Unit = {
    Files.createDirectories(Paths.get(snapshotDir(v)))
    val outDir = Paths.get(snapshotDir(v), stage)
    val files =
      if (Files.isDirectory(outDir))
        Files.list(outDir).iterator().asScala.count(p =>
          p.getFileName.toString.endsWith(".parquet"))
      else 0
    val line = Jsonl.write(Map("stage" -> stage, "rows" -> rows,
      "millis" -> millis, "files" -> files,
      "ts" -> java.time.Instant.now.toString) ++ extra)
    Files.writeString(manifestPath(v), line + "\n",
      StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  // ---- layer list --------------------------------------------------------

  private def tablesPath(v: Int): Path =
    Paths.get(snapshotDir(v), "tables.jsonl")

  def writeLayers(v: Int, layers: Seq[TableLayer]): Unit =
    Files.writeString(tablesPath(v),
      layers.map(_.toJson).mkString("", "\n", "\n"))

  /** Layers of snapshot v, oldest first. Snapshots written before the
    * layered format (no tables.jsonl) are a single self-contained layer. */
  def layers(v: Int): Seq[TableLayer] = {
    val p = tablesPath(v)
    if (Files.exists(p))
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty).map(TableLayer.fromJson).toSeq
    else Seq(TableLayer(v, s"v$v/docs", s"v$v/doc_stats", s"v$v/postings",
      s"v$v/dict", None))
  }

  private def absPath(rel: String): String = rootPath.resolve(rel).toString

  /** True iff the directory holds at least one parquet file — a delta layer
    * can be legitimately empty (e.g. a merge batch with no fresh docs), and
    * Spark cannot infer a schema from a fileless directory. */
  private def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Reclaim snapshot versions no longer reachable: a version dir is live
    * iff it is the CURRENT version, newer than CURRENT (a staging build),
    * or referenced by CURRENT's layer list (a merge chain keeps its
    * ancestors live; compaction makes them garbage). Returns the versions
    * deleted. Safe against readers of the CURRENT snapshot; readers pinned
    * to older versions must finish before gc (single-writer assumption, as
    * with Iceberg snapshot expiration). */
  def gc(): Seq[Int] = {
    val cur = currentVersion.getOrElse(return Seq.empty)
    val referenced = layers(cur).flatMap { l =>
      (Seq(l.docs, l.docStats, l.postings, l.dict) ++ l.replaced.toSeq ++
          l.deleted.toSeq)
        .flatMap(_.split("/").headOption)
        .filter(_.startsWith("v")).map(_.stripPrefix("v").toInt)
    }.toSet + cur
    val deletable = Files.list(rootPath).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.stripPrefix("v").forall(_.isDigit))
      .map(_.stripPrefix("v").toInt)
      .filter(v => v < cur && !referenced.contains(v))
      .toSeq.sorted
    deletable.foreach { v =>
      IndexBuilder.deleteRecursive(Paths.get(snapshotDir(v)))
    }
    deletable
  }

  // ---- table readers ------------------------------------------------------
  // Single-layer snapshots read their directory directly (zero overhead);
  // layered snapshots union the layers with the masking rules documented on
  // the class. The replaced-terms mask is a broadcast anti-condition join
  // against a table of (term, max replacing layer) — empty for append-only
  // merge chains, tiny otherwise.

  def docs(spark: SparkSession): DataFrame = docsAt(spark, currentVersion.get)
  def docStats(spark: SparkSession): DataFrame =
    docStatsAt(spark, currentVersion.get)
  def postings(spark: SparkSession): DataFrame =
    postingsAt(spark, currentVersion.get)
  def dict(spark: SparkSession): DataFrame = dictAt(spark, currentVersion.get)

  /** Typed empty frame for a table whose directories hold no parquet files
    * yet — a first build over an EMPTY corpus commits fileless dirs, and
    * readers must still see the schema. */
  private def emptyTable[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.Encoders.product[T].schema)

  def docsAt(spark: SparkSession, v: Int): DataFrame = {
    val paths = layers(v).map(l => absPath(l.docs)).filter(hasData(spark, _))
    if (paths.isEmpty) emptyTable[graft.model.DocRow](spark)
    else spark.read.parquet(paths: _*)
  }

  def docStatsAt(spark: SparkSession, v: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val ls = layers(v).filter(l => hasData(spark, absPath(l.docStats)))
    if (ls.isEmpty) emptyTable[graft.model.DocStats](spark)
    else if (ls.length == 1) spark.read.parquet(absPath(ls.head.docStats))
    else ls.zipWithIndex.map { case (l, i) =>
      spark.read.parquet(absPath(l.docStats))
        .select(col("doc_id"), struct(lit(i).as("layer"),
          col("word_count"), col("dl")).as("s"))
    }.reduce(_ unionByName _)
      .groupBy(col("doc_id")).agg(max(col("s")).as("s"))
      .select(col("doc_id"), col("s.word_count").as("word_count"),
        col("s.dl").as("dl"))
  }

  /** (term, highest layer index that regrouped it) across layers of v. */
  private def replacedTerms(spark: SparkSession, ls: Seq[TableLayer])
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val reps = ls.zipWithIndex.collect { case (l, i) if l.replaced.nonEmpty =>
      spark.read.parquet(absPath(l.replaced.get))
        .select(col("term"), lit(i).as("rl"))
    }
    if (reps.isEmpty) None
    else Some(reps.reduce(_ unionByName _)
      .groupBy(col("term")).agg(max(col("rl")).as("rl")))
  }

  private def maskedUnion(spark: SparkSession, ls0: Seq[TableLayer],
      dirOf: TableLayer => String, empty: => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val ls = ls0.filter(l => hasData(spark, absPath(dirOf(l))))
    if (ls.isEmpty) return empty
    if (ls.length == 1) return spark.read.parquet(absPath(dirOf(ls.head)))
    val head = spark.read.parquet(absPath(dirOf(ls.head)))
    val cols = head.columns.toSeq
    val union = (head +: ls.tail.map(l => spark.read.parquet(absPath(dirOf(l)))))
      .zipWithIndex.map { case (df, i) => df.withColumn("_layer", lit(i)) }
      .reduce(_ unionByName _)
    val masked = replacedTerms(spark, ls) match {
      case None => union
      case Some(rep) =>
        union.join(org.apache.spark.sql.functions.broadcast(rep),
            Seq("term"), "left")
          .filter(col("rl").isNull || col("rl") <= col("_layer"))
    }
    masked.select(cols.map(col): _*)
  }

  /** Tombstoned doc ids of snapshot v (the Lucene live-docs complement):
    * the NEWEST layer carrying a `deleted` table defines the complete set
    * (a delete writes old ∪ new; a merge that re-indexes tombstoned keys
    * writes old − batch — resurrection; compaction purges and writes
    * none). A full resurrection is recorded as the single sentinel row
    * doc_id = −1 (a fileless dir would read as "inherit"), which the
    * filter below drops. None ⇔ no tombstones ever written since the last
    * compaction — readers then keep their zero-tombstone plans untouched. */
  def deletedIdsAt(spark: SparkSession, v: Int): Option[DataFrame] =
    layers(v).reverse.collectFirst {
      case l if l.deleted.nonEmpty && hasData(spark, absPath(l.deleted.get)) =>
        spark.read.parquet(absPath(l.deleted.get))
          .filter(org.apache.spark.sql.functions.col("doc_id") >= 0)
          .select("doc_id")
    }

  def deletedIds(spark: SparkSession): Option[DataFrame] =
    deletedIdsAt(spark, currentVersion.get)

  def postingsAt(spark: SparkSession, v: Int): DataFrame =
    maskedUnion(spark, layers(v), _.postings,
      emptyTable[graft.model.PostingPart](spark))

  def dictAt(spark: SparkSession, v: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val ls = layers(v)
    val base = maskedUnion(spark, ls, _.dict,
      emptyTable[graft.model.DictEntry](spark))
    if (ls.length == 1) base
    // additive df across layers (a term indexed by several batches has one
    // dict row per layer); filters on term/letter push below the agg
    else base.groupBy(col("letter"), col("term"))
      .agg(sum(col("df")).as("df"), sum(col("parts")).cast("int").as("parts"))
  }
}
