package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.fixtures.TranscriptGen
import graft.index.{Compactor, IndexBuilder, IndexDeleter, IndexMerger, IndexStore}
import graft.model.{DocKey, Turn}
import graft.search.{QueryParser, Searcher}
import graft.util.Jsonl
import graft.verify.IndexCheck

/** Input sizes. They are scaled so that a run — set-up, the timed part
  * and the answer checks — takes about a minute on a 4-core host. */
object Sizes {
  /** Conversations in the service corpus (~6 turns each). */
  val ServiceConvs = 5000L
  /** Conversations in the ingest workload's base index. */
  val IngestConvs = 5000L
  /** Fresh conversations per merge batch (10 % of the base). */
  val MergeConvs = 500
  /** Existing conversations re-issued by the last merge of a cycle. */
  val ReissueConvs = 50
  /** Share of conversations tombstoned (service set-up, ingest). */
  val DeleteShare = 0.01
  /** Merge batches; the last one also re-issues existing conversations. */
  val Merges = 1
  /** Selective BM25 probes on the layered index. */
  val ProbeQueries = 2
  /** Count-mode probes compared across delete + compaction. */
  val CountProbes = 1
  /** Share of the service timed part given to the one-client `lookup`
    * phase; the concurrent mix gets the rest. */
  val LookupShare = 0.375
  /** Untimed lookup queries between the mix and the lookup phase. */
  val LookupWarmup = 6
  /** Warm-up queries inside the service set-up. */
  val WarmupQueries = 4
  /** Timed queries per kind checked against the oracle. */
  val CheckPerKind = 6
  val K = 10
  val CountRows = 100
}

/** One result row: a hit's doc key and its score or count. */
final case class Hit(conv: String, turn: Int, v: Double) {
  def key: DocKey = DocKey(conv, turn)
}

/** One timed query. `root` is its root span id when traced. */
final case class QRec(qid: Long, kind: String, q: String, startUs: Long,
    endUs: Long, traced: Boolean, root: Long, hits: Seq[Hit],
    error: Option[String]) {
  def wallS: Double = (endUs - startUs) / 1e6
}

/** Per-layer metrics of the traced run, with units. Every name is emitted
  * by every workload; a layer a workload never calls reads 0. */
object Layers {
  val BuildStages = Seq("prep", "hot_terms", "postings", "dict", "docs",
    "doc_stats")
  val MergeStages = Seq("batch_prep", "docs", "doc_stats", "segment",
    "postings", "dict")
  val CompactStages = Seq("docs", "doc_stats", "postings", "dict")
  val Kinds = Seq("selective", "head", "bool", "count", "page", "lookup",
    "probe")

  val names: Seq[(String, String)] = Seq(
    "search.parse_s" -> "s", "search.driver_s" -> "s",
    "search.plan_s" -> "s", "search.codegen_s" -> "s",
    "search.codegen_compiles" -> "count", "search.jobs" -> "count",
    "search.stages" -> "count", "search.tasks" -> "count",
    "search.exchanges" -> "count", "search.dict_words" -> "count",
    "search.postings_decoded" -> "count",
    "search.postings_per_result" -> "ratio", "search.job_s" -> "s",
    "search.task_cpu_s" -> "s", "search.bytes_read" -> "bytes",
    "search.shuffle_bytes" -> "bytes", "search.sched_wait_s" -> "s",
    "search.cache_persists" -> "count", "search.cache_unpersists" -> "count",
    "search.cache_hit_ratio" -> "ratio") ++
    Kinds.map(k => s"search.$k.p50_s" -> "s") ++ Seq("search.p90_s" -> "s",
    "spark.task_failures" -> "count", "spark.stage_retries" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_retained_mb" -> "MB",
    "tokenize.turns_per_s" -> "turns/s") ++
    BuildStages.map(s => s"index.build.${s}_s" -> "s") ++ Seq(
    "index.build.shuffle_write_bytes" -> "bytes",
    "index.build.spill_bytes" -> "bytes",
    "index.build.max_task_shuffle_read_bytes" -> "bytes",
    "index.build.jobs" -> "count") ++
    MergeStages.map(s => s"index.merge.${s}_s" -> "s") ++ Seq(
    "index.merge.bytes_written_per_text_byte" -> "ratio",
    "index.merge.layers" -> "count",
    "index.delete.tombstones" -> "count", "index.delete_s" -> "s") ++
    CompactStages.map(s => s"index.compact.${s}_s" -> "s") ++ Seq(
    "index.compact_s" -> "s", "index.compact.bytes_rewritten" -> "bytes",
    "index.bytes.dict" -> "bytes", "index.bytes.postings" -> "bytes",
    "index.bytes.docs" -> "bytes", "index.bytes.doc_stats" -> "bytes",
    "host.steal_pct" -> "%", "host.other_cpu_pct" -> "%",
    "trace.overhead.p50" -> "ratio",
    "trace.overhead.ops_per_s" -> "ratio",
    "trace.reconcile_violations" -> "count",
    "trace.reconcile_max_gap_ms" -> "ms", "trace.spans" -> "count")

  /** End-to-end metrics (tracing off), with units. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "ops_per_s" -> "1/s",
    "build_turns_per_s" -> "turns/s", "index_bytes_per_text_byte" -> "ratio")
}

object Stat {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Nearest-rank percentile; 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }
}

/** One benchmark run: set-up, the timed part, answer checks, metrics. */
final class Run(a: Args) {
  import Stat._

  private val cores = Runtime.getRuntime.availableProcessors
  private val corpus = Corpus(Corpus.offset(a.seed),
    if (a.workload == "ingest") Sizes.IngestConvs else Sizes.ServiceConvs)
  private var spark: SparkSession = _
  private var tap: SparkTap = _ // set only on traced runs
  private val spans = new Spans
  private val qids = new AtomicLong
  private val writeIds = new AtomicLong
  private var attempted = 0L
  private var failed = 0L
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private val layer = mutable.LinkedHashMap.empty[String, Double] ++
    Layers.names.map(_._1 -> 0.0)
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  // job group -> (root span id, layer call) of each traced write call
  private val groupRoot = mutable.LinkedHashMap.empty[String, (Long, String)]
  private var noise = (0.0, 0.0)
  // spark.job spans, added to the query and write spans at the end
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  // global counters: codegen and unpersists over the traced queries, GC
  // over the timed part
  private var codegenCompiles = 0L
  private var unpersists = 0L
  private var gcS = 0.0

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private val started = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(
    f"perfbench: [${(System.nanoTime() - started) / 1e9}%.1f s] $msg")

  def run(): Int = {
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    a.workload match {
      case "service" => runService()
      case "ingest" => runIngest()
    }
    if (a.trace) {
      layer("host.steal_pct") = noise._1
      layer("host.other_cpu_pct") = noise._2
      layer("spark.task_failures") = tap.taskFailures.get.toDouble
      layer("spark.stage_retries") = tap.stageRetries.get.toDouble
      layer("jvm.gc_s") = gcS
      writeTrace()
    }
    mismatches.foreach(m => System.err.println(s"perfbench: MISMATCH $m"))
    println(Json.obj(Seq("host" -> Seq("cores" -> cores,
      "steal_pct" -> noise._1, "other_cpu_pct" -> noise._2))))
    val metrics =
      if (a.trace) Layers.names.map { case (n, u) =>
        n -> Seq("value" -> layer(n), "unit" -> u) }
      else Layers.endToEnd.map { case (n, u) =>
        n -> Seq("value" -> e2e(n), "unit" -> u) }
    println(Json.obj(Seq("correct" -> mismatches.isEmpty,
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
    if (mismatches.isEmpty) 0 else 1
  }

  // ---- session, timing, write calls ---------------------------------------

  private def startSession(): Unit = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    if (a.trace) { tap = new SparkTap; s.sparkContext.addSparkListener(tap) }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Time one call into a write layer; when traced, wrap it in a root span
    * and tag its jobs with a fresh job group. */
  private def write[T](name: String, traced: Boolean)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    val group = s"w${writeIds.incrementAndGet()}"
    if (traced) sc.setJobGroup(group, name, interruptOnCancel = false)
    val id = spans.nextId()
    val t0 = Clock.us()
    try timed(f)
    finally if (traced) {
      spans.record(id, 0L, name, 0L, t0, Clock.us())
      sc.clearJobGroup()
      groupRoot(group) = (id, name)
    }
  }

  /** Set-up shared by both workloads: start the session and build the
    * corpus's index at `root`. Returns (session start, build) seconds. */
  private def baseIndex(root: String): (Double, Double) = {
    log("set-up")
    val (_, sessionS) = timed(startSession())
    val (_, buildS) = write("index.build", a.trace) {
      IndexBuilder.build(spark, corpus.dataset(spark, cores), root)
    }
    log(f"built in $buildS%.2f s")
    step(root, "build")
    (sessionS, buildS)
  }

  /** Counts a step as failed unless the snapshot passes every IndexCheck
    * check (`IndexCheck.healthy`, with the failing checks named). A failed
    * structural check is a failed step, counted in `failed`; it is not a
    * wrong answer, so it does not clear `correct`. */
  private def step(root: String, what: String): Unit = {
    attempted += 1
    val ss = spark
    import ss.implicits._
    val bad = IndexCheck.run(spark, new IndexStore(root))
      .filter($"violations" > 0).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}")
    if (bad.nonEmpty) {
      failed += 1
      System.err.println(
        s"perfbench: FINDING IndexCheck failed after $what: ${bad.mkString(", ")}")
    }
  }

  private def heapMb(): Double = {
    System.gc(); System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes of each table the current snapshot reads, over all its layers. */
  private def tableBytes(root: String): Map[String, Long] = {
    val store = new IndexStore(root)
    val ls = store.layers(store.currentVersion.get)
    val rp = Paths.get(root)
    def sum(f: graft.index.TableLayer => String): Long =
      ls.map(f).distinct.map(r => dirBytes(rp.resolve(r))).sum
    Map("dict" -> sum(_.dict), "postings" -> sum(_.postings),
      "docs" -> sum(_.docs), "doc_stats" -> sum(_.docStats))
  }

  private def manifest(root: String, v: Int): Seq[Map[String, String]] = {
    val p = Paths.get(new IndexStore(root).snapshotDir(v), "manifest.jsonl")
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(Jsonl.parse)
  }

  private def stageSeconds(man: Seq[Map[String, String]]): Map[String, Double] =
    man.map(m => m("stage") -> m("millis").toDouble / 1000.0).toMap

  // ---- queries --------------------------------------------------------------

  private def hits(rows: Array[Row], count: Boolean): Seq[Hit] =
    rows.toSeq.map(r => Hit(r.getString(0), r.getInt(1),
      if (count) r.getLong(2).toDouble else r.getDouble(2)))

  /** One query through the public Searcher API; returns its record. The
    * `page` kind walks to page 2 with page 1's last key as the cursor. */
  private def runQuery(s: Searcher, spec: QSpec, traced: Boolean): QRec = {
    val qid = qids.incrementAndGet()
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(s"q$qid", spec.kind, interruptOnCancel = false)
    val root = spans.nextId()
    def child[T](name: String)(f: => T): T =
      if (traced) spans.child(root, name, qid)(f) else f
    def run(df: => DataFrame, count: Boolean, n: Int): Seq[Hit] = {
      val d = child("search.call")(df)
      hits(child("search.execute")(if (count) d.take(n) else d.collect()), count)
    }
    val t0 = Clock.us()
    val res = try {
      if (traced) child("search.parse")(QueryParser.parse("(" + spec.q + ")"))
      Right(spec.kind match {
        case "count" => run(s.searchCount(spec.q), count = true, Sizes.CountRows)
        case "page" =>
          val p1 = run(s.searchBm25Page(spec.q, Sizes.K), count = false, 0)
          if (p1.isEmpty) p1
          else run(s.searchBm25Page(spec.q, Sizes.K,
            Some((p1.last.conv, p1.last.turn))), count = false, 0)
        case _ => run(s.searchBm25(spec.q, Sizes.K), count = false, 0)
      })
    } catch { case e: Exception => Left(e.toString) }
    val t1 = Clock.us()
    if (traced) {
      spans.record(root, 0L, s"search.${spec.kind}", qid, t0, t1)
      sc.clearJobGroup()
    }
    QRec(qid, spec.kind, spec.q, t0, t1, traced, root,
      res.getOrElse(Nil), res.left.toOption)
  }

  /** Closed loop: `clients` threads share one stream position counter;
    * each sends its next query only after the previous one returned, until
    * `seconds` have passed. Returns the records and the queries done inside
    * the window, each counted by the share of its wall that lies inside:
    * the queries still running at the deadline finish with fewer clients
    * beside them, and a whole count of them would make the rate jump with
    * where the stream's heavy queries fall. */
  private def closedLoop(s: Searcher, clients: Int, pos: AtomicLong,
      next: Long => QSpec, seconds: Double,
      traced: Boolean): (Seq[QRec], Double) = {
    val out = new ConcurrentLinkedQueue[QRec]
    val t0 = Clock.us()
    val end = t0 + (seconds * 1e6).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (Clock.us() < end)
          out.add(runQuery(s, next(pos.getAndIncrement()), traced))
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val recs = out.asScala.toSeq
    val done = recs.map { r =>
      (math.min(r.endUs, end) - r.startUs).toDouble /
        math.max(1L, r.endUs - r.startUs)
    }.sum
    (recs, done)
  }

  /** Runs `f` and adds the global codegen and unpersist counters it moved
    * to the traced totals. */
  private def countTraced[T](f: => T): T = {
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val up0 = tap.unpersists.get
    val r = f
    tap.drain()
    codegenCompiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
    unpersists += tap.unpersists.get - up0
    r
  }

  /** Timed blocks over `seconds`: one untraced block, or on a traced run
    * alternating untraced and traced blocks so the tracing overhead is
    * measured under the same conditions. Returns the untraced records and
    * queries per second, then the traced ones. */
  private def timedBlocks(s: Searcher, clients: Int, next: Long => QSpec,
      seconds: Double): (Seq[QRec], Double, Seq[QRec], Double) = {
    val pos = new AtomicLong
    val plan = if (a.trace) Seq(false, true, false, true) else Seq(false)
    val per = seconds / plan.size
    val u = mutable.ArrayBuffer.empty[QRec]; var uDone = 0.0
    val t = mutable.ArrayBuffer.empty[QRec]; var tDone = 0.0
    plan.foreach { traced =>
      if (traced) {
        val (rs, d) = countTraced(closedLoop(s, clients, pos, next, per, true))
        t ++= rs; tDone += d
      } else {
        val (rs, d) = closedLoop(s, clients, pos, next, per, traced = false)
        u ++= rs; uDone += d
      }
    }
    val blockS = per * plan.size / 2
    if (a.trace) (u.toSeq, uDone / blockS, t.toSeq, tDone / blockS)
    else (u.toSeq, uDone / seconds, t.toSeq, 0.0)
  }

  // ---- answer checks ---------------------------------------------------------

  private def close(x: Double, y: Double): Boolean =
    math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))

  /** A ranked slice is right when its scores equal the oracle's ranking at
    * the same positions and every returned doc carries its oracle score —
    * which accepts any order among exactly tied scores. */
  private def scoredOk(got: Seq[Hit], ranking: Seq[(DocKey, Double)],
      from: Int): Boolean = {
    val exp = ranking.slice(from, from + Sizes.K)
    val byKey = ranking.toMap
    got.size == exp.size && got.map(_.key).distinct.size == got.size &&
      got.zip(exp).forall { case (h, (_, s)) => close(h.v, s) } &&
      got.forall(h => byKey.get(h.key).exists(close(_, h.v)))
  }

  /** Checks a seeded sample of each kind's records against the oracle;
    * `deleted` are tombstoned conversation ids (masked from every result,
    * collection statistics unchanged). */
  private def checkSample(recs: Seq[QRec], oracle: Expected,
      deleted: Set[String]): Unit = {
    val rnd = new scala.util.Random(a.seed ^ 0x5eedL)
    recs.filter(_.error.isEmpty).groupBy(_.kind).toSeq.sortBy(_._1)
      .foreach { case (kind, rs) =>
        rnd.shuffle(rs.sortBy(_.qid)).take(Sizes.CheckPerKind).foreach { r =>
          val ok = kind match {
            case "count" =>
              val exp = oracle.searchCount(r.q)
                .filterNot(x => deleted(x._1.conv_id)).take(Sizes.CountRows)
              r.hits.map(h => (h.key, h.v.toLong)) == exp
            case _ =>
              val ranking = oracle.searchBm25(r.q)
                .filterNot(x => deleted(x._1.conv_id))
              scoredOk(r.hits, ranking, if (kind == "page") Sizes.K else 0)
          }
          if (!ok) {
            failed += 1
            mismatches += s"$kind query '${r.q}' disagrees with the oracle"
          }
        }
      }
  }

  // ---- service -----------------------------------------------------------------

  private def runService(): Unit = {
    val ts = new TextStats(corpus.turns)
    val gen = new QueryGen(ts)
    val deleted = new scala.util.Random(a.seed * 13L + 1L)
      .shuffle(corpus.convNos.toSeq)
      .take((corpus.n * Sizes.DeleteShare).toInt)
      .map(TranscriptGen.convId)
    val root = a.work.resolve("index").toString
    val (sessionS, buildS) = baseIndex(root)
    val ss = spark
    import ss.implicits._
    val keys = deleted.toDF("conv_id")
    val ((_, tombstones), deleteS) = write("index.delete", a.trace) {
      IndexDeleter.delete(spark, root, keys)
    }
    step(root, "delete")
    val (searcher, warmS) = timed {
      val s = new Searcher(spark, new IndexStore(root))
      s.warm(includeDocs = true)
      // warm-up positions lie below the timed stream's, which starts at 0
      (1 to Sizes.WarmupQueries).foreach { i =>
        val r = runQuery(s, gen.service(-i.toLong), traced = false)
        attempted += 1
        if (r.error.nonEmpty) failed += 1
      }
      s
    }

    if (a.trace) tokenizeLayer(ts.numTurns)
    log("timed part")
    val hn = new HostNoise
    val gc0 = gcSeconds()
    // the concurrent mix, then one client alone with selective queries: the
    // mix's latency is multi-modal and set by what else is running (a page
    // walk costs ~5 selective queries), so the latency metric comes from the
    // uncontended phase, and the mix moves ops_per_s
    val (u, uOps, t, tOps) = timedBlocks(searcher, cores, gen.service,
      a.seconds * (1 - Sizes.LookupShare))
    // untimed: the first lookup queries after the mix are still warming up
    (1 to Sizes.LookupWarmup).foreach { i =>
      val r = runQuery(searcher, gen.lookup(-i.toLong), traced = false)
      attempted += 1
      if (r.error.nonEmpty) failed += 1
    }
    val (lu, _, lt, _) = timedBlocks(searcher, 1, gen.lookup,
      a.seconds * Sizes.LookupShare)
    gcS = gcSeconds() - gc0
    noise = hn.result()
    val heap = heapMb()
    val all = u ++ t ++ lu ++ lt
    attempted += all.size
    failed += all.count(_.error.nonEmpty)
    all.flatMap(_.error).distinct.take(5)
      .foreach(e => System.err.println(s"perfbench: query error $e"))

    val bytes = tableBytes(root)
    e2e("setup_s") = sessionS + buildS + deleteS + warmS
    e2e("p50_ms") = 1000 * median(lu.map(_.wallS))
    e2e("ops_per_s") = uOps
    layer("jvm.heap_retained_mb") = heap
    e2e("build_turns_per_s") = ts.numTurns / buildS
    e2e("index_bytes_per_text_byte") = bytes.values.sum.toDouble / ts.textBytes

    if (a.trace) {
      searchLayers(t ++ lt, volumes(t ++ lt, searcher))
      overhead(lu.map(_.wallS), uOps, lt.map(_.wallS), tOps)
      buildLayers(root)
      layer("index.delete.tombstones") = tombstones.toDouble
      layer("index.delete_s") = deleteS
      bytes.foreach { case (k, v) => layer(s"index.bytes.$k") = v.toDouble }
    }
    searcher.close()

    log("checks")
    checkSample(all, new Expected(corpus.turns.toSeq), deleted.toSet)
    log("done")
  }

  /** `IndexBuilder.tokenize` into a no-op sink: tokenizer throughput with
    * no shuffle or write. Second of two passes (the first warms the JIT). */
  private def tokenizeLayer(turns: Long): Unit = {
    def pass(): Double = timed {
      IndexBuilder.tokenize(corpus.dataset(spark, cores))
        .write.format("noop").mode("overwrite").save()
    }._2
    pass()
    layer("tokenize.turns_per_s") = turns / pass()
  }

  private def buildLayers(root: String): Unit = {
    val lines = manifest(root, 1) // the base build is always snapshot v1
    val secs = stageSeconds(lines)
    Layers.BuildStages.foreach(s =>
      layer(s"index.build.${s}_s") = secs.getOrElse(s, 0.0))
    def mb(k: String) = lines.map(_.get(k).map(_.toDouble).getOrElse(0.0))
    layer("index.build.shuffle_write_bytes") = mb("shuffle_write_mb").sum * 1e6
    layer("index.build.spill_bytes") =
      (mb("spill_disk_mb").sum + mb("spill_mem_mb").sum) * 1e6
    layer("index.build.max_task_shuffle_read_bytes") =
      mb("max_task_shuffle_read_mb").foldLeft(0.0)(math.max) * 1e6
    tap.drain()
    layer("index.build.jobs") = groupRoot.collect {
      case (g, (_, "index.build")) => tap.stats(g).jobs }.sum.toDouble
  }

  private def overhead(uLat: Seq[Double], uOps: Double, tLat: Seq[Double],
      tOps: Double): Unit = if (uLat.nonEmpty && tLat.nonEmpty) {
    layer("trace.overhead.p50") = median(tLat) / median(uLat) - 1
    layer("trace.overhead.ops_per_s") = tOps / uOps - 1
  }

  /** Dictionary words matched and posting rows decoded for a seeded sample
    * of at most 24 distinct traced queries — an untimed pass under its own
    * job group, through `Searcher.matchedWords` / `matchedPostings`. */
  private def volumes(recs: Seq[QRec], s: Searcher): Map[String, (Long, Long)] = {
    val qs = new scala.util.Random(a.seed ^ 0x7015L)
      .shuffle(recs.filter(_.error.isEmpty).map(_.q).distinct.sorted).take(24)
    val sc = spark.sparkContext
    sc.setJobGroup("aux", "aux", interruptOnCancel = false)
    try qs.map { q =>
      val mw = s.matchedWords(QueryParser.parse("(" + q + ")").searchWords)
        .cache()
      val v = (mw.count(), s.matchedPostings(mw).count())
      mw.unpersist()
      q -> v
    }.toMap
    finally sc.clearJobGroup()
  }

  /** Per-query medians of every search-layer count over the traced
    * queries, plus the span/job reconciliation. */
  private def searchLayers(recs: Seq[QRec],
      volume: Map[String, (Long, Long)]): Unit = {
    tap.drain()
    val ok = recs.filter(_.error.isEmpty)
    if (ok.isEmpty) return
    val children = spans.all.asScala.groupBy(_.parent)
    val st = ok.map(r => r.qid -> tap.stats(s"q${r.qid}")).toMap
    def med(f: QRec => Double): Double = median(ok.map(f))
    def childS(r: QRec, name: String): Double = children.getOrElse(r.root, Nil)
      .filter(_.name == name).map(_.durUs).sum / 1e6
    layer("search.parse_s") = med(childS(_, "search.parse"))
    layer("search.driver_s") =
      med(r => r.wallS - st(r.qid).jobUnionMs / 1000.0)
    layer("search.plan_s") = med(r => st(r.qid).planMs / 1000.0)
    layer("search.codegen_compiles") = codegenCompiles.toDouble / ok.size
    layer("search.codegen_s") = codegenCompiles.toDouble / ok.size *
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0
    layer("search.jobs") = med(r => st(r.qid).jobs)
    layer("search.stages") = med(r => st(r.qid).stages)
    layer("search.tasks") = med(r => st(r.qid).tasks)
    layer("search.exchanges") = med(r => st(r.qid).exchanges)
    val sampled = ok.filter(r => volume.contains(r.q))
    layer("search.dict_words") =
      median(sampled.map(r => volume(r.q)._1.toDouble))
    layer("search.postings_decoded") =
      median(sampled.map(r => volume(r.q)._2.toDouble))
    layer("search.postings_per_result") = median(sampled.map(r =>
      volume(r.q)._2.toDouble / math.max(1, r.hits.size)))
    layer("search.job_s") = med(r => st(r.qid).jobUnionMs / 1000.0)
    layer("search.task_cpu_s") = med(r => st(r.qid).cpuNs / 1e9)
    layer("search.bytes_read") = med(r => st(r.qid).bytesRead.toDouble)
    layer("search.shuffle_bytes") = med(r => st(r.qid).shuffleBytes.toDouble)
    layer("search.sched_wait_s") = med(r => st(r.qid).schedWaitMs / 1000.0)
    layer("search.cache_persists") =
      ok.map(r => st(r.qid).persists).sum.toDouble / ok.size
    layer("search.cache_unpersists") = unpersists.toDouble / ok.size
    // the per-term cache serves the DataFrame-algebra kinds only; a hit is
    // a query that persisted no new frame
    val cached = ok.filter(r => Set("bool", "count", "page")(r.kind))
    if (cached.nonEmpty) layer("search.cache_hit_ratio") =
      cached.count(r => st(r.qid).persists == 0).toDouble / cached.size
    layer("search.p90_s") = pct(ok.map(_.wallS), 0.9)
    ok.groupBy(_.kind).foreach { case (k, rs) =>
      layer(s"search.$k.p50_s") = median(rs.map(_.wallS)) }

    // reconciliation: a query's child spans cover its wall, and its jobs lie
    // inside it, within 2 ms + 2 % of the wall (job times are whole ms)
    var violations = 0; var maxGapMs = 0.0
    ok.foreach { r =>
      val wallUs = r.endUs - r.startUs
      val gapUs = wallUs - children.getOrElse(r.root, Nil).map(_.durUs).sum
      val slackUs = 2000 + 0.02 * wallUs
      val jobsInside = st(r.qid).jobIntervals.forall { case (_, s0, e0) =>
        s0 * 1000 >= r.startUs - slackUs && e0 * 1000 <= r.endUs + slackUs }
      if (gapUs < 0 || gapUs > slackUs || !jobsInside) violations += 1
      maxGapMs = math.max(maxGapMs, math.abs(gapUs) / 1000.0)
      st(r.qid).jobIntervals.foreach { case (j, s0, e0) =>
        jobSpans += Span(spans.nextId(), r.root, s"spark.job.$j", r.qid,
          s0 * 1000, e0 * 1000)
      }
    }
    layer("trace.reconcile_violations") = violations.toDouble
    layer("trace.reconcile_max_gap_ms") = maxGapMs
  }

  private def writeTrace(): Unit = {
    tap.drain()
    groupRoot.foreach { case (g, (root, _)) =>
      tap.stats(g).jobIntervals.foreach { case (j, s0, e0) =>
        jobSpans += Span(spans.nextId(), root, s"spark.job.$j", 0L,
          s0 * 1000, e0 * 1000)
      }
    }
    layer("trace.spans") = (spans.all.size + jobSpans.size).toDouble
    val base = s"${a.workload}-seed${a.seed}"
    spans.write(a.out.resolve(s"$base.spans.jsonl"), jobSpans)
    val table = Layers.names.map { case (n, u) =>
      n -> Seq("value" -> layer(n), "unit" -> u) }
    Files.writeString(a.out.resolve(s"$base.layers.json"),
      Json.obj(table) + "\n")
  }

  // ---- ingest ------------------------------------------------------------------

  private val Epoch = Timestamp.valueOf("2026-01-01 00:00:00").getTime

  private def textBytes(ts: Seq[Turn]): Long =
    ts.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  /** Re-issue of existing conversation `c` with the additive-merge shape of
    * `TranscriptGen.batch2`: changed turn-0 text plus one appended turn.
    * The new texts are turns of a conversation no corpus uses. */
  private def reissue(c: Long): Seq[Turn] = {
    val id = TranscriptGen.convId(c)
    val src = TranscriptGen.benchConv(990000L + c % 9000L)
    val nTurns = 2 + (c % 9).toInt
    Seq(
      Turn(id, 0, "user", src(0).text, null,
        new Timestamp(Epoch + (c * 97L + 500) * 1000L)),
      Turn(id, nTurns, "assistant", src(1).text, null,
        new Timestamp(Epoch + (c * 97L + 501) * 1000L)))
  }

  private def countAll(s: Searcher, q: String): Seq[Hit] =
    hits(s.searchCount(q).collect(), count = true)

  private def runIngest(): Unit = {
    val ts = new TextStats(corpus.turns)
    val gen = new QueryGen(ts)
    val root = a.work.resolve("index").toString
    val (sessionS, buildS) = baseIndex(root)
    if (a.trace) { tokenizeLayer(ts.numTurns); buildLayers(root) }

    // every input of the timed part is generated up front
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(a.seed * 17L + 3L)
    val convBytes = mutable.HashMap.from(corpus.convNos.map(c =>
      c -> textBytes(TranscriptGen.benchConv(c))))
    val firstNew = corpus.first + corpus.n
    val reissued = rnd.shuffle(corpus.convNos.toSeq).take(Sizes.ReissueConvs)
    val batches = (0 until Sizes.Merges).map { m =>
      val fresh = (firstNew + m * Sizes.MergeConvs until
        firstNew + (m + 1) * Sizes.MergeConvs).flatMap(TranscriptGen.benchConv)
      if (m < Sizes.Merges - 1) fresh else fresh ++ reissued.flatMap(reissue)
    }
    batches.flatten.foreach(t => convBytes(convNo(t.conv_id)) =
      convBytes.getOrElse(convNo(t.conv_id), 0L) +
        t.text.getBytes(StandardCharsets.UTF_8).length)
    val probeSpecs = (0 until Sizes.ProbeQueries)
      .map(i => gen.selective(i.toLong).copy(kind = "probe"))
    val countQs = (0 until Sizes.CountProbes)
      .map(i => gen.selective(Sizes.ProbeQueries + i.toLong).q)
    val victims = rnd.shuffle(convBytes.keys.toSeq.sorted)
      .take((convBytes.size * Sizes.DeleteShare).toInt)
    val victimIds = victims.map(TranscriptGen.convId).toSet
    val keys = victimIds.toSeq.sorted.toDF("conv_id")

    log("timed part")
    val hn = new HostNoise
    val gc0 = gcSeconds()
    val mergeStages = mutable.ArrayBuffer.empty[Map[String, Double]]
    val mergeWritten = mutable.ArrayBuffer.empty[Double]
    val merges = batches.map { b =>
      val ds = b.toDS()
      val (_, w) = write("index.merge", a.trace) {
        IndexMerger.merge(spark, ds, root)
      }
      log(f"merged in $w%.2f s")
      if (a.trace) {
        val v = new IndexStore(root).currentVersion.get
        mergeStages += stageSeconds(manifest(root, v))
        mergeWritten += dirBytes(Paths.get(new IndexStore(root).snapshotDir(v)))
          .toDouble / textBytes(b)
      }
      step(root, "merge")
      w
    }

    // probes on the layered index; on a traced run every other probe is
    // traced, so the probes also measure the tracing overhead
    val s = new Searcher(spark, new IndexStore(root))
    val layersAtProbe = new IndexStore(root).layers(s.version).size
    val probes = probeSpecs.zipWithIndex.map { case (q, i) =>
      if (a.trace && i % 2 == 1) countTraced(runQuery(s, q, traced = true))
      else runQuery(s, q, traced = false)
    }
    attempted += probes.size
    failed += probes.count(_.error.nonEmpty)
    val volume: Map[String, (Long, Long)] =
      if (a.trace) volumes(probes.filter(_.traced), s) else Map.empty
    val pre = countQs.map(countAll(s, _))
    s.close()

    val ((_, tombstones), deleteS) = write("index.delete", a.trace) {
      IndexDeleter.delete(spark, root, keys)
    }
    log(f"probes ${probes.map(_.wallS).sum}%.2f s, delete $deleteS%.2f s")
    step(root, "delete")
    val (_, compactS) = write("index.compact", a.trace) {
      Compactor.compact(spark, root)
    }
    log(f"compacted in $compactS%.2f s")
    val compactV = new IndexStore(root).currentVersion.get
    step(root, "compaction")
    noise = hn.result()
    gcS = gcSeconds() - gc0
    val heap = heapMb()

    val s2 = new Searcher(spark, new IndexStore(root))
    val post = countQs.map(countAll(s2, _))
    s2.close()
    countQs.indices.foreach { i =>
      attempted += 1
      if (pre(i).filterNot(h => victimIds(h.conv)) != post(i)) {
        failed += 1
        mismatches += s"count probe '${countQs(i)}' after compaction " +
          "is not its pre-delete result minus the tombstoned turns"
      }
    }

    val timedWall = merges.sum + probes.map(_.wallS).sum + deleteS + compactS
    val bytes = tableBytes(root)
    victims.foreach(convBytes.remove)
    e2e("setup_s") = sessionS + buildS
    e2e("p50_ms") = 1000 * median(merges)
    e2e("ops_per_s") = merges.size / timedWall
    layer("jvm.heap_retained_mb") = heap
    e2e("build_turns_per_s") = ts.numTurns / buildS
    e2e("index_bytes_per_text_byte") =
      bytes.values.sum.toDouble / convBytes.values.sum

    if (a.trace) {
      searchLayers(probes.filter(_.traced), volume)
      val (t, u) = probes.partition(_.traced)
      overhead(u.map(_.wallS), u.size / u.map(_.wallS).sum,
        t.map(_.wallS), t.size / t.map(_.wallS).sum)
      Layers.MergeStages.foreach(st => layer(s"index.merge.${st}_s") =
        median(mergeStages.map(_.getOrElse(st, 0.0)).toSeq))
      layer("index.merge.bytes_written_per_text_byte") =
        median(mergeWritten.toSeq)
      layer("index.merge.layers") = layersAtProbe.toDouble
      layer("index.delete.tombstones") = tombstones.toDouble
      layer("index.delete_s") = deleteS
      layer("index.compact_s") = compactS
      val cst = stageSeconds(manifest(root, compactV))
      Layers.CompactStages.foreach(st =>
        layer(s"index.compact.${st}_s") = cst.getOrElse(st, 0.0))
      layer("index.compact.bytes_rewritten") =
        dirBytes(Paths.get(new IndexStore(root).snapshotDir(compactV))).toDouble
      bytes.foreach { case (k, v) => layer(s"index.bytes.$k") = v.toDouble }
    }

    log("checks")
    checkSample(probes, new Expected(corpus.turns.toSeq ++ batches.flatten),
      Set.empty)
    log("done")
  }

  private def convNo(id: String): Long = id.stripPrefix("conv-").toLong
}
