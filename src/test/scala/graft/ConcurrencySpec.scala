package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.Row

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexStore}
import graft.model.EngineConf
import graft.search.Searcher

/** One warmed Searcher shared by many client threads (the search-service
  * shape): a seeded mix of count, boolean BM25, page-2 and batch queries
  * must answer exactly like the same mix run serially, and the Searcher
  * must persist nothing beyond its warm pins — before, during and after
  * the concurrent run. */
class ConcurrencySpec extends SparkTestBase {

  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64,
    blockSize = 16)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-conc-idx")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, 40, partitions = 4), dir, conf)
    dir
  }

  private val Queries = Seq("which", "(which AND would)",
    "((which OR would) NOT there)", """("there" OR search AND spark)""",
    "(people AND OR index)", "assistant message", "zzzzzzz", "((((broken")

  /** A seeded mix of the four query kinds; each op returns its rows. */
  private def mix(s: Searcher, n: Int, seed: Long): Seq[() => Seq[Row]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val q = Queries(rnd.nextInt(Queries.length))
      rnd.nextInt(4) match {
        case 0 => () => s.searchCount(q).collect().toSeq
        case 1 => () => s.searchBm25(q, 10, useWand = false).collect().toSeq
        case 2 => () =>
          val p1 = s.searchBm25Page(q, 5).collect()
          val after = p1.lastOption.map(r => (r.getString(0), r.getInt(1)))
          s.searchBm25Page(q, 5, Some(after.getOrElse(("", -1))))
            .collect().toSeq
        case _ =>
          val qs = Seq.fill(1 + rnd.nextInt(3))(
            Queries(rnd.nextInt(Queries.length)))
          () => s.searchCountBatch(qs).collect().toSeq ++
            s.searchBm25Batch(qs, 5).collect().toSeq
      }
    }
  }

  test("threads sharing one warmed Searcher match the serial run; only warm pins persist") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    val s = new Searcher(spark, new IndexStore(indexDir), conf)
    s.warm(includeDocs = true)
    val pins = persisted -- before
    assert(pins.size == 2, s"warm() should pin dict and docs: $pins")

    val ops = mix(s, n = 24, seed = 0xC0FFEEL)
    val serial = ops.map(_())
    assert(serial.exists(_.nonEmpty), "the mix should produce hits")
    assert(persisted -- before === pins, "serial queries persisted frames")

    // a watcher samples the persisted set for the whole concurrent run
    val seen = new ConcurrentLinkedQueue[Set[Int]]()
    val running = new AtomicBoolean(true)
    val watcher = new Thread(() =>
      while (running.get) {
        val extra = persisted -- before
        if (extra != pins) seen.add(extra)
        Thread.sleep(10)
      })
    watcher.start()
    val pool = Executors.newFixedThreadPool(4)
    val concurrent =
      try ops.map(op => pool.submit(() => op())).map(_.get(10, TimeUnit.MINUTES))
      finally {
        pool.shutdown()
        running.set(false)
        watcher.join()
      }
    assert(concurrent === serial)
    assert(seen.isEmpty, s"persisted beyond the warm pins: ${seen.peek()}")

    s.close()
    assert((persisted -- before).isEmpty, "close() must release every pin")
  }
}
