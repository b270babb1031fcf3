package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.ExplainMode

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexStore}
import graft.model.{DocKey, EngineConf}
import graft.search.Searcher

/** Batch count execution: N boolean queries in ONE index pass must equal
  * the N individual searchCount runs exactly, with the postings decode
  * shared across the batch (the scheduled-analytics workload shape). */
class BatchSpec extends SparkTestBase {

  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64,
    blockSize = 16)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-batch-idx")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, 40, partitions = 4), dir, conf)
    dir
  }

  private def newSearcher = new Searcher(spark, new IndexStore(indexDir), conf)

  private val Queries = Seq(
    "(which AND would)",        // boolean AND
    "would",                    // wildcard prefix (len > minChar quirk)
    "(which NOT would)",        // NOT
    "((((broken",               // invalid: contributes zero rows
    "zzzzzzz",                  // no hits
    """("there" OR "would")""") // exact OR

  private def asMap(rows: Array[Row]): Map[(Int, DocKey), Long] = rows.map {
    case Row(q: Int, c: String, t: Int, n: Long) => (q, DocKey(c, t)) -> n
  }.toMap

  test("batch == per-query searchCount across the query-shape matrix") {
    val s = newSearcher
    val batch = asMap(s.searchCountBatch(Queries).collect())
    val singles = Queries.zipWithIndex.flatMap { case (q, qi) =>
      s.searchCount(q).collect().map {
        case Row(c: String, t: Int, n: Long) => (qi, DocKey(c, t)) -> n
      }
    }.toMap
    assert(batch === singles)
    assert(batch.keys.map(_._1).toSet === Set(0, 1, 2, 5)) // 3, 4 empty
    s.close()
  }

  test("the batch shares ONE postings decode across all queries") {
    val s = newSearcher
    val plan = s.searchCountBatch(Queries)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // every query's boolean tree evaluates over the SAME per-doc pivot:
    // the postings decode appears exactly once, not once per query, and
    // nothing is persisted to share it
    val decodes = "graft_postings".r.findAllIn(plan).length
    assert(decodes == 1, s"postings decoded $decodes times:\n$plan")
    assert(!plan.contains("InMemoryTableScan"), plan)
    s.close()
  }

  test("empty and degenerate batches") {
    val s = newSearcher
    assert(s.searchCountBatch(Nil).collect().isEmpty)
    assert(s.searchCountBatch(Seq("((((broken", "")).collect().isEmpty)
    assert(s.searchCountBatch(Nil).columns ===
      Array("query_id", "conv_id", "turn_idx", "cnt"))
    s.close()
  }

  test("BM25 batch == per-query DataFrame-path BM25 across the matrix") {
    val s = newSearcher
    val k = 15
    val batch = s.searchBm25Batch(Queries, k).collect().map {
      case Row(q: Int, c: String, t: Int, v: Double) => (q, DocKey(c, t)) -> v
    }.toMap
    val singles = Queries.zipWithIndex.flatMap { case (q, qi) =>
      // useWand = false: the batch IS the DataFrame-algebra path, so the
      // identity must be bit-exact against the same path
      s.searchBm25(q, k, useWand = false).collect().map {
        case Row(c: String, t: Int, v: Double) => (qi, DocKey(c, t)) -> v
      }
    }.toMap
    assert(batch === singles)
    assert(s.searchBm25Batch(Queries, 0).collect().isEmpty)
    s.close()
  }

  test("seeded fuzz: batch == per-query across random boolean queries") {
    val rnd = new scala.util.Random(0xBA7C4)
    // vocab spanning every branch: shared prefixes, exact/wildcard, the
    // min-char quirk (4-char words), hot terms, junk, a unique word
    val vocab = Vector("which", "whichever", "would", "there", "search",
      "assistant", "word", "cats", "zzzz", TranscriptGen.UniqueWord, "ab")
    def word(): String = {
      val w = vocab(rnd.nextInt(vocab.length))
      rnd.nextInt(3) match {
        case 0 => "\"" + w + "\"" // exact
        case _ => w               // wildcard (min-char quirk may reject)
      }
    }
    def query(): String = rnd.nextInt(6) match {
      case 0 => word()
      case 1 => s"(${word()} AND ${word()})"
      case 2 => s"(${word()} OR ${word()})"
      case 3 => s"(${word()} NOT ${word()})"
      case 4 => s"((${word()} AND ${word()}) OR ${word()})"
      case _ => "((((broken" + word() // malformed
    }
    val s = newSearcher
    for (round <- 0 until 12) {
      val qs = Seq.fill(1 + rnd.nextInt(5))(query())
      val batch = asMap(s.searchCountBatch(qs).collect())
      val singles = qs.zipWithIndex.flatMap { case (q, qi) =>
        s.searchCount(q).collect().map {
          case Row(c: String, t: Int, n: Long) => (qi, DocKey(c, t)) -> n
        }
      }.toMap
      assert(batch === singles, s"round=$round qs=$qs")
    }
    s.close()
  }

  test("duplicate queries get independent query_ids with identical rows") {
    val s = newSearcher
    val batch = asMap(s.searchCountBatch(Seq("which", "which")).collect())
    val q0 = batch.collect { case ((0, k), v) => k -> v }
    val q1 = batch.collect { case ((1, k), v) => k -> v }
    assert(q0.nonEmpty && q0 === q1)
    s.close()
  }
}
