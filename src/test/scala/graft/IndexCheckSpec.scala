package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexMerger, IndexStore}
import graft.model.EngineConf
import graft.verify.IndexCheck

/** The C1 integrity-check analog: healthy snapshots pass every structural
  * check; a doctored snapshot is flagged. */
class IndexCheckSpec extends SparkTestBase {
  import spark.implicits._

  private val conf = EngineConf.default.copy(maxPostingsPerPart = 64,
    blockSize = 16)

  test("fresh build and incremental merge pass all checks") {
    val root = tmpDir("graft-check-idx")
    IndexBuilder.build(spark, TranscriptGen.dataset(spark, 40), root, conf)
    val store = new IndexStore(root)
    val r1 = IndexCheck.run(spark, store)
      .as[(String, Long)].collect().toMap
    assert(r1.values.forall(_ == 0L), s"violations: ${r1.filter(_._2 > 0)}")
    assert(r1.size == 16)
    assert(r1.contains("letter_term_consistency"))

    IndexMerger.merge(spark,
      TranscriptGen.batch2Dataset(spark, 40, extra = 10, overlap = 5),
      root, conf)
    val r2 = IndexCheck.run(spark, new IndexStore(root))
      .as[(String, Long)].collect().toMap
    assert(r2.values.forall(_ == 0L), s"violations: ${r2.filter(_._2 > 0)}")
  }

  test("a doc row removed without a purge trips docs_ids_dense") {
    def withoutDoc(id: Long => Long): Map[String, Long] = {
      val root = tmpDir("graft-check-docs")
      IndexBuilder.build(spark, TranscriptGen.dataset(spark, 20), root, conf)
      val store = new IndexStore(root)
      val docsDir = java.nio.file.Paths.get(store.currentDir.get, "docs")
      val tmp = java.nio.file.Paths.get(root, "docs-tmp")
      store.docs(spark).filter($"doc_id" =!= id(store.currentMeta.maxDocId))
        .write.parquet(tmp.toString)
      IndexBuilder.deleteRecursive(docsDir)
      java.nio.file.Files.move(tmp, docsDir)
      IndexCheck.run(spark, new IndexStore(root)).as[(String, Long)]
        .collect().toMap
    }
    assert(withoutDoc(_ => 3L)("docs_ids_dense") == 1L)
    // the top row too, which a count == max(doc_id) + 1 check cannot see
    assert(withoutDoc(max => max)("docs_ids_dense") == 1L)
  }

  test("a corrupted posting part is flagged") {
    val root = tmpDir("graft-check-bad")
    IndexBuilder.build(spark, TranscriptGen.dataset(spark, 20), root, conf)
    val store = new IndexStore(root)
    val dir = store.currentDir.get
    // append a doctored copy of one part: stored df no longer matches the
    // decoded payload, and the term's dict df no longer matches its parts
    val bad = store.postings(spark).limit(1)
      .withColumn("df", col("df") + 1)
      .withColumn("part", col("part") + 1000)
    bad.write.mode(SaveMode.Append).partitionBy("letter")
      .parquet(s"$dir/postings")
    val r = IndexCheck.run(spark, store).as[(String, Long)].collect().toMap
    assert(r("postings_decode_mismatch") >= 1)
    assert(r("dict_df_vs_parts_df") >= 1)
    assert(r("postings_part_numbering") >= 1)
    assert(!IndexCheck.healthy(spark, store))
  }
}
