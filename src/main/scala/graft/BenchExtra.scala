package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.app.EntryQueries

/** Round-6 optimization harness (guide §1.4): per-entry isolation of the
  * catalog queries OUTSIDE the frozen [[Bench]] main. Times each requested
  * entry with the count sink by default (the frozen bench's action; the
  * noop sink computes every column of every row, no collect-side cost),
  * optionally repeats, and optionally dumps
  * `.explain("formatted")` per entry. The session config mirrors
  * [[Bench.session]] exactly so numbers are comparable; results feed
  * OPTIMIZATION_r06.md, never the driver artifact.
  *
  * Usage: `sbt "runMain graft.BenchExtra [entry...]"` (no args = all).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPEAT (default 1),
  * SPARK_GRAFT_EXPLAIN_DIR (write <entry>.txt plans instead of timing),
  * SPARK_GRAFT_SINK=count|noop (default count).
  */
object BenchExtra {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val sink = sys.env.getOrElse("SPARK_GRAFT_SINK", "count")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode",
        sys.env.getOrElse("SPARK_GRAFT_SCHED", "FIFO"))
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val selected =
      if (args.isEmpty) EntryQueries.all.keys.toSeq.sorted
      else EntryQueries.all.keys.toSeq.sorted
        .filter(n => args.exists(a => n == a || n.startsWith(a)))
    // the frozen bench pre-builds these before the catalog loop — mirror it
    val (_, buildSec) = timed(EntryQueries.indexDirFull(spark, sfDir))
    val (_, mergeSec) = timed(EntryQueries.indexDirMerged(spark, sfDir))
    System.err.println(f"[extra] fixtures full=$buildSec%.2fs merged=$mergeSec%.2fs")

    explainDir match {
      case Some(dir) =>
        new java.io.File(dir).mkdirs()
        selected.foreach { name =>
          val df = EntryQueries.all(name)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/$name.txt"), plan)
          System.err.println(s"[extra] explained $name")
        }
      case None =>
        // per-entry job accounting: how much of an entry's wall is Spark
        // jobs at all (vs driver-side planning/collect), and how many
        // job launches it pays — the fixed-cost diagnosis of guide §1
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val jobNanos = new java.util.concurrent.atomic.AtomicLong
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              starts.put(j.jobId, System.nanoTime())
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val t0 = starts.remove(j.jobId)
              if (t0 != 0L) {
                jobs.incrementAndGet()
                jobNanos.addAndGet(System.nanoTime() - t0)
              }
            }
          })
        val times = mutable.LinkedHashMap.empty[String, Seq[Double]]
        selected.foreach { name =>
          spark.sparkContext.setJobDescription(name)
          val secs = (1 to repeat).map { _ =>
            jobs.set(0); jobNanos.set(0L)
            val (_, s) = timed {
              val df = EntryQueries.all(name)(spark, sfDir)
              if (sink == "noop")
                df.write.format("noop").mode("overwrite").save()
              else df.count()
            }
            System.err.println(f"[extra] $name%-28s $s%.3f " +
              f"jobs=${jobs.get} jobSec=${jobNanos.get / 1e9}%.3f")
            s
          }
          spark.sparkContext.setJobDescription(null)
          times(name) = secs
        }
        val total = times.values.map(_.head).sum
        val qs = times.map { case (k, v) =>
          s""""$k":[${v.map(s => f"$s%.3f").mkString(",")}]""" }
          .mkString("{", ",", "}")
        println(f"""{"metric":"bench_extra","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
