package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One clock for spans and Spark listener times: epoch microseconds,
  * anchored once and advanced by `nanoTime` (listener events carry epoch
  * milliseconds from the same JVM clock). */
object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def us(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** A traced interval: `parent` 0 marks a root; spans of one query share
  * `qid`. */
final case class Span(id: Long, parent: Long, name: String, qid: Long,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out as JSONL once the run ends. */
final class Spans {
  private val ids = new AtomicLong
  val all = new ConcurrentLinkedQueue[Span]

  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, qid: Long, startUs: Long,
      endUs: Long): Span = {
    val s = Span(id, parent, name, qid, startUs, endUs)
    all.add(s)
    s
  }

  /** Time `f` as a child span of `parent`. */
  def child[T](parent: Long, name: String, qid: Long)(f: => T): T = {
    val id = nextId()
    val t0 = Clock.us()
    try f finally record(id, parent, name, qid, t0, Clock.us())
  }

  def write(path: java.nio.file.Path, extra: Iterable[Span]): Unit = {
    val lines = (all.asScala ++ extra).toSeq.sortBy(s => (s.startUs, s.id))
      .map(s => Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "qid" -> s.qid, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark work attributed to one job group (one traced call). */
final class GroupStats {
  var jobs = 0; var stages = 0; var tasks = 0; var persists = 0
  var cpuNs = 0L; var bytesRead = 0L; var shuffleBytes = 0L
  var schedWaitMs = 0L; var planMs = 0L; var exchanges = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  /** Wall covered by the union of this group's job intervals, in ms. */
  def jobUnionMs: Long = {
    val iv = jobIntervals.map(j => (j._2, j._3)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (curE < 0 || s > curE) {
        if (curE >= 0) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }
}

/** Listener that attributes jobs, stages, tasks, SQL executions and newly
  * persisted RDDs to the job group the calling thread set before its call
  * (`SparkContext.setJobGroup`) — never to global counters, so concurrent
  * clients each see only their own work. Runs on the listener bus thread;
  * readers call [[drain]] first. */
final class SparkTap extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val seenPersisted = mutable.HashSet.empty[Int]
  private val events = new AtomicLong
  private val openJobs = new AtomicLong
  val unpersists = new AtomicLong
  val taskFailures = new AtomicLong
  val stageRetries = new AtomicLong

  private def g(name: String): GroupStats =
    groups.getOrElseUpdate(name, new GroupStats)

  def stats(group: String): GroupStats = synchronized {
    groups.getOrElse(group, new GroupStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet(); openJobs.incrementAndGet()
    val grp = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    // an RDD persisted by this job's plan and never seen before: a cache
    // fill (warm-path tables are seen during set-up, before any query)
    val fresh = e.stageInfos.flatMap(_.rddInfos)
      .filter(r => r.storageLevel.useMemory || r.storageLevel.useDisk)
      .map(_.id).filterNot(seenPersisted).distinct
    seenPersisted ++= fresh
    grp.foreach { name =>
      jobGroup(e.jobId) = name
      jobStartMs(e.jobId) = e.time
      val s = g(name)
      s.jobs += 1
      s.stages += e.stageIds.size
      s.persists += fresh.size
      e.stageIds.foreach(stageGroup(_) = name)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet(); openJobs.decrementAndGet()
    jobGroup.remove(e.jobId).foreach { name =>
      g(name).jobIntervals += ((e.jobId, jobStartMs.remove(e.jobId).get, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      events.incrementAndGet()
      val info = e.stageInfo
      stageSubmitMs(info.stageId) =
        info.submissionTime.getOrElse(System.currentTimeMillis())
      if (info.attemptNumber() > 0) stageRetries.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    if (e.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    stageGroup.get(e.stageId).foreach { name =>
      val s = g(name)
      s.tasks += 1
      stageSubmitMs.get(e.stageId).foreach { sub =>
        s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.bytesRead += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
    events.incrementAndGet(); unpersists.incrementAndGet()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        s.jobGroupId.foreach(execGroup(s.executionId) = _)
      case end: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        execGroup.remove(end.executionId).foreach { name =>
          val st = g(name)
          // the event's query execution is package-private to Spark SQL
          val qe = end.getClass.getMethod("qe").invoke(end)
            .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
          Option(qe).foreach { qe =>
            st.planMs += qe.tracker.phases.values.map(_.durationMs).sum
            st.exchanges += SparkTap.exchanges(qe.executedPlan)
          }
        }
      case _ =>
    }
  }

  /** Wait until the asynchronous listener bus has delivered everything
    * posted so far: no open jobs and an unchanged event count over three
    * consecutive 20 ms polls (bounded at ~5 s). */
  def drain(): Unit = {
    var prev = -1L; var stable = 0; var i = 0
    while (i < 250 && stable < 3) {
      Thread.sleep(20)
      val cur = events.get
      if (cur == prev && openJobs.get <= 0) stable += 1 else stable = 0
      prev = cur; i += 1
    }
  }
}

object SparkTap {
  /** Exchange operators in an executed plan, through adaptive wrappers,
    * query stages and subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _ =>
      (if (p.isInstanceOf[Exchange]) 1 else 0) +
        p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}

/** Host noise over an interval, from `/proc/stat` (whole machine) and
  * `/proc/self/stat` (this JVM): the share of CPU time stolen by the
  * hypervisor and the share used by other processes. */
final class HostNoise {
  private def machine(): Array[Long] = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    line.split("\\s+").drop(1).map(_.toLong)
  }
  private def self(): Long = {
    val s = scala.io.Source.fromFile("/proc/self/stat").mkString
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong // utime + stime, after the comm field
  }
  private val m0 = machine(); private val s0 = self()

  /** (steal %, other-process CPU %) of all CPU time since construction. */
  def result(): (Double, Double) = {
    val m1 = machine(); val s1 = self()
    val d = m1.zip(m0).map { case (a, b) => a - b }
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    val total = d.take(8).sum.toDouble
    if (total <= 0) return (0.0, 0.0)
    val busy = d(0) + d(1) + d(2) + d(5) + d(6)
    val other = math.max(0L, busy - (s1 - s0))
    (100.0 * d(7) / total, 100.0 * other / total)
  }
}
