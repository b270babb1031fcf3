package perfbench

import java.nio.file.{Path, Paths}

/** Command line of one benchmark run (see perfbench/README.md):
  * `--workload service|ingest --seed N --seconds S --trace 0|1
  * --work DIR --out DIR`. `work` holds the run's indexes and Spark scratch
  * space; `out` receives the traced run's spans and per-layer table. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path)

object Main {
  val Workloads: Seq[String] = Seq("service", "ingest")

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", Paths.get(m("work")), Paths.get(m("out")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    val run = new Run(a)
    val code = try run.run() finally run.stop()
    System.exit(code)
  }
}
