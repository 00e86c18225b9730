package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** One benchmark run inside one JVM. `perfbench/run.py` builds the
  * benchmark, launches this, and prints the result line.
  *
  * Usage: graftbench.Main --workload backfill|live_tail
  *   --seed N --seconds S --trace 0|1 --work DIR --cpus N
  * Writes DIR/jvm_result.json (and DIR/trace.json when tracing).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, kv("cpus").toInt)
    Files.createDirectories(a.work)
    val trace = new Trace(a.trace)
    val res = new Result
    trace.span(s"run.${a.workload}") {
      a.workload match {
        case "backfill" => Workloads.backfill(a, trace, res)
        case "live_tail" => Workloads.live(a, trace, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    res.put("peak_rss_mb", peakRssMb, "MB")
    trace.write(a.work.resolve("trace.json"))
    val out = Map(
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> res.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> res.samples, "detail" -> res.detail)
    Files.write(a.work.resolve("jvm_result.json"), Json.render(out).getBytes(UTF_8))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally status.close()
  }
}
