package graft.tools

/** Same-JVM alternating A/B for session-conf perf experiments (dev
  * tool, r13 optimization round). Cross-run comparisons are polluted
  * by cold-cache/JIT (~2-4x), so both arms run interleaved in ONE
  * bench-contract session: A = session as launched, B = the given
  * conf overrides; 2 discarded warm passes then N alternating
  * samples per arm; report per-arm min (the converged cost).
  *
  * Usage: runMain graft.tools.ConfAB <sfDir> <query[,query...]> k=v[,k=v...] [n]
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val names = args(1).split(",").toSeq
    val overrides = args(2).split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val n = if (args.length > 3) args(3).toInt else 4
    val spark = graft.Bench.buildSession(graft.Bench.cpus)
    val base = overrides.map { case (k, _) =>
      (k, spark.conf.getOption(k)) }
    graft.Bench.warmupLoop(spark, d, 20000L)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def run(): Double = graft.Bench.sampleQuery(spark, d, name, fn).get
      def setA(): Unit = base.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      def setB(): Unit = overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      setA(); run(); setB(); run() // discard: JIT/cache warm for both arms
      val (as, bs) = (1 to n).map { _ =>
        setA(); val a = run(); setB(); val b = run(); (a, b)
      }.unzip
      setA()
      def ms3(v: Double) = math.round(v * 1000) / 1000.0
      // escape interpolated strings (ADVICE r13): an override value
      // holding a quote/backslash must not emit malformed JSON
      import graft.Bench.esc
      println(s"""{"query":"${esc(name)}","a_min":${ms3(as.min)},"b_min":${ms3(bs.min)},""" +
        s""""ratio":${ms3(bs.min / as.min)},"a":[${as.map(ms3).mkString(",")}],""" +
        s""""b":[${bs.map(ms3).mkString(",")}],"overrides":"${esc(args(2))}"}""")
    }
    spark.stop()
  }
}
