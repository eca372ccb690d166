package perfbench

import java.io.{File, PrintWriter}

import graft.core.GraftSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload search|maintain --seed N --seconds S
  *  --trace 0|1 --data DIR [--out DIR]`.
  * Prints one JSON object as its last stdout line; a traced run also
  * writes `spans.jsonl` and `summary.json` under `--out`. */
object Main {
  /** Process CPU seconds from JVM start until the session is up. */
  @volatile var sessionCpuSeconds: Double = 0.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val data = opts("data")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    // the library's own local profile (GraftSession.configure + finish:
    // GraftExtensions, ABAC injection, AQE on)
    val spark = GraftSession.local("perfbench", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    sessionCpuSeconds = Jvm.cpuNanos / 1e9

    val res = try {
      workload match {
        case "search" => new SearchWorkload(spark, seed, seconds, data, trace).run()
        case "maintain" => new MaintainWorkload(spark, seed, seconds, data, trace).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()

    res.notes.foreach(n => System.err.println(s"perfbench: $n"))
    val metrics = if (trace) res.perLayer else res.endToEnd
    if (trace) opts.get("out").foreach(out => writeTrace(new File(out), res))
    println(resultJson(res.correct, res.attempted, res.failed, metrics))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def metricsJson(m: Map[String, (Double, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      m: Map[String, (Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(m)}}"""

  /** Span file (one JSON object a line) and a summary with every
    * per-layer metric, self time per span name, and the traced run's
    * own end-to-end figures (to set against an untraced run). */
  def writeTrace(dir: File, res: RunResult): Unit = {
    dir.mkdirs()
    val spans = new PrintWriter(new File(dir, "spans.jsonl"), "UTF-8")
    try res.spans.foreach(s => spans.println(Tracer.spanJson(s))) finally spans.close()
    val self = Tracer.selfTimes(res.spans).toSeq.sortBy(-_._2)
      .map { case (n, v) => s""""$n": ${num(v)}""" }.mkString("{", ", ", "}")
    val summary = new PrintWriter(new File(dir, "summary.json"), "UTF-8")
    try summary.println(
      s"""{"per_layer": ${metricsJson(res.perLayer)}, "end_to_end_traced": ${metricsJson(res.endToEnd)}, "self_ms": $self, "spans": ${res.spans.size}}""")
    finally summary.close()
  }
}
