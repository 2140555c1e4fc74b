package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <scratch>
  *
  * Prints a context line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * with --trace 0, the per-layer metrics with --trace 1. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.Names.contains(workload),
      s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = new java.io.File(opts("dir")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = new Run(spark, seed, seconds, dir, trace)
      r.mark("start")
      Workloads.run(workload, r)
      r.mark("checked")
      r.problems.take(20).foreach(p => System.err.println(s"perfbench: check failed: $p"))
      val ctx = Seq(
        "workload" -> s""""$workload"""", "seed" -> seed.toString, "cores" -> cores.toString,
        "timed_s" -> (r.timedNs / 1e9).toString,
        "jvm_jit_ms" -> (r.jvmEnd.jitMs - r.jvmStart.jitMs).toString,
        "setup_wall_s" -> r.setups.map(c => f"${c.wallNs / 1e9}%.3f").mkString("[", ",", "]"),
        "setup_cpu_s" -> r.setups.map(c => f"${c.cpuNs / 1e9}%.3f").mkString("[", ",", "]"),
        "wall" -> r.wall.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}"),
        "check_failures" -> r.problems.size.toString,
        "op_wall_ms" -> r.opCosts.map(c => f"${c.wallNs / 1e6}%.1f").mkString("[", ",", "]"),
        "op_cpu_ms" -> r.opCosts.map(c => f"${c.cpuNs / 1e6}%.1f").mkString("[", ",", "]"),
        "phases_uptime_s" -> r.phases.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      println(ctx.map { case (k, v) => s""""$k":$v""" }.mkString("""{"context":{""", ",", "}}"))
      val metrics = (if (trace) r.layers else r.e2e).map { case (k, v) =>
        s""""$k":{"value":${Json.num(v)},"unit":"${Units.of(k)}"}"""
      }
      println(s"""{"correct":${r.problems.isEmpty},"attempted":${r.attempted},""" +
        s""""failed":${r.failed},"metrics":${metrics.mkString("{", ",", "}")}}""")
    } finally spark.stop()
  }
}

object Json {
  /** a JSON number with all its digits; a non-finite value becomes 0 */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** the unit each metric is reported in, by name */
object Units {
  def of(name: String): String = name match {
    case "setup_s" => "s"
    case "op_cpu_ms" => "ms"
    case "items_per_cpu_s" => "items/cpu-s"
    case "index_bytes_ratio" => "ratio"
    case "live_heap_mb" => "MB"
    case n if n.startsWith("traced.") || n.startsWith("wall.") => of(n.dropWhile(_ != '.').tail)
    case "items_per_s" => "items/s"
    case n if n.endsWith("_ms") || n.contains("_ms_per_") => "ms"
    case n if n.endsWith("_per_s") => "1/s"
    case n if n.endsWith("_s") => "s"
    case n if n.contains("bytes") && !n.endsWith("_share") => "bytes"
    case n if n.endsWith("_share") || n == "search.colocated" => "ratio"
    case _ => "count"
  }
}
