package graft.perfbench

import java.nio.file.{Files, Paths}

/** JVM side of the benchmark: runs one workload and writes its outcome
  * as JSON. `perfbench/run.py` builds this, launches it, adds the DuckDB
  * oracle check and prints the result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --data SFDIR --out FILE --rows FILE
  */
object Main {

  val Workloads = Seq("query_suite", "exec_small_files")

  /** Every per-layer metric with its unit. A layer the workload does not
    * exercise reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "sources.backbone_build_s" -> "s", "setup.warmup_s" -> "s",
    "queries.build_s" -> "s", "plans.analysis_s" -> "s", "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_gap_s" -> "s", "spark.task_busy_frac" -> "frac",
    "sources.scan_rows" -> "count", "sources.scan_bytes" -> "bytes", "sources.scan_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
    "spark.gc_s" -> "s", "spark.spill_bytes" -> "bytes",
    "floor.wall_s" -> "s", "floor.plan_s" -> "s", "floor.sched_gap_s" -> "s",
    "floor.task_run_s" -> "s",
    "trio.wall_s" -> "s", "trio.scan_s" -> "s", "trio.task_cpu_s" -> "s",
    "trio.shuffle_bytes" -> "bytes",
    "fs.list_s" -> "s", "fs.entries" -> "count", "fs.dupcheck_s" -> "s", "fs.binpack_s" -> "s",
    "fs.bins" -> "count",
    "exec.bare_files_per_s" -> "1/s", "exec.run_ms_p50" -> "ms", "exec.run_ms_p99" -> "ms",
    "exec.bare_mb_per_s" -> "MiB/s",
    "distexec.run_s" -> "s", "distexec.tasks" -> "count", "distexec.task_busy_frac" -> "frac",
    "distexec.outputs" -> "count", "distexec.spawn_efficiency" -> "ratio",
    "distexec.pump_efficiency" -> "ratio",
    "jvm.peak_rss_mb" -> "MiB",
    "trace.overhead_frac" -> "frac")

  def main(args: Array[String]): Unit =
    // Exit explicitly: a thread Spark leaves behind must not keep the JVM up.
    try { run(args); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val o = workload match {
      case "query_suite" =>
        QuerySuite.run(work, opt("data"), seed, seconds, trace, Paths.get(opt("rows")))
      case "exec_small_files" => ExecBench.run(work, ExecBench.Small, seed, seconds, trace)
    }
    // VmHWM follows how far the collector let the heap grow, so it is a
    // layer reading; live_heap_mb is the end-to-end memory metric.
    val rss = Harness.peakRssMb()
    val out =
      if (!trace) o.copy(stamp = o.stamp :+ ("peak_rss_mb" -> f"$rss%.1f".replace(',', '.')))
      else {
        val got = o.metrics.toMap + ("jvm.peak_rss_mb" -> Metric(rss, "MiB"))
        o.copy(metrics = PerLayer.map { case (k, u) => k -> got.getOrElse(k, Metric(0.0, u)) })
      }
    Files.write(Paths.get(opt("out")),
      Harness.outcomeJson(out).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
