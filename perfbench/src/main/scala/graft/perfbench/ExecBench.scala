package graft.perfbench

import java.io.{BufferedInputStream, FileInputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.exec.ProcessRunner
import graft.fs.Manifest
import graft.operators.{DistExecJob, ExecCounters}

/** The exec workload: a seeded tree piped file by file through a
  * command by `DistExecJob.run`, one job at a time (closed loop).
  */
object ExecBench {

  /** A workload's tree shape, command, the bytes the command should
    * write for a source file, and the untimed jobs run before the window
    * while job times still fall.
    */
  final case class Spec(shape: Inputs.TreeShape, command: String,
      expected: Array[Byte] => Array[Byte], warmupJobs: Int)

  /** The reference README's transcode: every Latin-1 byte maps to one
    * UTF-8 character, so the output is longer than the input.
    */
  val Small = Spec(Inputs.SmallTree, "iconv -f iso8859-1 -t utf-8",
    b => new String(b, StandardCharsets.ISO_8859_1).getBytes(StandardCharsets.UTF_8),
    warmupJobs = 3)

  val SetupReps = 3
  private val MinJobs = 4

  /** One timed job: wall seconds, the four counters, checked outputs. */
  private final case class Job(sec: Double, w0: Long, w1: Long, c: ExecCounters,
      outputs: Int, bad: Seq[String], traced: Option[TaskSums])

  def run(work: Path, spec: Spec, seed: Long, seconds: Double, trace: Boolean): Outcome = {
    val src = work.resolve("src")
    val files = Inputs.writeTree(src, spec.shape, seed)
    val totalIn = files.map(_.size).sum

    var spark: SparkSession = null
    val sessions = (1 to SetupReps).map { _ =>
      if (spark != null) Harness.stopSession(spark)
      val (s, sec) = Harness.startSession(work, graft.Tuning.shufflePartitionsFor(0L))
      spark = s
      sec
    }
    var jobNo = 0
    def job(tagged: Boolean): Job = {
      jobNo += 1
      val dst = work.resolve(s"out-$jobNo")
      val tag = s"job-$jobNo"
      def body(): (ExecCounters, Long, Long, Long, Long) = {
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, spec.command)
        val c = DistExecJob.counters(status)
        (c, t0, System.nanoTime(), w0, System.currentTimeMillis())
      }
      val (c, t0, t1, w0, w1) =
        if (tagged) Tracer.tagged(spark.sparkContext, tag)(body()) else body()
      val (outputs, bad) = check(src, dst, files, c, spec)
      Harness.deleteTree(dst)
      Job((t1 - t0) / 1e9, w0, w1, c, outputs, bad, None)
    }

    // The warmup counts the jobs' own time, not the harness's checks.
    val warm = Seq.fill(spec.warmupJobs)(job(tagged = false))
    val warmupSec = warm.map(_.sec).sum
    val setupSec = Stats.median(sessions) + warmupSec

    // Layer probes, outside the timed window and only when tracing.
    val layers = if (trace) fsLayer(spark, src) ++ bareExec(src, files, spec) else Nil

    val cpu = new Harness.CpuWindow
    val jobs = mutable.ArrayBuffer[Job]()
    var timed = 0.0
    while (jobs.size < MinJobs || timed < seconds) {
      // untraced, traced, traced, untraced, ...: balanced against the
      // job times' warmup trend
      val traced = trace && (jobs.size + 1) % 4 >= 2
      val j =
        if (!traced) job(tagged = false)
        else {
          val (j, t) = Tracer.around(spark.sparkContext)(job(tagged = true))
          j.copy(traced = Some(t.get(s"job-$jobNo")))
        }
      jobs += j
      timed += j.sec
      Harness.log(f"job ${jobs.size} traced=$traced ${j.sec}%.3f s")
    }
    val extCpu = cpu.externalFrac()
    val slots = spark.sparkContext.defaultParallelism
    // read with the session still up, after the window
    val liveHeap = if (trace) 0.0 else Harness.liveHeapMb()
    Harness.stopSession(spark)

    // Rates are medians over the untraced jobs, so a burst of outside load
    // over a few jobs does not set them.
    val plain = jobs.filter(_.traced.isEmpty).toSeq
    val itemsPerS = Stats.median(plain.map(j => (files.size - j.bad.size) / j.sec))
    val mibPerS = Stats.median(plain.map(j => j.c.bytesExecuted / (1024.0 * 1024.0) / j.sec))
    val metrics =
      if (!trace) Seq(
        "setup_s" -> Metric(setupSec, "s"),
        "op_p50_s" -> Metric(Stats.median(plain.map(_.sec)), "s"),
        "items_per_s" -> Metric(itemsPerS, "1/s"),
        "mb_per_s" -> Metric(mibPerS, "MiB/s"),
        "live_heap_mb" -> Metric(liveHeap, "MiB"))
      else {
        val tj = jobs.filter(_.traced.isDefined).toSeq
        val n = tj.size.toDouble
        def perJob(f: (Job, TaskSums) => Double): Double = tj.map(j => f(j, j.traced.get)).sum / n
        val busy = Stats.ratio(
          tj.map(j => Stats.busyMs(j.w0, j.w1, j.traced.get.intervals).toDouble).sum,
          tj.map(j => slots.toDouble * (j.w1 - j.w0)).sum)
        val lm = layers.toMap
        Seq(
          "setup.session_s" -> Metric(Stats.median(sessions), "s"),
          "setup.warmup_s" -> Metric(warmupSec, "s"),
          "spark.jobs" -> Metric(perJob((_, t) => t.jobs), "count"),
          "spark.stages" -> Metric(perJob((_, t) => t.stages), "count"),
          "spark.tasks" -> Metric(perJob((_, t) => t.tasks), "count"),
          "spark.sched_gap_s" -> Metric(perJob((j, t) => Stats.schedGap(j.w0, j.w1, t.intervals) / 1e3), "s"),
          "spark.task_busy_frac" -> Metric(busy, "frac"),
          "spark.task_cpu_s" -> Metric(perJob((_, t) => t.cpuNs / 1e9), "s"),
          "spark.task_run_s" -> Metric(perJob((_, t) => t.runMs / 1e3), "s"),
          "spark.shuffle_write_bytes" -> Metric(perJob((_, t) => t.shuffleWriteBytes.toDouble), "bytes"),
          "spark.shuffle_read_bytes" -> Metric(perJob((_, t) => t.shuffleReadBytes.toDouble), "bytes"),
          "distexec.run_s" -> Metric(Stats.median(tj.map(_.sec)), "s"),
          "distexec.tasks" -> Metric(perJob((_, t) => t.tasks), "count"),
          "distexec.task_busy_frac" -> Metric(busy, "frac"),
          "distexec.outputs" -> Metric(perJob((j, _) => j.outputs), "count"),
          "distexec.spawn_efficiency" -> Metric(Stats.ratio(itemsPerS, lm("exec.bare_files_per_s").value), "ratio"),
          "distexec.pump_efficiency" -> Metric(Stats.ratio(mibPerS, lm("exec.bare_mb_per_s").value), "ratio"),
          "trace.overhead_frac" -> Metric(Stats.ratio(Stats.median(tj.map(_.sec)), Stats.median(plain.map(_.sec))) - 1.0, "frac")
        ) ++ layers
      }
    // The warmup jobs' outputs are checked and counted like the timed ones.
    val bad = (warm ++ jobs).flatMap(_.bad)
    Outcome((jobs.size + warm.size).toLong * files.size, bad.size.toLong, bad, metrics,
      Harness.stamp(extCpu) ++ Seq(
        "files" -> files.size.toString,
        "bytes" -> totalIn.toString,
        "timed_jobs" -> jobs.size.toString,
        "command" -> spec.command))
  }

  /** Check one job's outputs byte for byte and its four counters against
    * the generated tree. Returns (output files found, failures). A counter
    * that disagrees fails every file of the job.
    */
  private def check(src: Path, dst: Path, files: Seq[GenFile], c: ExecCounters,
      spec: Spec): (Int, Seq[String]) = {
    val found = if (!Files.exists(dst)) Set.empty[String] else {
      val s = Files.walk(dst)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dst.relativize(p).toString).toSet
      finally s.close()
    }
    var outBytes = 0L
    val bad = mutable.ArrayBuffer[String]()
    files.foreach { f =>
      val (in, out) = (src.resolve(f.rel), dst.resolve(f.rel))
      val expected = spec.expected(Files.readAllBytes(in))
      outBytes += expected.length
      val same = found.contains(f.rel) && java.util.Arrays.equals(expected, Files.readAllBytes(out))
      if (!found.contains(f.rel)) bad += s"${f.rel}: output missing"
      else if (!same) bad += s"${f.rel}: output bytes differ"
    }
    (found -- files.map(_.rel)).foreach(x => bad += s"$x: unexpected output")
    val want = ExecCounters(files.size, 0, files.map(_.size).sum, outBytes)
    if (c != want) (found.size, files.map(f => s"${f.rel}: counters $c, expected $want"))
    else (found.size, bad.toSeq)
  }

  private def median3(body: => Double): Double = Stats.median(Seq.fill(3)(body))

  /** fs layer: the manifest calls `DistExecJob.run` makes, timed one by one. */
  private def fsLayer(spark: SparkSession, src: Path): Seq[(String, Metric)] = {
    import org.apache.spark.sql.functions.col
    val roots = Seq(src.toString)
    var entries = 0L
    val listS = median3 {
      val (m, s) = Harness.secondsOf(Manifest.build(spark, roots))
      entries = m.count(); s
    }
    val manifest = Manifest.build(spark, roots).cache()
    val dupS = median3(Harness.secondsOf(Manifest.checkDuplication(manifest))._2)
    val files = manifest.filter(!col("isDir"))
    val fileCount = files.count()
    val bytes = math.max(files.agg(org.apache.spark.sql.functions.sum("length")).head().getLong(0), 1L)
    val tasks = Manifest.mapCount(fileCount, DistExecJob.sessionMapCap(spark))
    var bins = 0L
    val binS = median3 {
      val (n, s) = Harness.secondsOf(
        Manifest.binPack(files, math.max(bytes / tasks, 1L)).select("bin").distinct().count())
      bins = n; s
    }
    manifest.unpersist()
    Seq(
      "fs.list_s" -> Metric(listS, "s"),
      "fs.entries" -> Metric(entries.toDouble, "count"),
      "fs.dupcheck_s" -> Metric(dupS, "s"),
      "fs.binpack_s" -> Metric(binS, "s"),
      "fs.bins" -> Metric(bins.toDouble, "count"))
  }

  private final class CountingSink extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  /** exec layer: `ProcessRunner.run` on every file of the tree by nproc
    * threads, outputs discarded.
    */
  private def bareExec(src: Path, files: Seq[GenFile], spec: Spec): Seq[(String, Metric)] = {
    val argv = graft.exec.CommandLine.translate(spec.command)
    val queue = new ConcurrentLinkedQueue[GenFile](files.asJava)
    val times = new ConcurrentLinkedQueue[java.lang.Double]()
    val pool = Executors.newFixedThreadPool(Harness.cpus)
    val t0 = System.nanoTime()
    (1 to Harness.cpus).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var f = queue.poll()
          while (f != null) {
            val in: InputStream = new BufferedInputStream(new FileInputStream(src.resolve(f.rel).toFile))
            val s0 = System.nanoTime()
            try ProcessRunner.run(argv, in, new CountingSink, new CountingSink) finally in.close()
            times.add((System.nanoTime() - s0) / 1e6)
            f = queue.poll()
          }
        }
      })
    }
    pool.shutdown()
    require(pool.awaitTermination(10, TimeUnit.MINUTES), "bare exec did not finish")
    val wall = (System.nanoTime() - t0) / 1e9
    val ms = times.asScala.map(_.doubleValue).toSeq
    require(ms.size == files.size, s"bare exec ran ${ms.size} of ${files.size} files")
    Seq(
      "exec.bare_files_per_s" -> Metric(files.size / wall, "1/s"),
      "exec.bare_mb_per_s" -> Metric(files.map(_.size).sum / (1024.0 * 1024.0) / wall, "MiB/s"),
      "exec.run_ms_p50" -> Metric(Stats.percentile(ms, 50)._1, "ms"),
      "exec.run_ms_p99" -> Metric(Stats.percentile(ms, 99)._1, "ms"))
  }
}
