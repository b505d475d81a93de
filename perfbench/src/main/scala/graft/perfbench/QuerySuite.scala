package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.Bucketed

/** The query_suite workload: a fixed cut of `SparkEntry.queries` over the
  * bucketed backbone, one closed-loop client, pass-major timed passes in
  * a seeded order.
  */
object QuerySuite {

  /** PERF.md's cohorts, by query-name prefix. */
  val Floor = Seq("c24_", "d8_", "d21_", "d24_")
  val Trio = Seq("b13_", "d22_", "c70_")

  /** Every `Stride`-th remaining query (sorted by name) joins the two
    * cohorts, so the cut also holds queries neither cohort names.
    */
  val Stride = 68

  /** Setups per run; `setup_s` reports their median. */
  val SetupReps = 3

  /** Timed passes at least, so a slow run is not also a run whose
    * window ends before the warmup trend has flattened; a traced run
    * prices its traced passes against untraced ones.
    */
  val MinPasses = 4

  def select(all: Seq[String]): Seq[String] = {
    val named = (Floor ++ Trio).toSet
    val (picked, rest) = all.sorted.partition(n => named.exists(n.startsWith))
    (picked ++ rest.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }).sorted
  }

  private def inCohort(cohort: Seq[String], n: String) = cohort.exists(n.startsWith)

  /** One timed query execution, as kept after its checks: timings and
    * plan figures, not the DataFrame or its rows, so the heap a run keeps
    * does not grow with the number of passes.
    */
  private final case class Exec(name: String, sec: Double, w0: Long, w1: Long,
      buildSec: Double, ok: Boolean, scan: ScanSums, phasesMs: (Long, Long, Long))

  /** Run one query. Returns its record, plus its schema and rows when it
    * succeeded or the error when it failed.
    */
  private def runOne(spark: SparkSession, dir: String, n: String,
      tag: Option[String]): (Exec, Either[String, (StructType, Array[Row])]) = {
    val sc = spark.sparkContext
    def body(): (Exec, Either[String, (StructType, Array[Row])]) = {
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        (Exec(n, (t2 - t0) / 1e9, w0, w1, (t1 - t0) / 1e9, ok = true,
          PlanMetrics.scans(df), PlanMetrics.phasesMs(df)), Right((df.schema, rows)))
      } catch {
        case e: Throwable =>
          (Exec(n, (System.nanoTime() - t0) / 1e9, w0, System.currentTimeMillis(), 0.0,
            ok = false, ScanSums(0, 0, 0), (0L, 0L, 0L)),
            Left(s"$n: ${e.getClass.getName}: ${e.getMessage}"))
      }
    }
    tag.fold(body())(t => Tracer.tagged(sc, t)(body()))
  }

  def run(work: Path, dir: String, seed: Long, seconds: Double, trace: Boolean,
      rowsOut: Path): Outcome = {
    val shuffle = graft.Tuning.shufflePartitionsFor(graft.Tuning.dirBytes(dir))
    val names = select(SparkEntry.queries.keys.toSeq)

    // Setup: session start plus backbone build, several times; the
    // untimed warmup pass once, on the last session.
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      if (spark != null) Harness.stopSession(spark)
      val (s, sessionSec) = Harness.startSession(work, shuffle)
      spark = s
      spark.conf.set(Bucketed.FlagConf, "true")
      val (_, backboneSec) = Harness.secondsOf(Bucketed.ensureBackbone(spark, dir))
      (sessionSec, backboneSec)
    }
    val (_, warmupSec) = Harness.secondsOf(
      Inputs.passOrder(names, seed, 0).foreach(n => runOne(spark, dir, n, None)))
    val setupSec = Stats.median(setups.map { case (a, b) => a + b }) + warmupSec
    Harness.log(s"setups $setups warmup $warmupSec s over ${names.mkString(" ")}")

    val cpu = new Harness.CpuWindow
    val execs = mutable.ArrayBuffer[(Int, Boolean, Exec)]()
    val firstRows = mutable.Map[String, (StructType, Seq[String])]()
    val failures = mutable.ArrayBuffer[String]()
    val failedByQuery = mutable.Map[String, Int]().withDefaultValue(0)
    // per traced pass: the tracer's task sums and the pass's GC time
    val tracedPasses = mutable.ArrayBuffer[(Int, Tracer, Long)]()
    var timed = 0.0
    var pass = 0
    while (pass < MinPasses || timed < seconds) {
      pass += 1
      // untraced, traced, traced, untraced, ...: balanced against the
      // pass times' warmup trend
      val traced = trace && pass % 4 >= 2
      val order = Inputs.passOrder(names, seed, pass)
      def doPass() =
        order.map(n => runOne(spark, dir, n, if (traced) Some(s"$pass/$n") else None))
      val gcPass0 = Harness.gcMillis()
      val passExecs =
        if (traced) {
          val (r, t) = Tracer.around(spark.sparkContext)(doPass())
          tracedPasses += ((pass, t, Harness.gcMillis() - gcPass0))
          r
        } else doPass()
      val passSec = passExecs.map(_._1.sec).sum
      timed += passSec
      Harness.log(s"pass $pass traced=$traced $passSec s gc=${Harness.gcMillis() - gcPass0}ms " +
        passExecs.map(x => f"${x._1.name.takeWhile(_ != '_')}=${x._1.sec}%.3f").mkString(" "))
      // Output checks, outside the timed window: a failure is counted,
      // its time stays in the pass, and every pass must return the rows
      // of the first.
      passExecs.foreach { case (e, result) =>
        execs += ((pass, traced, e))
        result match {
          case Left(error) =>
            failures += error; failedByQuery(e.name) += 1
          case Right((schema, rows)) =>
            val enc = rows.map(r => RowJson.row(r, schema)).toSeq.sorted
            firstRows.get(e.name) match {
              case None => firstRows(e.name) = (schema, enc)
              case Some((_, prev)) if prev != enc =>
                failures += s"${e.name}: pass $pass rows differ from an earlier pass"
                failedByQuery(e.name) += 1
              case _ => ()
            }
        }
      }
    }
    val extCpu = cpu.externalFrac()
    RowJson.write(rowsOut, names, firstRows.toMap, execs.groupBy(_._3.name).map {
      case (n, es) => n -> (es.size, failedByQuery(n))
    }, SparkEntry.oracleSql)

    val plain = execs.toSeq.collect { case (_, false, e) => e }
    val metrics =
      if (!trace) endToEnd(plain, setupSec)
      else perLayer(spark, execs.toSeq, tracedPasses.toSeq, setups, warmupSec)
    Harness.stopSession(spark)
    Outcome(execs.size.toLong, failures.size.toLong, failures.toSeq, metrics,
      Harness.stamp(extCpu) ++ Seq(
        "queries" -> names.size.toString,
        "passes" -> pass.toString,
        "latency_samples" -> execs.size.toString,
        "suite_s" -> f"${perQueryMedians(plain)(_.sec).sum}%.3f".replace(',', '.'),
        "data" -> dir.split('/').last,
        "shuffle_partitions" -> shuffle.toString))
  }

  /** Rates divide by the suite time, the sum of each query's median
    * latency (failed executions included), so a burst of outside load
    * in one pass does not set them.
    */
  private def endToEnd(execs: Seq[Exec], setupSec: Double): Seq[(String, Metric)] = {
    val suite = perQueryMedians(execs)(_.sec).sum
    val okPerPass = execs.count(_.ok).toDouble / execs.size * execs.map(_.name).distinct.size
    val scanMiB = perQueryMedians(execs)(_.scan.bytes.toDouble).sum / (1024.0 * 1024.0)
    Seq(
      "setup_s" -> Metric(setupSec, "s"),
      "op_p50_s" -> Metric(Stats.median(perQueryMedians(execs)(_.sec)), "s"),
      "items_per_s" -> Metric(okPerPass / suite, "1/s"),
      "mb_per_s" -> Metric(scanMiB / suite, "MiB/s"),
      "live_heap_mb" -> Metric(Harness.liveHeapMb(), "MiB"))
  }

  /** Each query's median of `f` over its executions. */
  private def perQueryMedians(execs: Seq[Exec])(f: Exec => Double): Seq[Double] =
    execs.groupBy(_.name).values.map(es => Stats.median(es.map(f))).toSeq

  private def perLayer(spark: SparkSession, all: Seq[(Int, Boolean, Exec)],
      traced: Seq[(Int, Tracer, Long)], setups: Seq[(Double, Double)],
      warmupSec: Double): Seq[(String, Metric)] = {
    val nPasses = traced.size.toDouble
    val slots = spark.sparkContext.defaultParallelism
    final case class Q(e: Exec, t: TaskSums) {
      def phases: (Long, Long, Long) = e.phasesMs
      def scan: ScanSums = e.scan
      def gapMs: Long = Stats.schedGap(e.w0, e.w1, t.intervals)
      def planMs: Long = phases._1 + phases._2 + phases._3
    }
    val qs: Seq[Q] = traced.flatMap { case (p, tracer, _) =>
      all.collect { case (`p`, true, e) => Q(e, tracer.get(s"$p/${e.name}")) }
    }
    def perPass(f: Q => Double, cohort: Seq[String] = Nil): Double =
      qs.filter(q => cohort.isEmpty || inCohort(cohort, q.e.name)).map(f).sum / nPasses
    val busy = Stats.ratio(qs.map(q => Stats.busyMs(q.e.w0, q.e.w1, q.t.intervals).toDouble).sum,
      qs.map(q => slots.toDouble * (q.e.w1 - q.e.w0)).sum)
    val passSums = all.groupBy(x => (x._1, x._2)).toSeq.map { case ((_, tr), es) =>
      (tr, es.map(_._3.sec).sum)
    }
    val overhead = Stats.ratio(Stats.median(passSums.filter(_._1).map(_._2)),
      Stats.median(passSums.filterNot(_._1).map(_._2))) - 1.0
    Seq(
      "setup.session_s" -> Metric(Stats.median(setups.map(_._1)), "s"),
      "sources.backbone_build_s" -> Metric(Stats.median(setups.map(_._2)), "s"),
      "setup.warmup_s" -> Metric(warmupSec, "s"),
      "queries.build_s" -> Metric(perPass(_.e.buildSec), "s"),
      "plans.analysis_s" -> Metric(perPass(_.phases._1 / 1e3), "s"),
      "plans.optimization_s" -> Metric(perPass(_.phases._2 / 1e3), "s"),
      "plans.planning_s" -> Metric(perPass(_.phases._3 / 1e3), "s"),
      "spark.jobs" -> Metric(perPass(_.t.jobs), "count"),
      "spark.stages" -> Metric(perPass(_.t.stages), "count"),
      "spark.tasks" -> Metric(perPass(_.t.tasks), "count"),
      "spark.sched_gap_s" -> Metric(perPass(_.gapMs / 1e3), "s"),
      "spark.task_busy_frac" -> Metric(busy, "frac"),
      "sources.scan_rows" -> Metric(perPass(_.scan.rows.toDouble), "count"),
      "sources.scan_bytes" -> Metric(perPass(_.scan.bytes.toDouble), "bytes"),
      "sources.scan_s" -> Metric(perPass(_.scan.scanMs / 1e3), "s"),
      "spark.shuffle_write_bytes" -> Metric(perPass(_.t.shuffleWriteBytes.toDouble), "bytes"),
      "spark.shuffle_read_bytes" -> Metric(perPass(_.t.shuffleReadBytes.toDouble), "bytes"),
      "spark.shuffle_fetch_wait_s" -> Metric(perPass(_.t.fetchWaitMs / 1e3), "s"),
      "spark.task_cpu_s" -> Metric(perPass(_.t.cpuNs / 1e9), "s"),
      "spark.task_run_s" -> Metric(perPass(_.t.runMs / 1e3), "s"),
      "spark.gc_s" -> Metric(traced.map(_._3).sum / 1e3 / nPasses, "s"),
      "spark.spill_bytes" -> Metric(perPass(_.t.spillBytes.toDouble), "bytes"),
      "floor.wall_s" -> Metric(perPass(_.e.sec, Floor), "s"),
      "floor.plan_s" -> Metric(perPass(_.planMs / 1e3, Floor), "s"),
      "floor.sched_gap_s" -> Metric(perPass(_.gapMs / 1e3, Floor), "s"),
      "floor.task_run_s" -> Metric(perPass(_.t.runMs / 1e3, Floor), "s"),
      "trio.wall_s" -> Metric(perPass(_.e.sec, Trio), "s"),
      "trio.scan_s" -> Metric(perPass(_.scan.scanMs / 1e3, Trio), "s"),
      "trio.task_cpu_s" -> Metric(perPass(_.t.cpuNs / 1e9, Trio), "s"),
      "trio.shuffle_bytes" -> Metric(perPass(_.t.shuffleWriteBytes.toDouble, Trio), "bytes"),
      "trace.overhead_frac" -> Metric(overhead, "frac"))
  }
}

/** Rows as JSON for the DuckDB oracle check: doubles with every digit,
  * decimals as plain strings, dates ISO, timestamps as epoch micros.
  */
object RowJson {
  import Harness.{jnum, jstr}

  def value(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "null"
    // NaN and Infinity print as the bare tokens Python's json accepts
    case (d: Double, _) => java.lang.Double.toString(d)
    case (f: Float, _) => java.lang.Double.toString(f.toDouble)
    case (b: java.math.BigDecimal, _) => jstr(b.toPlainString)
    case (s: String, _) => jstr(s)
    case (b: Boolean, _) => b.toString
    case (n: java.lang.Number, _) => n.toString
    case (d: java.sql.Date, _) => jstr(d.toString)
    case (ts: java.sql.Timestamp, _) =>
      (Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000).toString
    case (l: java.time.LocalDateTime, _) => jstr(l.toString)
    case (b: Array[Byte], _) => jstr(b.map(x => f"${x & 0xff}%02x").mkString)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(value(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, x) => s"[${value(k, kt)},${value(x, vt)}]" }.mkString("[", ",", "]")
    case (r: Row, st: StructType) => row(r, st)
    case (x, _) => jstr(x.toString)
  }

  /** One row as a JSON array of its column values. */
  def row(r: Row, schema: StructType): String =
    schema.fields.indices.map(i => value(r.get(i), schema.fields(i).dataType))
      .mkString("[", ",", "]")

  def write(out: Path, names: Seq[String], rows: Map[String, (StructType, Seq[String])],
      counts: Map[String, (Int, Int)], oracle: Map[String, String]): Unit = {
    val w = Files.newBufferedWriter(out)
    try {
      w.write("{")
      names.zipWithIndex.foreach { case (n, i) =>
        if (i > 0) w.write(",")
        val (execs, failed) = counts.getOrElse(n, (0, 0))
        w.write(s"${jstr(n)}:{\"executions\":$execs,\"failed\":$failed,")
        w.write(s"\"oracle\":${oracle.get(n).map(jstr).getOrElse("null")},")
        rows.get(n) match {
          case Some((schema, enc)) =>
            w.write(s"\"schema\":${schema.json},\"rows\":[${enc.mkString(",")}]}")
          case None => w.write("\"schema\":null,\"rows\":null}")
        }
      }
      w.write("}")
    } finally w.close()
  }
}
