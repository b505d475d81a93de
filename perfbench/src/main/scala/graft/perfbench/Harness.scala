package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One metric as the benchmark reports it. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    metrics: Seq[(String, Metric)],
    stamp: Seq[(String, String)])

/** Session lifecycle, box stamp and JSON plumbing shared by the workloads. */
object Harness {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Start a local session whose warehouse, local and scratch dirs all
    * live under `work`, timed in seconds.
    */
  def startSession(work: Path, shufflePartitions: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // graft.Bench's size rule: adaptive execution stays off below 64 MiB
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def procField(file: String, key: String): String =
    try Files.readAllLines(java.nio.file.Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.stripPrefix(key).trim).getOrElse("")
    catch { case _: Throwable => "" }

  /** The JVM's peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM:").split("\\s+").headOption
      .flatMap(_.toLongOption).map(_ / 1024.0).getOrElse(0.0)

  /** Heap in use right after a full collection: the live set the run
    * holds, which unlike the resident set or the occupancy after a young
    * collection does not follow when the collector happened to run. Each
    * collection lets Spark's ContextCleaner drop the broadcast and
    * shuffle blocks of plans found unreachable, which the next one frees,
    * so this takes the least of several rounds.
    */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val rounds = (1 to 4).map { _ =>
      System.gc()
      val used = heap.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      Thread.sleep(500)
      used
    }
    log(f"live heap after each full collection: ${rounds.map(r => f"$r%.1f").mkString(" ")} MiB")
    rounds.min
  }

  /** CPU jiffies of waited-for children (cutime + cstime): the spawned
    * commands of the exec workload, which are this run's own load.
    */
  private def childJiffies(): Long =
    try {
      val s = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(13).toLong + f(14).toLong
    } catch { case _: Throwable => 0L }

  /** External CPU over a window, measured with graft.Bench's own probes. */
  final class CpuWindow {
    private val (busy0, total0, _) = graft.Bench.cpuStat()
    private val proc0 = graft.Bench.processCpuJiffies() + childJiffies()
    def externalFrac(): Double = {
      val (busy1, total1, _) = graft.Bench.cpuStat()
      val proc1 = graft.Bench.processCpuJiffies() + childJiffies()
      graft.Bench.externalCpuFrac(busy0, total0, proc0, busy1, total1, proc1)
    }
  }

  def stamp(extCpu: Double): Seq[(String, String)] = Seq(
    "nproc" -> cpus.toString,
    "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
    "mem_total" -> procField("/proc/meminfo", "MemTotal:"),
    "loadavg" -> procField("/proc/loadavg", "").split(" ").take(3).mkString(" "),
    "external_cpu_frac" -> f"$extCpu%.3f".replace(',', '.'))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  // ---- minimal JSON writing ----

  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A JSON number with all its digits; non-finite values become 0. */
  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def outcomeJson(o: Outcome): String = {
    val ms = o.metrics.map { case (k, m) =>
      s"${jstr(k)}:{\"value\":${jnum(m.value)},\"unit\":${jstr(m.unit)}}"
    }.mkString("{", ",", "}")
    val st = o.stamp.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""failures":${o.failures.take(20).map(jstr).mkString("[", ",", "]")},""" +
      s""""metrics":$ms,"stamp":$st}"""
  }
}
