package graft.operators

import java.io.{IOException, OutputStream}

import scala.util.Using

import graft.exec.{CommandLine, Executor}
import graft.fs.{FileEntry, Manifest}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file execution outcome (reference's FAIL log rows + counters,
  * ExecFilesMapper.java:27,184-187, re-expressed as a status Dataset).
  */
final case class ExecStatus(
    relativeDst: String,
    ok: Boolean,
    exitCode: Int,
    bytesIn: Long,
    bytesOut: Long,
    bytesErr: Long,
    error: String)

final case class ExecCounters(executed: Long, failed: Long, bytesExecuted: Long, bytesWritten: Long)

/** The CLI's job options: `-m` (None → [[DistExecJob.sessionMapCap]])
  * and `-redirectErrorToOut`.
  */
final case class DistExecOptions(
    maxMaps: Option[Int] = None,
    redirectErrorToOut: Boolean = false)

/** The core operator: pipe every file of the source trees through a shell
  * command, writing stdout (and a `.stderr` sidecar) to a mirrored path
  * under `dst`.
  *
  * Spark-native redesign of the reference's map-only job
  * (DistExec.java:318-339 + ExecFilesMapper.java:82-208): the manifest is
  * a `Dataset[FileEntry]`, split planning is size-weighted binning +
  * `repartition`, and the per-file exec runs inside `mapPartitions`
  * (opaque to Catalyst by design — process spawn dominates cost, like
  * `RDD.pipe` but per-file and binary-safe).
  *
  * Scale/durability deltas vs the reference:
  *  - tmp paths are task-attempt-unique + atomic rename, so speculative
  *    execution is SAFE here (the reference had to disable it,
  *    DistExec.java:443-445);
  *  - streams the source file through the child process (never
  *    materializes it in memory — no `binaryFile` 2 GB limit).
  *
  * Listing stays on the driver, as in the reference
  * ([[Manifest.build]]); the manifest, split planning and execution
  * after it are Datasets.
  */
object DistExecJob {

  /** Reference `MAX_MAPS_PER_NODE` (DistExec.java:76). */
  val MaxMapsPerNode = 20

  /** Default map cap for THIS session: the reference's 20 × live NODES
    * (DistExec.java:419-426) read from the actual cluster instead of a
    * hard-coded node count. Nodes = distinct executor HOSTS (an
    * executor is not a node: 10 hosts × 4 executors must cap at 20×10,
    * not 20×40), minus one for the driver's host when others exist
    * (conservative when the driver co-locates with an executor), floored
    * at `defaultParallelism` so a single fat node still fills its cores.
    * `-m` / `DistExecOptions.maxMaps` override as before.
    */
  def sessionMapCap(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val hosts = sc.statusTracker.getExecutorInfos.map(_.host).distinct.length
    val nodes = math.max(hosts - 1, 1)
    math.max(MaxMapsPerNode * nodes, sc.defaultParallelism)
  }

  def run(
      spark: SparkSession,
      srcs: Seq[String],
      dst: String,
      command: String,
      options: DistExecOptions = DistExecOptions()): Dataset[ExecStatus] = {
    require(srcs.nonEmpty, "at least one source required")
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    // Secure clusters: grab delegation tokens for every src/dst
    // filesystem before touching them (reference checkSrcPath,
    // DistExec.java:209-226). No-op without kerberos.
    Manifest.obtainDelegationTokens(conf, srcs :+ dst)
    val dstPath = new Path(dst)
    val dstFs = dstPath.getFileSystem(conf)
    val dstStatus = if (dstFs.exists(dstPath)) Some(dstFs.getFileStatus(dstPath)) else None

    // Job-level root choice (DistExec.java:546-553): only a single source
    // into a nonexistent dst spills a directory's CONTENTS into dst;
    // otherwise every source mirrors under dst/<srcname>/..., so multiple
    // sources (or a rerun into an existing dst) keep disjoint namespaces.
    val manifest = Manifest.build(spark, srcs, special = srcs.size == 1 && dstStatus.isEmpty)
    CommandLine.translate(command) // fail fast on unbalanced quotes (R1/R11)
    Manifest.checkDuplication(manifest)

    // Planning stats WITHOUT collecting the manifest: at 100 TB the
    // manifest is millions of rows — it must stay a Dataset end to end
    // (SURVEY R5). The driver only ever sees three numbers.
    val files = manifest.filter(!col("isDir"))
    val dirs = manifest.filter(col("isDir") && col("relativeDst") =!= ".")
    val statsRow = manifest.agg(
      sum(when(!col("isDir"), 1L).otherwise(0L)),
      sum(when(!col("isDir"), col("length")).otherwise(0L)),
      sum(when(col("isDir") && col("relativeDst") =!= ".", 1L).otherwise(0L))).head()
    val fileCount = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
    val totalBytes = math.max(if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1), 1L)
    val dirCount = if (statsRow.isNullAt(2)) 0L else statsRow.getLong(2)

    // File-level root choice (DistExec.java:545, ExecFilesMapper.java:131-139):
    // exactly one src file into a nonexistent/non-dir dst → dst itself
    // is the output file.
    val special = fileCount == 1 && dirCount == 0 && dstStatus.forall(_.isFile)

    // Ship the driver's effective Hadoop config (credentials, defaultFS,
    // spark.hadoop.* overrides) — a bare `new Configuration()` on the
    // executor would see classpath defaults only.
    val confEntries = Manifest.hadoopConfEntries(conf)
    val dstStr = dstPath.toString
    // Dest-dir semantics (DistExec.java:543-545,623-628): materialize the
    // dst root when more than one source entry lands in it, then every
    // manifest dir (preserving EMPTY dirs) — created from executors, so a
    // million-directory tree never funnels through the driver.
    if (!special) dstFs.mkdirs(dstPath)
    dirs.foreachPartition { (it: Iterator[FileEntry]) =>
      val c = Manifest.restoreConf(confEntries)
      val root = new Path(dstStr)
      val fs = root.getFileSystem(c)
      it.foreach(d => fs.mkdirs(new Path(root, d.relativeDst)))
    }

    val jobId = java.lang.Long.toString(System.nanoTime(), 36)
    val tmpRoot = new Path(if (special) dstPath.getParent else dstPath, s"_distexec_tmp_$jobId")

    val numTasks = Manifest.mapCount(fileCount, options.maxMaps.getOrElse(sessionMapCap(spark)))
    val target = math.max(totalBytes / numTasks, 1L)

    val binned = Manifest
      .binPack(files, target)
      .repartition(numTasks, col("bin"))
      .as[FileEntry](implicitly[org.apache.spark.sql.Encoder[FileEntry]])

    val cmd = command
    val redirect = options.redirectErrorToOut
    val tmpRootStr = tmpRoot.toString
    val isSpecial = special

    val statuses = binned.mapPartitions { it =>
      val taskConf = Manifest.restoreConf(confEntries)
      val (dstFsTask, attempt) = taskFileSystem(dstStr, taskConf)
      it.map(e => executeOne(taskConf, dstFsTask, e, dstStr, tmpRootStr, attempt, cmd, redirect, isSpecial))
    }

    // Eager + lineage-truncated: re-running the returned Dataset must NOT
    // re-execute child processes.
    val out = statuses.localCheckpoint(true)
    try dstFs.delete(tmpRoot, true) catch { case _: IOException => () }
    out
  }

  /** Aggregate the reference's four counters (EXECUTED, FAIL,
    * BYTESEXECUTED, BYTESWRITTEN) from a status Dataset.
    */
  def counters(status: Dataset[ExecStatus]): ExecCounters = {
    val r = status.agg(
      sum(when(col("ok"), 1L).otherwise(0L)),
      sum(when(!col("ok"), 1L).otherwise(0L)),
      sum(col("bytesIn")),
      sum(col("bytesOut"))).head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    ExecCounters(l(0), l(1), l(2), l(3))
  }

  /** `-singleOut` (README-promised, never implemented in the reference —
    * README.md:48, TODO at DistExec.java:453): combine all per-file stdout
    * into ONE file under `dst`, each line prefixed with its source's
    * relative name (the "single reducer prepending filename" design).
    *
    * The concatenation is inherently serial (one output file) but runs as
    * a SINGLE EXECUTOR TASK (repartition(1) + mapPartitions + tmp-rename
    * publish), not on the driver: the driver never opens data streams.
    * The sorted name list lives in that task's memory — bounded by the
    * premise that the merged result is one reasonable file.
    *
    * Special single-file jobs (dst itself IS the one output file) are
    * already a single output: returned as-is, no merge, no prefix —
    * there is nothing to distinguish.
    */
  def singleOutMerge(spark: SparkSession, dst: String, status: Dataset[ExecStatus]): Path = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new Path(dst)
    val fs = dstPath.getFileSystem(conf)
    if (fs.exists(dstPath) && fs.getFileStatus(dstPath).isFile) return dstPath
    val confEntries = Manifest.hadoopConfEntries(conf)
    val dstStr = dstPath.toString
    val outPath = new Path(dstPath, "_singleout")
    status.filter(s => s.ok && s.bytesOut > 0).map(_.relativeDst)
      .repartition(1)
      .mapPartitions { it =>
        val root = new Path(dstStr)
        val (taskFs, attempt) = taskFileSystem(dstStr, Manifest.restoreConf(confEntries))
        val tmp = new Path(root, s"_singleout_tmp_$attempt")
        val out = taskFs.create(tmp, true)
        try {
          it.toArray.sorted.foreach { rel =>
            val in = taskFs.open(new Path(root, rel))
            try {
              val reader = new java.io.BufferedReader(
                new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
              var line = reader.readLine()
              while (line != null) {
                out.write(s"$rel:\t$line\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
                line = reader.readLine()
              }
            } finally in.close()
          }
        } finally out.close()
        // Atomic publish, same pattern as executeOne: attempt-unique tmp
        // then rename, so a speculative/retried merge task never
        // interleaves with a competing writer.
        val target = new Path(root, "_singleout")
        if (taskFs.exists(target)) taskFs.delete(target, false)
        if (!taskFs.rename(tmp, target))
          throw new IOException(s"failed to rename $tmp to $target")
        Iterator(target.toString)
      }
      .collect() // force the single merge task
    outPath
  }

  /** Failure-log sink (reference parity: FAIL rows land in a
    * `_distexec_logs_<id>` directory, DistExec.java:507-521 — inside dst
    * when dst is an existing directory, beside it otherwise). Returns the
    * log path; written even when there are no failures (the reference's
    * job-output dir always exists).
    */
  def writeFailureLog(spark: SparkSession, dst: String, status: Dataset[ExecStatus]): Path = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new Path(dst)
    val fs = dstPath.getFileSystem(conf)
    val name = s"_distexec_logs_${java.lang.Long.toString(System.nanoTime(), 36)}"
    val logPath =
      if (fs.exists(dstPath) && fs.getFileStatus(dstPath).isDirectory) new Path(dstPath, name)
      else new Path(dstPath.getParent, name)
    status.filter(s => !s.ok).map(_.error)
      .write.mode("overwrite").text(logPath.toString)
    logPath
  }

  // ---------------------------------------------------------------- task side

  /** The task's private dst FileSystem and its attempt id (`"local"`
    * outside a task), which makes tmp paths attempt-unique. Checksum
    * writing is disabled (no .crc sidecars), and that flag must NOT leak
    * into the JVM-wide FileSystem.get cache shared by every other user of
    * this filesystem on the executor — so newInstance, closed with the
    * task.
    */
  private def taskFileSystem(dst: String, conf: Configuration): (FileSystem, String) = {
    val fs = FileSystem.newInstance(new Path(dst).toUri, conf)
    fs.setWriteChecksum(false)
    TaskContext.get() match {
      case null => (fs, "local")
      case tc =>
        tc.addTaskCompletionListener[Unit] { _ =>
          try fs.close() catch { case _: IOException => () }
        }
        (fs, s"${tc.stageAttemptNumber()}-${tc.taskAttemptId()}")
    }
  }

  /** Lazily-created output: no file materializes unless the stream gets
    * bytes — so empty stdout/stderr produces NO dst file (reference
    * LazyCreateOutputStream, ExecFilesMapper.java:46-80).
    */
  private final class LazyOut(fs: FileSystem, path: Path) extends OutputStream {
    private var out: OutputStream = _
    private def ensure(): OutputStream = {
      if (out == null) {
        fs.mkdirs(path.getParent)
        out = fs.create(path, true)
      }
      out
    }
    override def write(b: Int): Unit = ensure().write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = ensure().write(b, off, len)
    override def flush(): Unit = if (out != null) out.flush()
    override def close(): Unit = if (out != null) out.close()
    def created: Boolean = out != null
  }

  // private[operators] so DistExecJobSpec can race two attempts of the
  // same file head-on (the speculation scenario) without reflection
  private[operators] def executeOne(
      conf: Configuration,
      dstFs: FileSystem,
      e: FileEntry,
      dst: String,
      tmpRoot: String,
      attempt: String,
      command: String,
      redirectErrorToOut: Boolean,
      special: Boolean): ExecStatus = {
    val srcPath = new Path(e.path)
    val dstFile =
      if (special) new Path(dst)
      else new Path(new Path(dst), e.relativeDst)
    val tmpFile = new Path(new Path(tmpRoot, attempt), e.relativeDst)
    val tmpErr = tmpFile.suffix(".stderr")
    try {
      val srcFs = srcPath.getFileSystem(conf)
      val out = new LazyOut(dstFs, tmpFile)
      val err = new LazyOut(dstFs, tmpErr)
      // Each stream closes even when another's close throws (an HDFS
      // close can, e.g. on quota); the first failure is rethrown.
      val res = Using.resources(srcFs.open(srcPath), out, err) { (in, o, er) =>
        Executor.execute(command, in, o, er, redirectErrorToOut)
      }
      // Atomic publish: delete-existing + rename tmp→dst, per stream
      // (reference rename, ExecFilesMapper.java:156-170). No tmp ⇒ no file.
      if (out.created) rename(dstFs, tmpFile, dstFile)
      if (err.created) rename(dstFs, tmpErr, dstFile.suffix(".stderr"))
      ExecStatus(e.relativeDst, ok = true, res.exitCode, res.bytesIn, res.bytesOut, res.bytesErr, null)
    } catch {
      case t: Throwable =>
        // Per-record failure: log + continue; best-effort tmp cleanup with
        // retries (reference: ExecFilesMapper.java:173-208).
        var tries = 0
        while (tries < 3 && (exists(dstFs, tmpFile) || exists(dstFs, tmpErr))) {
          try { dstFs.delete(tmpFile, false); dstFs.delete(tmpErr, false) }
          catch { case _: IOException => () }
          tries += 1
          if (tries < 3) Thread.sleep(100)
        }
        ExecStatus(e.relativeDst, ok = false, -1, 0L, 0L, 0L,
          s"FAIL ${e.relativeDst} : ${t.getClass.getName}: ${t.getMessage}")
    }
  }

  private def exists(fs: FileSystem, p: Path): Boolean =
    try fs.exists(p) catch { case _: IOException => false }

  private def rename(fs: FileSystem, tmp: Path, dst: Path): Unit = {
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(tmp, dst))
      throw new IOException(s"failed to rename $tmp to $dst")
  }
}
