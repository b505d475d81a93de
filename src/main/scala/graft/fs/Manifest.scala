package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import scala.collection.mutable

/** One row of the engine's file manifest — the Spark-native equivalent of
  * the reference's `FilePair` + SequenceFile manifests (reference:
  * FilePair.java:17-27, DistExec.java:526-541,592-597). `length` is the
  * split weight (0 for dirs, DistExec.java:592).
  */
final case class FileEntry(
    path: String,
    root: String,
    relativeDst: String,
    length: Long,
    isDir: Boolean,
    modificationTime: Long)

final class DuplicationException(msg: String) extends RuntimeException(msg)

/** Manifest builder: enumerate source trees into a `Dataset[FileEntry]`.
  *
  * Replaces the reference's driver-side SequenceFile manifest build
  * (DistExec.java:471-644). The manifest is never materialized to disk —
  * it IS the DataFrame; Catalyst plans over it directly.
  */
object Manifest {

  /** Relative path of `path` under `root`: `"."` for the root itself,
    * `None` when not under the root (reference: makeRelative,
    * DistExec.java:388-410).
    */
  def makeRelative(root: String, path: String): Option[String] = {
    val r = stripTrailingSlash(root)
    val p = stripTrailingSlash(path)
    if (p == r) Some(".")
    else if (r == "/" && p.startsWith("/")) Some(p.substring(1))
    else if (p.startsWith(r + "/")) Some(p.substring(r.length + 1))
    else None
  }

  private def stripTrailingSlash(s: String): String =
    if (s.length > 1 && s.endsWith("/")) s.dropRight(1) else s

  /** Secure-cluster delegation tokens, obtained UP FRONT on the driver
    * for every distinct filesystem among `paths` and MERGED INTO THE
    * LIVE UGI (`UserGroupInformation.addCredentials` — `getCredentials`
    * returns a defensive COPY, so adding tokens to it would be a silent
    * no-op) — the reference's `checkSrcPath` →
    * `TokenCache.obtainTokensForNamenodes` (DistExec.java:209-226): on a
    * kerberized HDFS, tasks hold no TGT, so without tokens grabbed at
    * submit time every filesystem open fails. Renewer: the RM principal
    * if configured (the YARN renewal path), else the current user.
    *
    * Timing caveat (unlike the reference's MR submit path): Spark
    * captures delegation tokens for executors at application launch /
    * via its keytab token manager (`spark.kerberos.*`), so call this
    * BEFORE the first action of the job — it guarantees the DRIVER side
    * (listing, dup-check, mkdirs, tmp cleanup) and covers executors when
    * the session is built after the grab; long-running apps should run
    * Spark's own renewal in addition.
    *
    * No-op off secure clusters. `securityEnabled` is injectable because
    * flipping `UserGroupInformation` into kerberos mode is JVM-global —
    * the unit test passes `true` explicitly with a mock filesystem; a
    * real kerberized e2e needs a KDC this sandbox doesn't have
    * (documented limit).
    *
    * Returns the kinds of the obtained tokens (diagnostic/test surface).
    */
  def obtainDelegationTokens(
      conf: Configuration,
      paths: Seq[String],
      securityEnabled: Boolean =
        org.apache.hadoop.security.UserGroupInformation.isSecurityEnabled): Seq[String] = {
    if (!securityEnabled) Seq.empty
    else {
      val ugi = org.apache.hadoop.security.UserGroupInformation.getCurrentUser
      val renewer = Option(conf.get("yarn.resourcemanager.principal"))
        .getOrElse(ugi.getUserName)
      val creds = new org.apache.hadoop.security.Credentials()
      val kinds = paths.map(p => new Path(p).getFileSystem(conf))
        .groupBy(_.getUri).values.map(_.head)
        .flatMap(fs => Option(fs.addDelegationTokens(renewer, creds)).toSeq.flatten)
        .map(_.getKind.toString).toSeq
      ugi.addCredentials(creds) // merge into the LIVE subject, not a copy
      kinds
    }
  }

  /** Driver-side iterative DFS over one root (reference's explicit-stack
    * walk, DistExec.java:549-609).
    */
  def listRoot(conf: Configuration, root: String): Seq[FileEntry] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath))
      throw new java.io.FileNotFoundException(s"source $root does not exist")
    val rootStatus = fs.getFileStatus(rootPath)
    val rootStr = rootStatus.getPath.toString
    val out = mutable.ArrayBuffer.empty[FileEntry]
    val stack = mutable.Stack[FileStatus](rootStatus)
    while (stack.nonEmpty) {
      val st = stack.pop()
      val p = st.getPath.toString
      val rel = makeRelative(rootStr, p).getOrElse(p)
      out += toEntry(st, rootStr, rel)
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(stack.push)
    }
    out.toSeq
  }

  // Paths keep their FULL URI (scheme + authority): stripping to the bare
  // path would make executors resolve a source from hdfs://nn/... or
  // s3a://bucket/... against their DEFAULT filesystem (the reference
  // preserved qualified URIs for the same reason).
  private def toEntry(st: FileStatus, root: String, rel: String): FileEntry =
    FileEntry(
      path = st.getPath.toString,
      root = root,
      relativeDst = rel,
      length = if (st.isDirectory) 0L else st.getLen,
      isDir = st.isDirectory,
      modificationTime = st.getModificationTime)

  /** Rewrite a root's entries so the tree mirrors under the SOURCE'S OWN
    * NAME (the reference's non-special root choice: `root =
    * src.getParent()`, DistExec.java:553 — each of several sources lands
    * at `dst/<srcname>/...`, and a rerun into an existing dst nests
    * rather than merging namespaces). A single-file root becomes its file
    * name either way.
    */
  private def underSourceName(e: FileEntry): FileEntry = {
    val name = new Path(e.root).getName
    if (name.isEmpty) e // root is "/" — nothing to nest under
    else if (e.relativeDst == ".") e.copy(relativeDst = name)
    else e.copy(relativeDst = s"$name/${e.relativeDst}")
  }

  /** Build the manifest for several roots (multiple `<srcurl>` args are an
    * implicit union — reference DistExec.java:549 loop).
    *
    * Root choice mirrors the reference (DistExec.java:546-553): in the
    * `special` case (exactly one source into a nonexistent dst) a
    * directory source's CONTENTS land in dst directly; otherwise each
    * source is relativized against its parent, i.e. mirrors under
    * `dst/<srcname>/...`. A single-file root contributes its file name in
    * both modes.
    */
  def build(spark: SparkSession, roots: Seq[String], special: Boolean = true): Dataset[FileEntry] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = roots.flatMap { r =>
      val es = listRoot(conf, r)
      if (!special) es.map(underSourceName)
      else
        // A single-FILE root contributes itself under its file name.
        es.map { e =>
          if (e.relativeDst == "." && !e.isDir)
            e.copy(relativeDst = new Path(e.path).getName)
          else e
        }
    }
    spark.createDataset(entries)
  }

  /** Driver-side snapshot of a Hadoop Configuration as serializable pairs. */
  def hadoopConfEntries(conf: Configuration): Seq[(String, String)] = {
    val it = conf.iterator()
    val buf = mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toSeq
  }

  /** Executor-side rebuild of the driver's effective configuration. */
  def restoreConf(entries: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Duplicate-destination check: the reference sorts the dst manifest and
    * compares adjacent keys (DistExec.java:647-673); in Spark a hash
    * aggregation needs no sort. Throws [[DuplicationException]] listing
    * offending destinations (exit −2 parity lives in the CLI).
    */
  def checkDuplication(manifest: Dataset[FileEntry]): Unit = {
    val dups = manifest
      .filter(!col("isDir"))
      .groupBy(col("relativeDst"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("path"))).as("srcs"))
      .filter(col("n") > 1)
      .orderBy(col("relativeDst"))
      .limit(20)
      .collect()
    if (dups.nonEmpty) {
      val msg = dups
        .map(r => s"${r.getString(0)} <- ${r.getSeq[String](2).mkString(", ")}")
        .mkString("; ")
      throw new DuplicationException(s"duplicate destination names: $msg")
    }
  }

  /** Size-weighted bin packing: assign each file a split id via running
    * byte sum / target — the reference's greedy `getSplits`
    * (DistExec.java:132-177) as one per-root running-sum window. A file
    * starts in the bin its start offset falls in, so a bin exceeds the
    * target only through its last file, and each root restarts at bin 0.
    */
  def binPack(manifest: Dataset[FileEntry], targetBytes: Long): Dataset[org.apache.spark.sql.Row] = {
    val w = Window.partitionBy(col("root")).orderBy(col("path"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifest.filter(!col("isDir"))
      .withColumn("cum", sum(col("length")).over(w))
      .withColumn("bin", floor((col("cum") - col("length")) / lit(targetBytes)))
  }

  /** Map-count rule: `max(min(fileCount, cap), 1)` — file-count based, not
    * byte-based, because process-spawn cost is per file (reference fork
    * delta: DistExec.java:419-426 vs DistCp.java:933-941).
    */
  def mapCount(fileCount: Long, cap: Int): Int =
    math.max(math.min(fileCount, cap.toLong).toInt, 1)
}
