package graft.fs

import java.nio.file.{Files, Path => JPath}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class ManifestSpec extends AnyFunSuite with SparkSpec {

  private def mkTree(): JPath = {
    val root = Files.createTempDirectory("graft-manifest")
    Files.writeString(root.resolve("a.txt"), "alpha\n")
    Files.writeString(root.resolve("b.txt"), "bravo bravo\n")
    val sub = Files.createDirectories(root.resolve("sub/deep"))
    Files.writeString(sub.resolve("c.txt"), "charlie\n")
    Files.createDirectories(root.resolve("empty"))
    root
  }

  test("makeRelative: strip, dot-for-root, None outside root") {
    assert(Manifest.makeRelative("/a/b", "/a/b/c/d.txt").contains("c/d.txt"))
    assert(Manifest.makeRelative("/a/b", "/a/b").contains("."))
    assert(Manifest.makeRelative("/a/b/", "/a/b").contains("."))
    assert(Manifest.makeRelative("/a/b", "/a/bc/d").isEmpty)
    assert(Manifest.makeRelative("/", "/x").contains("x"))
  }

  test("build enumerates recursively incl. empty dirs, lengths as weights") {
    val root = mkTree()
    val m = Manifest.build(spark, Seq(root.toString)).collect()
    val byRel = m.map(e => e.relativeDst -> e).toMap
    assert(byRel.contains("."))
    assert(byRel("a.txt").length == 6)
    assert(byRel("sub/deep/c.txt").length == 8)
    assert(byRel("empty").isDir && byRel("empty").length == 0)
    assert(m.count(!_.isDir) == 3)
  }

  test("single-file root lists under its own name") {
    val root = mkTree()
    val m = Manifest.build(spark, Seq(root.resolve("a.txt").toString)).collect()
    assert(m.length == 1)
    assert(m.head.relativeDst == "a.txt" && !m.head.isDir)
  }

  test("duplicate destinations across roots raise DuplicationException") {
    val r1 = mkTree()
    val r2 = mkTree()
    val m = Manifest.build(spark, Seq(r1.toString, r2.toString))
    val ex = intercept[DuplicationException](Manifest.checkDuplication(m))
    assert(ex.getMessage.contains("a.txt"))
  }

  test("no exception when destinations are unique") {
    val root = mkTree()
    Manifest.checkDuplication(Manifest.build(spark, Seq(root.toString)))
  }

  test("bin packing: bins bounded by target (unless single file) and bytes conserved") {
    import spark.implicits._
    val files = (1 to 100).map(i =>
      FileEntry(s"/r/f$i", "/r", s"f$i", length = (i % 7 + 1) * 10L, isDir = false, 0L))
    val target = 100L
    val binned = Manifest.binPack(spark.createDataset(files), target)
    val perBin = binned.groupBy($"bin")
      .agg(sum($"length").as("bytes"), count(lit(1)).as("n"))
      .collect()
    val total = perBin.map(_.getLong(1)).sum
    assert(total == files.map(_.length).sum)
    // greedy start-offset rule: a bin only exceeds target via its last file
    perBin.foreach { r =>
      val bytes = r.getLong(1)
      assert(bytes <= target + 80, s"bin ${r.get(0)} = $bytes")
    }
  }

  test("bin packing: hand-computed bins for two roots and a single-file root") {
    import spark.implicits._
    def f(root: String, name: String, len: Long) =
      FileEntry(s"$root/$name", root, name, len, isDir = false, 0L)
    // Rows arrive out of path order and with dirs mixed in: the packing
    // sorts by path within each root and skips dirs.
    val files = Seq(
      f("/r", "c", 30), f("/r", "a", 40), FileEntry("/r/d", "/r", "d", 0L, isDir = true, 0L),
      f("/r", "b", 70), f("/r", "e", 10), f("/r", "d/x", 60),
      f("/s", "q", 100), f("/s", "p", 20),
      FileEntry("/one.bin", "/one.bin", "one.bin", 500L, isDir = false, 0L))
    val got = Manifest.binPack(spark.createDataset(files), 50L)
      .select($"path", $"cum", $"bin").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    // bin = floor((cum - length) / 50): the bin a file's START offset
    // falls in, restarting at 0 for every root.
    val want = Map(
      "/r/a" -> (40L, 0L),   // [0, 40)
      "/r/b" -> (110L, 0L),  // [40, 110): starts in bin 0, overflows it
      "/r/c" -> (140L, 2L),  // [110, 140)
      "/r/d/x" -> (200L, 2L), // [140, 200)
      "/r/e" -> (210L, 4L),  // [200, 210)
      "/s/p" -> (20L, 0L),   // second root restarts at 0
      "/s/q" -> (120L, 0L),  // [20, 120)
      "/one.bin" -> (500L, 0L)) // a single-file root is one bin
    assert(got == want)
  }

  test("map count rule: min(files, cap), at least 1") {
    assert(Manifest.mapCount(0, 20) == 1)
    assert(Manifest.mapCount(5, 20) == 5)
    assert(Manifest.mapCount(500, 20) == 20)
  }

  test("delegation tokens: obtained once per distinct fs when secure, never otherwise") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("fs.mocktok.impl", classOf[TokenRecordingFileSystem].getName)
    conf.set("fs.mocktok.impl.disable.cache", "true")

    TokenRecordingFileSystem.renewers.clear()
    // two paths on the same fs → ONE addDelegationTokens call
    val kinds = Manifest.obtainDelegationTokens(conf,
      Seq("mocktok:///src", "mocktok:///dst"), securityEnabled = true)
    assert(TokenRecordingFileSystem.renewers.size == 1)
    assert(kinds == Seq("MOCK_TOKEN"))
    // and the token is in the LIVE UGI (getCredentials returns a copy;
    // adding to that copy was the bug this asserts against)
    val live = org.apache.hadoop.security.UserGroupInformation.getCurrentUser
      .getCredentials
    assert(live.getToken(new org.apache.hadoop.io.Text("mocktok-service")) != null,
      "obtained token must be merged into the current UGI's subject")

    // insecure cluster → no-op (the everyday path)
    TokenRecordingFileSystem.renewers.clear()
    assert(Manifest.obtainDelegationTokens(conf,
      Seq("mocktok:///src"), securityEnabled = false).isEmpty)
    assert(TokenRecordingFileSystem.renewers.isEmpty)

    // renewer prefers the RM principal when configured (YARN renewal path)
    conf.set("yarn.resourcemanager.principal", "rm/host@REALM")
    Manifest.obtainDelegationTokens(conf, Seq("mocktok:///src"),
      securityEnabled = true)
    assert(TokenRecordingFileSystem.renewers.last == "rm/host@REALM")
  }
}

/** Mock secure filesystem: records addDelegationTokens calls and, like
  * the real implementation, ADDS the token to the passed credentials. A
  * real kerberized e2e needs a KDC this sandbox lacks; flipping UGI into
  * kerberos mode is JVM-global, hence the injectable `securityEnabled`.
  */
class TokenRecordingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mocktok:///")
  override def addDelegationTokens(
      renewer: String,
      creds: org.apache.hadoop.security.Credentials)
      : Array[org.apache.hadoop.security.token.Token[_]] = {
    TokenRecordingFileSystem.renewers += renewer
    val t = new org.apache.hadoop.security.token.Token[
      org.apache.hadoop.security.token.TokenIdentifier]()
    t.setKind(new org.apache.hadoop.io.Text("MOCK_TOKEN"))
    t.setService(new org.apache.hadoop.io.Text("mocktok-service"))
    creds.addToken(t.getService, t)
    Array(t)
  }
}

object TokenRecordingFileSystem {
  val renewers: scala.collection.mutable.ArrayBuffer[String] =
    scala.collection.mutable.ArrayBuffer.empty
}
