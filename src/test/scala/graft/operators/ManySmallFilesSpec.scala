package graft.operators

import java.nio.file.Files

import graft.SparkSpec

import org.scalatest.funsuite.AnyFunSuite

/** Many-small-files stress (SURVEY §5.2.5 / FIXTURES §2 `many-small`):
  * the reference's cost model is per-process, so the exec operator must
  * survive wide, tiny-file trees — every file processed exactly once,
  * byte counters exact, no stragglers from skewed bins.
  */
class ManySmallFilesSpec extends AnyFunSuite with SparkSpec {

  test("300 small files exec through cat: all processed, counters exact") {
    val src = Files.createTempDirectory("many-src").toFile
    val dst = new java.io.File(Files.createTempDirectory("many-dst").toFile, "out")
    val n = 300
    var totalBytes = 0L
    (0 until n).foreach { i =>
      val content = s"file-$i:" + ("x" * (i % 97))
      totalBytes += content.length
      Files.write(new java.io.File(src, f"f$i%04d.txt").toPath, content.getBytes)
    }
    val status = DistExecJob.run(spark, Seq(src.getAbsolutePath), dst.getAbsolutePath,
      "cat", DistExecOptions(maxMaps = Some(8)))
    val c = DistExecJob.counters(status)
    assert(c.executed == n && c.failed == 0)
    assert(c.bytesExecuted == totalBytes && c.bytesWritten == totalBytes)
    assert(dst.listFiles().count(_.getName.endsWith(".txt")) == n)
    // spot-check one mirrored file end to end
    val f42 = new java.io.File(dst, "f0042.txt")
    assert(new String(Files.readAllBytes(f42.toPath)) == "file-42:" + ("x" * 42))
  }
}
