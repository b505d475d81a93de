package graft.perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val shape = Inputs.TreeShape(files = 40, dirs = 8, minBytes = 256, maxBytes = 4096)

  private def withTree[T](seed: Long)(body: (Path, Seq[GenFile]) => T): T = {
    val root = Files.createTempDirectory("inputs-spec")
    try body(root, Inputs.writeTree(root.resolve("t"), shape, seed))
    finally Harness.deleteTree(root)
  }

  /** Every path under the tree, directories included, with file bytes. */
  private def snapshot(root: Path): Seq[(String, Seq[Byte])] = {
    val t = root.resolve("t")
    val s = Files.walk(t)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.map { p =>
        val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty
        (t.relativize(p).toString, bytes)
      }.sortBy(_._1)
    } finally s.close()
  }

  test("the same seed gives byte-identical trees") {
    val a = withTree(7)((r, fs) => (snapshot(r), fs))
    val b = withTree(7)((r, fs) => (snapshot(r), fs))
    assert(a == b)
    assert(a._2.size == 40)
    assert(a._2.forall(f => f.size >= 256 && f.size <= 4096))
    assert(a._1.count(_._2.nonEmpty) == 40)
  }

  test("different seeds give different trees") {
    val a = withTree(7)((r, _) => snapshot(r))
    val b = withTree(8)((r, _) => snapshot(r))
    assert(a != b)
  }

  test("file contents include high Latin-1 bytes") {
    withTree(7) { (r, fs) =>
      val bytes = fs.flatMap(f => Files.readAllBytes(r.resolve("t").resolve(f.rel)))
      assert(bytes.exists(b => (b & 0xff) >= 0x80))
    }
  }

  test("sizes are stratified, so the total barely moves between seeds") {
    val totals = (1 to 5).map(s => withTree(s)((_, fs) => fs.map(_.size).sum))
    assert(totals.max.toDouble / totals.min < 1.05)
  }

  test("the query order is a pure function of seed and pass") {
    val names = (1 to 30).map(i => s"q$i")
    assert(Inputs.passOrder(names, 1, 1) == Inputs.passOrder(names.reverse, 1, 1))
    assert(Inputs.passOrder(names, 1, 1).sorted == names.sorted)
    assert(Inputs.passOrder(names, 1, 1) != Inputs.passOrder(names, 2, 1))
    assert(Inputs.passOrder(names, 1, 1) != Inputs.passOrder(names, 1, 2))
  }
}
