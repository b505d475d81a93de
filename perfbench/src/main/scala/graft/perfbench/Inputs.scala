package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** One generated source file: its path relative to the tree root and size. */
final case class GenFile(rel: String, size: Long)

/** Seeded input generation. Every tree and every query order is a pure
  * function of the seed, so a run can be repeated byte for byte.
  */
object Inputs {

  /** Shape of a generated exec tree: `files` files spread over `dirs`
    * nested directories, sizes log-uniform in [minBytes, maxBytes].
    */
  final case class TreeShape(files: Int, dirs: Int, minBytes: Long, maxBytes: Long)

  /** exec_small_files: about a hundred nested directories of small files. */
  val SmallTree = TreeShape(files = 300, dirs = 100, minBytes = 256, maxBytes = 16 << 10)

  /** `n` sizes log-uniform in [lo, hi], stratified (one draw per 1/n of
    * the range) and shuffled, so the total barely moves between seeds.
    */
  private def sizes(rng: SplittableRandom, n: Int, lo: Long, hi: Long): Array[Long] = {
    val span = math.log(hi.toDouble / lo)
    val out = Array.tabulate(n) { i =>
      math.round(lo * math.exp(span * (i + rng.nextDouble()) / n)).max(lo).min(hi)
    }
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
    }
    out
  }

  /** Write the tree for `seed` under `root` (which must not exist yet).
    * Contents are uniformly random bytes 0x00-0xFF, i.e. Latin-1 text
    * with high bytes. Returns the files written, sorted by path.
    */
  def writeTree(root: Path, shape: TreeShape, seed: Long): Seq[GenFile] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + shape.files)
    Files.createDirectories(root)
    // Each new directory hangs below a random earlier one, so depth varies.
    val dirs = scala.collection.mutable.ArrayBuffer("")
    (0 until shape.dirs).foreach { i =>
      val parent = dirs(rng.nextInt(dirs.size))
      val d = if (parent.isEmpty) f"d$i%03d" else f"$parent/d$i%03d"
      Files.createDirectories(root.resolve(d))
      dirs += d
    }
    val buf = new Array[Byte](1 << 20)
    val sized = sizes(rng, shape.files, shape.minBytes, shape.maxBytes)
    val files = (0 until shape.files).map { i =>
      val dir = dirs(rng.nextInt(dirs.size))
      val rel = if (dir.isEmpty) f"f$i%05d.dat" else f"$dir/f$i%05d.dat"
      val size = sized(i)
      val out = new BufferedOutputStream(new FileOutputStream(root.resolve(rel).toFile), 1 << 16)
      try {
        var left = size
        while (left > 0) {
          val n = math.min(left, buf.length.toLong).toInt
          rng.nextBytes(buf)
          out.write(buf, 0, n)
          left -= n
        }
      } finally out.close()
      GenFile(rel, size)
    }
    files.sortBy(_.rel)
  }

  /** The order of one pass over `names` for `seed`. */
  def passOrder(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(new java.util.Random(seed * 1000003L + pass)).shuffle(names.sorted)
}
