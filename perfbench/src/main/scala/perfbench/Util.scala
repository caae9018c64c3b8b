package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded random streams: every generated input is a pure function of
  * (seed, stream name), so the same seed always yields the same bytes.
  */
final class Rng(seed: Long, stream: String) {
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ Rng.fnv(stream))
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def gaussian(): Double = {
    // Box-Muller on two uniforms: deterministic across JVMs
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
}

object Rng {
  def fnv(s: String): Long =
    s.foldLeft(0xcbf29ce484222325L)((h, c) => (h ^ c) * 0x100000001b3L)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Files2 {
  def write(p: Path, lines: Iterable[String]): Unit = {
    Files.createDirectories(p.getParent)
    val b = new StringBuilder
    lines.foreach { l => b ++= l; b += '\n' }
    Files.write(p, b.toString.getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.forEach(f => Files.copy(f, to.resolve(f.getFileName)))
    finally s.close()
  }

  /** Total size of the regular files under `p`, bookkeeping files
    * (Spark's `.crc` and `_SUCCESS`) excluded.
    */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def lines(p: Path): Seq[String] = {
    val s = Files.walk(p)
    val files = try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      finally s.close()
    files.toSeq.flatMap(f => new String(Files.readAllBytes(f), StandardCharsets.UTF_8).split("\n"))
      .filter(_.nonEmpty)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile (of 50, 75, 90, 95, 99, 99.9) that still
    * has at least ten samples beyond it, with its value; None when
    * the sample is too small for any.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.length * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))
}
