package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

/** The generator's own test: for every workload, the same seed gives
  * byte-identical inputs and a different seed gives different inputs.
  * Needs no Spark session (generation never touches the program).
  *
  * Args: --work <scratch dir> --seed <n>. Exit code 0 when all hold.
  */
object GenCheck {
  def digest(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString).foreach { f =>
      md.update(root.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    } finally s.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  def generate(workload: String, seed: Long, dir: Path): String = {
    val ctx = new Ctx(null, seed, dir, 0)
    Main.create(workload, ctx, null).generate()
    digest(dir)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val seed = opts("seed").toLong
    var ok = true
    Main.Workloads.foreach { w =>
      val a = generate(w, seed, work.resolve(s"$w-a"))
      val b = generate(w, seed, work.resolve(s"$w-b"))
      val c = generate(w, seed + 1, work.resolve(s"$w-c"))
      val same = a == b
      val differs = a != c
      ok &&= same && differs
      println(s"$w: seed $seed twice -> ${if (same) "identical" else "DIFFERENT"} ($a); " +
        s"seed ${seed + 1} -> ${if (differs) "different" else "IDENTICAL"} ($c)")
    }
    System.exit(if (ok) 0 else 1)
  }
}
