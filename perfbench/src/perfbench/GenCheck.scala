package perfbench

import java.nio.file.{Files, Paths}

/** Generator determinism check for the self-tests:
  * `perfbench.GenCheck <seed> <dir>` generates every workload's inputs
  * twice with `seed` and once with `seed + 1`, and prints one line per
  * workload: `<name> <digest> <same-seed digest> <next-seed digest>`. */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val dir = Paths.get(args(1)).toAbsolutePath
    Workloads.names.foreach { name =>
      val digests = Seq("a" -> seed, "b" -> seed, "c" -> (seed + 1)).map { case (tag, s) =>
        val d = dir.resolve(s"$name-$tag")
        Files.createDirectories(d)
        Workloads.byName(name).generate(s, d)
        Gen.treeDigest(d)
      }
      println((name +: digests).mkString(" "))
    }
  }
}
