package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The incremental ANN lifecycle's core contract (q136): merging a
  * delta batch into a persisted two-level index under FROZEN codebooks
  * yields an artifact row-identical to assigning the full corpus
  * monolithically under the same codebooks — assignment is per-row, so
  * base ∪ delta loses nothing. Also pins the merge-cost claim: the
  * append touches ONLY the cent_id partitions the delta hashes to. */
class TwoLevelIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def synthVecs(n: Int): DataFrame =
    spark.range(n).toDF("vec_id").select(col("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(xxhash64(col("vec_id"), i), lit(2048L)) - 1024L) / 1024.0).as("u"))

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def assignmentsOf(dir: String): Set[(Long, Long, Long)] =
    IdStore.latest(spark, dir).read(spark, "assignments")
      .select(col("vec_id"), col("cent_id").cast("long"), col("sub_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("delta merge under frozen codebooks equals monolithic assignment") {
    val incrDir = java.nio.file.Files.createTempDirectory("graft-ivf2-incr").toString
    val monoDir = java.nio.file.Files.createTempDirectory("graft-ivf2-mono").toString
    try {
      val vecs = synthVecs(400).cache()
      val split = pmod(col("vec_id") * lit(2654435761L), lit(100)) < 30
      val delta = vecs.where(split)
      assert(delta.count() > 50, "the delta split must be non-trivial")

      // incremental: train + persist on the base, merge the delta
      Similarity.saveTwoLevelIndexOf(vecs.where(!split), incrDir, nCoarse = 8, nSub = 4)
      val beforeAppend = partitionFiles(incrDir)
      Similarity.appendTwoLevelDelta(delta, incrDir)

      // monolithic: the SAME frozen codebooks, full corpus in one pass
      spark.read.parquet(s"$incrDir/coarse").write.parquet(s"$monoDir/coarse")
      spark.read.parquet(s"$incrDir/subcents").write.parquet(s"$monoDir/subcents")
      Similarity.appendTwoLevelDelta(vecs, monoDir)

      assert(assignmentsOf(incrDir) == assignmentsOf(monoDir),
        "merged inverted file diverged from the monolithic frozen-codebook assignment")

      // served answers agree too (same probe pipeline, same index rows)
      val a = Similarity.twoLevelTopKFromIndex(spark, incrDir, 4, 2, nQueries = 30)
        .collect().toSeq
      val b = Similarity.twoLevelTopKFromIndex(spark, monoDir, 4, 2, nQueries = 30)
        .collect().toSeq
      assert(a.nonEmpty && a == b)

      // merge cost ∝ |delta|: partitions with no delta rows were not
      // rewritten — their file lists are unchanged after the append
      val deltaCells = IdStore.latest(spark, monoDir).read(spark, "assignments")
        .join(delta.select("vec_id"), Seq("vec_id"))
        .select(col("cent_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val afterAppend = partitionFiles(incrDir)
      for ((cell, files) <- beforeAppend if !deltaCells.contains(cell))
        assert(afterAppend(cell) == files,
          s"partition cent_id=$cell had no delta rows but its files changed")

      // the retry a production ingest eventually does: re-merging the
      // SAME batch is a no-op (the anti-join replay guard)
      val rowsBefore = IdStore.latest(spark, incrDir).read(spark, "assignments").count()
      Similarity.appendTwoLevelDelta(delta, incrDir)
      assert(IdStore.latest(spark, incrDir).read(spark, "assignments").count() == rowsBefore,
        "a replayed merge double-wrote assignment rows")
      assert(assignmentsOf(incrDir) == assignmentsOf(monoDir),
        "a replayed merge changed the inverted file")
      vecs.unpersist(blocking = false)
    } finally { rm(new java.io.File(incrDir)); rm(new java.io.File(monoDir)) }
  }

  private def partitionFiles(dir: String): Map[Long, Set[String]] =
    Option(new java.io.File(s"$dir/assignments").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("cent_id="))
      .map(d => d.getName.stripPrefix("cent_id=").toLong ->
        Option(d.listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap
}
