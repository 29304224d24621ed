package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The IVF build-once/query-many lifecycle: a saved index (codebook +
  * centroid-partitioned inverted file) must answer queries IDENTICALLY
  * to the live session stage — doubles round-trip parquet bit-exactly,
  * and both paths share one probe pipeline, so any divergence means the
  * artifact lost information (schema, types, partition column) rather
  * than precision. Also pins the layout claim: the inverted file is
  * partitioned by cent_id, so probing prunes to nProbe directories.
  */
class IvfIndexPersistenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  test("a saved IVF index answers identically to the live session stage") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    try {
      Similarity.saveIvfIndex(spark, dir, tmp)
      val live = rows(Similarity.ivfTopK(spark, dir, nQueries = 50))
      val loaded = rows(Similarity.ivfTopKFromIndex(spark, tmp, nQueries = 50))
      assert(live.nonEmpty)
      assert(live == loaded, "persisted-index answers diverged from the live stage")
      // layout: one directory per centroid id — the storage-level analog
      // of "probe cost ∝ nProbe lists, not the corpus"
      val parts = new java.io.File(s"$tmp/assignments").listFiles()
        .filter(_.getName.startsWith("cent_id=")).map(_.getName).toSet
      assert(parts.size == 16, s"expected 16 centroid partitions, got ${parts.size}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("a saved two-level index answers identically to the live session stage") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf2-test").toString
    try {
      Similarity.saveTwoLevelIndex(spark, dir, tmp, nCoarse = 8, nSub = 4)
      val live = rows(Similarity.twoLevelIvfTopK(spark, dir, nCoarse = 8, nSub = 4,
        nProbe1 = 4, nProbe2 = 2, nQueries = 50))
      val loaded = rows(Similarity.twoLevelTopKFromIndex(spark, tmp,
        nProbe1 = 4, nProbe2 = 2, nQueries = 50))
      assert(live.nonEmpty)
      assert(live == loaded, "persisted two-level answers diverged from the live stage")
      // layout: partitioned by the COARSE key only (nCoarse dirs, never
      // the nCoarse x nSub small-file explosion) — a probe of nProbe1
      // cells prunes to nProbe1 directories
      val parts = new java.io.File(s"$tmp/assignments").listFiles()
        .filter(_.getName.startsWith("cent_id=")).map(_.getName).toSet
      assert(parts.size <= 8 && parts.nonEmpty,
        s"expected <= 8 coarse partitions, got ${parts.size}")
      assert(!new java.io.File(s"$tmp/assignments").listFiles()
        .exists(_.getName.startsWith("sub_id=")),
        "sub_id must not be a partition key (small-file explosion at scale)")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("ANN compaction expunges tombstones, rewrites only touched cells, answers unchanged") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf2-compact").toString
    try {
      Similarity.saveTwoLevelIndex(spark, dir, tmp)
      val dead = Similarity.unitEmbeddings(spark, dir)
        .where(pmod(col("vec_id") * lit(7919L), lit(100)) < 10)
        .select("vec_id")
      Similarity.tombstoneVectors(dead, tmp)
      val served = Similarity.twoLevelTopKFromIndex(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      val touched = IdStore.latest(spark, tmp).read(spark, "assignments")
        .join(IdStore.latest(spark, tmp).read(spark, "tombstones"), Seq("vec_id"))
        .select(col("cent_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(touched.nonEmpty, "the fixture delete set must touch some cells")
      // the cell files the latest version names
      def cellFiles(): Map[String, Long] = {
        val b = java.nio.file.Paths.get(s"$tmp/assignments")
        val named = IdStore.latest(spark, tmp).files
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(b).iterator().asScala
          .filter(p => named.contains(s"assignments/${b.relativize(p)}"))
          .map(p => (b.relativize(p).toString,
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
      }
      val before = cellFiles()
      Similarity.compactTwoLevelIndex(spark, tmp)
      val after = cellFiles()
      assert(!IdStore.latest(spark, tmp).has("tombstones"),
        "compaction must delete the tombstone set")
      def cellOf(rel: String): Long =
        rel.split("/").head.stripPrefix("cent_id=").toLong
      for ((p, m) <- before if !touched.contains(cellOf(p)))
        assert(after.get(p).contains(m), s"untouched cell file $p was rewritten")
      for ((p, _) <- before if touched.contains(cellOf(p)))
        assert(!after.contains(p), s"touched cell file $p survived compaction")
      val compacted = Similarity.twoLevelTopKFromIndex(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      assert(compacted.nonEmpty && compacted == served,
        "compaction changed the served answers")
      val residue = IdStore.latest(spark, tmp).read(spark, "assignments")
        .join(dead, Seq("vec_id")).count()
      assert(residue == 0, s"$residue dead vectors survived compaction")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("q131 lifecycle: memoized artifact, retired by releaseStages") {
    Similarity.twoLevelTopKPersisted(spark, dir).collect()
    val first = Similarity.persistedTwoLevelDirFor(spark, dir)
    assert(first.isDefined, "q131 must register its artifact dir")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(first.get)))
    Similarity.releaseStages(spark)
    assert(Similarity.persistedTwoLevelDirFor(spark, dir).isEmpty,
      "release must drop the persisted-index map entry")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(first.get)),
      "release must delete the on-disk artifact")
    Similarity.twoLevelTopKPersisted(spark, dir).collect()
    val second = Similarity.persistedTwoLevelDirFor(spark, dir)
    assert(second.isDefined && second != first,
      "next use must rebuild into a fresh artifact dir")
    Similarity.releaseStages(spark)
  }

  test("flat-IVF lifecycle: delta/tombstone/resurrection/compaction equals " +
      "a rebuild on the survivors under the frozen codebook") {
    import org.apache.spark.sql.functions._
    val inc = java.nio.file.Files.createTempDirectory("graft-ivf-lc").toString
    val ref = java.nio.file.Files.createTempDirectory("graft-ivf-ref").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try {
      val e = Similarity.unitEmbeddings(spark, dir).select(col("vec_id"), col("u"),
        (pmod(col("vec_id") * lit(2654435761L), lit(100)) < 30).as("incoming"),
        (pmod(col("vec_id") * lit(7919L), lit(100)) < 10).as("deleted"))
      val base = e.where(!col("incoming")).select("vec_id", "u")
      Similarity.saveIvfIndexOf(base, inc)
      Similarity.appendIvfDelta(e.where(col("incoming")).select("vec_id", "u"), inc)
      // a replayed delta is a no-op
      val before = IdStore.latest(spark, inc).read(spark, "assignments").count()
      Similarity.appendIvfDelta(e.where(col("incoming")).select("vec_id", "u"), inc)
      assert(IdStore.latest(spark, inc).read(spark, "assignments").count() == before,
        "a replayed delta re-assigned already-held vectors")
      Similarity.tombstoneVectors(e.where(col("deleted")).select("vec_id"), inc)
      Similarity.appendIvfDelta(
        e.where(col("deleted") && pmod(col("vec_id") * lit(104729L), lit(100)) < 50)
          .select("vec_id", "u"), inc)
      val served = rows(Similarity.ivfTopKFromIndex(spark, inc, nQueries = 50))
      Similarity.compactIvfIndex(spark, inc)
      assert(!IdStore.latest(spark, inc).has("tombstones"), "compaction never committed")
      assert(rows(Similarity.ivfTopKFromIndex(spark, inc, nQueries = 50)) == served,
        "compaction changed the served answers")
      // reference: frozen base-trained codebook, assignments rebuilt on
      // the survivors only — what the composition must equal exactly
      val survivors = e.where(!(col("deleted") &&
          pmod(col("vec_id") * lit(104729L), lit(100)) >= 50))
        .select("vec_id", "u")
      val cents = IdStore.latest(spark, inc).read(spark, "centroids")
      cents.write.mode("overwrite").parquet(s"$ref/centroids")
      // re-assign survivors under the SAME frozen book via the append
      // path into an artifact holding only the codebook
      Similarity.appendIvfDelta(survivors, ref)
      assert(rows(Similarity.ivfTopKFromIndex(spark, ref, nQueries = 50)) == served,
        "composition diverged from a survivors rebuild under the frozen codebook")
    } finally { rm(new java.io.File(inc)); rm(new java.io.File(ref)) }
  }
}
