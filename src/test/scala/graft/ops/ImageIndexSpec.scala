package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted perceptual-image hash index (q156/q158/q159): the
  * decode-once artifact must serve exactly what the live
  * decode-per-invocation paths serve, with NO codec in the serve plan,
  * under the full lifecycle contract every other index family has —
  * delta append (replay-safe, bootstrapping), tombstones, targeted
  * compaction, and deleted-then-re-appended resurrection. */
class ImageIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def docs: DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")

  /** The live-path answer over an arbitrary doc subset (what a fresh
    * artifact build of exactly that subset must serve). */
  private def liveDups(subset: DataFrame, gradient: Boolean = false): Seq[String] =
    rows(Multimodal.perceptualDupsOfHashes(
      Multimodal.imageAHashOf(subset,
        if (gradient) Multimodal.dHash64 else Multimodal.aHash64),
      maxHamming = 3, maxBandPopulation = 1000).orderBy("doc_a", "doc_b"))

  test("one artifact serves BOTH families identically to the live paths") {
    val out = tmpDir("graft-imgidx")
    try {
      ImageIndex.saveImageHashIndex(spark, dir, out)
      assert(rows(ImageIndex.imageDupsFromIndex(spark, out)) ==
        rows(Multimodal.perceptualDups(spark, dir)),
        "aHash serve diverged from the live q121 path")
      assert(rows(ImageIndex.imageDupsFromIndex(spark, out, gradient = true)) ==
        rows(Multimodal.perceptualDupsGradient(spark, dir)),
        "dHash serve diverged from the live q125 path")
    } finally rm(new java.io.File(out))
  }

  test("the serve plan is codec-free: no object round-trip, hashes store only") {
    val out = tmpDir("graft-imgidx-plan")
    try {
      ImageIndex.saveImageHashIndex(spark, dir, out)
      val plan = ImageIndex.imageDupsFromIndex(spark, out)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("MapPartitions") && !plan.contains("DeserializeToObject"),
        s"serve plan contains an object round-trip (a codec would hide in one):\n$plan")
      assert(!plan.contains("/bands"),
        "the pair serve should scan the narrow per-doc hashes store, not the band store")
    } finally rm(new java.io.File(out))
  }

  test("incremental merge equals a full rebuild; a replayed delta is a no-op") {
    val inc = tmpDir("graft-imgidx-inc")
    val full = tmpDir("graft-imgidx-full")
    try {
      val split = docs.withColumn("incoming",
        pmod(col("doc_id") * lit(2654435761L), lit(100)) < 30)
      ImageIndex.saveImageHashIndexOf(
        Multimodal.imageHashesOf(split.where(!col("incoming")).select("doc_id", "text")), inc)
      val delta = split.where(col("incoming")).select("doc_id", "text")
      ImageIndex.appendImageHashDelta(delta, inc)
      ImageIndex.saveImageHashIndex(spark, dir, full)
      assert(rows(ImageIndex.imageDupsFromIndex(spark, inc)) ==
        rows(ImageIndex.imageDupsFromIndex(spark, full)),
        "merged artifact diverged from a full rebuild")
      val before = IdStore.latest(spark, inc).read(spark, "hashes").count()
      ImageIndex.appendImageHashDelta(delta, inc) // the production retry
      assert(IdStore.latest(spark, inc).read(spark, "hashes").count() == before,
        "a replayed delta re-indexed already-held docs")
      assert(rows(ImageIndex.imageDupsFromIndex(spark, inc)) ==
        rows(ImageIndex.imageDupsFromIndex(spark, full)),
        "a replayed delta changed the served answers")
    } finally { rm(new java.io.File(inc)); rm(new java.io.File(full)) }
  }

  test("a first delta into an empty dir bootstraps the artifact") {
    val boot = tmpDir("graft-imgidx-boot")
    val full = tmpDir("graft-imgidx-boot-full")
    try {
      ImageIndex.appendImageHashDelta(docs, boot) // no base build first
      ImageIndex.saveImageHashIndex(spark, dir, full)
      assert(rows(ImageIndex.imageDupsFromIndex(spark, boot)) ==
        rows(ImageIndex.imageDupsFromIndex(spark, full)),
        "the bootstrap append diverged from a base build of the same docs")
    } finally { rm(new java.io.File(boot)); rm(new java.io.File(full)) }
  }

  test("tombstoned docs vanish exactly as a rebuild without them; deletes idempotent") {
    val out = tmpDir("graft-imgidx-tomb")
    try {
      ImageIndex.saveImageHashIndex(spark, dir, out)
      val deleted = docs.where(pmod(col("doc_id") * lit(7919L), lit(100)) < 10)
      ImageIndex.tombstoneImages(deleted.select("doc_id"), out)
      ImageIndex.tombstoneImages(deleted.select("doc_id"), out) // idempotent
      val expected = liveDups(
        docs.where(pmod(col("doc_id") * lit(7919L), lit(100)) >= 10))
      assert(rows(ImageIndex.imageDupsFromIndex(spark, out)) == expected,
        "tombstoned serve diverged from a rebuild on the surviving docs")
    } finally rm(new java.io.File(out))
  }

  test("compaction rewrites only touched band buckets and is answer-invisible") {
    val out = tmpDir("graft-imgidx-compact")
    try {
      ImageIndex.saveImageHashIndex(spark, dir, out)
      // a single-doc delete touches <= 8 of the 16 band buckets — the
      // locality claim needs untouched buckets to survive byte-identical
      import spark.implicits._
      val victim = IdStore.latest(spark, out).read(spark, "hashes")
        .agg(min(col("doc_id"))).as[Long].head()
      ImageIndex.tombstoneImages(Seq(victim).toDF("doc_id"), out)
      val withTombstones = rows(ImageIndex.imageDupsFromIndex(spark, out))
      // identity of a bucket's CONTENTS, not the dir mtime: a rewrite
      // landing within the filesystem's mtime granularity would count
      // as untouched under an mtime pin (ADVICE r12, the LshIndexSpec
      // fix ported) — file names are job-unique, so an untouched bucket
      // keeps its exact (name, length) file set
      def contents(): Map[String, Set[(String, Long)]] =
        new java.io.File(s"$out/bands").listFiles()
          .filter(_.getName.startsWith("band_bucket="))
          .map(d => d.getName -> d.listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length())).toSet).toMap
      val before = contents()
      ImageIndex.compactImageHashIndex(spark, out)
      assert(!IdStore.latest(spark, out).has("tombstones"), "compaction never committed")
      assert(rows(ImageIndex.imageDupsFromIndex(spark, out)) == withTombstones,
        "compaction changed the served answers")
      val after = contents()
      val untouched = after.keySet.count(k => before.get(k).contains(after(k)))
      assert(untouched > 0,
        s"a one-doc delete should leave some of the ${after.size} band buckets untouched")
      assert(untouched < after.size,
        "the delete's own band buckets must have been rewritten")
    } finally rm(new java.io.File(out))
  }

  test("a deleted doc re-appended is RESURRECTED; the composition equals a fresh build") {
    val out = tmpDir("graft-imgidx-resurrect")
    try {
      val split = docs.withColumn("incoming",
          pmod(col("doc_id") * lit(2654435761L), lit(100)) < 30)
        .withColumn("deleted", pmod(col("doc_id") * lit(7919L), lit(100)) < 10)
      ImageIndex.saveImageHashIndexOf(
        Multimodal.imageHashesOf(split.where(!col("incoming")).select("doc_id", "text")), out)
      ImageIndex.appendImageHashDelta(split.where(col("incoming")).select("doc_id", "text"), out)
      ImageIndex.tombstoneImages(split.where(col("deleted")).select("doc_id"), out)
      val reappended = split.where(col("deleted") &&
        pmod(col("doc_id") * lit(104729L), lit(100)) < 50)
      ImageIndex.appendImageHashDelta(reappended.select("doc_id", "text"), out)
      // survivors = everything except (deleted AND NOT re-appended)
      val survivors = split.where(!(col("deleted") &&
          pmod(col("doc_id") * lit(104729L), lit(100)) >= 50))
        .select("doc_id", "text")
      val expected = liveDups(survivors)
      assert(rows(ImageIndex.imageDupsFromIndex(spark, out)) == expected,
        "resurrected serve (pre-compaction) diverged from a fresh build of the survivors")
      // the re-appended docs must not double-count in the hashes store
      val hashes = IdStore.latest(spark, out).read(spark, "hashes")
      assert(hashes.count() == hashes.select("doc_id").distinct().count(),
        "resurrection left two generations of a doc in the hashes store")
      ImageIndex.compactImageHashIndex(spark, out)
      assert(rows(ImageIndex.imageDupsFromIndex(spark, out)) == expected,
        "compacted resurrected serve diverged")
    } finally rm(new java.io.File(out))
  }

  test("probe reaches DELTA-appended docs: the band store holds the delta's rows") {
    // regression pin for the append write-order bug: appending the
    // hashes store FIRST invalidated the cached anti-joined delta, whose
    // recache re-ran against the post-append listing and appended ZERO
    // band rows — the pair serve (hashes-only) couldn't see it, the
    // probe path (bands-only) could
    import spark.implicits._
    val out = tmpDir("graft-imgidx-probe-delta")
    try {
      val deltaDoc = docs.orderBy("doc_id").limit(1).as[(Long, String)].head()
      ImageIndex.saveImageHashIndexOf(
        Multimodal.imageHashesOf(docs.where(col("doc_id") =!= deltaDoc._1)), out)
      ImageIndex.appendImageHashDelta(Seq(deltaDoc).toDF("doc_id", "text"), out)
      val probeBatch = Seq((900002L, deltaDoc._2)).toDF("doc_id", "text")
      val hits = ImageIndex.probeImages(probeBatch, out)
        .as[(Long, Long, Long)].collect().toSeq
      assert(hits.exists(h => h._2 == deltaDoc._1 && h._3 == 0L),
        s"the probe missed the delta-appended doc (its band rows never landed): $hits")
    } finally rm(new java.io.File(out))
  }

  test("probe: an arriving near-dup matches the held corpus; tombstones hide docs") {
    import spark.implicits._
    val out = tmpDir("graft-imgidx-probe")
    try {
      ImageIndex.saveImageHashIndex(spark, dir, out)
      // probe with a copy of a held doc's text under a FRESH id: the
      // synthesis is text-determined up to encoder knobs, and id-varied
      // knobs change bytes, not pixels — so the probe's aHash matches
      // the held doc's at hamming <= encoder-invariance (exactly 0 here
      // iff both ids produce identical pixels, which pixelsOf guarantees)
      val held = docs.orderBy("doc_id").limit(1)
        .as[(Long, String)].head()
      val probeBatch = Seq((900001L, held._2)).toDF("doc_id", "text")
      val hits = ImageIndex.probeImages(probeBatch, out)
        .as[(Long, Long, Long)].collect().toSeq
      assert(hits.exists(h => h._2 == held._1 && h._3 == 0L),
        s"the probe missed its planted duplicate (doc ${held._1}): $hits")
      ImageIndex.tombstoneImages(Seq(held._1).toDF("doc_id"), out)
      val afterDelete = ImageIndex.probeImages(probeBatch, out)
        .as[(Long, Long, Long)].collect().toSeq
      assert(!afterDelete.exists(_._2 == held._1),
        "a tombstoned doc still surfaced in the probe")
    } finally rm(new java.io.File(out))
  }
}
