package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted exact-dedup fingerprint artifact: the text-modality
  * membership store behind the streaming admit loop and the pipeline's
  * steady-state curation. Lifecycle parity with the other doc-keyed
  * families, plus the bucket-pruned probe's scale claim. */
class FingerprintIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs: DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")

  test("bootstrap append equals a base build; a replayed delta is a no-op") {
    val inc = tmpDir("graft-fpidx-inc")
    val full = tmpDir("graft-fpidx-full")
    try {
      val split = docs.withColumn("incoming",
        pmod(col("doc_id") * lit(2654435761L), lit(100)) < 30)
      FingerprintIndex.appendFingerprintDelta(
        split.where(!col("incoming")).select("doc_id", "text"), inc) // bootstrap
      val delta = split.where(col("incoming")).select("doc_id", "text")
      FingerprintIndex.appendFingerprintDelta(delta, inc)
      FingerprintIndex.saveFingerprintIndexOf(docs, full)
      def rows(d: String) = IdStore.latest(spark, d).read(spark, "fingerprints")
        .select("doc_id", "fp", "fp_bucket")
        .collect().map(_.toString).toSeq.sorted
      assert(rows(inc) == rows(full),
        "bootstrap + delta diverged from a monolithic build")
      val before = IdStore.latest(spark, inc).read(spark, "fingerprints").count()
      FingerprintIndex.appendFingerprintDelta(delta, inc) // the retry
      assert(IdStore.latest(spark, inc).read(spark, "fingerprints").count() == before,
        "a replayed delta re-admitted held docs")
    } finally { rm(new java.io.File(inc)); rm(new java.io.File(full)) }
  }

  test("a tombstoned doc re-appended RESURRECTS: lifecycle equals a fresh build of the survivors") {
    val life = tmpDir("graft-fpidx-life")
    val ref = tmpDir("graft-fpidx-ref")
    try {
      val split = docs.select(col("doc_id"), col("text"),
        (pmod(col("doc_id") * lit(7919L), lit(100)) < 10).as("deleted"),
        (pmod(col("doc_id") * lit(104729L), lit(100)) < 50).as("reappend"))
      FingerprintIndex.saveFingerprintIndexOf(docs, life)
      FingerprintIndex.tombstoneDocs(split.where(col("deleted")).select("doc_id"), life)
      // the resurrection: re-ingesting half the deleted docs must
      // expunge their dead rows and withdraw their tombstones BEFORE
      // the replay guard — a bare guard would absorb the re-ingest and
      // the compaction below would erase them for good
      FingerprintIndex.appendFingerprintDelta(
        split.where(col("deleted") && col("reappend")).select("doc_id", "text"), life)
      FingerprintIndex.compactFingerprintIndex(spark, life)
      FingerprintIndex.saveFingerprintIndexOf(
        split.where(!col("deleted") || col("reappend")).select("doc_id", "text"), ref)
      def rows(d: String) = IdStore.latest(spark, d).read(spark, "fingerprints")
        .select("doc_id", "fp", "fp_bucket")
        .collect().map(_.toString).toSeq.sorted
      assert(rows(life) == rows(ref),
        "the composed lifecycle diverged from a fresh build of the survivors")
      assert(!IdStore.latest(spark, life).has("tombstones"),
        "compaction never committed")
    } finally { rm(new java.io.File(life)); rm(new java.io.File(ref)) }
  }

  test("probe flags exactly the held exact-duplicates, never itself; tombstones hide docs") {
    import spark.implicits._
    val out = tmpDir("graft-fpidx-probe")
    try {
      FingerprintIndex.saveFingerprintIndexOf(docs, out)
      val heldText = docs.where(col("doc_id") === 0L)
        .select("text").as[String].head()
      val probes = Seq(
        (900001L, heldText),       // exact copy of held doc 0 -> flags
        (900002L, "never seen " * 20), // novel -> silent
        (0L, heldText))            // a replayed held id -> must not self-flag
        .toDF("doc_id", "text")
      val flags = FingerprintIndex.probeFingerprints(probes, out)
        .as[(Long, Long)].collect().toSet
      assert(flags.contains((900001L, 0L)), s"held copy not flagged: $flags")
      assert(!flags.exists(_._1 == 900002L), "a novel doc flagged")
      assert(!flags.contains((0L, 0L)), "a replayed doc flagged itself")
      // tombstoned docs never flag
      FingerprintIndex.tombstoneDocs(Seq(0L).toDF("doc_id"), out)
      val afterDead = FingerprintIndex.probeFingerprints(probes, out)
        .as[(Long, Long)].collect().toSet
      assert(!afterDead.exists(_._2 == 0L), "a tombstoned doc still flags")
    } finally rm(new java.io.File(out))
  }

  test("compaction rewrites only touched fp buckets and is probe-invisible") {
    import spark.implicits._
    val out = tmpDir("graft-fpidx-compact")
    try {
      FingerprintIndex.saveFingerprintIndexOf(docs, out)
      val victim = IdStore.latest(spark, out).read(spark, "fingerprints")
        .agg(min(col("doc_id"))).as[Long].head()
      FingerprintIndex.tombstoneDocs(Seq(victim).toDF("doc_id"), out)
      val heldText = docs.where(col("doc_id") === 1L)
        .select("text").as[String].head()
      val probes = Seq((900001L, heldText)).toDF("doc_id", "text")
      val withTombstones = FingerprintIndex.probeFingerprints(probes, out)
        .collect().map(_.toString).toSeq
      def contents(): Map[String, Set[(String, Long)]] =
        new java.io.File(s"$out/fingerprints").listFiles()
          .filter(_.getName.startsWith("fp_bucket="))
          .map(d => d.getName -> d.listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length())).toSet).toMap
      val before = contents()
      FingerprintIndex.compactFingerprintIndex(spark, out)
      assert(!IdStore.latest(spark, out).has("tombstones"), "compaction never committed")
      assert(FingerprintIndex.probeFingerprints(probes, out)
          .collect().map(_.toString).toSeq == withTombstones,
        "compaction changed probe answers")
      val after = contents()
      val untouched = after.keySet.count(k => before.get(k).contains(after(k)))
      assert(untouched > 0,
        s"a one-doc delete should leave some of the ${after.size} fp buckets untouched")
      assert(untouched < after.size, "the delete's own bucket must have rewritten")
    } finally rm(new java.io.File(out))
  }

  test("the append replay guard prunes the store to the delta's fp buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val out = tmpDir("graft-fpidx-guardprune")
    try {
      FingerprintIndex.saveFingerprintIndexOf(docs, out)
      // a replayed 1-doc delta: same text ⇒ same fp ⇒ same bucket, so
      // the guard must find it reading ONE partition (semi-join: the
      // production anti-join is empty and AQE would hide the scan)
      val deltaFps = docs.where(col("doc_id") === 0L)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      val guarded = deltaFps.join(
        FingerprintIndex.store.heldIds(spark, out, deltaFps),
        Seq("doc_id"), "left_semi")
      assert(guarded.count() == 1, "the guard scan missed a replayed doc_id")
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scansOf)
      }
      val storeScans = scansOf(guarded.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/fingerprints")))
      assert(storeScans.nonEmpty, "no fingerprint-store scan in the guard plan")
      val readParts = storeScans.map(_.selectedPartitions.partitionCount).max
      val allDirs = new java.io.File(s"$out/fingerprints").listFiles()
        .count(_.getName.startsWith("fp_bucket="))
      assert(readParts == 1,
        s"a 1-doc delta must read exactly its own fp bucket, read $readParts")
      assert(readParts < allDirs, "the guard's static partition filter vanished")
    } finally rm(new java.io.File(out))
  }

  test("the probe scan prunes the store to the batch's fp buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import spark.implicits._
    val out = tmpDir("graft-fpidx-prune")
    try {
      FingerprintIndex.saveFingerprintIndexOf(docs, out)
      // the probe must HIT (copy of a held doc): an empty result lets
      // AQE collapse the final plan to EmptyRelation, which would hide
      // the very scan this test pins
      val heldText = docs.where(col("doc_id") === 0L)
        .select("text").as[String].head()
      val probes = Seq((900001L, heldText)).toDF("doc_id", "text")
      val df = FingerprintIndex.probeFingerprints(probes, out)
      assert(df.count() > 0)
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scansOf)
      }
      val storeScans = scansOf(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/fingerprints")))
      assert(storeScans.nonEmpty, "no fingerprint-store scan in the probe plan")
      val readParts = storeScans.map(_.selectedPartitions.partitionCount).max
      val allDirs = new java.io.File(s"$out/fingerprints").listFiles()
        .count(_.getName.startsWith("fp_bucket="))
      assert(readParts == 1,
        s"a 1-doc probe must read exactly its own fp bucket, read $readParts")
      assert(readParts < allDirs, "the static partition filter vanished")
    } finally rm(new java.io.File(out))
  }
}
