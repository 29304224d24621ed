package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted sign-LSH ANN index (q164/q165): the artifact must serve
  * exactly what the live session stage serves, under the full lifecycle
  * contract every other index family has — delta append (replay-safe,
  * bootstrapping, geometry-frozen), tombstones, targeted compaction,
  * and deleted-then-re-appended resurrection. LSH's special property —
  * no trained state — means every lifecycle composition must equal a
  * FRESH rebuild of the surviving vectors exactly. */
class LshIndexSpec extends AnyFunSuite {
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

  private def vecs: DataFrame = Similarity.unitEmbeddings(spark, dir)

  /** Fresh-build answer over an arbitrary vector subset: what any
    * lifecycle composition ending in that live set must serve. */
  private def freshTopK(subset: DataFrame): Seq[String] = {
    val out = tmpDir("graft-lshidx-fresh")
    try {
      LshIndex.saveLshIndexOf(subset, out, bits = 8, nTables = 8)
      rows(LshIndex.lshTopKFromIndex(spark, out))
    } finally rm(new java.io.File(out))
  }

  test("the artifact serves exactly the live lshTopK relation") {
    val out = tmpDir("graft-lshidx")
    try {
      LshIndex.saveLshIndex(spark, dir, out)
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) ==
        rows(Similarity.lshTopK(spark, dir)),
        "artifact serve diverged from the live session-stage path")
      // the frozen geometry must be the adaptive one the live path used
      val meta = IdStore.latest(spark, out).read(spark, "meta").head()
      assert((meta.getAs[Int]("bits"), meta.getAs[Int]("n_tables")) == ((8, 8)),
        "gate-scale geometry must sit on the 8x8 adaptive plateau")
    } finally rm(new java.io.File(out))
  }

  test("incremental merge equals a full rebuild; a replayed delta is a no-op") {
    val inc = tmpDir("graft-lshidx-inc")
    val full = tmpDir("graft-lshidx-full")
    try {
      val split = vecs.withColumn("incoming",
        pmod(col("vec_id") * lit(2654435761L), lit(100)) < 30)
      LshIndex.saveLshIndexOf(split.where(!col("incoming")).select("vec_id", "u"), inc)
      val delta = split.where(col("incoming")).select("vec_id", "u")
      LshIndex.appendLshDelta(delta, inc)
      LshIndex.saveLshIndex(spark, dir, full)
      assert(rows(LshIndex.lshTopKFromIndex(spark, inc)) ==
        rows(LshIndex.lshTopKFromIndex(spark, full)),
        "merged artifact diverged from a full rebuild")
      val before = IdStore.latest(spark, inc).read(spark, "vectors").count()
      LshIndex.appendLshDelta(delta, inc) // the production retry
      assert(IdStore.latest(spark, inc).read(spark, "vectors").count() == before,
        "a replayed delta re-indexed already-held vectors")
      assert(rows(LshIndex.lshTopKFromIndex(spark, inc)) ==
        rows(LshIndex.lshTopKFromIndex(spark, full)),
        "a replayed delta changed the served answers")
    } finally { rm(new java.io.File(inc)); rm(new java.io.File(full)) }
  }

  test("a first delta into an empty dir bootstraps the artifact") {
    val boot = tmpDir("graft-lshidx-boot")
    val full = tmpDir("graft-lshidx-boot-full")
    try {
      LshIndex.appendLshDelta(vecs, boot) // no base build first
      LshIndex.saveLshIndex(spark, dir, full)
      assert(rows(LshIndex.lshTopKFromIndex(spark, boot)) ==
        rows(LshIndex.lshTopKFromIndex(spark, full)),
        "the bootstrap append diverged from a base build of the same vectors")
    } finally { rm(new java.io.File(boot)); rm(new java.io.File(full)) }
  }

  test("tombstoned vectors vanish exactly as a rebuild without them") {
    val out = tmpDir("graft-lshidx-tomb")
    try {
      LshIndex.saveLshIndex(spark, dir, out)
      val deleteRule = pmod(col("vec_id") * lit(7919L), lit(100)) < 10
      LshIndex.tombstoneVectors(vecs.where(deleteRule).select("vec_id"), out)
      LshIndex.tombstoneVectors(vecs.where(deleteRule).select("vec_id"), out) // idempotent
      val expected = freshTopK(vecs.where(!deleteRule))
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == expected,
        "tombstoned serve diverged from a rebuild on the survivors")
    } finally rm(new java.io.File(out))
  }

  test("compaction rewrites only touched buckets and is answer-invisible") {
    val out = tmpDir("graft-lshidx-compact")
    try {
      LshIndex.saveLshIndex(spark, dir, out)
      import spark.implicits._
      val victim = IdStore.latest(spark, out).read(spark, "vectors")
        .agg(min(col("vec_id"))).as[Long].head()
      LshIndex.tombstoneVectors(Seq(victim).toDF("vec_id"), out)
      val withTombstones = rows(LshIndex.lshTopKFromIndex(spark, out))
      // identity of a partition's CONTENTS, not the dir mtime: a rewrite
      // landing within the filesystem's mtime granularity would count as
      // untouched under an mtime pin (ADVICE r12) — file names are
      // job-unique, so an untouched partition keeps its exact file set
      def contents(): Map[String, Set[(String, Long)]] =
        new java.io.File(s"$out/buckets").listFiles()
          .filter(_.getName.startsWith("bucket_bucket="))
          .map(d => d.getName -> d.listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length())).toSet).toMap
      val before = contents()
      LshIndex.compactLshIndex(spark, out)
      assert(!IdStore.latest(spark, out).has("tombstones"), "compaction never committed")
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == withTombstones,
        "compaction changed the served answers")
      val after = contents()
      // one vector touches <= nTables of the 64 bucket partitions
      val untouched = after.keySet.count(k => before.get(k).contains(after(k)))
      assert(untouched > 0,
        s"a one-vector delete should leave some of the ${after.size} buckets untouched")
      assert(untouched < after.size,
        "the delete's own buckets must have been rewritten")
    } finally rm(new java.io.File(out))
  }

  test("maintainGeometry rebuilds a drifted artifact; on-plateau it is a no-op; a crashed rebuild recovers") {
    val out = tmpDir("graft-lshidx-regeom")
    try {
      // an artifact whose frozen geometry no longer matches the live
      // corpus's adaptive target (12 bits frozen; ~2k vectors → 8)
      LshIndex.saveLshIndexOf(vecs, out, bits = 12, nTables = 8)
      val expected = freshTopK(vecs) // the adaptive (8, 8) build's answers
      assert(LshIndex.maintainGeometry(spark, out).contains((8, 8)),
        "a drifted artifact was not rebuilt")
      val meta = IdStore.latest(spark, out).read(spark, "meta").head()
      assert((meta.getAs[Int]("bits"), meta.getAs[Int]("n_tables")) == ((8, 8)))
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == expected,
        "the re-geometried artifact diverged from a fresh adaptive build")
      // on-plateau: re-measuring the same live count does nothing
      assert(LshIndex.maintainGeometry(spark, out).isEmpty,
        "an on-plateau artifact was rebuilt again")
      // crash window: a drifted artifact whose rebuild wrote every store
      // and never published — the drifted version keeps serving, and
      // re-running the maintenance completes the rebuild
      LshIndex.saveLshIndexOf(vecs, out, bits = 12, nTables = 8)
      val drifted = rows(LshIndex.lshTopKFromIndex(spark, out))
      Unpublished.plant(spark, out, Seq("meta", "buckets", "vectors"))
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == drifted,
        "serving over a crashed rebuild diverged from the last version")
      assert(LshIndex.maintainGeometry(spark, out).contains((8, 8)),
        "re-running the maintenance did not rebuild")
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == expected,
        "the re-run rebuild diverged from a fresh adaptive build")
      assert(Unpublished.unnamed(spark, out).isEmpty,
        "the crashed rebuild's files survived the re-run")
    } finally rm(new java.io.File(out))
  }

  test("migrateLshIndex upgrades a pre-partition-prune artifact in place") {
    val out = tmpDir("graft-lshidx-migrate")
    try {
      LshIndex.saveLshIndex(spark, dir, out)
      val expected = rows(LshIndex.lshTopKFromIndex(spark, out))
      // devolve to the round-12 layout: unpartitioned bucket store, meta
      // without bucket_buckets — what a pre-upgrade nightly deployment
      // actually holds on disk
      def devolve(store: String, df: DataFrame): Unit = {
        df.write.parquet(s"$out/${store}_old")
        rm(new java.io.File(s"$out/$store"))
        assert(new java.io.File(s"$out/${store}_old")
          .renameTo(new java.io.File(s"$out/$store")))
      }
      devolve("buckets",
        spark.read.parquet(s"$out/buckets").select("vec_id", "tbl", "bucket"))
      devolve("vectors",
        spark.read.parquet(s"$out/vectors").select("vec_id", "u"))
      devolve("meta",
        spark.read.parquet(s"$out/meta").select("bits", "n_tables").coalesce(1))
      // ... written before the version log, too
      rm(new java.io.File(s"$out/_versions"))
      // pre-migration: every reader fails FAST and names the fix
      val e = intercept[IllegalArgumentException] {
        LshIndex.lshTopKFromIndex(spark, out)
      }
      assert(e.getMessage.contains("migrateLshIndex"),
        s"the fail-fast must point at the migration helper: ${e.getMessage}")
      // one-shot upgrade: rebuilt bucket store + completed meta, answers
      // identical to the never-devolved artifact
      assert(LshIndex.migrateLshIndex(spark, out), "migration reported no-op")
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == expected,
        "the migrated artifact serves different answers")
      assert(new java.io.File(s"$out/buckets").listFiles()
          .exists(_.getName.startsWith("bucket_bucket=")),
        "migration did not re-partition the bucket store")
      assert(new java.io.File(s"$out/vectors").listFiles()
          .exists(_.getName.startsWith("id_bucket=")),
        "migration did not re-partition the vectors store")
      assert(!LshIndex.migrateLshIndex(spark, out),
        "a current-layout artifact must be a migration no-op")
    } finally rm(new java.io.File(out))
  }

  test("the serve scan prunes the bucket store to the probed partitions") {
    val out = tmpDir("graft-lshidx-prune")
    try {
      LshIndex.saveLshIndex(spark, dir, out)
      // a SMALL probe batch (one query, no flip ladder) probes at most
      // nTables (tbl, bucket) pairs -> <= 8 of the 64 partition dirs.
      // selectedPartitions is the post-pruning partition set the scan
      // actually reads (df.inputFiles would lie: it lists the FileIndex
      // BEFORE partition filters)
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val df = LshIndex.lshTopKFromIndex(spark, out, nQueries = 1, maxFlips = 0)
      df.collect()
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          // AQE wraps materialized stages in LEAF nodes — descend via .plan
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scansOf)
      }
      val bucketScans = scansOf(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/buckets")))
      assert(bucketScans.nonEmpty, "no bucket-store scan in the serve plan")
      val readParts = bucketScans.map(_.selectedPartitions.partitionCount).max
      val allDirs = new java.io.File(s"$out/buckets").listFiles()
        .count(_.getName.startsWith("bucket_bucket="))
      assert(readParts <= 8,
        s"a 1-query/0-flip probe must read <=8 bucket partitions, read $readParts")
      assert(readParts < allDirs,
        s"the probe read all $allDirs partitions - the static filter vanished")
      assert(bucketScans.exists(_.partitionFilters.exists(
          _.references.exists(_.name == "bucket_bucket"))),
        "the bucket_bucket partition filter vanished from the serve plan")
    } finally rm(new java.io.File(out))
  }

  test("the append replay guard prunes the vectors store to the delta's id buckets") {
    val out = tmpDir("graft-lshidx-guardprune")
    try {
      LshIndex.saveLshIndex(spark, dir, out)
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // a 1-vector delta names exactly one id bucket; pin with a HELD
      // id via a semi-join (the production anti-join over a replayed
      // delta is EMPTY, and AQE's EmptyRelation would hide the scan)
      val delta = Similarity.unitEmbeddings(spark, dir).where(col("vec_id") === 0L)
      val guarded = delta.join(
        LshIndex.store.heldIds(spark, out, delta),
        Seq("vec_id"), "left_semi")
      assert(guarded.count() == 1, "the guard scan missed a held vec_id")
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scansOf)
      }
      val vecScans = scansOf(guarded.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
      assert(vecScans.nonEmpty, "no vectors-store scan in the guard plan")
      val readParts = vecScans.map(_.selectedPartitions.partitionCount).max
      val allDirs = new java.io.File(s"$out/vectors").listFiles()
        .count(_.getName.startsWith("id_bucket="))
      assert(readParts == 1,
        s"a 1-vector delta must read exactly its own id bucket, read $readParts")
      assert(readParts < allDirs, "the guard's static partition filter vanished")
    } finally rm(new java.io.File(out))
  }

  test("probeVectors prunes its scan and matches the q95 pair discipline") {
    val out = tmpDir("graft-lshidx-probe")
    try {
      // held = all but three probes; the probe batch is SMALL so its
      // bucket vocabulary (<= 3 x nTables pairs) must prune the scan
      val probeRule = col("vec_id").isin(3L, 57L, 101L)
      LshIndex.saveLshIndexOf(vecs.where(!probeRule), out)
      val df = LshIndex.probeVectors(vecs.where(probeRule), out, threshold = 0.2)
      val flags = df.collect()
      // cross-check against the same candidate rule computed live: pairs
      // sharing >=1 bucket, exact cosine >= threshold
      val sigs = Similarity.lshSignaturesOf(vecs, 8, 8)
        .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      val probesLive = sigs.where(probeRule).withColumnRenamed("vec_id", "probe_id")
      val heldLive = sigs.where(!probeRule)
      val candLive = probesLive.join(heldLive, Seq("tbl", "bucket"))
        .select("probe_id", "vec_id").distinct()
      val expected = candLive
        .join(vecs.select(col("vec_id").as("probe_id"), col("u").as("pu")),
          Seq("probe_id"))
        .join(vecs.select(col("vec_id"), col("u").as("nu")), Seq("vec_id"))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.dotProduct(col("pu"), col("nu")), 4)
            .as("cos_sim"))
        .where(col("cos_sim") >= 0.2)
        .orderBy("probe_id", "vec_id").collect()
      assert(flags.map(_.toString).toSeq == expected.map(_.toString).toSeq,
        "artifact probe diverged from the live candidate rule")
      // pruning pin: the bucket-store scan reads only the probed dirs
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scansOf)
      }
      val bucketScans = scansOf(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/buckets")))
      assert(bucketScans.nonEmpty, "no bucket-store scan in the probe plan")
      val readParts = bucketScans.map(_.selectedPartitions.partitionCount).max
      assert(readParts <= 24,
        s"a 3-probe batch must read <= 3 x nTables bucket partitions, read $readParts")
    } finally rm(new java.io.File(out))
  }

  test("a deleted vector re-appended is RESURRECTED; composition equals a fresh build") {
    val out = tmpDir("graft-lshidx-resurrect")
    try {
      val split = vecs
        .withColumn("incoming", pmod(col("vec_id") * lit(2654435761L), lit(100)) < 30)
        .withColumn("deleted", pmod(col("vec_id") * lit(7919L), lit(100)) < 10)
      LshIndex.saveLshIndexOf(split.where(!col("incoming")).select("vec_id", "u"), out)
      LshIndex.appendLshDelta(split.where(col("incoming")).select("vec_id", "u"), out)
      LshIndex.tombstoneVectors(split.where(col("deleted")).select("vec_id"), out)
      LshIndex.appendLshDelta(
        split.where(col("deleted") &&
            pmod(col("vec_id") * lit(104729L), lit(100)) < 50)
          .select("vec_id", "u"), out)
      val survivors = split.where(!(col("deleted") &&
          pmod(col("vec_id") * lit(104729L), lit(100)) >= 50))
        .select("vec_id", "u")
      val expected = freshTopK(survivors)
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == expected,
        "resurrected serve (pre-compaction) diverged from a fresh build of the survivors")
      val vrel = IdStore.latest(spark, out).read(spark, "vectors")
      assert(vrel.count() == vrel.select("vec_id").distinct().count(),
        "resurrection left two generations of a vector in the store")
      LshIndex.compactLshIndex(spark, out)
      assert(rows(LshIndex.lshTopKFromIndex(spark, out)) == expected,
        "compacted resurrected serve diverged")
    } finally rm(new java.io.File(out))
  }

  test("q165's composed lifecycle equals q38's relation over the survivors") {
    // the gate-side contract, session-memoized path included
    val composed = rows(LshIndex.lshTopKComposed(spark, dir))
    val survivorRule = !(pmod(col("vec_id") * lit(7919L), lit(100)) < 10 &&
      pmod(col("vec_id") * lit(104729L), lit(100)) >= 50)
    assert(composed == freshTopK(vecs.where(survivorRule)),
      "composed lifecycle diverged from a fresh rebuild of the survivors")
  }
}
