package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Crash-safety of the directory swaps (SafeSwap) the training-shard
  * export runs, pinned on a plain partitioned directory, and the
  * bootstrap contract of the index delta appends.
  *
  * The swap's crash windows are simulated by doing to the directory
  * exactly what a crash mid-pass leaves behind (a live partition
  * renamed aside; a whole dir renamed aside; a stale aside next to a
  * completed swap) and then driving recovery and the re-run. Every path
  * must converge to the rows of a clean swap; the old shape
  * (delete-then-rename) lost the moved partition's rows permanently in
  * window 1.
  */
class SafeSwapSpec extends AnyFunSuite {
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

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)

  /** A live dir partitioned by `p` (0..3) and the rewrite of `p=0` (its
    * even ids only) staged under tmp; returns the rows a clean swap of
    * `p=0` leaves. */
  private def staged(work: String): Seq[String] = {
    import spark.implicits._
    val all = (0L until 40L).map(i => (i, i % 4)).toDF("id", "p")
    all.write.partitionBy("p").parquet(s"$work/live")
    val next = all.where(col("p") =!= 0 || pmod(col("id"), lit(2)) === 0)
    next.where(col("p") === 0).write.partitionBy("p").parquet(s"$work/tmp")
    rows(next.orderBy("id"))
  }

  private def live(work: String): Seq[String] =
    rows(spark.read.parquet(s"$work/live").select("id", "p").orderBy("id"))

  test("crash window 1 (bucket aside, not replaced): re-run converges") {
    val work = tmpDir("graft-swap-c1")
    try {
      val expected = staged(work)
      // the crash: live p=0 renamed aside, its rewrite not yet moved in
      val aside = new java.io.File(s"$work/live.old")
      aside.mkdirs()
      assert(new java.io.File(s"$work/live/p=0").renameTo(new java.io.File(aside, "p=0")))
      // the owner re-runs: recover() restores the partition, then the
      // pass completes normally
      val fs = fsOf(work)
      SafeSwap.recover(fs, path(s"$work/live"))
      assert(new java.io.File(s"$work/live/p=0").exists, "recovery did not restore p=0")
      SafeSwap.swapPartitions(fs, path(s"$work/live"), path(s"$work/tmp"), Seq("p=0"))
      assert(!aside.exists(), "the re-run left the aside dir behind")
      assert(live(work) == expected, "crashed-then-re-run rows diverged from a clean swap")
    } finally rm(new java.io.File(work))
  }

  test("crash window 1 wholesale (dir aside): recover restores it in place") {
    val work = tmpDir("graft-swap-dir")
    try {
      staged(work)
      val before = live(work)
      // the crash inside swapDir: live moved aside, next not renamed in
      assert(new java.io.File(s"$work/live").renameTo(new java.io.File(s"$work/live.old")))
      SafeSwap.recover(fsOf(work), path(s"$work/live"))
      assert(!new java.io.File(s"$work/live.old").exists(), "recovery left the aside")
      assert(live(work) == before, "recovery did not restore the live dir")
    } finally rm(new java.io.File(work))
  }

  test("crash window 2 (stale aside after a completed swap): live wins") {
    val work = tmpDir("graft-swap-c2")
    try {
      val expected = staged(work)
      val fs = fsOf(work)
      // keep a copy of the pre-swap p=0, then swap cleanly
      val victim = new java.io.File(s"$work/live/p=0")
      val stale = new java.io.File(s"$work/live.old/p=0")
      stale.mkdirs()
      victim.listFiles().foreach(f =>
        java.nio.file.Files.copy(f.toPath, stale.toPath.resolve(f.getName)))
      val aside = new java.io.File(s"$work/live.old")
      val kept = new java.io.File(s"$work/kept.old")
      assert(aside.renameTo(kept))
      SafeSwap.swapPartitions(fs, path(s"$work/live"), path(s"$work/tmp"), Seq("p=0"))
      // the crash fell between `next → live` and the aside cleanup: the
      // aside holds pre-swap rows — resurrecting them would be wrong
      assert(kept.renameTo(aside))
      SafeSwap.recover(fs, path(s"$work/live"))
      assert(!aside.exists(), "recovery kept the stale aside")
      assert(live(work) == expected, "a stale aside changed the live rows")
    } finally rm(new java.io.File(work))
  }

  test("a first postings delta into an empty artifact bootstraps it") {
    val boot = tmpDir("graft-boot-postings")
    val full = tmpDir("graft-boot-postings-full")
    try {
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      Retrieval.appendPostingsDelta(docs, boot) // no base build first
      Retrieval.savePostingsIndexOf(docs, full)
      assert(rows(Retrieval.bm25TopKFromIndex(spark, boot)) ==
        rows(Retrieval.bm25TopKFromIndex(spark, full)),
        "the bootstrap append diverged from a base build of the same docs")
    } finally { rm(new java.io.File(boot)); rm(new java.io.File(full)) }
  }

  test("a first PQ delta into a codebooks-only artifact bootstraps it") {
    val boot = tmpDir("graft-boot-pq")
    try {
      // train books + build on the full corpus, then strip the built
      // rows — what remains is exactly the codebooks-only artifact a
      // cold ingest starts from
      Similarity.savePqIndex(spark, dir, boot, nCoarse = 4, nSub = 2, m = 4, k = 16)
      val expected = rows(Similarity.pqTopKFromIndexCold(spark, boot,
        nQueries = 20, topK = 3))
      rm(new java.io.File(s"$boot/codes"))
      rm(new java.io.File(s"$boot/vectors"))
      // shipped books predate any version of this artifact: the first
      // append upgrades the listing (books and meta) to v0
      rm(new java.io.File(s"$boot/_versions"))
      Similarity.appendPqDelta(
        Similarity.unitEmbeddings(spark, dir).select("vec_id", "u"), boot)
      assert(rows(Similarity.pqTopKFromIndexCold(spark, boot,
        nQueries = 20, topK = 3)) == expected,
        "the PQ bootstrap append diverged from the original build")
    } finally { rm(new java.io.File(boot)) }
  }
}
