package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one memo of reads of stored data ([[StoreMemo]]): one slot per
  * (session, stored path), replaced whole when a read brings another
  * token. A path that is published to or appended to again and again —
  * a streaming admit publishes a version per trigger per family, the
  * nightly rollup appends a day — holds one slot carrying its latest
  * token, never one entry per generation; and what it serves equals a
  * cold read of the same data. */
class StoreMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val k = 4

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def slotsUnder(path: String): Map[String, String] =
    StoreMemo.slotsOf(spark).filter { case (p, _) => p == path || p.startsWith(path + "/") }

  /** Ids split into a base (residue 0) and `k` deltas (residues 1..k). */
  private def split(id: String, part: Int) = pmod(col(id), lit(k + 1)) === part

  private def docs = Tables.documents(spark, dir).select("doc_id", "text")
  private def vecs = Similarity.unitEmbeddings(spark, dir).select("vec_id", "u")

  /** Publish `k` deltas into an artifact, serving after each: the
    * artifact's one slot carries the latest version id, and the serve
    * equals `cold` over the same data. */
  private def publishAndServe(name: String, build: String => Unit, append: (Int, String) => Unit,
      serve: String => Seq[String], cold: (Int, String) => Seq[String]): Unit = {
    val out = tmpDir(s"graft-memo-$name")
    try {
      build(out)
      for (i <- 1 to k) {
        append(i, out)
        val answer = serve(out)
        assert(slotsUnder(out) == Map(out -> IdStore.latest(spark, out).id),
          s"$name: after publish $i the memo must hold one slot carrying the latest version")
        assert(answer.nonEmpty && answer == cold(i, out),
          s"$name: after publish $i the warm serve diverged from a cold read")
      }
      assert(IdStore.latest(spark, out).n == k, s"$name: every delta must publish a version")
    } finally rm(new java.io.File(out))
  }

  test("BM25: k publishes leave one slot per path, and serves equal a fresh bm25TopK") {
    val corpus = tmpDir("graft-memo-bm25-corpus")
    val docPath = s"$corpus/documents.parquet"
    val all = spark.read.parquet(s"$dir/documents.parquet")
    try publishAndServe("bm25",
      Retrieval.savePostingsIndexOf(docs.where(split("doc_id", 0)), _),
      (i, out) => Retrieval.appendPostingsDelta(docs.where(split("doc_id", i)), out),
      out => rows(Retrieval.bm25TopKFromIndex(spark, out)),
      { (i, _) =>
        // the cold twin: the same documents as a corpus dir rewritten
        // in place, read by a fresh live ranking
        all.where(pmod(col("doc_id"), lit(k + 1)) <= i).write.mode("overwrite").parquet(docPath)
        val fresh = rows(Retrieval.bm25TopK(spark, corpus))
        assert(slotsUnder(docPath) == Map(docPath -> StageCache.inputTag(spark, docPath)),
          "a rewritten parquet dir must hold one slot carrying its latest content tag")
        fresh
      })
    finally rm(new java.io.File(corpus))
  }

  test("LSH: k publishes leave one slot, and serves equal a fresh build's") {
    publishAndServe("lsh",
      LshIndex.saveLshIndexOf(vecs.where(split("vec_id", 0)), _, 8, 8),
      (i, out) => LshIndex.appendLshDelta(vecs.where(split("vec_id", i)), out),
      out => rows(LshIndex.lshTopKFromIndex(spark, out)),
      { (i, _) =>
        val twin = tmpDir("graft-memo-lsh-twin")
        try {
          LshIndex.saveLshIndexOf(vecs.where(pmod(col("vec_id"), lit(k + 1)) <= i), twin, 8, 8)
          rows(LshIndex.lshTopKFromIndex(spark, twin))
        } finally rm(new java.io.File(twin))
      })
  }

  test("PQ: k publishes leave one slot holding one loaded version, and serves equal the cold path") {
    val loads = Similarity.pqLoadedRelBuilds.get()
    publishAndServe("pq",
      Similarity.savePqIndexOf(vecs.where(split("vec_id", 0)), _, 4, 2, 4, 16),
      (i, out) => Similarity.appendPqDelta(vecs.where(split("vec_id", i)), out),
      out => rows(Similarity.pqTopKFromIndex(spark, out)),
      (_, out) => rows(Similarity.pqTopKFromIndexCold(spark, out)))
    assert(Similarity.pqLoadedRelBuilds.get() - loads == 4 * k,
      "each published version must load its 4 relations exactly once")
  }

  test("rollup: k day appends leave one slot for the daily dir, and serves equal a fresh rollup") {
    val out = tmpDir("graft-memo-rollup")
    val events = Tables.events(spark, dir)
    // k + 1 contiguous day ranges, each carried in full by one batch
    val day = dayofmonth(col("ts"))
    def upTo(i: Int) = day <= lit(6 * (i + 1))
    def batch(i: Int) = events.where(upTo(i) && !upTo(i - 1))
    val daily = s"$out/daily"
    try {
      Sketches.saveDailyRollup(events.where(upTo(0)), out)
      for (i <- 1 to k) {
        Sketches.appendDailyDeltaVerified(batch(i), out)
        val answer = rows(Sketches.distinctUsersFromRollup(spark, out, Sketches.DefaultRanges)
          .orderBy("range_id", "event_type"))
        assert(slotsUnder(out) == Map(daily -> StageCache.inputTag(spark, daily)),
          s"after append $i the memo must hold one slot carrying the daily dir's latest tag")
        val twin = tmpDir("graft-memo-rollup-twin")
        try {
          Sketches.saveDailyRollup(events.where(upTo(i)), twin)
          assert(answer.nonEmpty && answer ==
            rows(Sketches.distinctUsersFromRollup(spark, twin, Sketches.DefaultRanges)
              .orderBy("range_id", "event_type")),
            s"after append $i the served rollup diverged from a fresh one")
        } finally rm(new java.io.File(twin))
      }
    } finally rm(new java.io.File(out))
  }
}
