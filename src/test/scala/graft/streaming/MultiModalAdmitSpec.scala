package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one-trigger multi-modality admit (the streaming runDaily): one
  * document batch is curated ONCE and its keepers land in ALL five
  * doc-keyed artifacts (BM25 postings, fingerprint membership, image
  * hashes, LSH vectors, trained-PQ codes) inside one trigger —
  * instead of separate per-modality streams probing the same docs. Idempotence is compositional: the
  * keeper set derives from durable flags, every family append
  * self-guards, so redelivery and a crash BETWEEN family appends both
  * converge. */
class MultiModalAdmitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** (doc_id, text, n_chars, embedding) — the mixed-modality batch a
    * production ingest actually delivers. */
  private def mixedDocs: DataFrame =
    graft.ops.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .join(spark.read.parquet(s"$sf/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      .where(pmod(col("doc_id"), lit(3)) === 0) // a third of the corpus

  private def store(d: String, s: String, cols: Seq[String]): Seq[String] =
    graft.ops.IdStore.latest(spark, d).read(spark, s).select(cols.map(col): _*)
      .collect().map(_.toString).toSeq.sorted

  private def artifactState(d: String): Seq[Seq[String]] = Seq(
    store(s"$d/bm25", "dl", Seq("doc_id")),
    store(s"$d/bm25", "postings", Seq("doc_id", "term", "tf")),
    store(s"$d/fp", "fingerprints", Seq("doc_id", "fp")),
    store(s"$d/images", "hashes", Seq("doc_id", "a_hi", "a_lo", "d_hi", "d_lo")),
    store(s"$d/lsh", "vectors", Seq("vec_id")),
    store(s"$d/lsh", "buckets", Seq("vec_id", "tbl", "bucket")),
    store(s"$d/pq", "vectors", Seq("vec_id")),
    store(s"$d/pq", "codes", Seq("vec_id", "cent_id", "sub_id", "codes")))

  test("N mixed triggers equal batch admits on every artifact; redelivery and a mid-trigger crash converge") {
    val root = Files.createTempDirectory("graft-mm-admit")
    val work = root.resolve("work").toString
    val twin = root.resolve("twin").toString
    val flags = root.resolve("flags").toString
    val twinFlags = root.resolve("twinflags").toString
    try {
      val cut = 1000L
      val b0 = mixedDocs.where(col("doc_id") < cut)
      val b1 = mixedDocs.where(col("doc_id") >= cut)
      // the STREAM: two files -> two triggers through ingestAdmitAll
      val inDir = root.resolve("in").toString
      b0.coalesce(1).write.parquet(inDir)
      b1.coalesce(1).write.mode("append").parquet(inDir)
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, n_chars LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
      val q = DocumentsStreaming.ingestAdmitAll(stream, work, flags,
        root.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      // the REFERENCE: the same two batches admitted directly (the
      // nightly-shaped sequence the stream must be equivalent to)
      DocumentsStreaming.admitAllBatch(b0, 0L, twin, twinFlags, 0.5, 0L)
      DocumentsStreaming.admitAllBatch(b1, 1L, twin, twinFlags, 0.5, 0L)
      val expected = artifactState(twin)
      assert(artifactState(work) == expected,
        "two streamed triggers diverged from two direct batch admits")
      // every artifact actually landed rows
      assert(expected.forall(_.nonEmpty), "an artifact stayed empty")
      // REDELIVERY of a committed trigger is a no-op on every artifact
      DocumentsStreaming.admitAllBatch(b1, 1L, work, flags, 0.5, 0L)
      assert(artifactState(work) == expected,
        "a redelivered trigger changed an artifact")
      // CRASH BETWEEN FAMILY APPENDS: a third batch admits its first
      // two families (bm25 + fp), then "crashes" before images/lsh/pq;
      // the checkpoint redelivery re-runs the whole trigger — the
      // landed families' guards absorb, the missing families land
      val b2 = graft.ops.Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"), col("n_chars"))
        .join(spark.read.parquet(s"$sf/embeddings.parquet")
            .select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"))
        .where(pmod(col("doc_id"), lit(3)) === 1)
      DocumentsStreaming.admitAllBatch(b2, 2L, work, flags, 0.5, 0L,
        crashAfterFamilies = 2)
      DocumentsStreaming.admitAllBatch(b2, 2L, work, flags, 0.5, 0L)
      DocumentsStreaming.admitAllBatch(b2, 2L, twin, twinFlags, 0.5, 0L)
      assert(artifactState(work) == artifactState(twin),
        "a crash between family appends did not converge on redelivery")
      // no family double-admitted a doc across the crash + retry
      val dl = graft.ops.IdStore.latest(spark, s"$work/bm25").read(spark, "dl")
      assert(dl.count() == dl.select("doc_id").distinct().count(),
        "the crashed trigger's retry double-indexed a doc")
    } finally rm(root.toFile)
  }
}
