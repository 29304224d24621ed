package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The stateful embedding gate must connect a re-embedded/paraphrased
  * arrival to an original from an EARLIER trigger via sign-LSH buckets
  * — the semantic duplicate class every lexical and perceptual gate is
  * blind to. A positively-scaled copy of an embedding (same direction)
  * keys to the identical bucket in EVERY table (sign-LSH is
  * scale-invariant), so it must collide on all nTables bands. */
class EmbeddingDupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stateful gate: a same-direction embedding in a LATER trigger is caught") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-embdup-state")
    val rng = new Random(93)
    def vec(): Array[Float] = Array.fill(64)(rng.nextFloat() * 2 - 1)
    val a = vec(); val b = vec()
    // trigger 1: two originals
    Seq((1L, a.toSeq), (2L, b.toSeq)).toDF("doc_id", "embedding")
      .coalesce(1).write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream
      .schema("doc_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.resolve("in").toString)
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val q = DocumentsStreaming.embeddingDupStateful(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("embdup_state").start()
    try {
      q.processAllAvailable()
      assert(spark.table("embdup_state").count() == 0, "originals must not self-flag")

      // trigger 2: 11 = doc 1's embedding at gain 3 (same direction,
      // different bytes — every dot sign unchanged), 12 = novel
      Seq((11L, a.map(_ * 3f).toSeq), (12L, vec().toSeq))
        .toDF("doc_id", "embedding").coalesce(1)
        .write.mode("append").parquet(dir.resolve("in").toString)
      q.processAllAvailable()
    } finally q.stop()

    val hits = spark.table("embdup_state")
      .select("doc_id", "orig_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(hits.contains((11L, 1L)), s"scaled re-embed not caught: $hits")
    assert(!hits.exists(_._1 == 12L) ||
      spark.table("embdup_state").where(col("doc_id") === 12L).count() < 8,
      "a novel vector must not collide on every table")
    // same direction => identical bucket in ALL 8 tables
    assert(spark.table("embdup_state")
      .where(col("doc_id") === 11L && col("orig_id") === 1L).count() == 8)
  }

  test("vs-artifact gate: streamed flags equal the batch probe over the persisted index") {
    val work = Files.createTempDirectory("graft-embdup-artifact")
    val sf = "/root/testdata/sf0.001"
    val unit = graft.ops.Similarity.unitEmbeddings(spark, sf)
    // held corpus = 90% of the vectors, arrivals = the other 10%
    val arrivalRule = pmod(col("vec_id"), lit(10)) === 0
    val idx = work.resolve("lsh").toString
    graft.ops.LshIndex.saveLshIndexOf(unit.where(!arrivalRule), idx)

    // the arrivals stream in RAW (un-normalized float) form, two triggers
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .where(pmod(col("doc_id"), lit(10)) === 0)
    val inDir = work.resolve("in").toString
    raw.where(col("doc_id") < 500).coalesce(1).write.parquet(inDir)
    raw.where(col("doc_id") >= 500).coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema("doc_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val outDir = work.resolve("flags").toString
    val q = DocumentsStreaming.embeddingDupVsArtifact(stream, idx, outDir,
      work.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    def streamedFlags(): Seq[String] = spark.read.parquet(outDir)
      .select("probe_id", "vec_id", "cos_sim") // batch_id is the replay guard
      .collect().map(_.toString).toSeq.sorted
    val streamed = streamedFlags()
    val batch = graft.ops.LshIndex.probeVectors(unit.where(arrivalRule), idx)
      .collect().map(_.toString).toSeq.sorted
    assert(batch.nonEmpty, "the gate corpus must produce at least one cross-split flag")
    assert(streamed == batch,
      s"streamed vs-artifact flags diverged from the batch probe: " +
        s"stream-only=${(streamed.toSet -- batch).take(3)} batch-only=${(batch.toSet -- streamed).take(3)}")

    // foreachBatch is at-least-once: a redelivered batch (here: the
    // whole stream re-run from a FRESH checkpoint, so every batch id
    // redelivers) must append NOTHING — sequence equality, not set
    // equality, or duplicate rows would hide
    val q2 = DocumentsStreaming.embeddingDupVsArtifact(stream, idx, outDir,
      work.resolve("ckpt2").toString)
    try q2.processAllAvailable() finally q2.stop()
    assert(streamedFlags() == streamed,
      "a replayed micro-batch duplicated its flag rows")
  }

  test("landBatchIdempotent: marker-keyed, partial partitions rewritten, committed batches frozen") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-landbatch").resolve("flags").toString
    def land(id: Long, rows: Seq[(Long, Long, Double)]): Boolean =
      DocumentsStreaming.landBatchIdempotent(spark, out, id) {
        rows.toDF("probe_id", "vec_id", "cos_sim")
      }
    def stored(id: Long): Set[(Long, Long)] =
      spark.read.parquet(out).where(col("batch_id") === id)
        .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    // a crash mid job-commit: partition dir exists WITHOUT a marker —
    // the exact window a bare-directory guard freezes forever
    Seq((99L, 99L, 0.9)).toDF("probe_id", "vec_id", "cos_sim")
      .withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(out)
    assert(land(5L, Seq((1L, 2L, 0.8), (3L, 4L, 0.7))),
      "an uncommitted batch must land")
    assert(stored(5L) == Set((1L, 2L), (3L, 4L)),
      "the partial partition's crash residue survived the rewrite")
    // committed: a redelivery with DIFFERENT rows must change nothing
    // (and must not even evaluate its rows thunk)
    var evaluated = false
    val relanded = DocumentsStreaming.landBatchIdempotent(spark, out, 5L) {
      evaluated = true
      Seq((7L, 8L, 0.6)).toDF("probe_id", "vec_id", "cos_sim")
    }
    assert(!relanded && !evaluated,
      "a committed batch was re-landed (or its rows recomputed)")
    assert(stored(5L) == Set((1L, 2L), (3L, 4L)))
    // zero-row batches commit too (marker without a partition)
    assert(land(6L, Nil))
    assert(!land(6L, Seq((9L, 9L, 0.9))))
  }

  test("backfillBatchMarkers: pre-upgrade partitions stamp committed; redelivery freezes them") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-backfill").resolve("flags").toString
    // a PRE-MARKER flags dir: two partitions the old bare-directory
    // guard had committed, no _batch_commits anywhere
    Seq((1L, 2L, 0.9)).toDF("probe_id", "vec_id", "cos_sim")
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(out)
    Seq((3L, 4L, 0.8)).toDF("probe_id", "vec_id", "cos_sim")
      .withColumn("batch_id", lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(out)
    assert(DocumentsStreaming.backfillBatchMarkers(spark, out) == 2)
    assert(DocumentsStreaming.backfillBatchMarkers(spark, out) == 0,
      "the migration must be idempotent")
    // the upgraded guard now reads the historical batch as committed: a
    // checkpoint redelivery must neither delete nor re-probe it (the
    // re-probe would run against an artifact that drifted since)
    var evaluated = false
    val landed = DocumentsStreaming.landBatchIdempotent(spark, out, 0L) {
      evaluated = true
      Seq((7L, 8L, 0.1)).toDF("probe_id", "vec_id", "cos_sim")
    }
    assert(!landed && !evaluated,
      "a migrated historical batch was re-landed (or re-probed)")
    assert(spark.read.parquet(out).where(col("batch_id") === 0L)
        .select("probe_id").as[Long].collect().toSeq == Seq(1L),
      "the historical flags were rewritten")
  }

  test("gate-then-admit: N triggers equal base + one batch append of the survivors; redelivery is a no-op") {
    val work = Files.createTempDirectory("graft-emb-admit")
    val sf = "/root/testdata/sf0.001"
    val unit = graft.ops.Similarity.unitEmbeddings(spark, sf)
    val arrivalRule = pmod(col("vec_id"), lit(10)) === 0
    val idx = work.resolve("lsh").toString
    graft.ops.LshIndex.saveLshIndexOf(unit.where(!arrivalRule), idx)

    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .where(pmod(col("doc_id"), lit(10)) === 0)
    val inDir = work.resolve("in").toString
    raw.where(col("doc_id") < 500).coalesce(1).write.parquet(inDir)
    raw.where(col("doc_id") >= 500).coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema("doc_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val flagsDir = work.resolve("flags").toString
    val q = DocumentsStreaming.embeddingIngestAdmit(stream, idx, flagsDir,
      work.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    def store(d: String, s: String, cols: Seq[String]): Seq[String] =
      graft.ops.IdStore.latest(spark, d).read(spark, s).select(cols.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    def artifactState(d: String): Seq[Seq[String]] = Seq(
      store(d, "vectors", Seq("vec_id")),
      store(d, "buckets", Seq("vec_id", "tbl", "bucket", "bucket_bucket")),
      store(d, "meta", Seq("bits", "n_tables", "bucket_buckets")))
    val streamedState = artifactState(idx)
    val streamedFlags = spark.read.parquet(flagsDir)
      .select("probe_id", "vec_id", "cos_sim")
      .collect().map(_.toString).toSeq.sorted
    assert(streamedFlags.nonEmpty,
      "the gate corpus must flag at least one arrival as a near-dup")

    // the artifact the stream maintained == base + ONE batch append of
    // the survivors (LSH appends carry no order-dependent state). The
    // survivor set is arrivals minus all flagged probe_ids — exactly
    // the per-trigger survivor union, since every arrival is in one batch
    val twin = work.resolve("twin").toString
    graft.ops.LshIndex.saveLshIndexOf(unit.where(!arrivalRule), twin)
    val flaggedIds = spark.read.parquet(flagsDir)
      .select(col("probe_id").as("vec_id")).distinct()
    graft.ops.LshIndex.appendLshDelta(
      unit.where(arrivalRule).join(flaggedIds, Seq("vec_id"), "left_anti"), twin)
    assert(streamedState == artifactState(twin),
      "the stream-maintained artifact diverged from the one-batch twin")
    assert(graft.ops.IdStore.latest(spark, idx).read(spark, "vectors").count() >
      unit.where(!arrivalRule).count(),
      "the stream admitted nothing — the gate-then-admit loop never ran")

    // full redelivery (fresh checkpoint: every batch id redelivers):
    // flags byte-stable, artifact unchanged — at-least-once safe
    val q2 = DocumentsStreaming.embeddingIngestAdmit(stream, idx, flagsDir,
      work.resolve("ckpt2").toString)
    try q2.processAllAvailable() finally q2.stop()
    assert(artifactState(idx) == streamedState,
      "a redelivered stream mutated the artifact")
    assert(spark.read.parquet(flagsDir)
        .select("probe_id", "vec_id", "cos_sim")
        .collect().map(_.toString).toSeq.sorted == streamedFlags,
      "a redelivered stream duplicated or changed flag rows")

    // mid-stream redelivery of a single trigger, driven directly: the
    // admit path must derive survivors from the DURABLE flags (a fresh
    // probe on redelivery would see the batch's own admitted vectors)
    val batch0 = raw.where(col("doc_id") < 500)
    DocumentsStreaming.admitBatch(batch0, 0L, idx, flagsDir, 0.4, 0L)
    assert(artifactState(idx) == streamedState,
      "a directly redelivered trigger mutated the artifact")
  }
}
