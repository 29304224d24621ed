package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.{Jpeg, MediaRecord, Multimodal}

/** The perceptual (image) ingest gate must flag exactly the arrivals
  * the batch q121 banding would flag against the same index — stream
  * and batch share the hash and band-key construction, and the gate is
  * format-blind: a JPEG re-encode of a PNG the corpus holds collides
  * through its decoded pixels. */
class ImageDupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 64×64 solid-8×8-tile pixels — the class both codecs round-trip
    * exactly, so PNG and JPEG encodes of one image hash identically. */
  private def solidTiles(seed: Int): Array[Int] = {
    val rng = new Random(seed)
    val tiles = Array.fill(64)(rng.nextInt(256))
    Array.tabulate(64 * 64)(p => tiles((p / 64 / 8) * 8 + (p % 64) / 8))
  }

  test("stream-static image candidates match batch, across formats and index rungs") {
    import spark.implicits._
    val held = Seq(1L -> solidTiles(1), 2L -> solidTiles(2), 3L -> solidTiles(3))
    // corpus: three held images (as PNGs) -> their distinct band keys
    val heldHashes = held.map { case (id, px) =>
      val (hi, lo) = Multimodal.aHash64(px, 64, 64)
      (id, hi, lo)
    }.toDF("doc_id", "hi", "lo")
    val index = Multimodal.perceptualBands(heldHashes)
      .select("band", "band_key").distinct().cache()

    // arrivals: a JPEG re-encode of held image 1, a PNG re-encode of
    // held image 2 (different knobs -> different bytes), a novel image,
    // and undecodable garbage
    val arrivals = Seq(
      MediaRecord(101L, Jpeg.jpegBytes(64, 64, held(0)._2, dcQuant = 4,
        restartInterval = 2, comment = "resurfaced")),
      MediaRecord(102L, Multimodal.pngBytes(64, 64, held(1)._2, filterType = 3, level = 2)),
      MediaRecord(103L, Multimodal.pngBytes(64, 64, solidTiles(99))),
      MediaRecord(104L, "not an image".getBytes("UTF-8")))
    val dir = Files.createTempDirectory("graft-imagedup-stream")
    arrivals.toDS().toDF().coalesce(1).write.mode("append").parquet(dir.toString)

    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    EventsStreaming.runToMemory(
      DocumentsStreaming.imageDupCandidates(stream, index),
      "imagedup_stream", OutputMode.Append())
    val streamed = spark.table("imagedup_stream")
      .select("doc_id", "band", "band_key").distinct()

    // re-encodes collide in ALL four bands (identical decoded pixels ->
    // identical hash); the novel image and the garbage pass silently
    val byDoc = streamed.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(byDoc == Map(101L -> 4L, 102L -> 4L),
      s"expected exactly the two re-encodes at 4 bands each, got $byDoc")

    // stream ≡ batch on the same input, and the shuffle rung ≡ broadcast
    val batchInput = spark.read.parquet(dir.toString)
    val batch = DocumentsStreaming.imageDupCandidates(batchInput, index)
      .select("doc_id", "band", "band_key").distinct()
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "stream and batch image-collision sets diverge")
    val shuffled = DocumentsStreaming.imageDupCandidates(batchInput, index,
      broadcastIndex = false)
      .select("doc_id", "band", "band_key").distinct()
    assert(shuffled.except(batch).isEmpty && batch.except(shuffled).isEmpty,
      "the shuffle-join scale path diverges from the broadcast path")
  }

  test("the corpus index builder collides a synthesized re-encode end-to-end") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val index = Multimodal.perceptualBandIndex(spark, sfDir).cache()
    assert(index.count() > 0)
    // re-encode the q121 synthesis of one corpus doc with different
    // knobs: its bands must hit the index (it IS a held image)
    val doc = graft.ops.Tables.documents(spark, sfDir)
      .where(col("text").isNotNull && length(col("text")) >= 1)
      .select("doc_id", "text").as[(Long, String)].head()
    val px = Multimodal.pixelsOf(doc._2)
    val arrival = Seq(MediaRecord(9999L,
      Multimodal.pngBytes(16, 16, px, filterType = 3, level = 1, chunk = 33))).toDS()
    val hits = DocumentsStreaming.imageDupCandidates(arrival.toDF(), index).count()
    assert(hits == 4L, s"a re-encode of a held image must hit all 4 bands, got $hits")
  }

  test("stateful gate: an image duplicate in a LATER trigger than its original is caught") {
    import spark.implicits._
    // The structural hole the stream-static index gate leaves: the
    // original arrives in trigger 1, its re-encode (in a DIFFERENT
    // container) in trigger 2 — no index rebuild in between, so only
    // cross-trigger state can connect them.
    val dir = Files.createTempDirectory("graft-imagedup-state")
    val pxA = solidTiles(41); val pxB = solidTiles(42)
    Seq(MediaRecord(1L, Multimodal.pngBytes(64, 64, pxA, filterType = 1)),
        MediaRecord(2L, Multimodal.pngBytes(64, 64, pxB)))
      .toDS().toDF().coalesce(1)
      .write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.resolve("in").toString)
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val q = DocumentsStreaming.imageDupStateful(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("imagedup_state").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("imagedup_state").count()
      assert(afterFirst == 0, s"originals must not self-flag ($afterFirst hits)")

      // trigger 2: 11 = JPEG re-encode of trigger-1's PNG 1 (cross-
      // format AND cross-trigger), 12 = GIF re-encode of 2, 13 = novel,
      // 14 = undecodable garbage
      Seq(MediaRecord(11L, Jpeg.jpegBytes(64, 64, pxA, dcQuant = 4,
            comment = "resurfaced later")),
          MediaRecord(12L, graft.ops.Gif.gifBytes(64, 64, pxB, interlace = true)),
          MediaRecord(13L, Multimodal.pngBytes(64, 64, solidTiles(77))),
          MediaRecord(14L, "still not an image".getBytes("UTF-8")))
        .toDS().toDF().coalesce(1) // ONE file -> one trigger
        .write.mode("append").parquet(dir.resolve("in").toString)
      q.processAllAvailable()
    } finally q.stop()

    val hits = spark.table("imagedup_state")
      .select("doc_id", "orig_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((11L, 1L), (12L, 2L)), s"got $hits")
    // identical decoded pixels collide on ALL 4 perceptual bands
    assert(spark.table("imagedup_state").where(col("doc_id") === 11L).count() == 4)
  }

  test("gate-then-admit (image): N triggers equal base + one batch append; redelivery is a no-op") {
    val work = Files.createTempDirectory("graft-img-admit")
    val sf = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, sf).select("doc_id", "text")
    val arrivalRule = pmod(col("doc_id"), lit(10)) === 0
    val idx = work.resolve("images").toString
    // bootstrap append == base build (the spec-pinned contract)
    graft.ops.ImageIndex.appendImageHashDelta(docs.where(!arrivalRule), idx)

    val inDir = work.resolve("in").toString
    val arrivals = docs.where(arrivalRule)
    arrivals.where(col("doc_id") < 1000).coalesce(1).write.parquet(inDir)
    arrivals.where(col("doc_id") >= 1000).coalesce(1)
      .write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val flagsDir = work.resolve("flags").toString
    val q = DocumentsStreaming.imageIngestAdmit(stream, idx, flagsDir,
      work.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    def store(d: String, s: String, cols: Seq[String]): Seq[String] =
      graft.ops.IdStore.latest(spark, d).read(spark, s).select(cols.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    def state(d: String): Seq[Seq[String]] = Seq(
      store(d, "hashes", Seq("doc_id", "a_hi", "a_lo", "d_hi", "d_lo")),
      store(d, "bands", Seq("doc_id", "family", "band", "band_key", "band_bucket")))
    val streamedState = state(idx)
    val streamedFlags = spark.read.parquet(flagsDir)
      .select("probe_id", "doc_id", "hamming")
      .collect().map(_.toString).toSeq.sorted

    // twin: base + ONE append of the survivors (arrivals minus all
    // flagged probe_ids — each arrival lives in exactly one batch)
    val twin = work.resolve("twin").toString
    graft.ops.ImageIndex.appendImageHashDelta(docs.where(!arrivalRule), twin)
    val flagged = spark.read.parquet(flagsDir)
      .select(col("probe_id").as("doc_id")).distinct()
    graft.ops.ImageIndex.appendImageHashDelta(
      arrivals.join(flagged, Seq("doc_id"), "left_anti"), twin)
    assert(streamedState == state(twin),
      "the stream-maintained image artifact diverged from the one-batch twin")
    assert(graft.ops.IdStore.latest(spark, idx).read(spark, "hashes").count() >
      docs.where(!arrivalRule).count(),
      "the stream admitted nothing — the image admit loop never ran")

    // full redelivery from a fresh checkpoint: artifact and flags frozen
    val q2 = DocumentsStreaming.imageIngestAdmit(stream, idx, flagsDir,
      work.resolve("ckpt2").toString)
    try q2.processAllAvailable() finally q2.stop()
    assert(state(idx) == streamedState, "a redelivered stream mutated the artifact")
    assert(spark.read.parquet(flagsDir).select("probe_id", "doc_id", "hamming")
        .collect().map(_.toString).toSeq.sorted == streamedFlags,
      "a redelivered stream duplicated or changed flag rows")

    // single-trigger direct redelivery
    DocumentsStreaming.admitImageBatch(
      arrivals.where(col("doc_id") < 1000), 0L, idx, flagsDir, 3)
    assert(state(idx) == streamedState,
      "a directly redelivered trigger mutated the artifact")
  }
}
