package graft.streaming

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.{Tables, TextAnalysis}

/** The streaming curation front-end must converge to the batch
  * operators it mirrors (shared Column builders make this true by
  * construction — these specs pin that it STAYS true). */
class DocumentsStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def mkStreamDir(copies: Int): String = {
    val dir = Files.createTempDirectory("graft-docstream")
    val src = java.nio.file.Path.of(s"$sfDir/documents.parquet")
    (1 to copies).foreach { i =>
      Files.copy(src, dir.resolve(s"documents_$i.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  test("an explicit schema lets the documents stream start on an empty landing dir") {
    val landing = Files.createTempDirectory("graft-docstream-landing").toString
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    // empty dir: the footer probe would throw; the explicit schema must not
    val stream = DocumentsStreaming.readDocuments(spark, landing, schema = Some(schema))
    val src = java.nio.file.Path.of(s"$sfDir/documents.parquet")
    Files.copy(src, java.nio.file.Path.of(landing, "documents_1.parquet"))
    EventsStreaming.runToMemory(
      stream.select("doc_id"), "docs_landing", OutputMode.Append())
    assert(spark.table("docs_landing").count() ==
      Tables.documents(spark, sfDir).count())
  }

  test("stateless curation stream matches the batch quality gate row-for-row") {
    val dir = mkStreamDir(1)
    val stream = DocumentsStreaming.readDocuments(spark, dir)
    EventsStreaming.runToMemory(
      DocumentsStreaming.curated(stream), "curated_stream", OutputMode.Append())
    val streamed = spark.table("curated_stream").orderBy("doc_id").collect()
    val batch = Tables.documents(spark, sfDir)
      .withColumn("quality", TextAnalysis.qualityScore)
      .where(col("quality") >= 0.5)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
        TextAnalysis.redacted(col("text")).as("clean_text"))
      .orderBy("doc_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("stateless stream-static decontamination flags the same docs as batch q69") {
    import graft.SparkEntry
    val dir = mkStreamDir(1)
    // static eval-gram relation: distinct 5-grams of the eval docs,
    // built by the SAME shared builder TextAnalysis.decontaminate uses
    val grams = TextAnalysis.docGrams(
        Tables.documents(spark, sfDir).where(col("doc_id") % 97 === 0))
      .select("gram").distinct()
    val stream = DocumentsStreaming.readDocuments(spark, dir)
      .where(col("doc_id") % 97 =!= 0) // train side only, as in q69
    EventsStreaming.runToMemory(
      DocumentsStreaming.contaminationHits(stream, grams), "contam_stream", OutputMode.Append())
    val streamedDocs = spark.table("contam_stream")
      .select("doc_id").distinct().orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val batchDocs = SparkEntry.queries("q69_decontaminate")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(streamedDocs == batchDocs,
      s"stream flagged $streamedDocs vs batch $batchDocs")
  }

  test("full streaming curation front-end keeps EXACTLY the batch q72 id-set") {
    import graft.ops.Curation
    val dir = mkStreamDir(1)
    val contaminated = TextAnalysis.decontaminate(spark, sfDir).select("doc_id")
    // the full front-end, every stage streaming: quality gate (stateless)
    // → watermarked fingerprint dedup (stateful) → eval holdout
    // (stateless) → decontamination anti-join (stream-static)
    val stream = DocumentsStreaming.readDocuments(spark, dir)
      .withColumn("quality", TextAnalysis.qualityScore)
      .where(col("quality") >= 0.5)
    val clean = DocumentsStreaming.dedupedByFingerprint(stream)
      .where(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    EventsStreaming.runToMemory(
      clean.select("doc_id"), "curation_e2e_stream", OutputMode.Append())
    val streamIds = spark.table("curation_e2e_stream")
      .collect().map(_.getLong(0)).toSet
    // batch: q72's kept set before the final accounting aggregate (same
    // stage order: dedup within the quality-gated corpus, then holdout,
    // then decontamination)
    val quality = Tables.documents(spark, sfDir)
      .where(TextAnalysis.qualityScore >= 0.5)
    val keepIds = quality
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val batchIds = quality.join(keepIds, Seq("doc_id"), "left_semi")
      .where(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.nonEmpty)
    // EXACT id parity, not just counts. The dedup winner matches batch's
    // min-doc_id policy because the single source file streams as one
    // ordered task (doc_id-ascending parquet), so each fingerprint's
    // first-arriving row IS its min id.
    assert(streamIds === batchIds,
      s"stream-batch= ${(streamIds -- batchIds).toSeq.sorted.take(10)}, " +
        s"batch-stream= ${(batchIds -- streamIds).toSeq.sorted.take(10)}")
    // and the composite is exactly what q72 accounts for
    val q72n = Curation.curate(spark, sfDir).agg(sum("n_docs")).collect()(0).getLong(0)
    assert(q72n === batchIds.size)
  }

  test("stream-static span-dup hits flag exactly the batch winnow overlap") {
    import graft.functions.TextFunctions
    val dir = mkStreamDir(1)
    // static reference index: winnowed fps of the eval-holdout slice —
    // built by the SAME kernel the streaming stage applies to arrivals
    val refDocs = Tables.documents(spark, sfDir).where(col("doc_id") % 7 === 0)
    val refFps = refDocs
      .where(length(col("text")) >= 27)
      .select(explode(TextFunctions.winnowFingerprints(col("text"), 20, 8)).as("fp"))
      .distinct()
    val stream = DocumentsStreaming.readDocuments(spark, dir)
      .where(col("doc_id") % 7 =!= 0)
    EventsStreaming.runToMemory(
      DocumentsStreaming.spanDupHits(stream, refFps), "span_stream", OutputMode.Append())
    val streamed = spark.table("span_stream")
      .select("doc_id", "fp").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 7 =!= 0 && length(col("text")) >= 27)
      .select(col("doc_id"), explode(TextFunctions.winnowFingerprints(col("text"), 20, 8)).as("fp"))
      .join(refFps, Seq("fp"), "left_semi")
      .select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture produced no span overlap — weaken the split")
    assert(streamed === batch)
  }

  test("gate-then-admit (text): curation admits into BM25 + fingerprint artifacts; redelivery is a no-op") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-doc-admit")
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "n_chars")
    val arrivalRule = pmod(col("doc_id"), lit(10)) === 0
    val base = docs.where(!arrivalRule).select("doc_id", "text")
    val postingsDir = work.resolve("bm25").toString
    val fpDir = work.resolve("fp").toString
    graft.ops.Retrieval.savePostingsIndexOf(base, postingsDir)
    graft.ops.FingerprintIndex.saveFingerprintIndexOf(base, fpDir)

    // arrivals: the 10% split, PLUS an exact copy of a quality-passing
    // HELD doc (must flag, never admit), PLUS a within-trigger twin
    // pair sharing one novel fingerprint (min doc_id must win)
    val heldSrc = docs.where(!arrivalRule)
      .where(TextAnalysis.qualityScore >= 0.5)
      .select("text").as[String].head()
    val novel = "the quick brown fox jumps over the lazy dog " * 8
    val planted = Seq(
      (1000001L, heldSrc, heldSrc.length.toLong),
      (1000002L, novel, novel.length.toLong),
      (1000003L, novel, novel.length.toLong))
      .toDF("doc_id", "text", "n_chars")
    val arrivals = docs.where(arrivalRule)
    val inDir = work.resolve("in").toString
    arrivals.where(col("doc_id") < 1000).unionByName(planted)
      .coalesce(1).write.parquet(inDir)
    arrivals.where(col("doc_id") >= 1000).coalesce(1)
      .write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, n_chars LONG")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val flagsDir = work.resolve("flags").toString
    val q = DocumentsStreaming.documentIngestAdmit(stream, postingsDir, fpDir,
      flagsDir, work.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    // the held-copy flagged; the twin pair resolved to its min doc_id
    val flaggedIds = spark.read.parquet(flagsDir)
      .select("probe_id").as[Long].collect().toSet
    assert(flaggedIds.contains(1000001L),
      s"an exact copy of a held doc was not flagged: $flaggedIds")
    val admitted = graft.ops.IdStore.latest(spark, fpDir).read(spark, "fingerprints")
      .select("doc_id").as[Long].collect().toSet
    assert(!admitted.contains(1000001L), "a held-corpus duplicate was admitted")
    assert(admitted.contains(1000002L) && !admitted.contains(1000003L),
      "the within-trigger twin pair must keep exactly the min doc_id")

    // both artifacts hold exactly the same admitted doc set, and it is
    // the expected one: quality-passing arrivals, minus held-fp dups,
    // one keeper per fingerprint
    val dlIds = graft.ops.IdStore.latest(spark, postingsDir).read(spark, "dl")
      .select("doc_id").as[Long].collect().toSet
    assert(dlIds == admitted ++ base.select("doc_id").as[Long].collect().toSet,
      "postings and fingerprint artifacts disagree on membership")
    assert(graft.ops.Retrieval.bm25TopKFromIndex(spark, postingsDir).count() > 0)

    // full redelivery from a fresh checkpoint + direct single-trigger
    // redelivery: both artifacts frozen
    def state(): (Long, Long, Long) = (
      graft.ops.IdStore.latest(spark, fpDir).read(spark, "fingerprints").count(),
      graft.ops.IdStore.latest(spark, postingsDir).read(spark, "dl").count(),
      graft.ops.IdStore.latest(spark, postingsDir).read(spark, "postings").count())
    val s1 = state()
    val q2 = DocumentsStreaming.documentIngestAdmit(stream, postingsDir, fpDir,
      flagsDir, work.resolve("ckpt2").toString)
    try q2.processAllAvailable() finally q2.stop()
    assert(state() == s1, "a redelivered stream mutated the artifacts")
    DocumentsStreaming.admitDocBatch(
      arrivals.where(col("doc_id") < 1000).unionByName(planted),
      0L, postingsDir, fpDir, flagsDir, 0.5)
    assert(state() == s1, "a directly redelivered trigger mutated the artifacts")
  }

  test("watermarked fingerprint dedup drops cross-batch duplicates with bounded state") {
    val dir = mkStreamDir(2) // same corpus twice, two micro-batches
    val stream = DocumentsStreaming.readDocuments(spark, dir, maxFilesPerTrigger = 1)
    EventsStreaming.runToMemory(
      DocumentsStreaming.dedupedByFingerprint(stream).select("doc_id", "fp"),
      "fp_dedup_stream", OutputMode.Append())
    val n = spark.table("fp_dedup_stream").count()
    val batchDistinct = Tables.documents(spark, sfDir)
      .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct().count()
    assert(n == batchDistinct, s"streamed $n vs batch-distinct $batchDistinct")
  }
}
