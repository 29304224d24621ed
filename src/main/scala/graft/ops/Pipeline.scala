package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The nightly production run, composed end-to-end from the library's
  * replay-guarded primitives — the orchestrated entry point proving the
  * stages a daily ingest executes (convert → curate → dedup → index
  * appends → export) compose IDEMPOTENTLY under replay: running the
  * same day twice changes nothing in any artifact or the export
  * manifest (PipelineDailySpec pins it artifact by artifact).
  *
  * Where idempotence comes from — nothing here re-implements it; each
  * stage's own guard composes:
  *   - converted parquet: deterministic rewrite of the same inputs;
  *   - postings / image-hash / LSH-vector / PQ-code / fingerprint
  *     appends: per-id replay guards ([[Retrieval.appendPostingsDelta]]
  *     / [[ImageIndex.appendImageHashDelta]] /
  *     [[LshIndex.appendLshDelta]] / [[Similarity.appendPqDelta]] /
  *     [[FingerprintIndex.appendFingerprintDelta]] anti-join
  *     already-held ids — a replayed batch appends zero rows); the
  *     curation stage itself replays clean too
  *     ([[FingerprintIndex.probeFingerprints]] never self-flags, so a
  *     replayed batch re-derives the identical kept set);
  *   - sketch rollup: the day-granular guard plus the integrity repair
  *     ([[Sketches.appendDailyDeltaVerified]] — a replayed full day is
  *     a no-op, a detected partial day re-rolls for one-day cost);
  *   - export: the q101 permutation is a pure function of doc_id, so a
  *     re-export ships byte-identical shard membership, order, and
  *     manifest.
  *
  * Scale shape: the delta is curated once ([[Multimodal.imageHashesOf]]
  * decodes once inside the image append; everything else is
  * declarative), each append touches only the delta's partitions, and
  * the export is the only corpus-wide pass — exactly the cost profile
  * a nightly run should have.
  */
object Pipeline {

  private val persistedFp = new TempArtifacts("graft-fp-index")

  /** q172: the artifact-backed curation rule under a hash oracle — the
    * q96 deterministic split plays "today's batch", the held side's
    * fingerprints are SEEDED INTO a persisted [[FingerprintIndex]]
    * store (one-shot per session, the q127 memoization discipline), and
    * the kept set is computed by [[curatedDeltaFromIndex]]: quality
    * gate → bucket-pruned vs-artifact fingerprint kill → min-doc_id
    * keeper. The oracle mirrors [[curatedDelta]]'s direct batch rule —
    * the two curation paths answering identically IS the gate. */
  def curatedBatchFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"),
      (Lifecycle.bucket(col("doc_id")) < Lifecycle.DeltaPct).as("incoming"))
    val fpDir = persistedFp.getOrCreate(spark, s"$dir#batch") { tmp =>
      FingerprintIndex.saveFingerprintIndexOf(
        docs.where(!col("incoming")).select("doc_id", "text"), tmp)
    }
    curatedDeltaFromIndex(docs.where(col("incoming")).select("doc_id", "text"), fpDir)
      .select("doc_id").orderBy("doc_id")
  }

  /** q174: the fingerprint family's COMPOSED lifecycle under q172's
    * oracle shape — the q165/q162 contract for the membership store:
    * base build (the held corpus's even half) → delta append (the odd
    * half) → tombstone a delete set spanning both → re-append half the
    * deleted docs (RESURRECTION — the append expunges their dead rows
    * and withdraws their tombstones) → compact → probe. Because the
    * store holds no trained state, the composition ≡ a fresh build of
    * the surviving held set EXACTLY, and the gate pins the curation
    * answer against q172's oracle with the held side restricted to the
    * survivors.
    *
    * The corpus carries NO exact-normalized duplicates (measured: zero
    * colliding fingerprints at sf0.001 and sf0.01), so a batch of raw
    * corpus docs would never exercise the kill and the gate would be
    * vacuously q172. The probe batch therefore ALSO carries re-keyed
    * COPIES of every 7th held doc (doc_id + 10⁷, same text — the
    * arriving-scrape-of-an-already-held-page shape): a copy whose
    * original SURVIVES the delete set must be killed by the probe, and
    * a copy whose original was retired-and-not-resurrected must be
    * KEPT — both directions of the lifecycle's membership change land
    * in the answer (49 copies → 8 kept / 41 killed at gate scale). */
  def curatedBatchLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val held0 = Tables.documents(spark, dir)
      .where(Lifecycle.bucket(col("doc_id")) >= Lifecycle.DeltaPct)
    val fpDir = persistedFp.getOrCreate(spark, s"$dir#lifecycle") { tmp =>
      val held = held0.select(col("doc_id"), col("text"),
        (Lifecycle.deleteBucket(col("doc_id")) < 30).as("deleted"),
        (Lifecycle.reappendBucket(col("doc_id")) < 40).as("reappend"))
      FingerprintIndex.saveFingerprintIndexOf(
        held.where(pmod(col("doc_id"), lit(2)) === 0).select("doc_id", "text"), tmp)
      FingerprintIndex.appendFingerprintDelta(
        held.where(pmod(col("doc_id"), lit(2)) === 1).select("doc_id", "text"), tmp)
      FingerprintIndex.tombstoneDocs(held.where(col("deleted")).select("doc_id"), tmp)
      FingerprintIndex.appendFingerprintDelta(
        held.where(col("deleted") && col("reappend")).select("doc_id", "text"), tmp)
      FingerprintIndex.compactFingerprintIndex(spark, tmp)
    }
    // n_chars rides along explicitly: the quality gate references it,
    // and a Union (unlike a plain Project) can't resolve it from below
    val incoming = Tables.documents(spark, dir)
      .where(Lifecycle.bucket(col("doc_id")) < Lifecycle.DeltaPct)
      .select("doc_id", "text", "n_chars")
      .unionByName(held0.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("text"), col("n_chars")))
    curatedDeltaFromIndex(incoming, fpDir)
      .select("doc_id").orderBy("doc_id")
  }

  /** Release this session's memoized fingerprint artifacts. */
  def releaseStages(spark: SparkSession): Int = persistedFp.release(spark)

  /** One run's accounting — what the nightly job logs. */
  final case class DailyReport(
      converted: Int,
      incomingDocs: Long,
      keptDocs: Long,
      repairedDays: Seq[String],
      exportShards: Long)

  /** The batch-curation rule of the daily run: quality-gate the
    * incoming docs (q23's score), drop exact-normalized duplicates of
    * anything already held (fingerprint vs the existing corpus — the
    * q96 vs-corpus kill at the exact rung), and keep one doc per
    * fingerprint within the batch (min doc_id — the q96 within-batch
    * tiebreak). Deterministic and idempotent by construction. */
  private[ops] def curatedDelta(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val quality = incoming.where(TextAnalysis.qualityScore >= 0.5)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val heldFps = existing
      .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    val fresh = quality.join(heldFps, Seq("fp"), "left_anti")
    minPerFp(fresh)
  }

  /** The within-batch keeper (one doc per fingerprint, min doc_id) as a
    * single window pass. A groupBy(min) + self-semi-join answers the
    * same relation but evaluates `fresh` TWICE — and `fresh` carries
    * the whole probe/anti-join subtree, so the duplication showed up as
    * a 3× executed-shuffle blowup in the q174 census. One partitioned
    * row_number keeps the plan linear; fp cardinality ≈ doc count, so
    * the window is fully distributed. */
  private def minPerFp(fresh: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    fresh.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn", "fp")
  }

  /** [[curatedDelta]] with the held fingerprints read from the
    * persisted [[FingerprintIndex]] artifact instead of re-scanning
    * held-corpus TEXT — the steady-state shape: after the bootstrap
    * run seeds the store, the nightly's vs-corpus kill costs one
    * bucket-pruned probe of narrow (doc_id, fp) rows, never a corpus
    * text pass. Same kill set by construction (the artifact holds
    * exactly the held corpus's fingerprints) and the same within-batch
    * min-doc_id keeper. */
  private[ops] def curatedDeltaFromIndex(incoming: DataFrame,
      fpDir: String): DataFrame = {
    val quality = incoming.where(TextAnalysis.qualityScore >= 0.5)
    val flagged = FingerprintIndex.probeFingerprints(quality, fpDir)
      .select(col("probe_id").as("doc_id")).distinct()
    val fresh = quality.join(flagged, Seq("doc_id"), "left_anti")
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    minPerFp(fresh)
  }

  /** Run one day: convert any landed raw files, curate the incoming doc
    * batch (q96's deterministic `batchPct` split stands in for "today's
    * crawl"), append the kept docs to the BM25 and image-hash
    * artifacts, merge the day's events into the sketch rollup through
    * the verified append, and export the training shards. Artifacts
    * live under `workDir` (`bm25/`, `images/`, `lsh/`, `rollup/`,
    * `shards/`, `converted/`); first run bootstraps them, every later
    * run appends. */
  def runDaily(spark: SparkSession, corpusDir: String, workDir: String,
      incomingRawDir: Option[String] = None,
      batchPct: Int = 30): DailyReport = {
    // 1. CONVERT: raw csv/json landed since the last run → parquet
    val converted = incomingRawDir.map { raw =>
      graft.core.Converter.convertAll(spark,
        graft.core.GraftConfig(input = raw, output = s"$workDir/converted",
          deleteOriginal = false)).converted
    }.getOrElse(0)
    // 2. CURATE: today's batch, quality-gated and deduped vs the held
    //    corpus and within itself. The held-fingerprint side comes from
    //    the persisted FingerprintIndex artifact: the bootstrap run
    //    seeds it with ONE pass over the existing corpus's text; every
    //    later night probes narrow (doc_id, fp) rows bucket-pruned to
    //    the batch — the nightly stops scanning held-corpus text.
    val docs = Tables.documents(spark, corpusDir).select(col("doc_id"), col("text"),
      (Lifecycle.bucket(col("doc_id")) < batchPct).as("incoming"))
    val incoming = docs.where(col("incoming")).select("doc_id", "text")
    if (!FingerprintIndex.store.exists(spark, s"$workDir/fp"))
      FingerprintIndex.saveFingerprintIndexOf(
        docs.where(!col("incoming")).select("doc_id", "text"), s"$workDir/fp")
    val kept = curatedDeltaFromIndex(incoming, s"$workDir/fp").cache()
    val nKept = kept.count()
    // 3. INDEX: replay-guarded appends (first run bootstraps); the kept
    //    docs' fingerprints join the membership artifact so tomorrow's
    //    curation sees them as held
    FingerprintIndex.appendFingerprintDelta(kept, s"$workDir/fp")
    Retrieval.appendPostingsDelta(kept, s"$workDir/bm25")
    ImageIndex.appendImageHashDelta(kept, s"$workDir/images")
    // the kept docs' embeddings feed the vector index (doc_id ≡ vec_id
    // in this corpus); appendLshDelta carries its own replay guard. The
    // bootstrap run freezes geometry for the corpus the artifact GROWS
    // INTO (the full-corpus vector count), not the first day's batch —
    // a small day-1 delta would otherwise pin small-batch (bits,
    // nTables) forever (ADVICE r12). The count runs only when the
    // artifact doesn't exist yet, over the plain embeddings scan.
    val expectedVectors =
      if (LshIndex.store.exists(spark, s"$workDir/lsh")) 0L
      else Similarity.corpusCount(spark, corpusDir)
    val keptVecs = Similarity.unitEmbeddings(spark, corpusDir)
      .join(kept.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    LshIndex.appendLshDelta(keptVecs,
      s"$workDir/lsh", expectedCorpusVectors = expectedVectors)
    // the TRAINED compressed family rides the same delta: day 1
    // bootstraps by TRAINING the coarse/sub/PQ codebooks on its batch
    // and indexing it (the q141 base-split shape — production PQ trains
    // once and freezes), every later day encodes under the frozen books
    // via the replay-guarded delta merge. This is the codebook-drift
    // wrinkle LSH doesn't have, proven composed by the pipeline rather
    // than only in the q162 gate.
    Similarity.appendPqDelta(keptVecs, s"$workDir/pq")
    val repaired = Sketches.appendDailyDeltaVerified(
      Tables.events(spark, corpusDir), s"$workDir/rollup")
    // 4. EXPORT: deterministic shards + manifest over the curated
    //    corpus — INCREMENTAL: shard membership is a pure function of
    //    doc_id, so today's kept set names the only shards whose
    //    contents can have changed; the bootstrap run (no manifest yet)
    //    falls through to the full rewrite inside. This was the one
    //    corpus-wide pass left in the nightly.
    Export.writeTrainingShardsIncremental(
      spark, corpusDir, s"$workDir/shards", kept.select("doc_id"))
    kept.unpersist(blocking = false)
    // the report's counts: the batch over the unspread documents scan (a
    // spread is a repartition, so the count is the same), the shards
    // from the manifest's footers the export just wrote
    val incomingDocs = Tables(spark, corpusDir, "documents")
      .where(Lifecycle.bucket(col("doc_id")) < batchPct).count()
    val exportShards = graft.core.ParquetFiles.rowCount(
      new org.apache.hadoop.fs.Path(s"$workDir/shards/_manifest"),
      spark.sparkContext.hadoopConfiguration)
    DailyReport(converted, incomingDocs, nKept, repaired, exportShards)
  }

  /** One maintenance run's accounting. */
  final case class MaintenanceReport(
      retiredDocs: Long,
      repairedDays: Seq[String],
      servedBm25: Long,
      servedImages: Long,
      servedLsh: Long,
      servedPq: Long,
      lshRegeometry: Option[(Int, Int)],
      pqRetrain: Option[(Long, Long)])

  /** The MAINTENANCE half of the nightly job — [[runDaily]] only ever
    * appends; a production pipeline also runs retention deletes and
    * periodic compaction. One deterministic retired set (the repo's
    * delete-rule idiom) is tombstoned across every doc-keyed artifact,
    * each artifact compacts (tombstones expunged, only touched
    * partitions rewritten, each compaction one published version), the
    * rollup's day
    * integrity is verified/repaired, and each artifact is SERVED
    * afterward so the report proves post-maintenance health.
    *
    * Idempotent by the same composition argument as [[runDaily]]:
    * tombstoning an id the artifact no longer holds is absorbed (the
    * serve-side anti-join sees no matching rows; compaction expunges
    * nothing and deletes the tombstone set), so a second identical run
    * changes no served answer and returns the same report. */
  def runMaintenance(spark: SparkSession, corpusDir: String, workDir: String,
      retirePct: Int = 10): MaintenanceReport = {
    val retired = Tables.documents(spark, corpusDir)
      .where(Lifecycle.deleteBucket(col("doc_id")) < retirePct)
      .select("doc_id").cache()
    val nRetired = retired.count()
    // every artifact tombstones the retired set, then every artifact
    // compacts. The fingerprint membership store retires too: a
    // takedown's fingerprint must not block a legitimate future re-ingest
    val families = Seq("bm25" -> IndexFamily.bm25, "images" -> IndexFamily.image,
      "lsh" -> IndexFamily.lsh, "pq" -> IndexFamily.pq(), "fp" -> IndexFamily.fingerprint)
    for ((sub, f) <- families)
      f.tombstone(retired.select(col("doc_id").as(f.id)), s"$workDir/$sub")
    for ((sub, f) <- families) f.compact(spark, s"$workDir/$sub")
    // geometry drift: rebuild the LSH artifact when the live corpus has
    // outgrown (or shrunk off) its frozen adaptive plateau — a no-op
    // on-plateau, so idempotence composes (a second run re-measures the
    // same live count and does nothing)
    val regeom = LshIndex.maintainGeometry(spark, s"$workDir/lsh")
    // codebook drift: the TRAINED family's analog of the geometry
    // rebuild — retrain-and-re-encode when the live corpus has outgrown
    // (or drifted off) the sample the frozen books were trained on. A
    // no-op on an undrifted artifact, so idempotence composes the same
    // way (a second run re-measures the frozen baseline and holds).
    val pqRetrain = Similarity.maintainPqCodebooks(spark, s"$workDir/pq")
    val repaired = Sketches.repairDays(spark, s"$workDir/rollup",
      Tables.events(spark, corpusDir))
    retired.unpersist(blocking = false)
    MaintenanceReport(nRetired, repaired,
      Retrieval.bm25TopKFromIndex(spark, s"$workDir/bm25").count(),
      ImageIndex.imageDupsFromIndex(spark, s"$workDir/images").count(),
      LshIndex.lshTopKFromIndex(spark, s"$workDir/lsh").count(),
      Similarity.pqTopKFromIndex(spark, s"$workDir/pq").count(),
      regeom,
      pqRetrain)
  }
}
