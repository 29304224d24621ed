package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Lifecycle.{Append, Compact, Reappend, Tombstone}

/** Persisted perceptual-image hash index — the decode-once artifact the
  * image dedup family (q121/q125) serves from. At real scale decoding
  * is the single most expensive thing a multimodal pipeline does and
  * must happen ONCE, at ingest: the artifact stores each image's
  * perceptual essence (both hash families from one decode —
  * [[Multimodal.imageHashesOf]]) and every dedup/probe query plans over
  * those few dozen bytes per doc with NO codec anywhere in the plan
  * (ImageIndexSpec pins the serve plan codec-free).
  *
  * Layout (mirrors the BM25 postings artifact, `Retrieval.scala`):
  *   - `$dir/hashes` — (doc_id, a_hi, a_lo, d_hi, d_lo): the per-doc
  *     decode-once store; the replay guard's column-pruned scan target
  *     (the postings artifact's `dl` twin).
  *   - `$dir/bands`  — (doc_id, family, hi, lo, band, band_key),
  *     partitioned by `band_bucket = pmod(xxhash64(family, band,
  *     band_key), 16)`: the probe-side store. An ingest gate ("does this
  *     arriving image share a band with anything we hold") computes its
  *     delta's buckets from a LOCAL relation and pushes a static
  *     `band_bucket IN (...)` partition filter — probe cost ∝ |delta|'s
  *     band vocabulary, never the corpus (the term-bucket prune's
  *     image analog).
  *   - `$dir/tombstones` — (doc_id): the delete set, anti-joined at
  *     serve time, expunged by [[compactImageHashIndex]].
  *
  * Full lifecycle contract, uniform with BM25/two-level/PQ: base build →
  * delta append (replay guard + bootstrap) → tombstone → re-append of a
  * deleted doc RESURRECTS it (the delete-then-re-append interaction:
  * the overlap's dead rows are expunged and its tombstones withdrawn
  * before the fresh rows land, so neither generation double-serves) →
  * compaction ≡ rebuild of the surviving corpus. Every mutation
  * publishes one version of the artifact ([[IdStore]]).
  *
  * Pair-serve note: the full-corpus dedup ([[imageDupsFromIndex]])
  * re-derives band rows from the per-doc `hashes` store inside codegen
  * (posexplode of four 16-bit slices) rather than scanning the 8×-wider
  * `bands` store — banding costs nothing next to the decode it
  * replaces, and the hashes scan is the narrowest possible. The `bands`
  * store earns its keep on the PROBE path, where partition pruning
  * bounds the scan.
  */
object ImageIndex {

  /** Partition layout of the band probe store. 16-way: the sf0.1
    * artifact's band relation is ~8 rows/doc, so buckets stay
    * file-sized. */
  private val BandLayout = IdStore.Layout("band_bucket", 16, "family", "band", "band_key")

  /** The artifact's lifecycle: bands derived, the per-doc hashes store
    * keyed (`id_bucket` — the replay guard's and the expunge's prune). */
  private[graft] val store = new IdStore("doc_id", IdStore.byId("doc_id"), "bands", "hashes")

  private val persistedIndex = new TempArtifacts("graft-image-index")
  def releaseStages(spark: SparkSession): Int = persistedIndex.release(spark)

  /** The band relation of a per-doc hash relation: four 16-bit bands per
    * family (family 0 = aHash, 1 = dHash), hashes riding the band rows
    * (the q95 discipline — hamming verifies inside the join stage).
    * Keying goes through [[Multimodal.perceptualBands]] so the artifact,
    * the live q121 path, and the streaming ingest gate can never band
    * differently. */
  private def bandsOfHashes(hashes: DataFrame): DataFrame = {
    def fam(f: Int, hi: String, lo: String) =
      Multimodal.perceptualBands(
        hashes.select(col("doc_id"), col(hi).as("hi"), col(lo).as("lo")))
        .withColumn("family", lit(f))
    fam(0, "a_hi", "a_lo").unionAll(fam(1, "d_hi", "d_lo"))
  }

  /** Persist the index from an arbitrary per-doc hash relation
    * ([[Multimodal.imageHashesOf]] output shape) — the decode already
    * happened upstream, exactly once. The band store derives from the
    * just-written hashes parquet (a second scan of the TINY artifact,
    * never a second decode). */
  def saveImageHashIndexOf(hashes: DataFrame, outDir: String): Unit =
    IdStore.rebuild(hashes.sparkSession, outDir) { w =>
      w.add("hashes")(store.layout.write(hashes, _))
      w.add("bands")(BandLayout.write(bandsOfHashes(w.read("hashes")), _))
    }

  /** Full-corpus build over the `documents` table: ONE decode pass
    * (both hash families per doc), then the artifact writes. */
  def saveImageHashIndex(spark: SparkSession, dir: String, outDir: String): Unit =
    saveImageHashIndexOf(Multimodal.imageHashesOf(Tables.documents(spark, dir)), outDir)

  /** Merge a delta batch of documents into a persisted artifact — the
    * daily-ingest shape, with the postings delta's exact economics:
    * the delta is DECODED ONCE, its hash rows append, and its band rows
    * land as dynamic-partition appends touching only the delta's
    * buckets; nothing on disk is rewritten (except resurrection, below).
    * Replay-safe: doc_ids already in the hashes store are anti-joined
    * out up front (a scan of the delta's id buckets + a join ∝ |delta|),
    * so a retried ingest is a no-op. Bootstrap: a first delta into an
    * empty dir indexes everything.
    *
    * Resurrection (the deleted-then-re-appended interaction): a delta
    * doc_id present in the tombstone set is being deliberately
    * re-ingested — the caller wants it LIVE again. Its dead rows are
    * expunged and its tombstones withdrawn BEFORE the replay guard runs
    * ([[IdStore.withdraw]]), so the fresh rows then append as new and
    * neither generation double-serves. */
  def appendImageHashDelta(deltaDocs: DataFrame, indexDir: String): Unit = {
    // decode ONCE, up front: both the resurrection check and the append
    // plan from this one materialized relation
    val deltaHashes = Multimodal.imageHashesOf(deltaDocs).cache()
    deltaHashes.count()
    store.write(deltaDocs.sparkSession, indexDir) { w =>
      val fresh = store.admit(w, deltaHashes)(expunge(w, _)).cache()
      fresh.count()
      // both stores' files publish as one version: a crash between the
      // writes leaves the previous version serving, and the re-run
      // re-admits the whole delta
      w.add("bands")(BandLayout.write(bandsOfHashes(fresh), _))
      w.add("hashes")(store.layout.write(fresh, _))
      fresh.unpersist(blocking = false)
    }
    deltaHashes.unpersist(blocking = false)
  }

  /** Retire images from the artifact — tombstones, not rewrites (cost
    * ∝ |deletes|); serving anti-joins them out, [[compactImageHashIndex]]
    * expunges them. Idempotent (anti-join semantics). */
  def tombstoneImages(deletedIds: DataFrame, indexDir: String): Unit =
    store.tombstone(deletedIds, indexDir)

  /** Drop a dead set's rows from both stores: the band store rewrites
    * ONLY the buckets holding a dead doc's rows, the hashes store only
    * the id buckets the dead ids hash to (untouched buckets keep their
    * files). */
  private def expunge(w: IdStore.Writer, dead: DataFrame): Unit = {
    IdStore.expunge(w, "bands", BandLayout.column, "doc_id", dead)
    store.expungeKeyed(w, dead)
  }

  /** Expunge the tombstones — [[Retrieval.compactPostings]]'s contract
    * for the image artifact: rewrite only touched band and id buckets
    * and drop the tombstone set in one version, answer-invisible by
    * construction (the q159 gate serves a compacted lifecycle under the
    * surviving-corpus oracle). */
  def compactImageHashIndex(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)(expunge)

  /** Serve the perceptual near-dup pair relation from the artifact —
    * q121's (or, with `gradient = true`, q125's) exact output with NO
    * codec in the plan: one narrow scan of the per-doc hashes store,
    * band rows re-derived inside codegen, capped banded self-join,
    * hamming verified in the join stage. Tombstoned docs drop out via
    * the serve-time anti-join (before banding, so a dead doc neither
    * pairs nor heats a band's population count). */
  def imageDupsFromIndex(spark: SparkSession, indexDir: String,
      gradient: Boolean = false, maxHamming: Int = 3,
      maxBandPopulation: Int = 1000): DataFrame = {
    val v = IdStore.latest(spark, indexDir)
    val live = store.live(v.read(spark, "hashes"), v.tombstones(spark, "doc_id"))
    val (hi, lo) = if (gradient) ("d_hi", "d_lo") else ("a_hi", "a_lo")
    Multimodal.perceptualDupsOfHashes(
      live.select(col("doc_id"), col(hi).as("hi"), col(lo).as("lo")),
      maxHamming, maxBandPopulation)
      .orderBy("doc_a", "doc_b")
  }

  /** Ingest-gate probe: which held images does each arriving image
    * share a band with (hamming-verified)? The arriving batch is
    * decoded once, its band keys computed, and the buckets they hash to
    * collected from a LOCAL relation (≤ 16 values, no corpus work) and
    * pushed as a static partition filter — the artifact scan reads only
    * the probed band directories, so probe cost is bounded by the
    * delta's band vocabulary no matter how large the corpus grows.
    * Output: (probe_id, doc_id, hamming ≤ maxHamming). */
  def probeImages(probeDocs: DataFrame, indexDir: String,
      gradient: Boolean = false, maxHamming: Int = 3): DataFrame = {
    val spark = probeDocs.sparkSession
    val v = IdStore.latest(spark, indexDir)
    val family = if (gradient) 1 else 0
    val probeBands = bandsOfHashes(Multimodal.imageHashesOf(probeDocs))
      .where(col("family") === family)
      .select(col("doc_id").as("probe_id"), col("hi").as("p_hi"), col("lo").as("p_lo"),
        col("family"), col("band"), col("band_key"))
      .cache()
    val corpusBands = v.read(spark, "bands")
      .where(col(BandLayout.column).isin(BandLayout.bucketsOf(probeBands): _*) &&
        col("family") === family)
    val held = store.live(corpusBands, v.tombstones(spark, "doc_id"))
    probeBands.join(held, Seq("band", "band_key"))
      .select(col("probe_id"), col("doc_id"),
        (bit_count(col("p_hi").bitwiseXOR(col("hi"))) +
          bit_count(col("p_lo").bitwiseXOR(col("lo")))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("probe_id", "doc_id")
  }

  /** q156: q121's perceptual near-dup pairs served ENTIRELY from the
    * persisted artifact — same oracle as q121, which is the point: the
    * live decode-per-invocation shape and the decode-once-at-ingest
    * artifact shape pin one answer. Built on first use per (session,
    * dir) — the q127 memoization discipline. */
  def imageDupsPersisted(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = persistedIndex.getOrCreate(spark, dir)(
      saveImageHashIndex(spark, dir, _))
    imageDupsFromIndex(spark, indexDir)
  }

  /** q158: q125's GRADIENT pairs from the SAME artifact q156 serves —
    * the decode-once payoff made visible in the gates: one decode pass
    * at build time serves BOTH hash families (the live path decodes the
    * corpus once per family per invocation). */
  def imageGradientDupsPersisted(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = persistedIndex.getOrCreate(spark, dir)(
      saveImageHashIndex(spark, dir, _))
    imageDupsFromIndex(spark, indexDir, gradient = true)
  }

  /** q159: the FULL lifecycle composed in one relation — base build
    * (70 %) → delta append (30 %) → tombstone a 10 % delete set spanning
    * both → RE-APPEND half the deleted docs (resurrection: the
    * delete-then-re-append interaction no pairwise gate can see) →
    * compact → serve. Gated under q121's oracle restricted to the
    * surviving corpus: survivors = all docs except (deleted AND NOT
    * re-appended); the composition ≡ a fresh build of exactly that
    * corpus. */
  def imageDupsLifecycle(spark: SparkSession, dir: String): DataFrame =
    imageDupsFromIndex(spark, Lifecycle.artifact(persistedIndex, IndexFamily.image, spark, dir,
      Append, Tombstone, Reappend, Compact))
}
