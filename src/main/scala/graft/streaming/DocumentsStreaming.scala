package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.ops.TextAnalysis

/** One exploded (doc, band) key row flowing into the stateful gate. */
final case class BandKeyRow(doc_id: Long, ts: java.sql.Timestamp,
    band: Int, band_key: String)

/** Per-band-key state: the doc that first claimed the key and its event
  * time (for the TTL clock). */
final case class BandOriginal(orig_id: Long, orig_ts: Long)

/** A within-stream collision: `doc_id` shares `band`'s key with the
  * earlier-arrived `orig_id`. A candidate, not a verdict — banding has
  * false positives by design; exact verification stays downstream. */
final case class NearDupHit(doc_id: Long, band: Int, band_key: String,
    orig_id: Long)

/** One arriving media payload with its event time — the image gate's
  * input row ([[graft.ops.MediaRecord]] plus the ts the state machine
  * clocks on). */
final case class MediaTsRecord(doc_id: Long, ts: java.sql.Timestamp,
    payload: Array[Byte])

/** Streaming front-end of the corpus-curation pipeline: the same
  * quality / PII / fingerprint operators that run batch-side (q23, q70,
  * q31) applied to a document STREAM — the shape an ingest pipeline has
  * while crawl shards arrive, before the batch dedup/decontamination
  * passes run over the accumulated corpus.
  *
  * Every stateless stage is the identical Column expression the batch
  * operator uses (shared builders in [[graft.ops.TextAnalysis]]), so
  * stream and batch answers agree by construction; the only stateful
  * stage (fingerprint dedup) bounds its state with a watermark.
  */
object DocumentsStreaming {

  /** File-source stream of documents parquet. Documents carry no event
    * time, so ingest time is synthesized deterministically from doc_id
    * (1 s apart) — a real crawl feed has true arrival timestamps here.
    *
    * The stream's required schema is by default probed from the
    * directory's own footers instead of hard-coded: the physical layout
    * of inputs we don't produce is not a constant (the events source
    * learned this the hard way — see [[EventsStreaming.readEvents]]).
    * The probe needs at least one file; for a landing directory that is
    * empty at startup, pass `schema` explicitly. */
  def readDocuments(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 1,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(srcDir).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))

  /** Stateless curation projection: quality gate + PII redaction in one
    * pass. No state, no shuffle — at scale this runs at source
    * parallelism, the ideal pre-filter before anything stateful. */
  def curated(docs: DataFrame): DataFrame =
    docs
      .withColumn("quality", TextAnalysis.qualityScore)
      .where(col("quality") >= 0.5)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
        TextAnalysis.redacted(col("text")).as("clean_text"))

  /** Streaming decontamination hits: arriving documents that share a
    * word 5-gram with the static eval set (the same grams q69 checks
    * batch-side) emit one (doc_id, gram) row per overlap. Stream-static
    * LEFT SEMI join against the broadcast eval grams — STATELESS, pure
    * append mode: each micro-batch is a map-side lookup, no watermark,
    * no state store. Per-doc aggregation (n_shared) is the downstream
    * consumer's batch concern; keeping the streaming stage stateless is
    * what lets it run at source parallelism on an unbounded crawl. */
  def contaminationHits(docs: DataFrame, evalGrams: DataFrame): DataFrame =
    TextAnalysis.docGrams(docs)
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")

  /** Streaming duplicated-span hits vs a STATIC reference fingerprint
    * index: arriving documents whose winnowed k-gram fingerprints (the
    * SAME codegen'd kernel q103/q105 use batch-side —
    * [[graft.functions.TextFunctions.winnowFingerprints]], so stream and
    * batch can never disagree on what counts as a shared span) collide
    * with the reference corpus emit one (doc_id, fp) row per collision.
    * The ingest-time answer to "is this crawl shard re-serving passages
    * we already hold" — stream-static LEFT SEMI against the broadcast
    * index, STATELESS, pure append: a map-side lookup per micro-batch,
    * no watermark, no state store (the contaminationHits discipline).
    * The reference index is the batch artifact (winnowed fps of the
    * accumulated corpus — ~2/(w+1) of positions, int64 each); per-doc
    * aggregation is the downstream consumer's batch concern. */
  def spanDupHits(docs: DataFrame, refFps: DataFrame,
      k: Int = 20, w: Int = 8): DataFrame =
    docs
      .where(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.winnowFingerprints(col("text"), k, w)).as("fp"))
      .join(broadcast(refFps), Seq("fp"), "left_semi")

  /** Streaming NEAR-dup candidate hits vs a static corpus — the ingest
    * twin of q96's incremental dedup, one rung up from
    * [[dedupedByFingerprint]] (exact) and [[spanDupHits]] (verbatim
    * spans): an arriving document whose MinHash band keys collide with
    * the accumulated corpus's band index emits one
    * (doc_id, band, band_key) row per collision — the "probably a
    * near-dup of something we hold, route to the batch verifier" signal.
    *
    * The signature is computed PER ROW with array higher-order functions
    * (no groupBy → no state store → pure append mode at source
    * parallelism); tokens are materialized as a bound column before the
    * shingle lambda reads them, and digests before the k slice-minima
    * ([[graft.ops.Dedup.rowDigests]] — the HOF-CSE discipline, applied
    * at BOTH stages), and the banding is byte-identical to the batch
    * pair stage ([[graft.ops.Dedup.bandIndex]] builds the static side
    * from the same construction). Collisions are candidates, not
    * verdicts: banding has false positives by design; the batch
    * Jaccard verification stays downstream, exactly as in q32/q33. */
  /** `broadcastIndex` sizes the semi-join against the corpus band index:
    * the default broadcast is the LOW-LATENCY path and assumes the index
    * fits executor memory — b·|corpus| DISTINCT (band, band_key) rows,
    * fine for the gate corpus and for any index held in the tens of
    * millions of keys (~16 bytes each), but a 100 TB corpus's index is
    * billions of rows and would OOM the broadcast. Pass `false` there:
    * the join becomes a plain shuffle left-semi on (band, band_key) —
    * higher per-batch latency, unbounded index size. The third rung is
    * [[nearDupCandidatesBloom]]: a Bloom over the band keys, probed per
    * row with no join at all — false positives only add downstream
    * verifier work. NearDupStreamSpec pins stream≡batch on the first
    * two paths and the superset contract on the Bloom rung. */
  def nearDupCandidates(docs: DataFrame, bandIndex: DataFrame,
      broadcastIndex: Boolean = true): DataFrame =
    docs
      .select(col("doc_id"), graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), graft.ops.Dedup.rowDigests(col("toks")).as("hs"))
      .select(col("doc_id"), explode(graft.ops.Dedup.rowBandKeys(col("hs"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
      .join(if (broadcastIndex) broadcast(bandIndex) else bandIndex,
        Seq("band", "band_key"), "left_semi")

  /** Watermark-bounded streaming dedup on the normalization fingerprint:
    * a duplicate arriving within the watermark window of its original is
    * dropped; state for expired fingerprints is evicted. Unbounded
    * `dropDuplicates("fp")` would grow state forever on an unbounded
    * crawl — the watermark is what makes this deployable. */
  def dedupedByFingerprint(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** PERCEPTUAL ingest gate — the multimodal rung of the ladder
    * [[nearDupCandidates]] gives text: an arriving image payload is
    * decoded ([[graft.ops.Multimodal.imageDecode]] — format-blind, PNG
    * or baseline JPEG) and aHashed PER ROW inside mapPartitions (no
    * groupBy → no state store → pure append mode, the codec cost rides
    * the source parallelism), banded with the exact q121 construction
    * ([[graft.ops.Multimodal.perceptualBands]] — shared code, so batch
    * and stream can never key differently), and semi-joined against the
    * accumulated corpus's [[graft.ops.Multimodal.perceptualBandIndex]].
    * A collision means "probably a re-encode of an image we already
    * hold — route to the batch hamming verifier"; candidates, not
    * verdicts, exactly as in the text gate. Undecodable payloads pass
    * the gate silently (no hash → no collision row): the scan-phase
    * skip, not an error — a crawl is full of garbage bytes.
    * `broadcastIndex` is the same two-rung size ladder as the text
    * gate: broadcast for an index in executor memory, plain shuffle
    * semi-join beyond it. */
  def imageDupCandidates(media: DataFrame, bandIndex: DataFrame,
      broadcastIndex: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media
      .select(col("doc_id"), col("payload"))
      .as[graft.ops.MediaRecord]
      .mapPartitions { it =>
        it.flatMap { r =>
          graft.ops.Multimodal.imageDecode(r.payload).collect {
            case (w, h, g) if w % 8 == 0 && h % 8 == 0 =>
              val (hi, lo) = graft.ops.Multimodal.aHash64(g, w, h)
              (r.doc_id, hi, lo)
          }
        }
      }
      .toDF("doc_id", "hi", "lo")
    graft.ops.Multimodal.perceptualBands(hashes)
      .select(col("doc_id"), col("band"), col("band_key"))
      .join(if (broadcastIndex) broadcast(bandIndex) else bandIndex,
        Seq("band", "band_key"), "left_semi")
  }

  /** The Bloom rung of the ingest gate ([[nearDupCandidates]]'s ladder,
    * third position: broadcast hash < shuffle join < Bloom — see
    * [[graft.ops.Dedup.bandIndexBloom]] for the size math): the arriving
    * doc's band keys are probed against the corpus Bloom inside codegen,
    * no join, no state. Emits a SUPERSET of the exact gate's collisions
    * (false positives at the filter's fpp, zero false negatives), which
    * is sound here because collisions are candidates for downstream
    * exact verification, never verdicts — a false positive costs one
    * wasted Jaccard check, a false negative would lose a duplicate.
    * NearDupStreamSpec pins the superset relation against the exact
    * gate on the corpus. */
  def nearDupCandidatesBloom(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame =
    docs
      .select(col("doc_id"), graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), graft.ops.Dedup.rowDigests(col("toks")).as("hs"))
      .select(col("doc_id"), explode(graft.ops.Dedup.rowBandKeys(col("hs"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
      .where(graft.functions.BloomFunctions.mightContain(
        concat_ws("|", col("band"), col("band_key")), bloom))

  /** WITHIN-stream near-dup gate with cross-micro-batch memory — the
    * state [[nearDupCandidates]] deliberately lacks: that gate checks
    * arrivals against a STATIC corpus index, so a duplicate whose
    * original arrived three triggers ago (the daily-crawl shape q96
    * models batch-side) sails through until the next index rebuild.
    * Here every arriving doc's MinHash band keys (the SAME stateless
    * construction — [[graft.ops.Dedup.rowDigests]]/`rowBandKeys`, so
    * the gates can never key differently) flow into
    * `flatMapGroupsWithState` keyed by (band, band_key): the first
    * arrival claims the key (event-time order, doc_id tiebreak —
    * arrival order IS the streaming keep-rule, where batch q96 uses id
    * order); every later arrival on the key, same trigger or any later
    * one, emits a [[NearDupHit]] against the claimant.
    *
    * State discipline (what makes this deployable on an unbounded
    * crawl): state is one (orig_id, ts) pair per DISTINCT band key
    * within the TTL horizon, sharded across executors by the state
    * store exactly like the key shuffle; `stateTtl` evicts claims via
    * event-time timeout against the required watermark — the
    * [[dedupedByFingerprint]] bound, applied to band keys. A duplicate
    * arriving beyond the TTL is the accepted miss, exactly as with the
    * watermarked fingerprint dedup; catching it is the batch
    * re-dedup's job (q96).
    *
    * `maxKeyPopulation` mirrors [[graft.ops.Dedup.capBands]] on the
    * streaming side: a degenerate hot band key (many empty/boilerplate
    * docs hashing identically — the exact case the batch cap guards)
    * would otherwise buffer an unbounded trigger's rows in executor
    * memory AND emit one hit per duplicate per band. The group is
    * consumed in ONE incremental pass (claimant = running min-(ts,
    * doc_id), TTL horizon = running max ts, emission buffer bounded at
    * the cap); a key whose per-trigger population exceeds the cap
    * claims state but emits NOTHING this trigger — the same
    * drop-the-whole-hot-bucket rule as batch, with the same accepted
    * degradation: the doc's OTHER band keys still gate it, and the
    * batch re-dedup (q96) owns whatever a saturated band hides. */
  def nearDupStateful(docs: DataFrame, watermark: String = "10 minutes",
      stateTtlMs: Long = 10L * 60 * 1000,
      maxKeyPopulation: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(col("doc_id"), col("ts"),
        graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("ts"),
        graft.ops.Dedup.rowDigests(col("toks")).as("hs"))
      .select(col("doc_id"), col("ts"),
        explode(graft.ops.Dedup.rowBandKeys(col("hs"))).as("bk"))
      .select(col("doc_id"), col("ts"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
      .withWatermark("ts", watermark)
      .as[BandKeyRow]
    statefulBandGate(keyed, stateTtlMs, maxKeyPopulation)
  }

  /** IMAGE twin of [[nearDupStateful]] — cross-trigger memory for
    * perceptual band keys, closing the gap [[imageDupCandidates]]
    * deliberately leaves (it gates against a STATIC corpus index, so an
    * image duplicate whose original arrived in an earlier trigger sails
    * through until the next index rebuild — the exact structural hole
    * the text ladder closed with `nearDupStateful`). Arriving payloads
    * decode and aHash per row ([[graft.ops.Multimodal.imageDecode]] —
    * format-blind: PNG, JPEG or GIF), band with the exact shared
    * [[graft.ops.Multimodal.perceptualBands]] construction (batch pair
    * stage, static gate and stateful gate can never key differently),
    * and flow into the SAME one-pass bounded state machine (band_key
    * rendered to string — injective, so keying semantics are
    * unchanged): first arrival claims the key, later arrivals in any
    * trigger emit hits, TTL evicts, hot keys drop whole. Undecodable
    * payloads pass silently — the crawl-garbage contract. */
  def imageDupStateful(media: DataFrame, watermark: String = "10 minutes",
      stateTtlMs: Long = 10L * 60 * 1000,
      maxKeyPopulation: Int = 1000): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media
      .select(col("doc_id"), col("ts"), col("payload"))
      .as[MediaTsRecord]
      .mapPartitions { it =>
        it.flatMap { r =>
          graft.ops.Multimodal.imageDecode(r.payload).collect {
            case (w, h, g) if w % 8 == 0 && h % 8 == 0 =>
              val (hi, lo) = graft.ops.Multimodal.aHash64(g, w, h)
              (r.doc_id, r.ts, hi, lo)
          }
        }
      }
      .toDF("doc_id", "ts", "hi", "lo")
    val keyed = graft.ops.Multimodal.perceptualBands(hashes)
      .select(col("doc_id"), col("ts"), col("band").cast("int").as("band"),
        col("band_key").cast("string").as("band_key"))
      .withWatermark("ts", watermark)
      .as[BandKeyRow]
    statefulBandGate(keyed, stateTtlMs, maxKeyPopulation)
  }

  /** AUDIO leg of the stateful gate family — completes the modality ×
    * execution-mode matrix (text/image/audio × batch/stream): a
    * gain-scaled re-master of a recording whose original arrived in an
    * earlier trigger is byte-unrelated to it (q116's exact rung misses
    * it) but lands on the identical gain-invariant energy-gradient
    * fingerprint ([[graft.ops.Multimodal.audioFingerprint]] — the q134
    * batch kernel, shared verbatim), so its perceptual bands collide in
    * state. Arriving WAV payloads chunk-walk through the real
    * [[graft.ops.Multimodal.pcmSamples]] decoder; unparseable or
    * sub-64-sample payloads pass silently — the crawl-garbage
    * contract. */
  def audioDupStateful(media: DataFrame, watermark: String = "10 minutes",
      stateTtlMs: Long = 10L * 60 * 1000,
      maxKeyPopulation: Int = 1000): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media
      .select(col("doc_id"), col("ts"), col("payload"))
      .as[MediaTsRecord]
      .mapPartitions { it =>
        it.flatMap { r =>
          for {
            (_, _, samples) <- graft.ops.Multimodal.pcmSamples(r.payload)
            (hi, lo) <- graft.ops.Multimodal.audioFingerprint(samples)
          } yield (r.doc_id, r.ts, hi, lo)
        }
      }
      .toDF("doc_id", "ts", "hi", "lo")
    val keyed = graft.ops.Multimodal.perceptualBands(hashes)
      .select(col("doc_id"), col("ts"), col("band").cast("int").as("band"),
        col("band_key").cast("string").as("band_key"))
      .withWatermark("ts", watermark)
      .as[BandKeyRow]
    statefulBandGate(keyed, stateTtlMs, maxKeyPopulation)
  }

  /** EMBEDDING leg of the stateful gate family — the cross-trigger
    * memory for SEMANTIC near-duplicates (batch q95's hole): a
    * paraphrase/re-embed of a document whose original arrived in an
    * earlier trigger shares no bytes, no text n-grams and no perceptual
    * bands, but its embedding lands in the same sign-LSH buckets.
    * Bucket keys come from the exact
    * [[graft.ops.Similarity.lshSignaturesOf]] construction the batch
    * pair stage uses (seeded integer hyperplanes — the batch index,
    * the q95 join and this gate can never key differently), table id =
    * band, bucket = band_key, into the same one-pass bounded state
    * machine. The raw embedding is NOT normalized first: sign-LSH keys
    * are scale-invariant (a positive gain flips no dot sign), so the
    * buckets match the batch stage's unit-vector keys by construction
    * and the stream skips a per-row sqrt. */
  def embeddingDupStateful(vecs: DataFrame, bits: Int = 8, nTables: Int = 8,
      watermark: String = "10 minutes",
      stateTtlMs: Long = 10L * 60 * 1000,
      maxKeyPopulation: Int = 1000): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val unit = vecs.select(col("doc_id").as("vec_id"), col("ts"),
      transform(col("embedding"), x => x.cast("double")).as("u"))
    val keyed = graft.ops.Similarity.lshSignaturesOf(unit, bits, nTables)
      .select(col("vec_id").as("doc_id"), col("ts"),
        posexplode(col("buckets")).as(Seq("band", "band_key")))
      .select(col("doc_id"), col("ts"), col("band").cast("int").as("band"),
        col("band_key").cast("string").as("band_key"))
      .withWatermark("ts", watermark)
      .as[BandKeyRow]
    statefulBandGate(keyed, stateTtlMs, maxKeyPopulation)
  }

  /** EMBEDDING vs-ARTIFACT ingest gate — the artifact-backed half the
    * stateful gate family was missing for vectors (images already have
    * [[graft.ops.ImageIndex.probeImages]]): each arriving micro-batch
    * probes the PERSISTED LSH index via
    * [[graft.ops.LshIndex.probeVectors]] — signatures computed once
    * under the artifact's frozen geometry, the batch's bucket
    * vocabulary pushed as a static partition filter into the bucket
    * store, exact-cosine rescore against the vectors store — and
    * appends its confirmed flags to `outDir`. Unlike the stateful gate
    * (within-stream memory, TTL-bounded), this gate answers "is this a
    * near-dup of anything the CORPUS holds", with cost per trigger
    * bounded by the batch's bucket vocabulary, not corpus size.
    *
    * foreachBatch on purpose: the partition-prune needs a per-batch
    * local collect of ≤ 64 bucket ids, which no continuous streaming
    * join can express — the same reason the rollup ingest
    * ([[EventsStreaming.rollupIngest]]) is a foreachBatch fold.
    *
    * Replay guard: foreachBatch is AT-LEAST-ONCE (a crash between the
    * durable write and the checkpoint commit re-runs the batch), so the
    * flags land through [[landBatchIdempotent]] — partitioned by
    * `batch_id` under a per-batch commit marker, so a redelivered batch
    * appends nothing and a crashed partial partition is rewritten
    * rather than frozen. */
  def embeddingDupVsArtifact(vecs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, threshold: Double = 0.4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatchIdempotent(batch.sparkSession, outDir, batchId) {
          graft.ops.LshIndex.probeVectors(
            batch.select(col("doc_id").as("vec_id"),
              graft.ops.Similarity.unitVec(col("embedding")).as("u")),
            indexDir, threshold)
        }
        ()
      }
      .start()

  /** Idempotent per-batch landing for an at-least-once foreachBatch
    * sink: the batch's rows land under `batch_id=N` and a durable
    * commit marker (`_batch_commits/N`, `_`-prefixed so parquet readers
    * of `outDir` never see it) is created AFTER the append — the
    * replay guard keys on the MARKER, not on the partition directory.
    * A bare-directory guard treats a crash mid job-commit (partition
    * directory created, only some task files moved in) as "complete"
    * and freezes the partial rows permanently; the marker guard deletes
    * the partial partition wholesale and rewrites it, so committed
    * batches are atomic to any observer. Returns whether this call
    * landed the batch (false = already committed; `rows` not even
    * evaluated — on redelivery the computation could see state the
    * first delivery's downstream writes changed).
    *
    * UPGRADE NOTE: a flags dir written by the pre-marker code has
    * committed partitions with no markers — run
    * [[backfillBatchMarkers]] once before restarting its stream, or a
    * redelivery will rewrite historical flags against today's
    * artifact. */
  private[graft] def landBatchIdempotent(spark: SparkSession, outDir: String,
      batchId: Long)(rows: => DataFrame): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/_batch_commits/$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) return false
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/batch_id=$batchId"), true)
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("append").partitionBy("batch_id").parquet(outDir)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    true
  }

  /** One-shot upgrade of a PRE-MARKER flags directory to the
    * [[landBatchIdempotent]] layout — run once per flags dir on library
    * upgrade, BEFORE restarting its stream. The old replay guard keyed
    * on the bare `batch_id=N` directory, so under the old code an
    * existing partition WAS the committed state; after upgrade the
    * marker guard would read those same partitions as "never
    * committed", and the first checkpoint redelivery would delete a
    * complete historical partition and re-probe it against an artifact
    * that may have drifted since — silently rewriting historical flags
    * (the exact redelivery hazard the markers exist to close). This
    * stamps every existing batch partition with a commit marker,
    * preserving the old guard's semantics verbatim (old-code partial
    * partitions were frozen-as-committed then, and stay so — no worse
    * than before the upgrade, and every post-upgrade batch gets the
    * stronger marker atomicity). Idempotent; a no-op on current-layout
    * or absent dirs. Returns how many markers were backfilled. */
  def backfillBatchMarkers(spark: SparkSession, outDir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    var n = 0
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .foreach { s =>
        val id = s.getPath.getName.stripPrefix("batch_id=")
        val marker = new org.apache.hadoop.fs.Path(s"$outDir/_batch_commits/$id")
        if (!fs.exists(marker)) {
          fs.mkdirs(marker.getParent)
          fs.create(marker, true).close()
          n += 1
        }
      }
    n
  }

  /** GATE-THEN-ADMIT streaming ingest — the production loop the
    * flag-only gates stop short of: each micro-batch probes the
    * persisted LSH artifact for near-duplicates of anything the corpus
    * HOLDS ([[graft.ops.LshIndex.probeVectors]] — signatures once under
    * the frozen geometry, bucket vocabulary pushed as a static
    * partition filter, exact-cosine rescore), lands the flags, and then
    * ADMITS the surviving (un-flagged) vectors into that same artifact
    * through the replay-guarded delta append — so the stream MAINTAINS
    * the vector index, and the next trigger's arrivals are gated
    * against everything admitted before them.
    *
    * Idempotence under at-least-once redelivery is compositional, with
    * one ordering that matters: the flags commit FIRST (marker-guarded
    * [[landBatchIdempotent]]), the admit runs SECOND and derives its
    * survivor set from the DURABLE flags, not from a fresh probe — a
    * redelivered batch's fresh probe would see the batch's own admitted
    * vectors in the artifact and flag batch-mate near-dups it did not
    * flag the first time, silently shrinking the survivor set between
    * deliveries. From the durable flags the survivor set is identical
    * on every delivery, and [[graft.ops.LshIndex.appendLshDelta]]'s own
    * replay guard (vec_id anti-join) + one published version make the
    * re-admit a no-op. Bootstrap composes too: the first trigger probes nothing
    * (no artifact → zero flags), and its admit IS the base build,
    * freezing adaptive geometry for `expectedCorpusVectors` (the corpus
    * the artifact grows into, not the first batch — ADVICE r12). */
  def embeddingIngestAdmit(vecs: DataFrame, indexDir: String, flagsDir: String,
      checkpointDir: String, threshold: Double = 0.4,
      expectedCorpusVectors: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(batch, batchId, indexDir, flagsDir, threshold,
          expectedCorpusVectors)
      }
      .start()

  /** The image-modality twin of [[embeddingIngestAdmit]]: each
    * micro-batch probes the persisted perceptual-hash artifact
    * ([[graft.ops.ImageIndex.probeImages]] — decode once, band keys
    * under the artifact's layout, band-bucket partition filter pushed,
    * hamming-verified), lands the flags idempotently, and admits the
    * surviving docs through the replay-guarded image-hash delta append
    * — the same flags-first / survivors-from-durable-flags ordering
    * (see [[admitBatch]]'s contract) with the same bootstrap
    * composition (first trigger = base build). */
  def imageIngestAdmit(docs: DataFrame, indexDir: String, flagsDir: String,
      checkpointDir: String, maxHamming: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitImageBatch(batch, batchId, indexDir, flagsDir, maxHamming)
      }
      .start()

  /** The TEXT-modality admit loop — the streaming half of
    * [[graft.ops.Pipeline.curatedDelta]]: each micro-batch quality-gates
    * its docs (the q23 score), probes the persisted fingerprint
    * artifact for exact-normalized duplicates of anything ADMITTED
    * before it ([[graft.ops.FingerprintIndex.probeFingerprints]] —
    * fp-bucket partition filter pushed, so probe cost ∝ the batch's
    * bucket vocabulary), lands the flags idempotently, keeps one doc
    * per fingerprint within the trigger (min doc_id — the batch
    * tiebreak), and admits the keepers into BOTH the BM25 postings
    * artifact and the fingerprint store through their replay-guarded
    * delta appends.
    *
    * Arrival-order semantics, stated on purpose: ACROSS triggers the
    * earlier arrival wins (its fingerprint is in the store when the
    * later duplicate probes — the stateful gates' orig_id rule), while
    * WITHIN a trigger the min doc_id wins (the batch rule). A nightly
    * batch re-curation may therefore keep a different twin of the same
    * fingerprint than the stream did; membership by fingerprint is
    * identical.
    *
    * Same replay contract as [[admitBatch]]: flags commit first under
    * the per-batch marker, survivors derive from the DURABLE flags,
    * and both appends self-guard — at-least-once redelivery changes
    * nothing. */
  def documentIngestAdmit(docs: DataFrame, postingsDir: String, fpDir: String,
      flagsDir: String, checkpointDir: String, minQuality: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitDocBatch(batch, batchId, postingsDir, fpDir, flagsDir, minQuality)
      }
      .start()

  /** One trigger of [[documentIngestAdmit]], exposed for the replay
    * spec. */
  private[graft] def admitDocBatch(batch: DataFrame, batchId: Long,
      postingsDir: String, fpDir: String, flagsDir: String,
      minQuality: Double): Unit = {
    if (batch.isEmpty) return
    val keepers = curatedKeepers(batch, batchId, fpDir, flagsDir, minQuality)
    graft.ops.Retrieval.appendPostingsDelta(keepers, postingsDir)
    graft.ops.FingerprintIndex.appendFingerprintDelta(keepers, fpDir)
  }

  /** The batch-curation rule of one trigger, DETERMINISTIC on
    * redelivery by construction: quality gate (pure), exact-dup kill
    * from the DURABLE flags (committed first under the per-batch
    * marker — a fresh re-probe on redelivery could see the batch's own
    * admitted fingerprints and shrink the keeper set between
    * deliveries), within-trigger min-doc_id keeper (pure). Shared by
    * the text-only admit and the one-trigger multi-modality admit so
    * the two loops can never curate differently. */
  private def curatedKeepers(batch: DataFrame, batchId: Long,
      fpDir: String, flagsDir: String, minQuality: Double): DataFrame = {
    val spark = batch.sparkSession
    val quality = batch.where(TextAnalysis.qualityScore >= minQuality)
      .select(col("doc_id"), col("text"))
    val hasIndex = graft.ops.FingerprintIndex.store.exists(spark, fpDir)
    landBatchIdempotent(spark, flagsDir, batchId) {
      if (hasIndex) graft.ops.FingerprintIndex.probeFingerprints(quality, fpDir)
      else {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("probe_id", "doc_id")
      }
    }
    val part = new org.apache.hadoop.fs.Path(s"$flagsDir/batch_id=$batchId")
    val flagsFs = part.getFileSystem(spark.sessionState.newHadoopConf())
    val fresh =
      if (flagsFs.exists(part))
        quality.join(spark.read.parquet(part.toString)
            .select(col("probe_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      else quality
    // within-trigger keeper: one doc per fingerprint, min doc_id —
    // one window pass, not a groupBy + self-semi-join (which would
    // evaluate the probe/anti-join subtree twice per trigger)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    fresh.withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "text")
  }

  /** The STREAMING runDaily — one trigger admits one document batch
    * into ALL its artifacts: the batch (doc_id, text, n_chars,
    * embedding) is curated ONCE ([[curatedKeepers]] — quality gate,
    * vs-corpus fingerprint kill from the durable flags, within-trigger
    * keeper, exactly [[graft.ops.Pipeline.runDaily]]'s rule), and the
    * keepers then append to the BM25 postings, fingerprint membership,
    * image-hash, LSH vector, and trained-PQ artifacts in one trigger —
    * instead of three separate streams probing the same docs.
    *
    * Idempotence under at-least-once redelivery is COMPOSITIONAL, and
    * that composition is the point: the keeper set derives from the
    * durable flags (identical on every delivery), and each family's
    * append self-guards (replay anti-join + one published version per
    * append), so a crash anywhere — BETWEEN family appends, or inside
    * one — redelivers the batch, the already-landed families' appends
    * no-op, the crashed family's unpublished files are ignored, and
    * the remaining families land. MultiModalAdmitSpec pins N mixed triggers ≡ batch
    * admits on every artifact, including a crash between family
    * appends inside one trigger.
    *
    * Artifact layout matches [[graft.ops.Pipeline.runDaily]]'s workDir
    * (`bm25/`, `fp/`, `images/`, `lsh/`, `pq/`) so a deployment can switch
    * between the nightly batch and this stream without migrating
    * anything; flags land under `flagsDir/fp` (the only gate flags this
    * loop produces — image/embedding near-dup gating stays with the
    * one-modality loops, as in the nightly). */
  def ingestAdmitAll(docs: DataFrame, workDir: String, flagsDir: String,
      checkpointDir: String, minQuality: Double = 0.5,
      expectedCorpusVectors: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitAllBatch(batch, batchId, workDir, flagsDir, minQuality,
          expectedCorpusVectors)
      }
      .start()

  /** One trigger of [[ingestAdmitAll]], exposed for the replay and
    * crash-between-families specs. */
  private[graft] def admitAllBatch(batch: DataFrame, batchId: Long,
      workDir: String, flagsDir: String, minQuality: Double,
      expectedCorpusVectors: Long,
      crashAfterFamilies: Int = Int.MaxValue): Unit = {
    if (batch.isEmpty) return
    val keepers = curatedKeepers(batch.select("doc_id", "text", "n_chars"),
      batchId, s"$workDir/fp", s"$flagsDir/fp", minQuality).cache()
    keepers.count()
    def keptVecs = batch
      .select(col("doc_id").as("vec_id"),
        graft.ops.Similarity.unitVec(col("embedding")).as("u"))
      .join(keepers.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
    // the runDaily append order; each family self-guards, so the
    // crashAfterFamilies test hook (stop after N families — the
    // crash-between-appends window no in-process stream can force
    // deterministically) converges on redelivery
    val families: Seq[() => Unit] = Seq(
      () => graft.ops.Retrieval.appendPostingsDelta(keepers, s"$workDir/bm25"),
      () => graft.ops.FingerprintIndex.appendFingerprintDelta(keepers, s"$workDir/fp"),
      () => graft.ops.ImageIndex.appendImageHashDelta(keepers, s"$workDir/images"),
      () => graft.ops.LshIndex.appendLshDelta(keptVecs, s"$workDir/lsh",
        expectedCorpusVectors = expectedCorpusVectors),
      // the TRAINED family rides the same trigger: the first batch
      // bootstraps by training the books on itself (runDaily's rule);
      // later triggers encode under frozen books
      () => graft.ops.Similarity.appendPqDelta(keptVecs, s"$workDir/pq"))
    families.take(crashAfterFamilies).foreach(_.apply())
    keepers.unpersist(blocking = false)
  }

  /** One trigger of [[imageIngestAdmit]], exposed for the replay spec. */
  private[graft] def admitImageBatch(batch: DataFrame, batchId: Long,
      indexDir: String, flagsDir: String, maxHamming: Int): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val docs = batch.select(col("doc_id"), col("text"))
    val hasIndex = graft.ops.ImageIndex.store.exists(spark, indexDir)
    landBatchIdempotent(spark, flagsDir, batchId) {
      if (hasIndex)
        graft.ops.ImageIndex.probeImages(docs, indexDir, maxHamming = maxHamming)
      else {
        import spark.implicits._
        Seq.empty[(Long, Long, Long)].toDF("probe_id", "doc_id", "hamming")
      }
    }
    val part = new org.apache.hadoop.fs.Path(s"$flagsDir/batch_id=$batchId")
    val flagsFs = part.getFileSystem(spark.sessionState.newHadoopConf())
    val survivors =
      if (flagsFs.exists(part))
        docs.join(spark.read.parquet(part.toString)
            .select(col("probe_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      else docs
    graft.ops.ImageIndex.appendImageHashDelta(survivors, indexDir)
  }

  /** One trigger of [[embeddingIngestAdmit]], exposed so the replay
    * spec can redeliver a batch id directly (the at-least-once window
    * no in-process stream run can force deterministically). */
  private[graft] def admitBatch(batch: DataFrame, batchId: Long,
      indexDir: String, flagsDir: String, threshold: Double,
      expectedCorpusVectors: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val unit = batch.select(col("doc_id").as("vec_id"),
      graft.ops.Similarity.unitVec(col("embedding")).as("u"))
    val hasIndex = graft.ops.LshIndex.store.exists(spark, indexDir)
    // 1. GATE: flag near-dups of the held corpus. A bootstrap trigger
    //    has no corpus to flag against — zero flags, landed anyway so
    //    the batch's commit marker exists.
    landBatchIdempotent(spark, flagsDir, batchId) {
      if (hasIndex) graft.ops.LshIndex.probeVectors(unit, indexDir, threshold)
      else {
        import spark.implicits._
        Seq.empty[(Long, Long, Double)].toDF("probe_id", "vec_id", "cos_sim")
      }
    }
    // 2. SURVIVORS from the DURABLE flags (identical on redelivery —
    //    see the ordering note above). An all-survivor batch has no
    //    partition directory (zero flag rows land no files).
    val part = new org.apache.hadoop.fs.Path(s"$flagsDir/batch_id=$batchId")
    val flagsFs = part.getFileSystem(spark.sessionState.newHadoopConf())
    val survivors =
      if (flagsFs.exists(part))
        unit.join(spark.read.parquet(part.toString)
            .select(col("probe_id").as("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
      else unit
    // 3. ADMIT: replay-guarded, crash-atomic delta append (bootstraps
    //    the artifact on the first trigger).
    graft.ops.LshIndex.appendLshDelta(survivors, indexDir,
      expectedCorpusVectors = expectedCorpusVectors)
  }

  /** The shared one-pass bounded state machine behind ALL stateful
    * gates ([[nearDupStateful]] text bands, [[imageDupStateful]] /
    * [[audioDupStateful]] perceptual bands, [[embeddingDupStateful]]
    * sign-LSH buckets) — extracted so the claim/emit/TTL/hot-key
    * semantics cannot drift between modalities. */
  private def statefulBandGate(
      keyed: org.apache.spark.sql.Dataset[BandKeyRow],
      stateTtlMs: Long, maxKeyPopulation: Int): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed
      .groupByKey(r => (r.band, r.band_key))
      .flatMapGroupsWithState[BandOriginal, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // one pass, bounded memory: running min/max + a ≤cap buffer
            var n = 0
            var minRow: BandKeyRow = null
            var maxTs = Long.MinValue
            val buf = scala.collection.mutable.ArrayBuffer.empty[BandKeyRow]
            rows.foreach { r =>
              n += 1
              val t = r.ts.getTime
              if (t > maxTs) maxTs = t
              if (minRow == null || t < minRow.ts.getTime ||
                  (t == minRow.ts.getTime && r.doc_id < minRow.doc_id)) minRow = r
              if (buf.size < maxKeyPopulation) buf += r
            }
            val prior = state.getOption
            val orig = prior.getOrElse(BandOriginal(minRow.doc_id, minRow.ts.getTime))
            state.update(orig)
            state.setTimeoutTimestamp(math.max(orig.orig_ts, maxTs) + stateTtlMs)
            if (n > maxKeyPopulation) Iterator.empty // hot key: whole bucket dropped this trigger
            else {
              val dups =
                if (prior.isDefined) buf else buf.filterNot(_ eq minRow)
              dups.sortBy(r => (r.ts.getTime, r.doc_id)).iterator
                .map(r => NearDupHit(r.doc_id, r.band, r.band_key, orig.orig_id))
            }
          }
      }
      .toDF()
  }
}
