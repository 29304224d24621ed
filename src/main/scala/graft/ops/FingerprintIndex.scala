package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted exact-dedup fingerprint artifact — the text-modality
  * membership store the streaming curation loop probes: "has the
  * corpus already admitted a doc with this normalized fingerprint?"
  * (q30/q31's exact rung, [[Pipeline.curatedDelta]]'s vs-corpus kill)
  * answered WITHOUT scanning corpus text — the store holds one narrow
  * (doc_id, fp) row per admitted doc.
  *
  * Layout (the bucket-pruned probe discipline of
  * [[LshIndex]]/[[ImageIndex]]/[[Retrieval]]): rows land partitioned by
  * `fp_bucket = pmod(xxhash64(fp), 64)`, and a probe batch collects
  * its own fp-bucket vocabulary locally (≤ 64 longs) and pushes a
  * STATIC partition filter — probe cost ∝ the batch's bucket
  * vocabulary, never the corpus.
  *
  * Lifecycle parity with the other doc-keyed families ([[IdStore]]):
  * base build → replay-guarded delta append (bootstrap-safe) →
  * tombstone → touched-partition compaction, each mutation one
  * published version.
  */
object FingerprintIndex {

  /** The artifact's lifecycle: one keyed store, partitioned by
    * fingerprint (the probe key) rather than by id. */
  private[graft] val store =
    new IdStore("doc_id", IdStore.Layout("fp_bucket", 64, "fp"), "meta", "fingerprints")

  private def fpRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Base build from a (doc_id, text) relation. The meta store records
    * the modulus and marks the build complete. */
  def saveFingerprintIndexOf(docs: DataFrame, outDir: String): Unit =
    IdStore.rebuild(docs.sparkSession, outDir)(build(_, docs))

  private def build(w: IdStore.Writer, docs: DataFrame): Unit = {
    import w.spark.implicits._
    w.add("fingerprints")(store.layout.write(fpRows(docs), _))
    w.add("meta")(Seq(store.layout.modulus).toDF("fp_buckets").coalesce(1).write.parquet(_))
  }

  /** Replay-guarded delta append: doc_ids the store already holds
    * anti-join out (a retried ingest is a no-op); a first delta into an
    * empty dir IS the base build; a delta doc_id present in the
    * tombstone set is being deliberately RE-INGESTED — its dead rows
    * expunge and its tombstone withdraws BEFORE the replay guard runs,
    * so the fresh row appends and neither generation double-serves
    * (without it, the guard would silently absorb the re-ingest and the
    * next compaction would erase the doc for good). The guard scans only
    * the delta's fp buckets: `fp` is a pure function of the text, so a
    * replayed doc's row sits in exactly the bucket its delta row hashes
    * to. Appended rows land as dynamic partition appends touching only
    * the delta's fp buckets. */
  def appendFingerprintDelta(deltaDocs: DataFrame, indexDir: String): Unit =
    store.write(deltaDocs.sparkSession, indexDir) { w =>
      if (!w.has("meta")) build(w, deltaDocs)
      else w.add("fingerprints")(store.layout.write(
        store.admit(w, fpRows(deltaDocs))(store.expungeKeyed(w, _)), _))
    }

  /** Which held docs does each probe doc exactly duplicate (normalized
    * fingerprint equality)? Output: (probe_id, doc_id) — `doc_id` the
    * held original. The store scan prunes to the batch's fp-bucket
    * partitions; tombstoned docs never flag; a replayed doc_id does not
    * flag itself. NO forced broadcast of the probe side: callers range
    * from streaming micro-batches (tiny — AQE broadcasts them on its
    * own) to [[Pipeline.curatedDeltaFromIndex]] handing in 30–60 % of
    * the corpus, where a forced broadcast risks driver/executor OOM at
    * real scale; the bucket prune on the store side bounds the join
    * either way, so the hint is all risk and no win. */
  def probeFingerprints(probeDocs: DataFrame, indexDir: String): DataFrame = {
    val spark = probeDocs.sparkSession
    val v = IdStore.latest(spark, indexDir)
    val probes = fpRows(probeDocs).select(col("doc_id").as("probe_id"), col("fp"))
    val pruned = v.read(spark, "fingerprints")
      .where(col(store.layout.column).isin(store.layout.bucketsOf(probes): _*))
      .select(col("doc_id"), col("fp"))
    probes.join(store.live(pruned, v.tombstones(spark, "doc_id")), Seq("fp"))
      .where(col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id"))
      .distinct()
      .orderBy("probe_id", "doc_id")
  }

  /** Retire docs — tombstones, not rewrites; idempotent. */
  def tombstoneDocs(deletedIds: DataFrame, indexDir: String): Unit =
    store.tombstone(deletedIds, indexDir)

  /** Expunge the tombstones (only the fp buckets holding a dead doc's
    * row rewrite) and drop them, in one version. */
  def compactFingerprintIndex(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)(store.expungeKeyed)
}
