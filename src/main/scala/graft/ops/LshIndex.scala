package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dotProduct

/** Persisted sign-LSH ANN index — the artifact lifecycle for the
  * multi-table random-hyperplane family ([[Similarity.lshTopK]], q38/
  * q92), completing index-family uniformity: BM25 postings, flat IVF,
  * two-level IVF, IVFPQ, the image hash index, and the daily sketch
  * rollup all outlive a session as parquet; the LSH family was the one
  * ANN path still rebuilt per session.
  *
  * LSH is the family where persistence is CHEAPEST to keep correct:
  * bucket keys are pure deterministic functions of the vector
  * ([[Similarity.hyperplaneWeight]]'s seeded integer lattice), so there
  * is no trained state to freeze — no codebook drift between base and
  * delta, and compaction ≡ rebuild EXACTLY (the q136/q141 "frozen
  * codebook" caveat vanishes). The only frozen state is the geometry
  * config itself: (bits, nTables) chosen at base-build time (adaptive
  * by corpus size, [[Similarity.adaptiveLshConfig]]) is stored in a
  * `meta` relation and reused by every delta — mixing keys from two
  * geometries in one store would silently zero recall across the split.
  *
  * Layout (the postings/image-index twins):
  *   - `$dir/vectors` — (vec_id, u), partitioned by `id_bucket =
  *     pmod(xxhash64(vec_id), 64)`: the exact-rescore store, AND the
  *     replay guard's scan target — the guard and the expunge prune to
  *     the id buckets their id-set hashes to, so append/delete cost is
  *     ∝ the delta, never the corpus.
  *   - `$dir/buckets` — (vec_id, tbl, bucket), partitioned by
  *     `bucket_bucket = pmod(xxhash64(tbl, bucket), 64)`: the probe-side
  *     store. A small probe batch collects its bucket ids locally and
  *     pushes a static partition filter — probe cost ∝ the batch's
  *     bucket vocabulary, never the corpus.
  *   - `$dir/meta` — (bits, n_tables, bucket_buckets, id_buckets): the
  *     frozen geometry and the two (fixed) layout moduli.
  *   - `$dir/tombstones` — (vec_id): anti-joined at serve, expunged by
  *     [[compactLshIndex]].
  *
  * Full lifecycle contract, uniform with the other five families: base
  * build → delta append (replay guard + bootstrap) → tombstone →
  * re-append RESURRECTS a deleted vector → compaction ≡ rebuild of the
  * survivors. All swaps crash-safe via [[SafeSwap]].
  */
object LshIndex {

  /** Partition layout of the probe store. The (tbl, bucket) key space is
    * nTables × 2^bits — hashing it into a bounded dir count keeps the
    * artifact listable while a probe batch still prunes to ≤ its own
    * bucket vocabulary. */
  private val BucketLayout = IdStore.Layout("bucket_bucket", 64, "tbl", "bucket")

  /** The artifact's lifecycle: buckets derived, the vectors store keyed
    * (`id_bucket` — the replay guard's and the expunge's prune).
    * Entry-point recovery first completes a crashed geometry rebuild
    * ([[maintainGeometry]]) from its durable snapshot — a committed
    * rebuild supersedes every store (it overwrites all of them); with
    * no marker, a leftover snapshot is a crash BEFORE the commit point
    * and the old artifact is intact, so the snapshot drops — and drops a
    * [[writeBuckets]] staging dir a crash between its two jobs left
    * behind (pure derivation — the re-run rewrites it). */
  private[graft] val store =
    new IdStore("vec_id", IdStore.byId("vec_id"), "buckets", "vectors") {
      override def recover(spark: SparkSession, indexDir: String): Boolean = {
        val fs = IdStore.fsOf(spark, indexDir)
        if (fs.exists(regeomMarker(indexDir))) rebuildFromSnapshot(spark, indexDir)
        else fs.delete(fsPath(regeomSnapshot(indexDir)), true)
        fs.delete(fsPath(s"$indexDir/sig_staging_tmp"), true)
        super.recover(spark, indexDir)
      }
    }

  private val persistedIndex = new TempArtifacts("graft-lsh-index")
  private[ops] def persistedIndexDirFor(spark: SparkSession, dir: String): Option[String] =
    persistedIndex.peek(spark, dir)
  def releaseStages(spark: SparkSession): Int = {
    metaCache.keySet.removeIf(_._1 eq spark)
    qvCache.keySet.removeIf(_._1 eq spark)
    persistedIndex.release(spark)
  }

  /** Serve-path memos, keyed by the ARTIFACT's content tag
    * ([[StageCache.inputTag]] over the whole index dir), so any
    * lifecycle mutation — append, tombstone, compaction, migration,
    * regeometry rebuild — mints a fresh key and the next serve re-reads.
    * Two per-serve fixed costs that cannot change between mutations:
    * the meta row (a parquet footer + head() job per serve) and the
    * query-vector batch (a full id-bucketed vectors-store scan, 32
    * tasks, to collect nQueries bounded rows — vec_id is hash-spread
    * across dirs, so no file prune applies). The tag listing itself is
    * metadata-only (~sub-ms on the artifact's ~130 files). */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Int, Int)]()
  private val qvCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Int), Seq[(Long, Seq[Double])]]()

  private def fsPath(p: String) = new org.apache.hadoop.fs.Path(p)

  private def regeomMarker(indexDir: String) = fsPath(s"$indexDir/_regeom_pending")
  private def regeomSnapshot(indexDir: String) = s"$indexDir/regeom_snapshot"

  /** The committed half of a geometry rebuild: overwrite every store
    * from the durable live-vector snapshot under freshly-derived
    * adaptive geometry, drop the (already-applied) tombstones, then
    * clear the marker + snapshot. Idempotent from ANY crash point —
    * every write is an overwrite of a derived store and the snapshot is
    * the single source of truth — so [[store]]'s recovery can re-run it
    * wholesale; until the marker clears, no reader ever sees a mixed
    * old/new-geometry artifact (every entry point recovers first). */
  private def rebuildFromSnapshot(spark: SparkSession, indexDir: String): Unit = {
    val fs = IdStore.fsOf(spark, indexDir)
    saveLshIndexOf(spark.read.parquet(regeomSnapshot(indexDir)), indexDir)
    fs.delete(fsPath(s"$indexDir/tombstones"), true)
    fs.delete(regeomMarker(indexDir), false)
    fs.delete(fsPath(regeomSnapshot(indexDir)), true)
  }

  /** Geometry-drift maintenance — the lifecycle step the frozen
    * (bits, nTables) otherwise lacks: bootstrap sizes geometry for the
    * corpus the artifact is EXPECTED to grow into
    * ([[appendLshDelta]]'s `expectedCorpusVectors`), but an artifact
    * that outgrows even that (years past the estimate) degrades
    * silently — bucket population scales ∝ n/2^bits, so probe cost
    * creeps corpus-linear while recall stays fine. This measures the
    * LIVE corpus size (one count over the narrow vectors store,
    * tombstones out — the per-bucket population target
    * [[Similarity.adaptiveLshConfig]] derives from is a pure function
    * of it) against the frozen geometry and, when the adaptive target
    * has moved off the frozen plateau, rebuilds the artifact under the
    * new geometry. Rebuild-ness is already the family's proven
    * property (compaction ≡ rebuild EXACTLY — no trained state), so
    * the rebuild is answer-preserving by construction.
    *
    * Crash-safe via a commit marker: the live set is SNAPSHOTTED to a
    * staging store first (the rebuild overwrites the very stores it
    * reads), the marker commits the intent, and the rebuild runs from
    * the snapshot with overwrite-mode writes only — a crash at any
    * point re-runs [[rebuildFromSnapshot]] at the next entry
    * ([[store]]'s recovery), so no reader ever serves a mixed-geometry
    * artifact. Cost: one artifact-proportional rebuild, on the
    * maintenance cadence, only when geometry actually drifted.
    * Returns the new (bits, nTables) if a rebuild ran. */
  def maintainGeometry(spark: SparkSession, indexDir: String): Option[(Int, Int)] = {
    store.recover(spark, indexDir)
    val (bits, nTables) = readMeta(spark, indexDir)
    val live = liveVectors(spark, indexDir)
    val target = Similarity.adaptiveLshConfig(live.count())
    if (target == ((bits, nTables))) return None
    live.write.mode("overwrite").parquet(regeomSnapshot(indexDir))
    IdStore.fsOf(spark, indexDir).create(regeomMarker(indexDir), true).close() // the commit point
    rebuildFromSnapshot(spark, indexDir)
    Some(target)
  }

  /** Write the bucket store rows of a unit-vector relation under a
    * fixed geometry: one row per (vec_id, table), partitioned by
    * `bucket_bucket`. Keying goes through
    * [[Similarity.lshSignaturesOf]], so the artifact and the live q38
    * path can never bucket differently.
    *
    * Two separate jobs ON PURPOSE (the ImageIndex bands discipline —
    * derive the wide store from a just-written narrow one): the
    * bits×tables-dot signature array is computed in ONE codegen'd
    * projection and landed as a tiny staging parquet (nTables ints per
    * vector); the explode then generates from a STORED column. Feeding
    * the array expression to the Generate directly collapses it into
    * the generator, falls out of whole-stage codegen, and re-evaluates
    * the whole array INTERPRETED per exploded output row — measured
    * 98–197 s vs ~4 s for the 200 k × (14, 8) artifact build. Neither
    * an exchange barrier (optimizer re-floats the projection) nor a
    * dataset cache (an artifact build shouldn't pin executor memory)
    * is a reliable fix; a materialized column is. Crash window
    * (staging written, buckets not, or buckets appended, vectors not):
    * re-runs converge — see [[appendLshDelta]]. */
  private def writeBuckets(vecs: DataFrame, bits: Int, nTables: Int,
      indexDir: String, mode: String): Unit = {
    val spark = vecs.sparkSession
    val staging = s"$indexDir/sig_staging_tmp"
    Similarity.lshSignaturesOf(vecs, bits, nTables)
      .select(col("vec_id"), col("buckets"))
      .write.mode("overwrite").parquet(staging)
    BucketLayout.write(spark.read.parquet(staging)
        .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket"))),
      s"$indexDir/buckets", mode)
    IdStore.fsOf(spark, indexDir).delete(fsPath(staging), true)
  }

  /** The frozen geometry (bits, nTables): mixing bucket keys from two
    * geometries in one store zeroes recall across the split. */
  private def readMeta(spark: SparkSession, indexDir: String): (Int, Int) =
    metaCache.computeIfAbsent(
      (spark, StageCache.inputTag(spark, s"$indexDir/meta")),
      _ => readMetaUncached(spark, indexDir))

  private def readMetaUncached(spark: SparkSession, indexDir: String): (Int, Int) = {
    val r = spark.read.parquet(s"$indexDir/meta").head()
    // FAIL FAST, never guess: a meta without the layout fields predates
    // the partitioned stores, and the serve/expunge/guard partition
    // prunes over an unpartitioned store would serve silently-empty
    // candidates — an error is the safe answer; migrate the artifact.
    require(r.schema.fieldNames.contains("bucket_buckets") &&
        r.schema.fieldNames.contains("id_buckets"),
      s"$indexDir/meta predates the partition-prune layout; " +
        "run LshIndex.migrateLshIndex once to upgrade it in place")
    (r.getAs[Int]("bits"), r.getAs[Int]("n_tables"))
  }

  /** The frozen geometry plus the layout moduli — the meta store. */
  private def writeMeta(spark: SparkSession, bits: Int, nTables: Int, path: String): Unit = {
    import spark.implicits._
    Seq((bits, nTables, BucketLayout.modulus, store.layout.modulus))
      .toDF("bits", "n_tables", "bucket_buckets", "id_buckets")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** One-shot in-place upgrade of a pre-partition-prune artifact (meta
    * without `bucket_buckets`) to the current layout — the migration
    * path a long-lived nightly deployment needs on library upgrade,
    * instead of [[readMeta]]'s fail-fast crashing serve/append/compact
    * until a manual rebuild. GUESSING the modulus would be unsound (a
    * probe hashed mod 64 silently misses rows laid out mod 16), but
    * REBUILDING is not: bucket keys are pure functions of the vector
    * under the frozen (bits, nTables), so rewriting the bucket store
    * from the vectors store reproduces exactly what a current-layout
    * build would have written — one pass over the artifact's own
    * vectors, never the upstream corpus. The meta store is swapped LAST
    * (crash-safe commit point: until the new meta lands, readers still
    * fail fast rather than mix layouts). Idempotent: a current-layout
    * artifact is a no-op. */
  def migrateLshIndex(spark: SparkSession, indexDir: String): Boolean = {
    val fs = IdStore.fsOf(spark, indexDir)
    store.recover(spark, indexDir)
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    if (meta.schema.fieldNames.contains("bucket_buckets") &&
        meta.schema.fieldNames.contains("id_buckets")) return false
    val (bits, nTables) = (meta.getAs[Int]("bits"), meta.getAs[Int]("n_tables"))
    // re-layout the vectors store first (tmp + swap — the rewrite reads
    // the store it replaces), then rebuild the bucket store from it; a
    // crash mid-migration leaves a meta that still fails fast, so the
    // artifact stays unreadable-LOUDLY during the window, never
    // silently mixed-layout
    val vTmp = s"$indexDir/vectors_migrate_tmp"
    store.layout.write(spark.read.parquet(s"$indexDir/vectors").select(col("vec_id"), col("u")),
      vTmp, "overwrite")
    SafeSwap.swapDir(fs, fsPath(s"$indexDir/vectors"), fsPath(vTmp))
    writeBuckets(vectorsStore(spark, indexDir), bits, nTables, indexDir, "overwrite")
    val mTmp = s"$indexDir/meta_migrate_tmp"
    writeMeta(spark, bits, nTables, mTmp)
    SafeSwap.swapDir(fs, fsPath(s"$indexDir/meta"), fsPath(mTmp))
    true
  }

  /** The vectors store in its public (vec_id, u) shape — every reader
    * goes through this so the physical `id_bucket` partition column
    * never leaks into served relations. */
  private def vectorsStore(spark: SparkSession, indexDir: String): DataFrame =
    StoreReads.parquet(spark, s"$indexDir/vectors").select(col("vec_id"), col("u"))

  /** Persist the index from an arbitrary unit-vector relation. Geometry
    * defaults to the adaptive derivation over THIS relation's count —
    * the bucket-population-vs-scale story of the live path, frozen into
    * the artifact's meta for every later delta. */
  def saveLshIndexOf(vecs: DataFrame, outDir: String,
      bits: Int = 0, nTables: Int = 0): Unit = {
    val spark = vecs.sparkSession
    val (bitsEff, nTablesEff) =
      if (bits > 0 && nTables > 0) (bits, nTables)
      else Similarity.adaptiveLshConfig(vecs.count())
    require(bitsEff <= 30, "bucket keys fold into one positive Int")
    store.layout.write(vecs.select(col("vec_id"), col("u")), s"$outDir/vectors", "overwrite")
    // bucket store derives from the just-written vectors parquet — a
    // second scan of the artifact, not of the upstream corpus
    writeBuckets(vectorsStore(spark, outDir), bitsEff, nTablesEff, outDir, "overwrite")
    writeMeta(spark, bitsEff, nTablesEff, s"$outDir/meta")
  }

  /** Full-corpus build over the `embeddings` table. */
  def saveLshIndex(spark: SparkSession, dir: String, outDir: String,
      bits: Int = 0, nTables: Int = 0): Unit =
    saveLshIndexOf(Similarity.unitEmbeddings(spark, dir), outDir, bits, nTables)

  /** Merge a delta batch of unit vectors into a persisted artifact —
    * replay-safe (vec_ids already in the vectors store anti-join out;
    * a retried ingest is a no-op), bootstrap-safe (a first delta into
    * an empty dir indexes everything under the adaptive geometry), and
    * resurrection-safe (a delta vec_id present in the tombstone set is
    * expunged and its tombstone withdrawn BEFORE the replay guard runs,
    * so the fresh row appends and neither generation double-serves —
    * [[IdStore.withdraw]]). Appended bucket rows land as
    * dynamic-partition appends touching only the delta's buckets. */
  def appendLshDelta(deltaVecs: DataFrame, indexDir: String,
      expectedCorpusVectors: Long = 0L): Unit = {
    val spark = deltaVecs.sparkSession
    store.recover(spark, indexDir)
    if (!IdStore.fsOf(spark, indexDir).exists(fsPath(s"$indexDir/meta"))) {
      // bootstrap: the first delta IS the base build. The geometry it
      // freezes should fit the corpus the artifact will GROW INTO, not
      // the first day's batch — a caller that knows the expected corpus
      // size passes it and the adaptive derivation runs over that
      // (ADVICE r12: a small first delta otherwise pins small-batch
      // (bits, nTables) forever, degrading selectivity as days accrue).
      val (b, t) = if (expectedCorpusVectors > 0L)
        Similarity.adaptiveLshConfig(expectedCorpusVectors) else (0, 0)
      saveLshIndexOf(deltaVecs, indexDir, bits = b, nTables = t)
      return
    }
    val (bits, nTables) = readMeta(spark, indexDir)
    val delta = deltaVecs.select(col("vec_id"), col("u")).cache()
    delta.count()
    val fresh = store.admit(spark, indexDir, delta)(expunge(spark, indexDir, _)).cache()
    fresh.count()
    // WRITE ORDER MATTERS (the appendPostingsDelta/appendPqDelta
    // contract): the derived store (buckets) appends FIRST, the replay
    // guard's store (vectors) LAST. Appending vectors first invalidates
    // every cached plan that reads the vectors path — including `fresh`
    // itself — and Spark's recache re-runs the anti-join against the
    // post-append listing, evaluating `fresh` to EMPTY for the second
    // write (measured: the delta's bucket rows silently never landed).
    // The commit marker makes the append atomic-by-observation: a crash
    // anywhere between begin and commit rolls the stores back to their
    // recorded listings at the next recover, so the re-run re-admits
    // the whole delta and no duplicate row ever exists in either store.
    store.atomically(spark, indexDir) {
      writeBuckets(fresh, bits, nTables, indexDir, "append")
      store.layout.write(fresh, s"$indexDir/vectors", "append")
    }
    fresh.unpersist(blocking = false)
    delta.unpersist(blocking = false)
  }

  /** Retire vectors — tombstones, not rewrites (cost ∝ |deletes|);
    * idempotent. */
  def tombstoneVectors(deletedIds: DataFrame, indexDir: String): Unit =
    store.tombstone(deletedIds, indexDir)

  /** Drop a dead set's rows from both stores, touched partitions only.
    * Which partitions those are is DERIVED, not discovered: both
    * stores' partition keys are pure functions of the row — the dead
    * set's own signatures (recomputed from the vectors store under the
    * frozen geometry — bit-identical to what the write landed) name the
    * touched `bucket_bucket` dirs, and the dead ids themselves hash to
    * the touched `id_bucket` dirs (no scan at all). The signatures are
    * collected BEFORE the vectors rewrite drops the dead rows they are
    * recomputed from. */
  private def expunge(spark: SparkSession, indexDir: String, dead: DataFrame): Unit = {
    val (bits, nTables) = readMeta(spark, indexDir)
    val deadVecs = vectorsStore(spark, indexDir).join(dead, Seq("vec_id"), "left_semi")
    val touched = BucketLayout.bucketsOf(Similarity.lshSignaturesOf(deadVecs, bits, nTables)
      .select(posexplode(col("buckets")).as(Seq("tbl", "bucket"))))
    IdStore.expunge(s"$indexDir/buckets", BucketLayout.column, "vec_id", dead, Some(touched))
    store.expungeKeyed(indexDir, dead)
  }

  /** Expunge the tombstones — rewrite only touched bucket and id
    * partitions, delete the tombstone set LAST (the commit point).
    * Answer-invisible by construction; for THIS family compaction ≡
    * fresh rebuild EXACTLY (no frozen trained state). */
  def compactLshIndex(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)(expunge(spark, indexDir, _))

  /** Serve multi-probe top-k from the artifact — [[Similarity.lshTopK]]'s
    * exact plan semantics with every corpus-scale relation read from
    * parquet: probes re-derive from the LIVE query vectors under the
    * frozen meta geometry (bit-identical keys by construction), the
    * probe set broadcasts (bounded: nQueries × nTables × |mask ladder|),
    * and its `bucket_bucket` values — collected from that same bounded
    * relation, ≤ 64 longs — push a STATIC partition filter
    * into the bucket-store scan, so probe cost is ∝ the batch's bucket
    * vocabulary, never the corpus (the [[Retrieval.rankedFromIndex]] /
    * [[ImageIndex.probeImages]] twins' discipline). Candidates dedup and
    * the exact rescore joins the vectors store. Tombstoned vectors drop
    * out on BOTH sides (a dead vector neither queries nor serves); the
    * anti-join sits AFTER the partition prune, so it touches only
    * probed rows. */
  def lshTopKFromIndex(spark: SparkSession, indexDir: String,
      nQueries: Int = 200, k: Int = 3, maxFlips: Int = 2): DataFrame = {
    store.recover(spark, indexDir)
    val (bits, nTables) = readMeta(spark, indexDir)
    val dead = store.tombstones(spark, indexDir)
    def live(df: DataFrame): DataFrame = store.live(df, dead)
    val vectors = live(vectorsStore(spark, indexDir))
    // The query batch is bounded (nQueries rows of 64 doubles), but its
    // plan scans the FULL id-bucketed vectors store — the vec_id filter
    // can't prune files because ids are hash-spread across dirs. The
    // uncached relation was evaluated THREE times per serve (probe
    // bucket-id collect, probe-side broadcast, rescore-side broadcast):
    // three full store scans to read 200 rows. Collect it ONCE into a
    // local relation — memoized per (session, artifact content tag):
    // repeat serves of an unmutated artifact skip the scan entirely,
    // and any lifecycle mutation (including tombstones, which anti-join
    // the batch) mints a fresh tag. Scale-safe: nQueries is the
    // caller's bounded batch, the same rows the two broadcasts already
    // shipped to every task.
    import spark.implicits._
    val qvRows = qvCache.computeIfAbsent(
      (spark, StageCache.inputTag(spark, indexDir), nQueries),
      _ => vectors.where(col("vec_id") < nQueries)
        .select(col("vec_id"), col("u"))
        .as[(Long, Seq[Double])].collect().toSeq)
    val qv = qvRows.toDF("vec_id", "u")
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val masks = typedLit(Similarity.probeMasks(bits, maxFlips))
    val probes = Similarity.lshSignaturesOf(
        qv.select(col("q_id").as("vec_id"), col("qu").as("u")), bits, nTables)
      .select(col("vec_id").as("q_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket0")))
      .select(col("q_id"), col("tbl"), col("bucket0"), explode(masks).as("mask"))
      .select(col("q_id"), col("tbl"), col("bucket0").bitwiseXOR(col("mask")).as("bucket"))
    val corpus = live(StoreReads.parquet(spark, s"$indexDir/buckets")
        .where(col(BucketLayout.column).isin(BucketLayout.bucketsOf(probes): _*)))
      .select(col("vec_id"), col("tbl"), col("bucket"))
    val cand = broadcast(probes).join(corpus, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val scored = cand
      .join(broadcast(qv), Seq("q_id"))
      .join(vectors.select(col("vec_id").as("neighbor_id"), col("u").as("nu")),
        Seq("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"),
        dotProduct(col("qu"), col("nu")).as("cos"))
    Similarity.rankTopK(scored, k)
  }

  /** Ingest-gate probe: which HELD vectors is each arriving vector a
    * near-duplicate of? The vector analog of [[ImageIndex.probeImages]],
    * under q95's candidate discipline (same bucket in ≥1 table, no flip
    * ladder — near-dup targets high-cosine pairs whose per-table
    * collision probability is already high): the arriving batch's
    * signatures are computed ONCE under the frozen meta geometry, the
    * buckets they hash to collected from a LOCAL bounded relation
    * (≤ 64 values) and pushed as a static partition filter —
    * the bucket-store scan reads only the probed directories, so probe
    * cost is bounded by the delta's bucket vocabulary no matter how
    * large the corpus grows. Candidates rescore with the exact cosine
    * against the vectors store; tombstoned vectors never flag; a
    * replayed vec_id does not flag itself.
    * Output: (probe_id, vec_id, cos_sim) at cos_sim ≥ threshold. */
  def probeVectors(probeVecs: DataFrame, indexDir: String,
      threshold: Double = 0.4): DataFrame = {
    val spark = probeVecs.sparkSession
    store.recover(spark, indexDir)
    val (bits, nTables) = readMeta(spark, indexDir)
    // UNCACHED on purpose: the probe relation is read twice (the local
    // bucket-id collect below + the candidate join), but each read is
    // one narrow codegen'd projection over the delta. A cache here
    // pins one resident entry PER CALL (per-batch probe data means
    // per-call plans — CacheManager can't dedupe them), which a
    // per-trigger streaming caller would accumulate forever; paying the
    // projection twice is strictly cheaper than any release protocol.
    val probes = Similarity.lshSignaturesOf(
        probeVecs.select(col("vec_id"), col("u")), bits, nTables)
      .select(col("vec_id").as("probe_id"), col("u").as("pu"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val pruned = StoreReads.parquet(spark, s"$indexDir/buckets")
      .where(col(BucketLayout.column).isin(BucketLayout.bucketsOf(probes): _*))
      .select(col("vec_id"), col("tbl"), col("bucket"))
    val held = store.live(pruned, store.tombstones(spark, indexDir))
    val cand = probes.join(held, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("pu"), col("vec_id"))
      .dropDuplicates("probe_id", "vec_id")
    cand.join(vectorsStore(spark, indexDir)
        .select(col("vec_id"), col("u").as("nu")), Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dotProduct(col("pu"), col("nu")), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .orderBy("probe_id", "vec_id")
  }

  /** The artifact's exact-rescore store, SERVABLE: crash-recovered and
    * with pending tombstones anti-joined out — what any external reader
    * (the hybrid fusion's dense pool) must consume instead of the raw
    * parquet, or dead vectors re-enter its answers between a tombstone
    * and the next compaction. */
  def liveVectors(spark: SparkSession, indexDir: String): DataFrame = {
    store.recover(spark, indexDir)
    store.live(vectorsStore(spark, indexDir), store.tombstones(spark, indexDir))
  }

  /** q164: q38's multi-probe top-k served ENTIRELY from the persisted
    * artifact — same oracle as q38 (the adaptive geometry sits on the
    * 8×8 plateau at gate scale): the session-stage shape and the
    * restart-from-artifact shape pin one answer. Built on first use per
    * (session, dir) — the q127 memoization discipline. */
  def lshTopKPersisted(spark: SparkSession, dir: String,
      nQueries: Int = 200, k: Int = 3): DataFrame =
    lshTopKFromIndex(spark, persistedDir(spark, dir), nQueries, k)

  /** The session's persisted LSH artifact for `dir`, built on first use —
    * shared by the q164 gate and the hybrid from-artifact serving path
    * (whose dense pool rescores over the artifact's `vectors` store). */
  private[ops] def persistedDir(spark: SparkSession, dir: String): String =
    persistedIndex.getOrCreate(spark, dir)(saveLshIndex(spark, dir, _))

  /** q171: the geometry-drift maintenance path under q38's oracle — an
    * artifact deliberately frozen OFF the adaptive plateau (bits+4, the
    * "years past the estimate" shape) is measured and rebuilt by
    * [[maintainGeometry]] back onto it; the serve afterward must be
    * EXACTLY the adaptive build's relation (rebuild ≡ fresh build, the
    * family's no-trained-state property), so the maintenance rebuild is
    * answer-pinned in the hash gate, not just spec-asserted. */
  def lshTopKRegeometried(spark: SparkSession, dir: String,
      nQueries: Int = 200, k: Int = 3): DataFrame = {
    val indexDir = persistedIndex.getOrCreate(spark, s"$dir#regeom") { tmp =>
      val vecs = Similarity.unitEmbeddings(spark, dir)
      val target = Similarity.adaptiveLshConfig(vecs.count())
      saveLshIndexOf(vecs, tmp, bits = target._1 + 4, nTables = target._2)
      require(maintainGeometry(spark, tmp).contains(target),
        "the drifted artifact must rebuild onto the adaptive plateau")
    }
    lshTopKFromIndex(spark, indexDir, nQueries, k)
  }

  /** q165: the FULL lifecycle composed in one relation — base build
    * (70 %) → delta append (30 %) → tombstone a 10 % delete set spanning
    * both → re-append half the deleted vectors (resurrection) → compact
    * → serve. Because bucket keys carry no trained state, the
    * composition ≡ a fresh build of the surviving corpus EXACTLY, and
    * the gate pins it under q38's oracle restricted to the survivors —
    * the geometry is pinned to the base plateau (8×8 at gate scale) by
    * freezing meta at base-build time, exactly what a production ingest
    * does. */
  def lshTopKComposed(spark: SparkSession, dir: String,
      nQueries: Int = 200, k: Int = 3,
      batchPct: Int = 30, deletePct: Int = 10, reappendPct: Int = 50): DataFrame = {
    val indexDir = persistedIndex.getOrCreate(
      spark, s"$dir#lifecycle:$batchPct:$deletePct:$reappendPct") { tmp =>
      val vecs = Similarity.unitEmbeddings(spark, dir).select(col("vec_id"), col("u"),
        (pmod(col("vec_id") * lit(2654435761L), lit(100)) < batchPct).as("incoming"),
        (pmod(col("vec_id") * lit(7919L), lit(100)) < deletePct).as("deleted"))
      saveLshIndexOf(vecs.where(!col("incoming")).select("vec_id", "u"), tmp)
      appendLshDelta(vecs.where(col("incoming")).select("vec_id", "u"), tmp)
      tombstoneVectors(vecs.where(col("deleted")).select("vec_id"), tmp)
      appendLshDelta(
        vecs.where(col("deleted") &&
            pmod(col("vec_id") * lit(104729L), lit(100)) < reappendPct)
          .select("vec_id", "u"), tmp)
      compactLshIndex(spark, tmp)
    }
    lshTopKFromIndex(spark, indexDir, nQueries, k)
  }
}
