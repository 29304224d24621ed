package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dotProduct
import graft.ops.Lifecycle.{Append, Compact, Reappend, Tombstone}

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
  * survivors. Every mutation publishes one version of the artifact
  * ([[IdStore]]).
  */
object LshIndex {

  /** Partition layout of the probe store. The (tbl, bucket) key space is
    * nTables × 2^bits — hashing it into a bounded dir count keeps the
    * artifact listable while a probe batch still prunes to ≤ its own
    * bucket vocabulary. */
  private val BucketLayout = IdStore.Layout("bucket_bucket", 64, "tbl", "bucket")

  /** The artifact's lifecycle: buckets derived, meta beside them, the
    * vectors store keyed (`id_bucket` — the replay guard's and the
    * expunge's prune). */
  private[graft] val store =
    new IdStore("vec_id", IdStore.byId("vec_id"), "meta", "buckets", "vectors")

  private val persistedIndex = new TempArtifacts("graft-lsh-index")
  def releaseStages(spark: SparkSession): Int = persistedIndex.release(spark)

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
    * The rebuild reads the live set from the current version's files
    * and publishes every store anew in one version (tombstones already
    * applied, so dropped): a crash at any point leaves the old version
    * serving — no reader ever sees a mixed-geometry artifact — and
    * re-running the maintenance converges. Cost: one
    * artifact-proportional rebuild, on the maintenance cadence, only
    * when geometry actually drifted. Returns the new (bits, nTables) if
    * a rebuild ran. */
  def maintainGeometry(spark: SparkSession, indexDir: String): Option[(Int, Int)] =
    store.write(spark, indexDir) { w =>
      val (bits, nTables) = metaOf(w.read("meta"))
      val live = store.live(vectorsOf(w.read("vectors")), w.tombstones("vec_id"))
      val target = Similarity.adaptiveLshConfig(live.count())
      if (target == ((bits, nTables))) None
      else {
        w.clear()
        build(w, live, target._1, target._2)
        Some(target)
      }
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
    * is a reliable fix; a materialized column is (in the writer's
    * scratch space, gone with it at publish). */
  private def addBuckets(w: IdStore.Writer, vecs: DataFrame, bits: Int, nTables: Int): Unit = {
    val staging = w.scratch()
    Similarity.lshSignaturesOf(vecs, bits, nTables)
      .select(col("vec_id"), col("buckets"))
      .write.parquet(staging)
    w.add("buckets")(BucketLayout.write(w.spark.read.parquet(staging)
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket"))), _))
  }

  /** The frozen geometry (bits, nTables) of a published version:
    * mixing bucket keys from two geometries in one store zeroes recall
    * across the split. Memoized in the artifact's slot ([[StoreMemo]]):
    * a parquet footer + head() job per serve otherwise. */
  private def readMeta(spark: SparkSession, v: IdStore.Version): (Int, Int) =
    StoreMemo.get(spark, v.dir, v.id, "lsh.meta")(metaOf(v.read(spark, "meta")))

  private def metaOf(meta: DataFrame): (Int, Int) = {
    val r = meta.head()
    // FAIL FAST, never guess: a meta without the layout fields predates
    // the partitioned stores, and the serve/expunge/guard partition
    // prunes over an unpartitioned store would serve silently-empty
    // candidates — an error is the safe answer; migrate the artifact.
    require(hasLayout(r.schema.fieldNames),
      "the LSH meta predates the partition-prune layout; " +
        "run LshIndex.migrateLshIndex once to upgrade it in place")
    (r.getAs[Int]("bits"), r.getAs[Int]("n_tables"))
  }

  private def hasLayout(fields: Array[String]): Boolean =
    fields.contains("bucket_buckets") && fields.contains("id_buckets")

  /** The frozen geometry plus the layout moduli — the meta store. */
  private def writeMeta(spark: SparkSession, bits: Int, nTables: Int, path: String): Unit = {
    import spark.implicits._
    Seq((bits, nTables, BucketLayout.modulus, store.layout.modulus))
      .toDF("bits", "n_tables", "bucket_buckets", "id_buckets")
      .coalesce(1).write.parquet(path)
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
    * vectors, never the upstream corpus. It reads the stores' listing
    * (what a pre-upgrade deployment holds has no version log) and
    * publishes the rebuilt stores as one version, so a crash
    * mid-migration leaves the artifact as it was. Tombstoned vectors
    * are applied by the rebuild. Idempotent: a current-layout artifact
    * is a no-op. */
  def migrateLshIndex(spark: SparkSession, indexDir: String): Boolean = {
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    if (hasLayout(meta.schema.fieldNames)) return false
    val dead = new org.apache.hadoop.fs.Path(indexDir, "tombstones")
    val vectors = store.live(
      spark.read.parquet(s"$indexDir/vectors").select(col("vec_id"), col("u")),
      if (IdStore.fsOf(spark, indexDir).exists(dead))
        Some(spark.read.parquet(dead.toString).select("vec_id").distinct())
      else None)
    IdStore.rebuild(spark, indexDir)(
      build(_, vectors, meta.getAs[Int]("bits"), meta.getAs[Int]("n_tables")))
    true
  }

  /** The vectors store in its public (vec_id, u) shape — every reader
    * goes through this so the physical `id_bucket` partition column
    * never leaks into served relations. */
  private def vectorsOf(stored: DataFrame): DataFrame = stored.select(col("vec_id"), col("u"))

  /** Persist the index from an arbitrary unit-vector relation. Geometry
    * defaults to the adaptive derivation over THIS relation's count —
    * the bucket-population-vs-scale story of the live path, frozen into
    * the artifact's meta for every later delta. */
  def saveLshIndexOf(vecs: DataFrame, outDir: String,
      bits: Int = 0, nTables: Int = 0): Unit =
    IdStore.rebuild(vecs.sparkSession, outDir)(build(_, vecs, bits, nTables))

  /** Add every store of a build over `vecs` (geometry as in
    * [[saveLshIndexOf]]). */
  private def build(w: IdStore.Writer, vecs: DataFrame, bits: Int, nTables: Int): Unit = {
    val (bitsEff, nTablesEff) =
      if (bits > 0 && nTables > 0) (bits, nTables)
      else Similarity.adaptiveLshConfig(vecs.count())
    require(bitsEff <= 30, "bucket keys fold into one positive Int")
    w.add("vectors")(store.layout.write(vectorsOf(vecs), _))
    // bucket store derives from the just-written vectors parquet — a
    // second scan of the artifact, not of the upstream corpus
    addBuckets(w, vectorsOf(w.read("vectors")), bitsEff, nTablesEff)
    w.add("meta")(writeMeta(w.spark, bitsEff, nTablesEff, _))
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
      expectedCorpusVectors: Long = 0L): Unit =
    store.write(deltaVecs.sparkSession, indexDir) { w =>
      if (!w.has("meta")) {
        // bootstrap: the first delta IS the base build. The geometry it
        // freezes should fit the corpus the artifact will GROW INTO, not
        // the first day's batch — a caller that knows the expected corpus
        // size passes it and the adaptive derivation runs over that
        // (ADVICE r12: a small first delta otherwise pins small-batch
        // (bits, nTables) forever, degrading selectivity as days accrue).
        val (b, t) = if (expectedCorpusVectors > 0L)
          Similarity.adaptiveLshConfig(expectedCorpusVectors) else (0, 0)
        build(w, deltaVecs, b, t)
      } else {
        val (bits, nTables) = metaOf(w.read("meta"))
        val delta = vectorsOf(deltaVecs).cache()
        delta.count()
        val fresh = store.admit(w, delta)(expunge(w, _)).cache()
        fresh.count()
        // both stores' files publish as one version: a crash anywhere
        // leaves the previous version serving, and the re-run re-admits
        // the whole delta with no duplicate row in either store
        addBuckets(w, fresh, bits, nTables)
        w.add("vectors")(store.layout.write(fresh, _))
        fresh.unpersist(blocking = false)
        delta.unpersist(blocking = false)
      }
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
  private def expunge(w: IdStore.Writer, dead: DataFrame): Unit = {
    val (bits, nTables) = metaOf(w.read("meta"))
    val deadVecs = vectorsOf(w.read("vectors")).join(dead, Seq("vec_id"), "left_semi")
    val touched = BucketLayout.bucketsOf(Similarity.lshSignaturesOf(deadVecs, bits, nTables)
      .select(posexplode(col("buckets")).as(Seq("tbl", "bucket"))))
    IdStore.expunge(w, "buckets", BucketLayout.column, "vec_id", dead, Some(touched))
    store.expungeKeyed(w, dead)
  }

  /** Expunge the tombstones — rewrite only touched bucket and id
    * partitions and drop the tombstone set, in one version.
    * Answer-invisible by construction; for THIS family compaction ≡
    * fresh rebuild EXACTLY (no frozen trained state). */
  def compactLshIndex(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)(expunge)

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
    val v = IdStore.latest(spark, indexDir)
    val (bits, nTables) = readMeta(spark, v)
    val dead = v.tombstones(spark, "vec_id")
    def live(df: DataFrame): DataFrame = store.live(df, dead)
    val vectors = live(vectorsOf(v.read(spark, "vectors")))
    // The query batch is bounded (nQueries rows of 64 doubles), but its
    // plan scans the FULL id-bucketed vectors store — the vec_id filter
    // can't prune files because ids are hash-spread across dirs. The
    // uncached relation was evaluated THREE times per serve (probe
    // bucket-id collect, probe-side broadcast, rescore-side broadcast):
    // three full store scans to read 200 rows. Collect it ONCE into a
    // local relation — memoized in the artifact's slot: repeat serves
    // of an unmutated artifact skip the scan entirely, and any lifecycle
    // mutation (including tombstones, which anti-join the batch)
    // publishes a fresh version. Scale-safe: nQueries is the caller's
    // bounded batch, the same rows the two broadcasts already shipped to
    // every task.
    import spark.implicits._
    val qvRows = StoreMemo.get(spark, v.dir, v.id, s"lsh.qv:$nQueries")(
      vectors.where(col("vec_id") < nQueries)
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
    val corpus = live(v.read(spark, "buckets")
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
    val v = IdStore.latest(spark, indexDir)
    val (bits, nTables) = readMeta(spark, v)
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
    val pruned = v.read(spark, "buckets")
      .where(col(BucketLayout.column).isin(BucketLayout.bucketsOf(probes): _*))
      .select(col("vec_id"), col("tbl"), col("bucket"))
    val held = store.live(pruned, v.tombstones(spark, "vec_id"))
    val cand = probes.join(held, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("pu"), col("vec_id"))
      .dropDuplicates("probe_id", "vec_id")
    cand.join(vectorsOf(v.read(spark, "vectors"))
        .select(col("vec_id"), col("u").as("nu")), Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dotProduct(col("pu"), col("nu")), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .orderBy("probe_id", "vec_id")
  }

  /** The artifact's exact-rescore store, SERVABLE: the latest version's
    * rows with pending tombstones anti-joined out — what any external
    * reader (the hybrid fusion's dense pool) must consume instead of the
    * raw parquet, or dead vectors and unpublished rows re-enter its
    * answers. */
  def liveVectors(spark: SparkSession, indexDir: String): DataFrame = {
    val v = IdStore.latest(spark, indexDir)
    store.live(vectorsOf(v.read(spark, "vectors")), v.tombstones(spark, "vec_id"))
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
      nQueries: Int = 200, k: Int = 3): DataFrame =
    lshTopKFromIndex(spark, Lifecycle.artifact(persistedIndex, IndexFamily.lsh, spark, dir,
      Append, Tombstone, Reappend, Compact), nQueries, k)
}
