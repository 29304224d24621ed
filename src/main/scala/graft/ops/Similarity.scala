package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.functions.DotProduct
import graft.functions.SqlMath.roundHalfUp
import graft.functions.VectorFunctions.dotProduct
import graft.ops.Lifecycle.{Append, Compact, Reappend, Tombstone}

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim).
  *
  * Three paths, mirroring how a production vector pipeline is layered:
  *  - [[bruteForceTopK]] / [[nearDup]]: exact cosine over a bounded query
  *    or candidate set — the correctness baseline. The pair join is a
  *    broadcast nested-loop on the (small) query side; the big side
  *    streams. At 100 TB you bound the left side, never the corpus.
  *  - [[lshTopK]]: multi-table sign-projection LSH with multi-probe —
  *    `nTables` hash tables over seeded random hyperplanes; queries probe each
  *    table's own bucket plus flip-one-bit buckets. Widening `bits`
  *    keeps bucket population bounded as the corpus grows (2^bits
  *    buckets per table); tables and probes buy the recall back.
  *    Candidates remain a hash equi-join on (table, bucket).
  *  - [[ivfTopK]]: IVF — vectors are assigned to their nearest coarse
  *    centroid (the inverted file); queries probe the nProbe nearest
  *    centroid lists. The codebook is trained with one deterministic
  *    Lloyd round (see [[ivfCentroids]]); corpus-side assignment is a
  *    single `max_by` hash aggregate — no window sort over the corpus.
  *  - [[annRecall]]: recall@k of both ANN paths against the exact
  *    brute-force answer — makes the ANN quality claims falsifiable.
  *
  * All vector math is the codegen'd [[graft.functions.DotProduct]] or
  * `transform` higher-order functions in double precision, summed in
  * index order — bit-reproducible in the DuckDB oracle, no UDFs.
  */
object Similarity {

  /** Unit-normalized double vector (pre-normalizing turns every cosine
    * into a plain dot product — one sqrt per vector instead of per pair). */
  private[graft] def unitVec(v: Column): Column = {
    val d = transform(v, x => x.cast("double"))
    val norm = sqrt(dotProduct(d, d))
    transform(d, x => x / norm)
  }

  /** Pair scoring uses the codegen'd [[graft.functions.DotProduct]]
    * expression: one fused loop, no per-pair intermediate array (the
    * `aggregate(zip_with(...))` HOF shape allocates one), identical
    * index-order summation. */
  private def dot(a: Column, b: Column): Column = dotProduct(a, b)

  /** The vector width the sub books and the PQ subspaces are laid out
    * for: the embedding table's 64 dims. */
  private val Dim = 64

  private[graft] def unitEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddingsSpread(spark, dir)
      .select(col("vec_id"), unitVec(col("embedding")).as("u"))

  /** Top-k rank within each query by exact cosine, deterministic
    * tiebreak. The window partitions by q_id over per-query candidate
    * lists — bounded rows per partition, never corpus-wide. */
  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(round(col("cos"), 6).desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Exact cosine top-k for a bounded query set against the full corpus. */
  def bruteForceTopK(spark: SparkSession, dir: String,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = unitEmbeddings(spark, dir)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), dot(col("qu"), col("u")).as("cos"))
    rankTopK(scored, k)
  }

  /** Embedding near-dup pairs: exact cosine >= threshold over a bounded
    * candidate set (vec_id < limit both sides). */
  def nearDup(spark: SparkSession, dir: String,
      limit: Int = 500, threshold: Double = 0.4): DataFrame = {
    val e = unitEmbeddings(spark, dir).where(col("vec_id") < limit)
    val a = e.select(col("vec_id").as("vec_a"), col("u").as("ua"))
    val b = e.select(col("vec_id").as("vec_b"), col("u").as("ub"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), round(dot(col("ua"), col("ub")), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Seeded random-hyperplane component: (table, bit, dim) → an integer
    * weight in [-512, 511] via a splitmix64 finalizer over the mixed
    * coordinates. INTEGER weights on purpose: both engines see the same
    * exactly-representable double literals (no decimal-formatting ulp
    * risk), and an integer lattice direction is as good a random
    * hyperplane as a Gaussian one for sign-LSH. Deterministic and
    * dependency-free, so the Spark Column builder and the generated
    * DuckDB SQL embed the SAME plane set by construction (the
    * [[probeMasks]] discipline applied to the projection itself). */
  private[graft] def hyperplaneWeight(t: Int, b: Int, i: Int): Long = {
    var x = t.toLong * 0x9e3779b97f4a7c15L + b.toLong * 0xc2b2ae3d27d4eb4fL +
      i.toLong * 0x165667b19e3779f9L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^= x >>> 31
    (x & 1023L) - 512L
  }

  /** Table-local sign bucket folded into ONE INTEGER key: bit (bits-b)
    * of the key is the SIGN OF THE DOT with seeded hyperplane (t, b) —
    * random-hyperplane sign-LSH (Charikar 2002), replacing the former
    * disjoint dim-slice signs whose `bits × tables ≤ 64` dim budget
    * clamped the adaptive ladder at 12 bits. Hyperplanes are independent
    * per (table, bit), so bits and tables scale freely — the >4096-
    * bucket regime a 10⁹-vector corpus needs. Each bit is one fused
    * [[graft.functions.DotProduct]] loop against a LITERAL weight
    * vector (compact codegen — bits × tables loops, not bits × tables ×
    * dim scalar terms), summed in index order exactly like the oracle's
    * left-folded term chain. An int key keeps the probe ladder a
    * constant-size expression — flipping bucket bits is `bucket XOR
    * mask` — and the (tbl, bucket) equi-join shuffles 4-byte keys. */
  private[ops] def signBucketInt(u: Column, t: Int, bits: Int, dim: Int = 64): Column =
    (1 to bits).map { b =>
      val w = typedLit((1 to dim).map(i => hyperplaneWeight(t, b, i).toDouble))
      when(dotProduct(u, w) >= 0, lit(1 << (bits - b))).otherwise(lit(0))
    }.reduce(_ + _)

  /** The multi-probe mask ladder: XOR-ing a bucket key with each mask
    * enumerates every bucket within hamming distance `maxFlips` (0 =
    * own bucket, one-bit masks = flip one, two-bit masks = flip two).
    * Shared with the DuckDB oracle ([[graft.SparkEntry]]) so the probed
    * bucket set is provably identical on both sides. */
  private[graft] def probeMasks(bits: Int, maxFlips: Int): Seq[Int] = {
    val one = (1 to bits).map(i => 1 << (bits - i))
    Seq(0) ++
      (if (maxFlips >= 1) one else Nil) ++
      (if (maxFlips >= 2)
        for { i <- 0 until bits; j <- (i + 1) until bits } yield one(i) | one(j)
      else Nil)
  }

  /** Memoized corpus row count — the one scalar the adaptive LSH
    * sizing needs. A parquet `count()` with zero projected columns is
    * answered from footer row counts (no column IO), and a production
    * index build knows its corpus size anyway; memoizing it in the
    * corpus dir's slot ([[StoreMemo]]) keeps repeated query builds in
    * one session from re-running even that. */
  private[ops] def corpusCount(spark: SparkSession, dir: String): Long =
    StoreMemo.get(spark, dir, StageCache.inputTag(spark, dir), "corpusCount")(
      java.lang.Long.valueOf(Tables(spark, dir, "embeddings").count())).longValue

  /** Derive (bits, nTables) from corpus size, holding the expected
    * bucket population ~constant: `bits = ceil(log2(n / 16))` clamped to
    * [8, 20], `nTables = 8`.
    *
    * Why adaptive: bucket population per table is n / 2^bits, and
    * candidate volume per query grows with it — a FIXED bits default
    * that is right at 2k vectors leaves ~780-vector buckets at 200k
    * (measured: the 8×8 default ran 29–62 s on the 100× corpus while
    * the 12-bit config did the same queries in ~2.9 s at recall@3
    * 1.000 — BASELINE.md round-6 A/B, gated as q92). Integer ceil-log2,
    * no floating point, so the plateau edges are exact:
    *   n ≤ 4096   → (8, 8)  — the sf0.01 oracle pin (500 vectors) sits
    *                 mid-plateau with 8× headroom against corpus
    *                 regeneration drift (AdaptiveLshSpec pins the band)
    *   n = 200000 → (14, 8) — the 100× corpus: ~12-vector buckets
    *   n ≥ ~8.4M  → (20, 8) — the clamp ceiling
    * The former ceiling was 12 bits — a DIM-BUDGET artifact of the
    * dim-slice sign buckets (bits × tables ≤ 64). Buckets are now
    * seeded random-hyperplane signs ([[hyperplaneWeight]]), independent
    * per (table, bit), so the clamp is set by probe-ladder growth
    * instead (the hamming-2 mask count grows ~bits²/2 — 191 probes per
    * table at 20 bits is still metadata-sized); past the ceiling the
    * next lever is more tables or a deeper ladder, not wider buckets. */
  private[graft] def adaptiveLshConfig(n: Long): (Int, Int) = {
    val targetPop = 16L
    val buckets = math.max(1L, (n + targetPop - 1) / targetPop)
    val ceilLog2 =
      if (buckets <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    val bits = math.max(8, math.min(20, ceilLog2))
    (bits, 8)
  }

  /** Session-scoped LSH signature stage — (vec_id, u, buckets) with
    * buckets(t) = table t's integer sign key — cached AND counted before
    * any consumer is planned. The materialization is the fix for the
    * round-4 regression: left as a view, Catalyst's projection collapse
    * inlines the normalize→sign chain into every probe expression (the
    * generated projection blew past JIT method limits and poisoned the
    * code cache for the rest of the JVM). As an InMemoryRelation the
    * probe/corpus branches each read plain int columns. Same
    * storage-aware pattern as Dedup.confirmedPairs: a map hit whose
    * cache was cleared behind our back rebuilds. */
  private val lshSigCache = new StageCache[(SparkSession, String, Int, Int)]

  /** Visible for specs: number of times the signature stage was built. */
  private[ops] def lshSigBuilds = lshSigCache.builds

  /** (vec_id, u) → (vec_id, u, buckets): the signature projection shared
    * by the session stage and the planted-duplicate recall spec. The
    * hyperplane set is fixed at the embedding table's 64 dims; shorter
    * vectors would silently project against the weight prefix
    * ([[graft.functions.DotProduct]] sums the shorter length). */
  private[graft] def lshSignaturesOf(unit: DataFrame, bits: Int, nTables: Int): DataFrame = {
    // ONE fused expression over a constant plane table, not bits×tables
    // `when(dot ≥ 0)` column trees: the unrolled form blows past the
    // JIT's huge-method threshold at the adaptive (14, 8) geometry and
    // runs interpreted — ~95 s vs ~4 s for the 200 k-vector stage build
    // (see [[graft.functions.LshSignature]]; [[signBucketInt]] remains
    // as the executable spec of the per-bit semantics, pinned equal by
    // LshSignatureSpec)
    val flat = new Array[Double](nTables * bits * 64)
    for (t <- 0 until nTables; b <- 1 to bits; i <- 1 to 64)
      flat((t * bits + (b - 1)) * 64 + (i - 1)) = hyperplaneWeight(t, b, i).toDouble
    val book = new graft.functions.PlaneBook(flat, bits, nTables, 64)
    // star-select: every input column rides along (the streaming gate
    // carries an event-time ts the batch (vec_id, u) relations don't)
    unit.select(col("*"),
      graft.functions.VectorFunctions.lshSignature(col("u"), book).as("buckets"))
  }

  private def lshSigStage(spark: SparkSession, dir: String,
      bits: Int, nTables: Int): DataFrame =
    lshSigCache.getOrBuild((spark, StageCache.inputTag(spark, dir), bits, nTables)) {
      val built = lshSignaturesOf(unitEmbeddings(spark, dir), bits, nTables).cache()
      built.count()
      built
    }

  /** Drop this session's similarity stages (LSH signatures, flat and
    * two-level IVF centroids + assignments, PQ codes, gate reference
    * pools, moments) and delete its persisted IVF, two-level and PQ
    * artifacts with their memo slots ([[TempArtifacts.release]]). */
  def releaseStages(spark: SparkSession): Int =
    pqCodesCache.release(_._1 eq spark) +
      gateRefCache.release(_._1 eq spark) +
      lshSigCache.release(_._1 eq spark) +
      ivfCentCache.release(_._1 eq spark) +
      ivfAssignCache.release(_._1 eq spark) +
      twoLevelA1Cache.release(_._1 eq spark) +
      twoLevelCoarseCentCache.release(_._1 eq spark) +
      twoLevelCentCache.release(_._1 eq spark) +
      twoLevelAssignCache.release(_._1 eq spark) +
      persistedTwoLevel.release(spark) +
      persistedIvf.release(spark) +
      persistedPq.release(spark) +
      releaseMomentsStages(spark)

  /** Assign every vector of `e` (vec_id, u) to its nearest centroid of
    * `cents` (cent_id, cu): the codebook (bounded at 4096 × 64 doubles
    * by [[adaptiveIvfConfig]]) is collected once and evaluated as a
    * codegen'd argmax expression ([[graft.functions.NearestInCodebook]])
    * — ONE projection over the corpus, no join, no aggregate. The
    * former broadcast-join + `max_by` plan materialized n × nCentroids
    * candidate rows each carrying the 64-double vector through the
    * aggregate: measured 217 s at 500 k vectors × 489 centroids, hours
    * at the multi-million-vector regime the ceiling probe targets. The
    * expression replicates the exact (round(dot, 6) DESC, cent_id ASC)
    * ordering, so every IVF oracle and spec stays hash-identical. */
  private def assignNearest(e: DataFrame, cents: DataFrame): DataFrame = {
    val local = cents.select(col("cent_id"), col("cu")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val books = graft.functions.CodebookFunctions.flatBook(local,
      dim = local.headOption.map(_._2.length).getOrElse(64))
    e.select(col("vec_id"),
      graft.functions.CodebookFunctions.nearestInCodebook(lit(0L), col("u"), books)
        .as("cent_id"),
      col("u"))
      .where(col("cent_id").isNotNull)
  }

  /** Derive the IVF codebook size from corpus size, holding the expected
    * inverted-list length ~constant: `nCentroids = ceil(n / 1024)`
    * clamped to [16, 4096].
    *
    * Why adaptive: a query probes `nProbe` lists of ~n/nCentroids
    * vectors each, so the scanned fraction is nProbe/nCentroids — a
    * FIXED codebook makes per-query cost LINEAR in corpus size (the
    * former 16-centroid default scanned nProbe 8/16 = 50 % of the corpus
    * per query: half-brute-force masquerading as ANN — the exact
    * fixed-constant disease [[adaptiveLshConfig]] cured for the LSH path
    * in round 7). Holding list length ~1024 bounds scanned rows per
    * query at ~8×1024 regardless of n; nProbe stays the recall knob.
    * Integer ceil division, no floating point, so the plateau edges are
    * exact (AdaptiveIvfSpec pins them):
    *   n ≤ 16384   → 16  — the sf0.01 oracle pin (500 vectors) sits on
    *                  this plateau with 32× headroom against corpus
    *                  regeneration drift, and the static q39/q62 SQL
    *                  (16-centroid CTEs) stays equal to the adaptive
    *                  Spark path by construction
    *   n = 200000  → 196 — the 100× corpus: scanned fraction 8/196 ≈
    *                  4 % instead of 50 %
    *   n ≥ ~4.19M  → 4096 cap — one Lloyd round is a broadcast of
    *                  nCentroids unit vectors against the corpus; 4096
    *                  64-dim doubles (~2 MB) broadcasts freely, and
    *                  beyond the cap the next lever is a two-level
    *                  coarse quantizer (IVF over centroid shards), not
    *                  an ever-wider flat codebook. */
  private[graft] def adaptiveIvfConfig(n: Long): Int = {
    val targetList = 1024L
    val lists = (n + targetList - 1) / targetList
    math.min(4096L, math.max(16L, lists)).toInt
  }

  /** Resolve an `nCentroids` argument: positive pins a config (q120
    * gates the scale point; specs pin 16 for the recall ladder), ≤ 0
    * derives it from the memoized corpus count. */
  private def ivfConfigEff(spark: SparkSession, dir: String, nCentroids: Int): Int =
    if (nCentroids > 0) nCentroids
    else adaptiveIvfConfig(corpusCount(spark, dir))

  /** IVF codebook: seed with the first `nCentroids` vectors, then run one
    * deterministic Lloyd round (assign all vectors to nearest seed,
    * recompute per-cluster means, re-normalize). `nCentroids ≤ 0`
    * (the default) derives the codebook size from the corpus row count
    * via [[adaptiveIvfConfig]] — list length is held ~constant as the
    * corpus grows, so the default path carries no scale cliff.
    *
    * The mean is computed over components scaled to 1e6 and summed as
    * LONGS — integer addition is associative, so the result is exact and
    * identical regardless of partitioning or engine (a plain double
    * `avg` varies in the last ulp with summation order, which can flip a
    * rounded tie cross-engine). Long overflow headroom: 1e6-scaled unit
    * components sum safely past 1e12 rows per (centroid, dim). */
  def ivfCentroids(spark: SparkSession, dir: String, nCentroids: Int = 0,
      rounds: Int = 1): DataFrame =
    ivfCentroidsOf(unitEmbeddings(spark, dir),
      ivfConfigEff(spark, dir, nCentroids), rounds)

  private def ivfCentroidsOf(e: DataFrame, nCentroids: Int, rounds: Int = 1): DataFrame = {
    var cents = e.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("u").as("cu"))
    for (_ <- 0 until rounds) {
      val assigned = assignNearest(e, cents)
      cents = assigned
        .select(col("cent_id"), posexplode(col("u")))
        .groupBy("cent_id", "pos")
        .agg((sum(round(col("col") * 1e6).cast("long")) / (count(lit(1)) * lit(1e6))).as("m"))
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"), transform(col("pm"), p => p.getField("m")).as("cv"))
        .select(col("cent_id"), unitVec(col("cv")).as("cu"))
    }
    cents
  }

  /** Corpus-side IVF assignment (the inverted file): exposed for plan
    * tests — must contain no Window, only hash aggregates. */
  def ivfAssignments(spark: SparkSession, dir: String, nCentroids: Int = 0,
      rounds: Int = 1): DataFrame = {
    val e = unitEmbeddings(spark, dir)
    assignNearest(e, ivfCentroidsOf(e, ivfConfigEff(spark, dir, nCentroids), rounds))
  }

  /** IVF-style ANN: assign every vector to its nearest centroid, then
    * answer queries by probing the `nProbe` nearest centroid lists and
    * ranking exact cosine within them. Candidate generation is an
    * equi-join on centroid id — cost ∝ corpus/nCentroids × nProbe per
    * query, never the full corpus. The probe ranking uses a window only
    * on the BOUNDED query side.
    *
    * Recall ladder measured at sf0.01 (recall@3 vs exact, 100 queries,
    * 16 centroids): nProbe 2 → 0.46, 4 → 0.61, 6 → 0.76, 8 → 0.83.
    * Extra Lloyd `rounds` buy little here (+0.02 at rounds=2) because
    * the synthetic embeddings are near-isotropic — real text embeddings
    * cluster harder and shift the tradeoff toward more rounds / more
    * centroids with fewer probes. The DEFAULT (`nCentroids ≤ 0`) derives
    * the codebook size from the corpus row count via
    * [[adaptiveIvfConfig]] — list length (∝ n/nCentroids) is held
    * ~constant as the corpus grows, so scanned rows per query stay
    * bounded; nProbe remains the recall knob (q120 gates the 64-centroid
    * scale config the way q92 gates LSH). */
  /** Session-scoped IVF index — codebook + corpus assignment trained
    * once per (session, dir, nCentroids, rounds) and kept resident, the
    * same [[StageCache]] discipline as the LSH signature stage: q39 and
    * q62 otherwise each re-pay the Lloyd round and the full-corpus
    * assignment. The bulky unit-vector parent is dropped once the
    * bounded index is materialized (as confirmedPairs drops its shingle
    * cache); the query side reads from the assignment itself. */
  private val ivfCentCache = new StageCache[(SparkSession, String, Int, Int)]
  private val ivfAssignCache = new StageCache[(SparkSession, String, Int, Int)]

  /** Visible for specs: number of times the IVF index was trained. */
  private[ops] def ivfBuilds = ivfAssignCache.builds

  private def ivfStage(spark: SparkSession, dir: String,
      nCentroids: Int, rounds: Int): (DataFrame, DataFrame) = {
    val key = (spark, StageCache.inputTag(spark, dir), nCentroids, rounds)
    val cents = ivfCentCache.getOrBuild(key) {
      // the unit-vector scan feeds the seed pass, every Lloyd round and
      // the assignment below — cache it across both stage builds
      // (normalization is per-row sqrt work); CacheManager dedupes the
      // identical plan so both builders share one entry
      val e = unitEmbeddings(spark, dir).cache()
      val built = ivfCentroidsOf(e, nCentroids, rounds).cache()
      built.count()
      built
    }
    val assigned = ivfAssignCache.getOrBuild(key) {
      val e = unitEmbeddings(spark, dir).cache()
      val built = assignNearest(e, cents).cache()
      built.count()
      e.unpersist(blocking = false) // bounded index resident; bulky parent dropped
      built
    }
    (cents, assigned)
  }

  def ivfTopK(spark: SparkSession, dir: String, nCentroids: Int = 0,
      nProbe: Int = 8, nQueries: Int = 100, k: Int = 3,
      rounds: Int = 1): DataFrame = {
    val (cents, assigned) =
      ivfStage(spark, dir, ivfConfigEff(spark, dir, nCentroids), rounds)
    ivfProbe(cents, assigned, nProbe, nQueries, k)
  }

  /** The IVF probe pipeline over a (codebook, inverted file) pair —
    * shared by the session-stage path ([[ivfTopK]]) and the persisted
    * index path ([[ivfTopKFromIndex]]), so both answer identically by
    * construction. */
  private def ivfProbe(cents: DataFrame, assigned: DataFrame,
      nProbe: Int, nQueries: Int, k: Int): DataFrame = {
    val q = assigned.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val pw = Window.partitionBy("q_id")
      .orderBy(round(col("cdot"), 6).desc, col("cent_id"))
    val probes = q.join(broadcast(cents))
      .withColumn("cdot", dot(col("qu"), col("cu")))
      .withColumn("crn", row_number().over(pw))
      .where(col("crn") <= nProbe)
      .select(col("q_id"), col("qu"), col("cent_id"))
    // broadcast the probe set (bounded: nQueries x nProbe rows): the
    // inverted file must NEVER shuffle on the probe keys — a handful of
    // probed cells hash-partitioned across 32 buckets coalesces into a
    // few mega-tasks and serializes the scoring stage (measured 7x on
    // the q162 artifact before the hint; window-derived probe stats
    // defeat the auto-broadcast sizer)
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), dot(col("qu"), col("u")).as("cos"))
    rankTopK(scored, k)
  }

  /** Persist the trained IVF index — codebook + inverted file — as
    * parquet: the build-once / query-many lifecycle. At 100 TB the
    * expensive stages are Lloyd training and the full-corpus assignment;
    * a query service should load the bounded artifact instead of
    * retraining per session. Doubles round-trip parquet bit-exactly, so
    * [[ivfTopKFromIndex]] over a saved index answers IDENTICALLY to
    * [[ivfTopK]] over the live session stage (pinned by
    * IvfIndexPersistenceSpec). The inverted file is written partitioned
    * by centroid id, so a probe of nProbe lists prunes to nProbe
    * directories at scan time (partition pruning carries the "cost ∝
    * corpus/nCentroids × nProbe" argument onto storage). */
  def saveIvfIndex(spark: SparkSession, dir: String, outDir: String,
      nCentroids: Int = 0, rounds: Int = 1): Unit = {
    val (cents, assigned) =
      ivfStage(spark, dir, ivfConfigEff(spark, dir, nCentroids), rounds)
    IdStore.rebuild(spark, outDir) { w =>
      w.add("centroids")(cents.write.parquet(_))
      w.add("assignments")(writeCells(assigned, _))
    }
  }

  /** An inverted file's rows, partitioned by cell: one file per cell
    * dir, not one per task. */
  private def writeCells(rows: DataFrame, path: String): Unit =
    rows.repartition(col("cent_id")).write.partitionBy("cent_id").parquet(path)

  /** Answer ANN queries from a persisted [[saveIvfIndex]] artifact.
    * Tombstoned vectors drop out of BOTH sides (the inverted file feeds
    * queries and candidates alike), so a tombstone-then-serve answers
    * exactly as a rebuild on the survivors under the frozen codebook. */
  def ivfTopKFromIndex(spark: SparkSession, indexDir: String,
      nProbe: Int = 8, nQueries: Int = 100, k: Int = 3): DataFrame = {
    val v = IdStore.latest(spark, indexDir)
    val assigned = dropDead(v.read(spark, "assignments")
      // the partition-discovery column comes back int-typed; restore
      // the live stage's long so both paths run the identical plan
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"), col("u")),
      v.tombstones(spark, "vec_id"))
    ivfProbe(v.read(spark, "centroids"), assigned, nProbe, nQueries, k)
  }

  /** Persist the flat index from an arbitrary unit-vector relation —
    * the codebook trains on THIS relation and stays frozen for every
    * later delta (the [[saveTwoLevelIndexOf]] contract one level
    * down). */
  def saveIvfIndexOf(vecs: DataFrame, outDir: String,
      nCentroids: Int = 16, rounds: Int = 1): Unit = {
    val cents = ivfCentroidsOf(vecs, nCentroids, rounds).cache()
    cents.count()
    IdStore.rebuild(vecs.sparkSession, outDir) { w =>
      w.add("centroids")(cents.write.parquet(_))
      w.add("assignments")(writeCells(assignNearest(vecs, cents), _))
    }
    cents.unpersist(blocking = false)
  }

  /** Merge a delta batch into a persisted flat-IVF artifact under the
    * FROZEN codebook — [[appendTwoLevelDelta]]'s contract one level
    * down, completing lifecycle parity for the flat family: replay-safe
    * (already-indexed vec_ids anti-join out), resurrection-safe (a
    * tombstoned vec_id in the delta is expunged and its tombstone
    * withdrawn before the guard runs), and appended rows land as
    * dynamic-partition appends touching only the delta's cells. Because
    * assignment is per-row under frozen centroids, base ∪ delta is
    * row-identical to assigning the merged corpus — the q136 contract. */
  def appendIvfDelta(deltaVecs: DataFrame, indexDir: String): Unit =
    pqStore.write(deltaVecs.sparkSession, indexDir) { w =>
      // flat shares the two-level cell layout, so its expunge too
      w.add("assignments")(writeCells(
        assignNearest(freshCells(w, deltaVecs), w.read("centroids")), _))
    }

  /** The IVF append admission inside writer `w` (flat and two-level
    * share the cell layout): withdraw re-ingested ids' tombstones
    * ([[IdStore.withdraw]] — re-assignment under the frozen codebooks
    * reproduces the original rows, so the composition stays ≡
    * rebuild-on-survivors), then the replay guard against the inverted
    * file's vec_id column. A first append (no inverted file yet —
    * codebooks shipped alone) has nothing to guard against. RECORDED
    * TRADE (r15): unlike the per-id refine stores (dl/hashes/LSH/PQ
    * vectors, laid out under id_bucket for delta-proportional guards),
    * this family's guard key lives in its ONE store, whose partitioning
    * must stay cent_id (the serving prune), so the guard stays a
    * column-pruned linear scan of the inverted file. */
  private def freshCells(w: IdStore.Writer, deltaVecs: DataFrame): DataFrame = {
    IdStore.withdraw(w, "vec_id", deltaVecs)(expungeTwoLevel(w, _))
    w.readOpt("assignments").fold(deltaVecs)(a =>
      deltaVecs.join(a.select("vec_id"), Seq("vec_id"), "left_anti"))
  }

  /** Expunge vector tombstones from a flat-IVF artifact — the flat
    * family shares the two-level artifact's cell layout
    * (`assignments/cent_id=N` + `tombstones`), so compaction IS
    * [[compactTwoLevelIndex]]: rewrite only the touched cells, delete
    * the tombstone set last. */
  def compactIvfIndex(spark: SparkSession, indexDir: String): Unit =
    compactTwoLevelIndex(spark, indexDir)

  /** q168: the flat-IVF lifecycle COMPOSED — base build (70 %, the
    * codebook trains here and stays frozen) → delta append (30 %) →
    * tombstone a 10 % delete set spanning both → re-append half the
    * deleted vectors (resurrection) → compact → serve; the
    * [[twoLevelComposed]]/[[LshIndex.lshTopKComposed]] contract closing
    * lifecycle parity for the last persisted family. Gated against an
    * oracle whose codebook trains on the base split while the served
    * inverted file keeps only the survivors. */
  def ivfComposed(spark: SparkSession, dir: String,
      nCentroids: Int = 16, nProbe: Int = 8,
      nQueries: Int = 100, k: Int = 3): DataFrame =
    ivfTopKFromIndex(spark, Lifecycle.artifact(persistedIvf, IndexFamily.ivf(nCentroids),
      spark, dir, Append, Tombstone, Reappend, Compact), nProbe, nQueries, k)

  private val persistedIvf = new TempArtifacts("graft-ivf-index")

  /** TWO-LEVEL IVF — the lever past [[adaptiveIvfConfig]]'s 4096-
    * centroid cap: a coarse codebook (≤ 4096 centroids, broadcastable
    * forever) splits the corpus into cells, and each cell trains its
    * own `nSub` sub-centroids, so the index carries nCoarse × nSub
    * inverted lists while NOTHING corpus-proportional ever broadcasts —
    * the sub-codebook and sub-seed relations join on `cent_id` like any
    * keyed relation, and the per-cell seed window partitions by cell
    * (bounded partitions, not a global sort). Beyond the cap the flat
    * codebook's list length grows linearly again (n/4096: at 10⁹
    * vectors, 244 k-row lists — scanned fraction degrading toward
    * brute force); two levels restore list length ≈ n/(nCoarse·nSub)
    * with BUILD cost n·nCoarse + n·nSub dot products instead of the
    * flat n·nLists — at the same 16 384 lists, 16× fewer training dots.
    * IvfCeilingProbe measures the crossover on synthetic multi-million-
    * vector corpora; q129 gates a fixed small config under the DuckDB
    * oracle (same construction unrolled in SQL).
    *
    * Training mirrors the flat path stage for stage so the oracle
    * stays mechanical: coarse = seed→assign→integer-scaled mean
    * ([[ivfCentroidsOf]], rounds=1); sub-seeds = the `nSub` smallest
    * vec_ids per cell; one sub-Lloyd round (assign within cell →
    * integer-scaled mean → renormalize); final inverted file = each
    * vector's nearest refined sub-centroid WITHIN its cell. Queries
    * probe the `nProbe1` nearest coarse cells, then the `nProbe2`
    * nearest sub-lists per probed cell; every rank uses the
    * (round(dot, 6) DESC, id ASC) total tiebreak of the flat path. */
  /** A full two-level configuration: codebook shape + probe budget.
    * Scanned rows per query ≈ nProbe1 · nProbe2 · targetList(1024) —
    * bounded regardless of corpus size. */
  case class TwoLevelConfig(nCoarse: Int, nSub: Int, nProbe1: Int, nProbe2: Int)

  /** Derive the two-level configuration from corpus size — the
    * [[adaptiveIvfConfig]] discipline applied one level up, for the
    * regime past the flat path's 4096-centroid cap (n ≳ 4.19 M).
    *
    * Shape: hold total list count at n/1024 (the flat path's
    * list-length target), split as nCoarse ≈ 4·√lists (clamped to
    * [8, 4096] so the coarse codebook broadcasts forever) and
    * nSub = ⌈lists / nCoarse⌉ — the 4× skew toward the coarse level
    * keeps per-cell sub-books small (the bounded ≤8 MB plan-reference
    * object) while the coarse probe stays one bounded argmax.
    *
    * Probes: measured, not asserted — `IvfCeilingProbe --sweep` on
    * synthetic isotropic 64-dim corpora (the HARD case for recall; real
    * text embeddings cluster and need fewer probes). The equal-budget
    * config (4 × 2 = 8 lists, matching flat nProbe 8) degrades with n
    * (recall@3 0.913 / 0.860 / 0.700 at 500 k / 2 M / 8 M — BASELINE.md
    * round-9 table) because a miss can now happen at EITHER level;
    * the sweep shows recall ≥ 0.95 is bought back with a fixed
    * 16 × 4 = 64-list budget at every measured n (see BASELINE.md
    * round-10 sweep table), i.e. ~64 k scanned rows per query at the
    * 1024-row list target — 0.8 % of an 8 M corpus, shrinking as 1/n. */
  private[graft] def adaptiveTwoLevelConfig(n: Long): TwoLevelConfig = {
    val targetList = 1024L
    val lists = math.max(16L, (n + targetList - 1) / targetList)
    val nCoarse =
      math.min(4096L, math.max(8L, math.round(math.sqrt(lists.toDouble) * 4.0))).toInt
    // nSub is clamped at 4096 too: past n ≈ 7×10¹⁰ the per-cell
    // sub-book would otherwise outgrow the bounded plan-reference
    // budget (4096 × 64 doubles ≈ 2 MB per cell at the clamp). Beyond
    // 4096 × 4096 lists the list length grows again — the next lever is
    // a third level (or PQ residuals), not a wider sub-book.
    val nSub = math.min(4096L, math.max(4L, (lists + nCoarse - 1) / nCoarse)).toInt
    // Probe budget: MEASURED, not asserted (IvfCeilingProbe sweeps at
    // 2 M and 8 M, BASELINE.md round-10 tables). Both sweeps show
    // recall@3 is a function of nProbe2 ALONE — the true neighbor's
    // COARSE cell ranks in the top-2 probed cells at every measured n,
    // and every recall point below 1.0 (0.700–0.940) is the neighbor's
    // SUB-list ranking below the nProbe2 cut inside a probed cell. So
    // the cheapest recall-1.0 budget is "scan whole top-nProbe1 cells":
    // nProbe2 = nSub, nProbe1 small — measured 1.000 recall at
    // (4, nSub) for BOTH 2 M (45 k rows/query, 2.3 %) and 8 M (90 k,
    // 1.1 %), where the former (16, 4) default measured 0.900 / 0.727.
    // nProbe1 grows as nCoarse/64 past the measured regime (a finer
    // coarse grid spreads neighbors over more cells); at ≤ 64 total
    // lists the index is small enough that a full scan is the honest
    // config (and keeps tiny corpora exact). Past ~10⁸ vectors the
    // whole-cell scan is the regime where ADC scoring (q138's PQ path)
    // replaces exact dots — the probe SHAPE stays this one.
    val nProbe1 =
      if (nCoarse.toLong * nSub <= 64) nCoarse
      else math.max(4, nCoarse / 64)
    TwoLevelConfig(nCoarse, nSub, nProbe1, nProbe2 = nSub)
  }

  def twoLevelIvfTopK(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, k: Int = 3): DataFrame = {
    val (coarseCents, subCents, assigned) = twoLevelIvfStage(spark, dir, nCoarse, nSub)
    twoLevelProbe(coarseCents, subCents, assigned, nProbe1, nProbe2, nQueries, k)
  }

  /** [[twoLevelIvfTopK]] at the corpus-derived [[adaptiveTwoLevelConfig]]
    * — codebook shape AND probe budget from n. */
  def twoLevelIvfTopKAdaptive(spark: SparkSession, dir: String,
      nQueries: Int = 100, k: Int = 3): DataFrame = {
    val c = adaptiveTwoLevelConfig(corpusCount(spark, dir))
    twoLevelIvfTopK(spark, dir, c.nCoarse, c.nSub, c.nProbe1, c.nProbe2, nQueries, k)
  }

  private val twoLevelA1Cache = new StageCache[(SparkSession, String, Int, Int)]
  private val twoLevelCoarseCentCache = new StageCache[(SparkSession, String, Int, Int)]
  private val twoLevelCentCache = new StageCache[(SparkSession, String, Int, Int)]
  private val twoLevelAssignCache = new StageCache[(SparkSession, String, Int, Int)]

  /** Refined coarse codebook (cent_id, cu) — kept resident for the
    * session: the serving path's first probe stage ranks cells against
    * it (nCoarse dots per query), so it must outlive the build the way
    * the flat path's [[ivfCentCache]] does. Bounded: ≤ 4096 × 64
    * doubles (~2 MB). */
  private def twoLevelCoarseCentStage(spark: SparkSession, dir: String,
      nCoarse: Int, nSub: Int): DataFrame =
    twoLevelCoarseCentCache.getOrBuild((spark, StageCache.inputTag(spark, dir), nCoarse, nSub)) {
      val built = ivfCentroidsOf(unitEmbeddings(spark, dir), nCoarse).cache()
      built.count()
      built
    }

  /** Coarse assignment stage shared by the sub-codebook and final-
    * assignment builders (the [[ivfStage]] two-cache discipline,
    * extended one level). */
  private def twoLevelCoarseStage(spark: SparkSession, dir: String,
      nCoarse: Int, nSub: Int): DataFrame =
    twoLevelA1Cache.getOrBuild((spark, StageCache.inputTag(spark, dir), nCoarse, nSub)) {
      val e = unitEmbeddings(spark, dir)
      val built =
        assignNearest(e, twoLevelCoarseCentStage(spark, dir, nCoarse, nSub)).cache()
      built.count()
      built
    }

  /** (coarse codebook, sub-codebook, inverted file) for the two-level
    * index: coarse = (cent_id, cu); sub-codebook = (cent_id, sub_id,
    * scu); inverted file = (vec_id, cent_id, sub_id, u).
    * Session-cached like [[ivfStage]]. */
  private[graft] def twoLevelIvfStage(spark: SparkSession, dir: String,
      nCoarse: Int, nSub: Int): (DataFrame, DataFrame, DataFrame) = {
    val key = (spark, StageCache.inputTag(spark, dir), nCoarse, nSub)
    val coarseCents = twoLevelCoarseCentStage(spark, dir, nCoarse, nSub)
    val subCents = twoLevelCentCache.getOrBuild(key) {
      val a1 = twoLevelCoarseStage(spark, dir, nCoarse, nSub)
      val built = buildSubCents(a1, nSub).cache()
      built.count()
      built
    }
    val assigned = twoLevelAssignCache.getOrBuild(key) {
      val a1 = twoLevelCoarseStage(spark, dir, nCoarse, nSub)
      val built = buildAssigned2(a1, subCents).cache()
      built.count()
      // bounded index resident; the coarse ASSIGNMENT stage is no
      // longer needed (the coarse CODEBOOK stays — the serving path's
      // first probe ranks against it)
      twoLevelA1Cache.release(_ == key)
      built
    }
    (coarseCents, subCents, assigned)
  }

  /** Sub-codebook train over a coarse-assigned relation — per-cell
    * sub-seeds (the nSub smallest vec_ids of the cell — a per-cell
    * window, partitions are cells, never the corpus), then one
    * sub-Lloyd round, all within-cell: assign to the nearest seed of
    * the OWN cell via the codegen'd per-cell argmax (the assignNearest
    * expression with the cell id as the codebook key — per-row work is
    * nSub dots, and the whole nCoarse·nSub seed set is a bounded
    * ≤ 8 MB plan reference, never a joined relation). Pure builder:
    * shared by the session-staged path ([[twoLevelIvfStage]]) and the
    * incremental artifact build ([[saveTwoLevelIndexOf]]). */
  private def buildSubCents(a1: DataFrame, nSub: Int): DataFrame = {
    val sw = Window.partitionBy("cent_id").orderBy("vec_id")
    val seeds = a1.withColumn("rn", row_number().over(sw))
      .where(col("rn") <= nSub)
      .select(col("cent_id"), (col("rn") - 1).cast("long").as("sub_id"),
        col("u").as("su"))
    val seedBooks = graft.functions.CodebookFunctions.cellBooks(
      seeds.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray)).toSeq, dim = Dim)
    val s0 = a1
      .select(col("cent_id"),
        graft.functions.CodebookFunctions
          .nearestInCodebook(col("cent_id"), col("u"), seedBooks).as("sub_id"),
        col("u"))
      .where(col("sub_id").isNotNull)
    s0
      .select(col("cent_id"), col("sub_id"), posexplode(col("u")))
      .groupBy("cent_id", "sub_id", "pos")
      .agg((sum(round(col("col") * 1e6).cast("long")) / (count(lit(1)) * lit(1e6))).as("m"))
      .groupBy("cent_id", "sub_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cent_id"), col("sub_id"),
        unitVec(transform(col("pm"), p => p.getField("m"))).as("scu"))
  }

  /** Final inverted-file rows for a coarse-assigned relation: nearest
    * refined sub-centroid within the own cell, via the same codegen'd
    * per-cell argmax. Pure builder — per-ROW work, so assigning a
    * delta batch under a frozen codebook ([[appendTwoLevelDelta]])
    * produces exactly the rows a monolithic assignment would. */
  private def buildAssigned2(a1: DataFrame, subCents: DataFrame): DataFrame = {
    val subBooks = graft.functions.CodebookFunctions.cellBooks(
      subCents.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray)).toSeq, dim = Dim)
    a1
      .select(col("vec_id"), col("cent_id"),
        graft.functions.CodebookFunctions
          .nearestInCodebook(col("cent_id"), col("u"), subBooks).as("sub_id"),
        col("u"))
      .where(col("sub_id").isNotNull)
  }

  /** The two-stage probe over a (coarse codebook, sub-codebook,
    * inverted file) triple — shared by the session-stage path
    * ([[twoLevelIvfTopK]]) and the persisted-index path
    * ([[twoLevelTopKFromIndex]]), so both answer identically by
    * construction.
    *
    * Coarse-FIRST: queries rank cells against the nCoarse coarse
    * centroids, then rank sub-lists only within the nProbe1 probed
    * cells — per-query cost nCoarse + nProbe1·nSub dots, NOT the
    * nCoarse·nSub of scoring every sub-centroid up front (at the 8 M
    * config, 354 + 16·23 ≈ 722 vs 8142 — and the gap widens with n
    * since nCoarse·nSub grows as n/1024). Both codebooks are bounded
    * (≤ 4096 and ≤ nProbe1·nSub rows joined per query), so the
    * broadcasts are permanent non-cliffs. */
  private def twoLevelProbe(coarseCents: DataFrame, subCents: DataFrame,
      assigned: DataFrame,
      nProbe1: Int, nProbe2: Int, nQueries: Int, k: Int): DataFrame = {
    val q = assigned.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val probes = probedLists(coarseCents, subCents, q, nProbe1, nProbe2)
    // broadcast(probes): bounded probe set, corpus side streams in
    // place (see the flat-probe note — the shuffle-on-probe-keys shape
    // coalesces into mega-tasks)
    val scored = assigned.join(broadcast(probes), Seq("cent_id", "sub_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        dot(col("qu"), col("u")).as("cos"))
    rankTopK(scored, k)
  }

  /** The coarse-first cell/sub-list selection shared by the exact
    * two-level probe and the PQ/ADC probe ([[pqAdcTopK]]): (q_id, qu,
    * cent_id, sub_id) — which bounded lists each query scans. */
  private def probedLists(coarseCents: DataFrame, subCents: DataFrame,
      q: DataFrame, nProbe1: Int, nProbe2: Int): DataFrame = {
    val cw = Window.partitionBy("q_id")
      .orderBy(round(col("cdot"), 6).desc, col("cent_id"))
    val cells = q.join(broadcast(coarseCents))
      .withColumn("cdot", dot(col("qu"), col("cu")))
      .withColumn("crn", row_number().over(cw))
      .where(col("crn") <= nProbe1)
      .select(col("q_id"), col("qu"), col("cent_id"))
    val sw = Window.partitionBy("q_id", "cent_id")
      .orderBy(round(col("sdot"), 6).desc, col("sub_id"))
    val probes = cells.join(broadcast(subCents), Seq("cent_id"))
      .withColumn("sdot", dot(col("qu"), col("scu")))
      .withColumn("srn", row_number().over(sw))
      .where(col("srn") <= nProbe2)
      .select(col("q_id"), col("qu"), col("cent_id"), col("sub_id"))
    probes
  }

  /** Persist the trained two-level index — coarse codebook + sub-
    * codebook + inverted file — as parquet: [[saveIvfIndex]]'s
    * build-once / query-many lifecycle for the regime past the flat
    * cap, where the build (566 s at 8 M vectors, vs flat's 2511 s) is
    * exactly what a restarted query service must not re-pay. The
    * inverted file is partitioned by cent_id (the COARSE key only:
    * nCoarse ≤ 4096 directories — two-level partitioning would mint
    * nCoarse·nSub ≈ n/1024 dirs, a small-file explosion at scale), so
    * a probe of nProbe1 cells prunes to nProbe1 directories at scan
    * time and the sub-list filter rides the row-group scan. */
  def saveTwoLevelIndex(spark: SparkSession, dir: String, outDir: String,
      nCoarse: Int = 8, nSub: Int = 4): Unit = {
    val (coarseCents, subCents, assigned) = twoLevelIvfStage(spark, dir, nCoarse, nSub)
    IdStore.rebuild(spark, outDir) { w =>
      w.add("coarse")(coarseCents.write.parquet(_))
      w.add("subcents")(subCents.write.parquet(_))
      w.add("assignments")(writeCells(assigned, _))
    }
  }

  /** Persist a two-level index TRAINED AND BUILT from an arbitrary
    * (vec_id, u) relation — the starting point of the incremental ANN
    * lifecycle ([[saveTwoLevelIndex]]'s full-corpus shape serves q131),
    * exactly as [[Retrieval.savePostingsIndexOf]] is to
    * `savePostingsIndex`. One-shot: no session caches (it runs once
    * inside an artifact memo); the books train once ([[trainedOf]]) and
    * feed both the assignment and the writes. */
  def saveTwoLevelIndexOf(vecs: DataFrame, outDir: String,
      nCoarse: Int = 8, nSub: Int = 4): Unit = {
    val t = trainedOf(vecs, nCoarse, nSub, pq = None)
    IdStore.rebuild(vecs.sparkSession, outDir) { w =>
      w.add("coarse")(t.coarse.write.parquet(_))
      w.add("subcents")(t.subCents.write.parquet(_))
      w.add("assignments")(writeCells(t.assigned, _))
    }
    t.release()
  }

  /** Merge a delta batch of NEW vectors into a persisted
    * [[saveTwoLevelIndexOf]] artifact under the FROZEN codebooks — the
    * daily-ingest shape of a production ANN service (q96's delta model
    * applied to the vector index, [[Retrieval.appendPostingsDelta]]'s
    * exact analog): the codebooks are read back (bounded: ≤ 4096 coarse
    * + nCoarse·nSub sub rows), the delta is assigned per ROW (coarse
    * argmax, then within-cell sub argmax — the same two codegen'd
    * argmaxes the monolithic build runs), and the new inverted-file
    * rows land as APPENDED files in exactly the cent_id partitions the
    * delta hashes to — dynamic-partition append touches only those
    * directories, so merge cost ∝ |delta|, never ∝ |index|. Because
    * assignment is per-row and delta vec_ids are new, base ∪ delta is
    * row-identical to assigning the full corpus under the same frozen
    * codebooks — merged-index answers ≡ monolithic answers, which is
    * what the q136 gate pins. Codebook DRIFT is the caller's contract
    * (as in every production IVF service): the codebook is frozen
    * between periodic retrains, and the q130 recall gate measures what
    * the codebook quality buys. */
  def appendTwoLevelDelta(deltaVecs: DataFrame, indexDir: String): Unit =
    pqStore.write(deltaVecs.sparkSession, indexDir) { w =>
      val fresh = freshCells(w, deltaVecs)
      w.add("assignments")(writeCells(
        buildAssigned2(assignNearest(fresh, w.read("coarse")), w.read("subcents")), _))
    }

  /** q136: two-level ANN served from an INCREMENTALLY BUILT index —
    * the corpus is split by q96's deterministic delta rule
    * ([[Lifecycle]]), the base is trained + persisted via
    * [[saveTwoLevelIndexOf]], the delta merged under the frozen codebooks via
    * [[appendTwoLevelDelta]], and the merged artifact serves the
    * queries through the exact probe pipeline every other two-level
    * mode uses. Gated hash-exact against an oracle whose codebook CTEs
    * train on the base split while assigning the full corpus — the
    * merge-equals-monolith contract, pinned end to end. */
  def twoLevelIncremental(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, k: Int = 3): DataFrame =
    twoLevelTopKFromIndex(spark, twoLevelLifecycled(spark, dir, nCoarse, nSub, Append),
      nProbe1, nProbe2, nQueries, k)

  // --- Product quantization (IVFADC) --------------------------------

  // key = (spark, dir, nCoarse, nSub, m, k) — the FULL parameter tuple:
  // an earlier arithmetic packing (nCoarse*10000+nSub) collided for
  // values ≥ 10000 and could silently serve the wrong cached codes
  private val pqCodesCache = new StageCache[(SparkSession, String, Int, Int, Int, Int)]

  /** PROJECTION residuals of the inverted file: (vec_id, cent_id,
    * sub_id, proj, r) with proj = ⟨u, scu⟩ and r = u − proj·scu — the
    * cosine analog of IVFPQ's residual encoding (Jégou et al. 2011
    * §III). The codebase's centroids are UNIT-normalized (they rank by
    * dot), so the naive r = u − scu is norm-INCREASING on weakly
    * clustered data (|u − scu|² = 2 − 2proj ≈ 1.4² at proj ≈ 0.1 —
    * measured to HALVE recall at 500 k vs raw-u codes); the projection
    * residual is the norm-MINIMIZING subtraction (|r|² = 1 − proj² ≤ 1,
    * r ⊥ scu), strictly no worse than quantizing u itself and far
    * better the more clustered the corpus. The decomposition is an
    * exact identity: cos(q, u) = proj·⟨q, scu⟩ + ⟨q, r⟩ — the first
    * term is computed EXACTLY at serving time (proj is one stored
    * float/row; ⟨q, scu⟩ is one dot per probed LIST), so quantization
    * error lives only in the ⟨q, r̂⟩ term. */
  private def residualsOf(assigned: DataFrame, subCents: DataFrame): DataFrame =
    assigned.join(broadcast(subCents), Seq("cent_id", "sub_id"))
      .select(col("vec_id"), col("cent_id"), col("sub_id"), col("u"), col("scu"),
        dot(col("u"), col("scu")).as("proj"))
      .select(col("vec_id"), col("cent_id"), col("sub_id"), col("proj"),
        zip_with(col("u"), col("scu"), (a, b) => a - col("proj") * b).as("r"))

  /** Train the PQ sub-quantizers on the RESIDUALS: each of the `m`
    * contiguous `dsub`-dim subspaces gets an independent `k`-code
    * codebook via the repo's one deterministic Lloyd round — seeds are
    * the residual sub-slices of the vectors with `vec_id < k` (the
    * [[ivfCentroidsOf]] seeding rule), assignment is argmin-L2
    * (standard PQ: residual sub-vectors are not unit, dot-argmax would
    * chase norms), refinement is the 1e6-scaled integer mean
    * (order-free cross-engine), and a code whose cell receives no
    * vectors keeps its seed (the oracle's LEFT JOIN + coalesce). The
    * trained book is a plain JVM object of m·k·dsub doubles (32 KB at
    * the 8×64 gate config) — a plan reference, never a relation,
    * memoized in the corpus dir's slot ([[StoreMemo]]). Keyed on
    * (nCoarse, nSub) too: residuals are defined by the cell
    * assignment. */
  private def trainPqBook(spark: SparkSession, dir: String,
      nCoarse: Int, nSub: Int, m: Int, k: Int): graft.functions.PqBook =
    StoreMemo.get(spark, dir, StageCache.inputTag(spark, dir), s"pqBook:$nCoarse:$nSub:$m:$k") {
      val (_, subCents, assigned) = twoLevelIvfStage(spark, dir, nCoarse, nSub)
      trainPqBookOf(residualsOf(assigned, subCents), m, k)
    }

  /** The PQ training pipeline over an arbitrary residual relation
    * (vec_id, …, r) — split out so the incremental artifact build
    * ([[savePqIndexOf]]) can train on the BASE split only, exactly as
    * [[buildSubCents]] is to the two-level path. Seed codes are DENSE
    * ranks over the ascending seed vec_ids (`vec_id < k` rows): on a
    * full corpus every id below k exists, so code ≡ vec_id and the
    * trained book is bit-identical to the former direct-id rule; on a
    * training SPLIT (or a corpus smaller than k) the book simply has
    * `effK = |seeds|` codes instead of carrying all-zero phantom seed
    * vectors that could win the encoding argmin — the oracle's
    * `row_number() OVER (ORDER BY vec_id)` mirror. */
  private[graft] def trainPqBookOf(resid: DataFrame, m: Int,
      k: Int): graft.functions.PqBook = {
    val book0 = pqSeedBook(resid.where(col("vec_id") < k).select("vec_id", "r").collect()
      .map(row => (row.getLong(0), row.getSeq[Double](1).toArray)).toSeq, m)
    val (effK, dsub) = (book0.k, book0.dsub)
    val means = resid
      .select(posexplode(graft.functions.CodebookFunctions
        .pqEncode(col("r"), book0)).as(Seq("j", "code")), col("r"))
      .select(col("j"), col("code"),
        posexplode(slice(col("r"), col("j") * dsub + 1, lit(dsub))).as(Seq("d", "v")))
      .groupBy("j", "code", "d")
      .agg((sum(round(col("v") * 1e6).cast("long")) / (count(lit(1)) * lit(1e6))).as("mv"))
      .collect() // bounded: ≤ m·k·dsub rows (4096 at the gate config)
    val flat = book0.flat.clone() // empty cells keep their seed
    means.foreach { row =>
      flat((row.getInt(0) * effK + row.getLong(1).toInt) * dsub + row.getInt(2)) =
        row.getDouble(3)
    }
    new graft.functions.PqBook(m, effK, dsub, flat)
  }

  /** The seed book of a PQ training run: code `c` of every subspace is
    * the matching slice of the `c`-th seed residual by ascending vec_id
    * (the seeds are the rows with `vec_id < k`). */
  private def pqSeedBook(seeds: Seq[(Long, Array[Double])], m: Int): graft.functions.PqBook = {
    val dsub = Dim / m
    val rs = seeds.sortBy(_._1).map(_._2)
    val effK = rs.length
    require(effK > 0, "PQ training needs at least one seed vector below k")
    val flat = new Array[Double](m * effK * dsub)
    for { j <- 0 until m; (r, code) <- rs.zipWithIndex; d <- 0 until dsub }
      flat((j * effK + code) * dsub + d) = r(j * dsub + d)
    new graft.functions.PqBook(m, effK, dsub, flat)
  }

  /** The COMPRESSED inverted file: (vec_id, cent_id, sub_id, codes) —
    * the two-level cell assignment plus m residual PQ codes per vector,
    * and NO vector column. This is the relation a 10⁹-vector service
    * keeps resident: 8 codes ≈ 8–64 B/row against the 512 B/row of raw
    * doubles; the exact vectors are touched only by the bounded re-rank
    * join. Session-cached like every index stage. */
  private[ops] def pqCodesStage(spark: SparkSession, dir: String,
      nCoarse: Int, nSub: Int, m: Int, k: Int): DataFrame =
    pqCodesCache.getOrBuild((spark, StageCache.inputTag(spark, dir), nCoarse, nSub, m, k)) {
      val book = trainPqBook(spark, dir, nCoarse, nSub, m, k)
      val (_, subCents, assigned) = twoLevelIvfStage(spark, dir, nCoarse, nSub)
      val built = residualsOf(assigned, subCents)
        .select(col("vec_id"), col("cent_id"), col("sub_id"), col("proj"),
          graft.functions.CodebookFunctions.pqEncode(col("r"), book).as("codes"))
        .cache()
      built.count()
      built
    }

  /** q137: the residual-PQ code assignment itself, exploded to (vec_id,
    * subspace, code) for a fixed id window — pins the residual
    * construction AND training (seeding, Lloyd round, empty-cell rule)
    * AND encoding (argmin-L2, rounding, tiebreak) cell for cell under
    * the DuckDB oracle. */
  def pqCodes(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nRows: Int = 200): DataFrame = {
    pqCodesStage(spark, dir, nCoarse, nSub, m, k)
      .where(col("vec_id") < nRows)
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"), col("code"))
      .orderBy("vec_id", "subspace")
  }

  /** q138: IVFADC with exact re-rank — the full production PQ serving
    * pipeline (Jégou et al. 2011; the FAISS IVFPQ+refine shape):
    * coarse-first cell probe (shared [[probedLists]] stage), candidates
    * scored ASYMMETRICALLY from their codes alone
    * ([[graft.functions.PqAdcMicros]] — the scan touches the compressed
    * inverted file, never the vector column), ADC top-`rerank`
    * shortlist per query, then ONE bounded join back to the exact
    * vectors (nQueries × rerank rows) for the final exact-cosine top-k.
    * Scale shape: per-query work = nCoarse + nProbe1·nSub dots +
    * (probed rows) code lookups + rerank exact dots; the corpus-sized
    * relation in the plan carries m bytes of codes per row, not the
    * 64-double vector. */
  def pqAdcTopK(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame = {
    val book = trainPqBook(spark, dir, nCoarse, nSub, m, k)
    val (coarseCents, subCents, assigned) = twoLevelIvfStage(spark, dir, nCoarse, nSub)
    val codes = pqCodesStage(spark, dir, nCoarse, nSub, m, k)
    val q = assigned.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val probes = probedLists(coarseCents, subCents, q, nProbe1, nProbe2)
    // residual decomposition: cos ≈ ⟨qu, scu⟩ + ⟨qu, r̂⟩ — the first
    // term is per probed LIST (one exact dot against the bounded
    // sub-centroid), only the second is quantized; both terms are
    // bit-identical cross-engine (index-order dot chain + exact
    // integer micros), so the rank needs only the house round-6
    val adc = codes.join(broadcast(probes), Seq("cent_id", "sub_id"))
      .where(col("vec_id") =!= col("q_id"))
      .join(broadcast(subCents), Seq("cent_id", "sub_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (col("proj") * dot(col("qu"), col("scu")) +
          graft.functions.CodebookFunctions.pqAdcMicros(col("qu"), col("codes"), book) /
            lit(1e6)).as("adc"))
    val aw = Window.partitionBy("q_id")
      .orderBy(round(col("adc"), 6).desc, col("neighbor_id"))
    val short = adc.withColumn("arn", row_number().over(aw))
      .where(col("arn") <= rerank)
      .select(col("q_id"), col("neighbor_id"))
    val scored = short
      .join(broadcast(q), Seq("q_id")) // nQueries rows — bounded
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("u").as("nu")),
        Seq("neighbor_id")) // the one exact-vector fetch: shortlist-sized
      .select(col("q_id"), col("neighbor_id"), dot(col("qu"), col("nu")).as("cos"))
    rankTopK(scored, topK)
  }

  /** Persist the COMPRESSED serving artifact: coarse + sub codebooks,
    * the PQ book as a (j, code, cv) relation, the codes-only inverted
    * file (cent_id-partitioned like every IVF artifact here), and the
    * exact vectors as a separate vec_id-keyed side file — the refine
    * store the re-rank fetches from, deliberately NOT part of the scan
    * path. At 10⁹ vectors the codes file is what must stay hot
    * (~8–64 B/row); the vectors file is cold point-lookup storage. */
  def savePqIndex(spark: SparkSession, dir: String, outDir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64): Unit = {
    val (coarseCents, subCents, assigned) = twoLevelIvfStage(spark, dir, nCoarse, nSub)
    val book = trainPqBook(spark, dir, nCoarse, nSub, m, k)
    val codes = pqCodesStage(spark, dir, nCoarse, nSub, m, k)
    IdStore.rebuild(spark, outDir) { w =>
      w.add("coarse")(coarseCents.write.parquet(_))
      w.add("subcents")(subCents.write.parquet(_))
      w.add("pqbook")(writePqBook(spark, book, _))
      w.add("codes")(writeCells(codes, _))
      w.add("meta") { path =>
        val (n, explained) = explainedOf(codes)
        writePqMeta(spark, path, nCoarse, nSub, m, k, n, explained)
      }
      w.add("vectors")(pqStore.layout.write(assigned.select(col("vec_id"), col("u")), _))
    }
  }

  /** The artifact's frozen-training provenance: the structural config,
    * how many vectors the books were TRAINED on, and the mean explained
    * energy (micro-scaled mean of proj² over the indexed rows — the
    * geometry-fit measure the drift probe re-measures) at train time. */
  private def writePqMeta(spark: SparkSession, path: String,
      nCoarse: Int, nSub: Int, m: Int, k: Int,
      nTrained: Long, explainedMicros: Double): Unit = {
    import spark.implicits._
    Seq((nCoarse, nSub, m, k, nTrained, explainedMicros, pqStore.layout.modulus))
      .toDF("n_coarse", "n_sub", "m", "k", "n_trained", "explained_micros",
        "id_buckets")
      .coalesce(1).write.parquet(path)
  }

  /** The lifecycle of every vector artifact here: the compressed one's
    * codes derived, books and meta beside them, the refine (vectors)
    * store keyed (`id_bucket` — the replay guard's and the expunge's
    * prune). The flat and two-level IVF artifacts open their writers
    * through it too: their stores are listed for the upgrade, and the
    * refine-store layout check passes where there is none. */
  private[graft] val pqStore = new IdStore("vec_id", IdStore.byId("vec_id"),
    "centroids", "coarse", "subcents", "assignments", "pqbook", "meta", "codes", "vectors")

  /** The refine store in its public (vec_id, u) shape — readers go
    * through this so the physical `id_bucket` partition column never
    * leaks into served relations. */
  private def pqVectorsOf(stored: DataFrame): DataFrame = stored.select(col("vec_id"), col("u"))

  /** Row count and mean EXPLAINED energy of a codes relation, the
    * latter in micros: the per-row proj² — the share of each unit vector's energy the frozen
    * coarse/sub geometry accounts for (1 − proj² = |r|² is what PQ must
    * compress, so when explained energy decays, quantization error and
    * with it ADC recall degrade). Explained, not residual, on purpose:
    * residual energy is bounded by 1 and already near it for weakly
    * clustered corpora, so a multiplicative threshold on it can NEVER
    * trip — the meaningful, scale-free signal is the explained share
    * collapsing. Summed via the house integer-micros discipline so the
    * aggregate is order-free: re-measuring unchanged rows reproduces
    * the frozen value BIT-EXACTLY, which is what makes the drift
    * trigger idempotent (a rebuilt artifact measures its own frozen
    * value and does nothing). One narrow-column aggregate — the
    * bounded-probe shape of [[graft.ops.LshIndex.maintainGeometry]]. */
  private def explainedOf(codes: DataFrame): (Long, Double) = {
    val r = codes.agg(
      sum(round(col("proj") * col("proj") * 1e6).cast("long")).as("s"),
      count(lit(1)).as("n")).head()
    val n = r.getLong(1)
    (n, if (r.isNullAt(0) || n == 0L) 0.0 else r.getLong(0).toDouble / n)
  }

  /** The PQ book as its (j, code, cv) artifact relation — one row per
    * (subspace, code), bounded at m·k rows. */
  private def writePqBook(spark: SparkSession, book: graft.functions.PqBook,
      path: String): Unit = {
    import spark.implicits._
    (0 until book.m).flatMap(j => (0 until book.k).map { c =>
      (j.toLong, c.toLong,
        (0 until book.dsub).map(d => book.flat((j * book.k + c) * book.dsub + d)).toSeq)
    }).toDF("j", "code", "cv")
      .write.parquet(path)
  }

  /** Rehydrate the bounded PQ book object from its artifact relation —
    * the JVM-side codebook every serving expression references. */
  private def readPqBook(pqbook: DataFrame): graft.functions.PqBook = {
    val bookRows = pqbook
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getSeq[Double](2)))
      .toMap
    val m = bookRows.keys.map(_._1).max + 1
    val k = bookRows.keys.map(_._2).max + 1
    val dsub = bookRows.head._2.length
    val flat = new Array[Double](m * k * dsub)
    bookRows.foreach { case ((j, c), cv) =>
      var d = 0
      while (d < dsub) { flat((j * k + c) * dsub + d) = cv(d); d += 1 }
    }
    new graft.functions.PqBook(m, k, dsub, flat)
  }

  // --- Training a two-level / PQ artifact -------------------------------

  /** Vector bytes under which a training batch trains on the driver
    * ([[trainedOnDriver]]): 16 384 vectors of [[Dim]] doubles. The bound
    * caps the driver's heap: a batch holds a few copies of its vectors
    * while it trains (the collected rows, their arrays, the residuals),
    * tens of MB at the bound. */
  private val DriverTrainBytes = 8L << 20

  /** A trained batch: the coarse book (cent_id, cu), the sub book
    * (cent_id, sub_id, scu), the inverted file (vec_id, cent_id, sub_id,
    * u) and, when PQ was asked for, its half ([[TrainedPq]]). `cached`
    * holds what the distributed path materialized; [[release]] drops it
    * once the stores are written. */
  private[ops] final case class Trained(coarse: DataFrame, subCents: DataFrame,
      assigned: DataFrame, pq: Option[TrainedPq], cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** The PQ half of [[Trained]]: the book, the compressed inverted file
    * (vec_id, cent_id, sub_id, proj, codes), and the meta's `n_trained`
    * and `explained_micros`. */
  private[ops] final case class TrainedPq(book: graft.functions.PqBook, codes: DataFrame,
      nTrained: Long, explainedMicros: Double)

  /** Train the two-level books on `vecs` (vec_id, u), and the PQ book of
    * shape `pq` = (m, k) on their residuals if asked: on the driver when
    * the batch is bounded ([[trainedOnDriver]]), else distributed
    * ([[trainedDistributed]]). Both give bit-identical books, rows and
    * meta (PqDriverTrainSpec). */
  private[ops] def trainedOf(vecs: DataFrame, nCoarse: Int, nSub: Int,
      pq: Option[(Int, Int)]): Trained =
    trainedOnDriver(vecs, nCoarse, nSub, pq)
      .getOrElse(trainedDistributed(vecs, nCoarse, nSub, pq))

  /** The distributed trainer: the coarse Lloyd round, the per-cell sub
    * round and the residual PQ round as Spark plans, each intermediate
    * cached and counted so the next collects read it once. */
  private[ops] def trainedDistributed(vecs: DataFrame, nCoarse: Int, nSub: Int,
      pq: Option[(Int, Int)]): Trained = {
    val cents = ivfCentroidsOf(vecs, nCoarse).cache()
    cents.count()
    val a1 = assignNearest(vecs, cents).cache()
    a1.count()
    val subCents = buildSubCents(a1, nSub).cache()
    subCents.count()
    val assigned = buildAssigned2(a1, subCents)
    pq match {
      case None => Trained(cents, subCents, assigned, None, Seq(cents, a1, subCents))
      case Some((m, k)) =>
        assigned.cache().count()
        // the meta's aggregate materializes the residuals' cache too
        val resid = residualsOf(assigned, subCents).cache()
        val (n, explained) = explainedOf(resid)
        val book = trainPqBookOf(resid, m, k)
        val codes = resid.select(col("vec_id"), col("cent_id"), col("sub_id"), col("proj"),
          graft.functions.CodebookFunctions.pqEncode(col("r"), book).as("codes"))
        Trained(cents, subCents, assigned, Some(TrainedPq(book, codes, n, explained)),
          Seq(cents, a1, subCents, assigned, resid))
    }
  }

  /** [[trainedDistributed]] in the JVM, when `vecs` holds at most
    * [[DriverTrainBytes]] of [[Dim]]-wide, non-null vectors: one bounded
    * collect takes up to one row past the bound, and if the batch fits,
    * training runs no further job (None if it does not fit). */
  private[ops] def trainedOnDriver(vecs: DataFrame, nCoarse: Int, nSub: Int,
      pq: Option[(Int, Int)]): Option[Trained] = {
    val cap = (DriverTrainBytes / (Dim * 8)).toInt
    val got = vecs.select(col("vec_id"), col("u")).limit(cap + 1).collect()
    if (got.length > cap || got.exists(r => r.anyNull || r.getSeq[Double](1).length != Dim))
      None
    else Some(trainRows(vecs.sparkSession, vecs.schema,
      got.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq, nCoarse, nSub, pq))
  }

  /** The driver training of collected rows of a relation with schema
    * `input`. It runs the kernels the distributed plans run
    * ([[graft.functions.NearestInCodebook.nearest]],
    * [[graft.functions.PqOps.encode]], [[graft.functions.DotProduct.of]])
    * with catalyst's arithmetic — `round` is
    * [[graft.functions.SqlMath.roundHalfUp]], a scaled mean is
    * `sum.toDouble / (count.toDouble * 1e6)` over the rounded micros,
    * `unitVec` is `x / sqrt(dot(x, x))` — and the same seeds (coarse: the
    * ids below nCoarse; sub: each cell's first nSub ids; PQ: the dense
    * ranks of the ids below k) and empty-cell rule (a PQ code no
    * residual picks keeps its seed). Every sum is of integers or in
    * index order, so row order does not matter. The relations come back
    * local, in the distributed relations' schemas. */
  private def trainRows(spark: SparkSession, input: StructType,
      rows: Seq[(Long, Array[Double])], nCoarse: Int, nSub: Int,
      pq: Option[(Int, Int)]): Trained = {
    import graft.functions.CodebookFunctions.{cellBooks, flatBook}
    val vecs = rows.map { case (id, u) => (id, u, arrayData(u)) }
    val seeds = rows.filter(_._1 < nCoarse)
    val seedBook = flatBook(seeds, dim = seeds.headOption.map(_._2.length).getOrElse(Dim))
    val coarse = unitMeans(vecs.flatMap { case (_, u, ud) => nearestIn(seedBook, 0L, ud).map(_ -> u) })
    val coarseBook = flatBook(coarse.toSeq, dim = coarse.headOption.map(_._2.length).getOrElse(Dim))
    val a1 = vecs.flatMap { case v @ (_, _, ud) => nearestIn(coarseBook, 0L, ud).map(_ -> v) }
    val subSeeds = a1.groupMap(_._1)(_._2).toSeq.flatMap { case (c, vs) =>
      vs.sortBy(_._1).take(nSub).zipWithIndex.map { case ((_, u, _), i) => (c, i.toLong, u) }
    }
    val subSeedBooks = cellBooks(subSeeds, dim = Dim)
    val sub = unitMeans(a1.flatMap { case (c, (_, u, ud)) =>
      nearestIn(subSeedBooks, c, ud).map(s => (c, s) -> u)
    })
    val subBooks = cellBooks(sub.toSeq.map { case ((c, s), scu) => (c, s, scu) }, dim = Dim)
    val subData = sub.map { case (cs, scu) => cs -> arrayData(scu) }
    val assigned = a1.flatMap { case (c, (id, u, ud)) =>
      nearestIn(subBooks, c, ud).map(s => (id, c, s, u, ud))
    }
    val rel = (schema: StructType, rs: Seq[Row]) => {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rs.asJava, schema)
    }
    val trainedPq = pq.map { case (m, k) =>
      // the projection residual r = u - proj·scu, proj = ⟨u, scu⟩
      val resid = assigned.map { case (id, c, s, u, ud) =>
        val scu = sub((c, s))
        val proj = DotProduct.of(ud, subData((c, s)))
        (id, c, s, proj, Array.tabulate(u.length)(i => u(i) - proj * scu(i)))
      }
      val book0 = pqSeedBook(resid.collect { case (id, _, _, _, r) if id < k => (id, r) }, m)
      val dsub = book0.dsub
      val flat = book0.flat.clone() // empty cells keep their seed
      scaledMeans(resid.flatMap { case (_, _, _, _, r) =>
        val codes = graft.functions.PqOps.encode(book0, arrayData(r))
        (0 until m).map(j => (j, codes.getLong(j).toInt) -> r.slice(j * dsub, (j + 1) * dsub))
      }).foreach { case ((j, code), mv) =>
        System.arraycopy(mv, 0, flat, (j * book0.k + code) * dsub, dsub)
      }
      val book = new graft.functions.PqBook(m, book0.k, dsub, flat)
      val codes = resid.map { case (id, c, s, proj, r) =>
        Row(id, c, s, proj, graft.functions.PqOps.encode(book, arrayData(r)).toLongArray.toSeq)
      }
      val micros = resid.map { case (_, _, _, proj, _) =>
        roundHalfUp(proj * proj * 1e6, 0).toLong
      }
      TrainedPq(book, rel(codesSchema(input), codes), resid.length.toLong,
        if (resid.isEmpty) 0.0 else micros.sum.toDouble / resid.length)
    }
    Trained(
      rel(CoarseSchema, coarse.toSeq.sortBy(_._1).map { case (c, cu) => Row(c, cu.toSeq) }),
      rel(SubCentsSchema, sub.toSeq.sortBy(_._1).map { case ((c, s), scu) => Row(c, s, scu.toSeq) }),
      rel(assignedSchema(input), assigned.map { case (id, c, s, u, _) => Row(id, c, s, u.toSeq) }),
      trainedPq, cached = Nil)
  }

  private def arrayData(v: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(v)

  /** The codegen'd argmax's answer for one vector: the entry of `books`'
    * cell `cell` it assigns, or None where it yields NULL. */
  private def nearestIn(books: java.util.HashMap[java.lang.Long, graft.functions.CellBook],
      cell: Long, v: ArrayData): Option[Long] = {
    val id = graft.functions.NearestInCodebook.nearest(books, cell, v)
    if (id == Long.MinValue) None else Some(id)
  }

  /** Each key's vectors' integer-scaled mean, dim by dim: catalyst's
    * `sum(round(x * 1e6) as long) / (count * 1e6)`. */
  private def scaledMeans[K](rows: Seq[(K, Array[Double])]): Map[K, Array[Double]] =
    rows.groupMap(_._1)(_._2).map { case (key, vs) =>
      val sums = new Array[Long](vs.head.length)
      vs.foreach(v => sums.indices.foreach(d => sums(d) += roundHalfUp(v(d) * 1e6, 0).toLong))
      key -> sums.map(_.toDouble / (vs.length.toDouble * 1e6))
    }

  /** [[scaledMeans]] through [[unitVec]]: `x / sqrt(dot(x, x))`. */
  private def unitMeans[K](rows: Seq[(K, Array[Double])]): Map[K, Array[Double]] =
    scaledMeans(rows).map { case (key, v) =>
      val norm = math.sqrt(DotProduct.of(arrayData(v), arrayData(v)))
      key -> v.map(_ / norm)
    }

  // The trained relations' schemas, as the distributed plans emit them:
  // an argmax id is nullable, a unit mean is not (its elements are: a
  // division), and vec_id and u pass through from the input, so the
  // nullability of proj and codes follows u's.
  private val CoarseSchema = StructType(Seq(
    StructField("cent_id", LongType), StructField("cu", ArrayType(DoubleType), nullable = false)))
  private val SubCentsSchema = StructType(Seq(
    StructField("cent_id", LongType), StructField("sub_id", LongType),
    StructField("scu", ArrayType(DoubleType), nullable = false)))
  private def assignedSchema(input: StructType) = StructType(Seq(
    input("vec_id"), StructField("cent_id", LongType), StructField("sub_id", LongType),
    input("u")))
  private def codesSchema(input: StructType) = StructType(Seq(
    input("vec_id"), StructField("cent_id", LongType), StructField("sub_id", LongType),
    StructField("proj", DoubleType, input("u").nullable),
    StructField("codes", ArrayType(LongType, containsNull = false), input("u").nullable)))

  /** Persist a compressed PQ artifact TRAINED AND BUILT from an
    * arbitrary (vec_id, u) relation — the starting point of the
    * incremental PQ lifecycle, [[saveTwoLevelIndexOf]] extended with the
    * residual-PQ layers: coarse + sub codebooks and the PQ book all
    * train on exactly the rows given (the base split), codes and the
    * refine store are written for those rows, and later batches merge
    * under the FROZEN books via [[appendPqDelta]]. One-shot (runs once
    * inside an artifact memo) — local caches, no session stages. */
  def savePqIndexOf(vecs: DataFrame, outDir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64): Unit =
    IdStore.rebuild(vecs.sparkSession, outDir)(buildPq(_, vecs, nCoarse, nSub, m, k))

  /** Train every book on `vecs` and add every store of the artifact. */
  private def buildPq(w: IdStore.Writer, vecs: DataFrame,
      nCoarse: Int, nSub: Int, m: Int, k: Int): Unit = {
    val t = trainedOf(vecs, nCoarse, nSub, pq = Some((m, k)))
    addPqStores(w, t, nCoarse, nSub, m, k)
    t.release()
  }

  /** Add every store of a PQ artifact trained as `t`. */
  private[ops] def addPqStores(w: IdStore.Writer, t: Trained,
      nCoarse: Int, nSub: Int, m: Int, k: Int): Unit = {
    val spark = t.coarse.sparkSession
    val p = t.pq.get
    w.add("coarse")(t.coarse.write.parquet(_))
    w.add("subcents")(t.subCents.write.parquet(_))
    w.add("pqbook")(writePqBook(spark, p.book, _))
    w.add("codes")(writeCells(p.codes, _))
    w.add("meta")(writePqMeta(spark, _, nCoarse, nSub, m, k, p.nTrained, p.explainedMicros))
    w.add("vectors")(pqStore.layout.write(t.assigned.select(col("vec_id"), col("u")), _))
  }

  /** Merge a delta batch of NEW vectors into a persisted
    * [[savePqIndexOf]] artifact under the FROZEN codebooks — the
    * [[appendTwoLevelDelta]] contract carried through the compressed
    * layers: coarse/sub assignment, projection residual, and PQ
    * encoding are all per-ROW under bounded frozen books, so base ∪
    * delta is row-identical to encoding the full corpus under the same
    * books (merged ≡ monolith — the q141 gate). Codes land as APPENDED
    * files in exactly the cent_id partitions the delta hashes to, the
    * refine store appends alongside; merge cost ∝ |delta|. Replay-safe:
    * already-indexed vec_ids are anti-joined out against the refine
    * store's vec_id column up front (one pruned-column scan), so
    * re-merging the same batch — the retry a production ingest
    * eventually does — is a no-op instead of silently double-writing
    * codes. Bootstrap-safe: a first delta into an artifact without
    * books IS the base build — [[savePqIndexOf]]'s training, at its
    * defaults, on the delta's rows. A codebooks-only artifact has no
    * refine store: its first delta indexes everything (the
    * [[appendDailyDelta]] bootstrap contract). */
  def appendPqDelta(deltaVecs: DataFrame, indexDir: String): Unit =
    pqStore.write(deltaVecs.sparkSession, indexDir) { w =>
      if (!w.has("pqbook")) buildPq(w, deltaVecs, nCoarse = 8, nSub = 4, m = 8, k = 64)
      else appendPq(w, deltaVecs)
    }

  private def appendPq(w: IdStore.Writer, deltaVecs: DataFrame): Unit = {
    // RESURRECTION ([[IdStore.withdraw]]): re-encoding under the frozen
    // books reproduces the original rows
    val fresh = pqStore.admit(w, deltaVecs)(expungePq(w, _)).cache()
    fresh.count()
    val subCents = w.read("subcents")
    val book = readPqBook(w.read("pqbook"))
    val assigned = buildAssigned2(assignNearest(fresh, w.read("coarse")), subCents)
    // both stores' files publish as one version: a crash between the
    // writes leaves the previous version serving
    w.add("codes")(writeCells(residualsOf(assigned, subCents)
      .select(col("vec_id"), col("cent_id"), col("sub_id"), col("proj"),
        graft.functions.CodebookFunctions.pqEncode(col("r"), book).as("codes")), _))
    w.add("vectors")(pqStore.layout.write(assigned.select(col("vec_id"), col("u")), _))
    fresh.unpersist(blocking = false)
  }

  /** Visible for specs: how many artifact relations were actually
    * loaded (vs served warm) — the load-once contract. */
  private[ops] val pqLoadedRelBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** (book, coarse, subcents, codes, vectors) of a published version of
    * a [[savePqIndex]]-layout artifact — the loaded artifact behind warm
    * PQ serving, held in the artifact's memo slot ([[StoreMemo]]): any
    * write, in this process or another, publishes a new version, and the
    * next serve's lookup replaces the slot, unpersisting the superseded
    * version's relations, and loads the new one. A restarted service
    * loads the artifact ONCE and serves many batches — the round-10
    * shape re-read the whole artifact (book collect, codes scan, two
    * passes over the refine store) on EVERY invocation, conflating cold
    * start with steady state: 20.6 s per call at the 100× corpus vs
    * 5.2 s for the live stage. Same StageCache discipline as every live
    * index stage; the cold-start purity contract ("the load reads ONLY
    * the artifact") is unchanged — the first call after a restart or a
    * session release is exactly the cold load, and PqSpec pins the cold
    * path ([[pqTopKFromIndexCold]]) against the warm one. At a
    * 10⁹-vector deployment the codes relation is the one that must stay
    * hot (m bytes/row); MEMORY_AND_DISK storage lets the refine store
    * spill while staying off the every-query re-read path. */
  private def loadedPqIndex(spark: SparkSession, v: IdStore.Version)
      : (graft.functions.PqBook, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val book = StoreMemo.get(spark, v.dir, v.id, "pq.book")(readPqBook(v.read(spark, "pqbook")))
    def rel(part: String)(load: => DataFrame): DataFrame =
      StoreMemo.cached(spark, v.dir, v.id, s"pq.$part") {
        pqLoadedRelBuilds.incrementAndGet()
        load
      }
    val coarse = rel("coarse")(v.read(spark, "coarse"))
    val subCents = rel("subcents")(v.read(spark, "subcents"))
    val codes = rel("codes")(codesOf(v.read(spark, "codes")))
    val vectors = rel("vectors")(pqVectorsOf(v.read(spark, "vectors")))
    (book, coarse, subCents, codes, vectors)
  }

  /** The codes store with its partition column back to the live
    * stage's long. */
  private def codesOf(stored: DataFrame): DataFrame =
    stored.select(col("vec_id"), col("cent_id").cast("long").as("cent_id"),
      col("sub_id"), col("proj"), col("codes"))

  /** The IVFADC+rerank serve plan over loaded artifact relations —
    * shared by the warm ([[pqTopKFromIndex]]) and cold
    * ([[pqTopKFromIndexCold]]) paths, so both answer identically by
    * construction (and identically to the live [[pqAdcTopK]]: shared
    * probe pipeline, doubles round-trip parquet bit-exactly, codes are
    * integers). */
  private def pqServe(book: graft.functions.PqBook, coarseCents: DataFrame,
      subCents: DataFrame, codesAll: DataFrame, vectorsAll: DataFrame,
      nProbe1: Int, nProbe2: Int, nQueries: Int, topK: Int,
      rerank: Int, dead: Option[DataFrame] = None): DataFrame = {
    // tombstones apply at SERVE time, not load time: the cached loaded
    // relations stay valid across later tombstoneVectors appends
    val codes = dropDead(codesAll, dead)
    val vectors = dropDead(vectorsAll, dead)
    val q = vectors.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val probes = probedLists(coarseCents, subCents, q, nProbe1, nProbe2)
    val adc = codes.join(broadcast(probes), Seq("cent_id", "sub_id"))
      .where(col("vec_id") =!= col("q_id"))
      .join(broadcast(subCents), Seq("cent_id", "sub_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (col("proj") * dot(col("qu"), col("scu")) +
          graft.functions.CodebookFunctions.pqAdcMicros(col("qu"), col("codes"), book) /
            lit(1e6)).as("adc"))
    val aw = Window.partitionBy("q_id")
      .orderBy(round(col("adc"), 6).desc, col("neighbor_id"))
    val short = adc.withColumn("arn", row_number().over(aw))
      .where(col("arn") <= rerank)
      .select(col("q_id"), col("neighbor_id"))
    val scored = short
      .join(broadcast(q), Seq("q_id"))
      .join(vectors.select(col("vec_id").as("neighbor_id"), col("u").as("nu")),
        Seq("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), dot(col("qu"), col("nu")).as("cos"))
    rankTopK(scored, topK)
  }

  /** Serve IVFADC+rerank from a [[savePqIndex]] artifact, WARM: the
    * artifact relations are session-cached on first use
    * ([[loadedPqIndex]]) and every subsequent batch serves from the
    * resident relations — the load-once / query-many lifecycle a
    * restarted service actually runs. */
  def pqTopKFromIndex(spark: SparkSession, indexDir: String,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame = {
    val v = IdStore.latest(spark, indexDir)
    val (book, coarse, subCents, codes, vectors) = loadedPqIndex(spark, v)
    pqServe(book, coarse, subCents, codes, vectors,
      nProbe1, nProbe2, nQueries, topK, rerank,
      dead = v.tombstones(spark, "vec_id"))
  }

  /** The COLD serve path: every relation read straight off the artifact,
    * nothing resident — the restart-purity contract (answers must come
    * from the artifact alone), pinned equal to the warm path by
    * PqSpec. */
  private[graft] def pqTopKFromIndexCold(spark: SparkSession, indexDir: String,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame = {
    val v = IdStore.latest(spark, indexDir)
    pqServe(readPqBook(v.read(spark, "pqbook")),
      v.read(spark, "coarse"),
      v.read(spark, "subcents"),
      codesOf(v.read(spark, "codes")),
      pqVectorsOf(v.read(spark, "vectors")),
      nProbe1, nProbe2, nQueries, topK, rerank,
      dead = v.tombstones(spark, "vec_id"))
  }

  private val persistedPq = new TempArtifacts("graft-pq-index")

  /** q139: [[pqAdcTopK]] served entirely from the persisted compressed
    * artifact — the q127/q131 serving-shapes contract applied to the PQ
    * path: live stage and restartable on-disk index, one pinned answer
    * (both gates run under q138's oracle). */
  def pqTopKPersisted(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame = {
    val indexDir = persistedPq.getOrCreate(spark, s"$dir#$nCoarse:$nSub:$m:$k")(
      savePqIndex(spark, dir, _, nCoarse, nSub, m, k))
    pqTopKFromIndex(spark, indexDir, nProbe1, nProbe2, nQueries, topK, rerank)
  }

  /** q141: IVFADC served from an INCREMENTALLY BUILT compressed index —
    * q136's frozen-codebook delta contract applied to the PQ artifact:
    * the corpus splits by q96's deterministic delta rule, the base
    * trains + persists via [[savePqIndexOf]] (coarse, sub, AND PQ books
    * all trained on the base), the delta encodes under the frozen books
    * via [[appendPqDelta]], and the merged artifact serves through the
    * exact warm pipeline q139 uses. Gated hash-exact against an oracle
    * whose codebook CTEs train on the base split while encoding the
    * full corpus — merged ≡ monolith, end to end through the compressed
    * layers. */
  def pqIncremental(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame =
    pqTopKFromIndex(spark, pqLifecycled(spark, dir, nCoarse, nSub, m, k, Append),
      nProbe1, nProbe2, nQueries, topK, rerank)

  /** The session's PQ artifact of `dir` run through `steps`. */
  private def pqLifecycled(spark: SparkSession, dir: String,
      nCoarse: Int, nSub: Int, m: Int, k: Int, steps: Lifecycle.Step*): String =
    Lifecycle.artifact(persistedPq, IndexFamily.pq(nCoarse, nSub, m, k), spark, dir, steps: _*)

  /** Expunge vector tombstones from a [[savePqIndex]] artifact: the
    * codes inverted file rewrites ONLY the touched cent_id cells (the
    * [[compactTwoLevelIndex]] economics — the hot, scanned-per-query
    * relation compacts partially), the refine store rewrites only the
    * id buckets the dead ids hash to, and the tombstone set drops, in
    * one version — which the warm loaded relations are keyed by, so a
    * resident pre-compaction codes relation never meets the
    * post-compaction (tombstone-free) version (PqSpec pins
    * compact-under-warm-cache). Answer-invisible by construction (q147
    * under q145's oracle). */
  def compactPqIndex(spark: SparkSession, indexDir: String): Unit =
    pqStore.compact(spark, indexDir)(expungePq)

  /** Codebook-drift maintenance for the TRAINED family — the lifecycle
    * step frozen codebooks otherwise lack, and the PQ analog of
    * [[graft.ops.LshIndex.maintainGeometry]]: production PQ trains once
    * (day 1's batch) and every later delta encodes under the frozen
    * coarse/sub/PQ books, so as the corpus outgrows and drifts off the
    * training sample, ADC recall decays SILENTLY at fixed rerank (the
    * q140 table's measured shape). This probes two bounded signals
    * against the provenance frozen in `meta`:
    *
    *   - GROWTH: live vectors ≥ `growthFactor` × the training-set size
    *     (the corpus has outgrown the sample the books summarize);
    *   - QUALITY: measured mean explained energy has DECAYED to ≤ the
    *     train-time value / `explainedDecay` ([[explainedOf]] —
    *     one order-free narrow-column aggregate over the codes store,
    *     tombstones out; a distribution shift shows up here even at
    *     constant size, because new vectors sit farther from the frozen
    *     sub-centroids, the geometry explains less of their energy, and
    *     PQ is left compressing more with the same 8 codes).
    *
    * Either trips a RETRAIN-AND-RE-ENCODE rebuild: the full trained base
    * build re-runs over the live set read from the current version's
    * files and publishes every store anew in one version (a crash
    * leaves the old version serving; re-running the maintenance
    * converges) — deterministic, so the result is EXACTLY the
    * artifact a fresh [[savePqIndexOf]] over the live corpus would
    * build (the q173 gate pins the serve under q138's full-corpus
    * oracle). The structural config (nCoarse/nSub/m/k) stays frozen
    * across retrains — the gate-comparable contract; re-deriving it
    * adaptively is the caller's choice via an explicit rebuild.
    * Idempotent: after a rebuild the meta freezes the live count and
    * the re-measured residual reproduces bit-exactly, so a second run
    * measures its own frozen values and does nothing. A pre-meta
    * artifact BACKFILLS provenance from the artifact itself (structural
    * config from the stores, the live measurements as the frozen
    * baseline) and returns None — the first run after upgrade
    * establishes the baseline rather than guessing one.
    *
    * Returns (trainedOn, liveNow) if a rebuild ran. */
  def maintainPqCodebooks(spark: SparkSession, indexDir: String,
      growthFactor: Double = 2.0, explainedDecay: Double = 1.5): Option[(Long, Long)] =
    pqStore.write(spark, indexDir) { w =>
      val dead = w.tombstones("vec_id")
      val (liveCount, measured) =
        explainedOf(dropDead(w.read("codes").select("vec_id", "proj"), dead))
      if (!w.has("meta")) {
        val book = readPqBook(w.read("pqbook"))
        val nCoarse = w.read("coarse").count().toInt
        val nSub = (w.read("subcents").count() / math.max(nCoarse, 1)).toInt
        w.add("meta")(writePqMeta(spark, _, nCoarse, nSub, book.m, book.k, liveCount, measured))
        None
      } else {
        val meta = w.read("meta").head()
        val nTrained = meta.getAs[Long]("n_trained")
        val frozen = meta.getAs[Double]("explained_micros")
        val drifted = liveCount >= growthFactor * nTrained ||
          (frozen > 0.0 && measured * explainedDecay <= frozen)
        if (!drifted) None
        else {
          val live = dropDead(pqVectorsOf(w.read("vectors")), dead)
          w.clear()
          buildPq(w, live, meta.getAs[Int]("n_coarse"), meta.getAs[Int]("n_sub"),
            meta.getAs[Int]("m"), meta.getAs[Int]("k"))
          Some((nTrained, liveCount))
        }
      }
    }

  /** q173: the codebook-drift maintenance path under q138's oracle —
    * the trained-family analog of [[graft.ops.LshIndex
    * .lshTopKRegeometried]] (q171). The artifact starts in the drifted
    * production shape: books TRAINED on the first `baseCount` vectors
    * (the day-1 bootstrap batch — every seed id present, so the build
    * is well-formed, just summarizing a corpus 100× smaller than what
    * it grows into), the whole remaining corpus appended under those
    * frozen books. [[maintainPqCodebooks]] must measure the drift
    * (growth trigger) and retrain-and-re-encode; because the rebuild is
    * the deterministic full base build over the live set, the serve
    * afterward must be EXACTLY the fresh full-corpus build's relation —
    * pinned in the hash gate, not just spec-asserted. A second
    * maintenance call must measure its own frozen values and hold
    * still. */
  def pqTopKRetrained(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16,
      baseCount: Int = 64): DataFrame = {
    val indexDir = persistedPq.getOrCreate(
      spark, s"$dir#retrain:$nCoarse:$nSub:$m:$k:$baseCount") { tmp =>
      val e = unitEmbeddings(spark, dir)
      savePqIndexOf(e.where(col("vec_id") < baseCount), tmp, nCoarse, nSub, m, k)
      appendPqDelta(e.where(col("vec_id") >= baseCount), tmp)
      require(maintainPqCodebooks(spark, tmp).isDefined,
        "the drifted artifact must retrain onto the live corpus")
      require(maintainPqCodebooks(spark, tmp).isEmpty,
        "a retrained artifact must measure its own baseline and hold still")
    }
    pqTopKFromIndex(spark, indexDir, nProbe1, nProbe2, nQueries, topK, rerank)
  }

  /** Drop a dead set's rows from the compressed artifact: only the
    * cent_id cells holding a dead vector's codes and the refine-store id
    * buckets the dead ids hash to rewrite. Shared by
    * [[compactPqIndex]] (whole tombstone set) and the resurrection
    * path in [[appendPqDelta]] (the re-appended overlap only). */
  private def expungePq(w: IdStore.Writer, dead: DataFrame): Unit = {
    IdStore.expunge(w, "codes", "cent_id", "vec_id", dead)
    pqStore.expungeKeyed(w, dead)
  }

  /** q147: q145's lifecycle COMPACTED — same build and delete set,
    * tombstones expunged by [[compactPqIndex]] before serving. Gated
    * under q145's oracle: the compressed artifact's compaction is
    * answer-invisible in the hash gate. */
  def pqCompacted(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame =
    pqTopKFromIndex(spark, pqLifecycled(spark, dir, nCoarse, nSub, m, k, Tombstone, Compact),
      nProbe1, nProbe2, nQueries, topK, rerank)

  /** q162: the compressed lifecycle COMPOSED — [[twoLevelComposed]]'s
    * sequence through the PQ layers: base build trains coarse/sub/PQ
    * books (frozen), delta encodes against them, deletes tombstone,
    * half the deleted RE-APPEND (re-encoding under frozen books
    * reproduces the original code rows), compaction expunges, the cold
    * serve answers. Gated against the q141-style oracle (books trained
    * on the base split) with the served relation filtered to the
    * survivors. */
  def pqComposed(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame =
    pqTopKFromIndex(spark,
      pqLifecycled(spark, dir, nCoarse, nSub, m, k, Append, Tombstone, Reappend, Compact),
      nProbe1, nProbe2, nQueries, topK, rerank)

  /** q145: the compressed artifact with DELETES — q143's tombstone
    * contract through the PQ layers: full-corpus build, the 10 % delete
    * set tombstoned, and the warm serve anti-joins it out of BOTH the
    * codes scan and the refine store (a dead vector neither queries,
    * nor ADC-scores, nor re-ranks). Gated against the q138 oracle with
    * the served relation filtered under the full-corpus-frozen
    * codebooks. */
  def pqTombstoned(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, topK: Int = 3, rerank: Int = 16): DataFrame =
    pqTopKFromIndex(spark, pqLifecycled(spark, dir, nCoarse, nSub, m, k, Tombstone),
      nProbe1, nProbe2, nQueries, topK, rerank)

  /** Retire vectors from a persisted ANN artifact (two-level or PQ
    * layout) — [[Retrieval.tombstoneDocs]]'s contract for the vector
    * indexes: takedowns and re-embedded docs land as an appended
    * delete set (cost ∝ |deletes|, nothing rewritten), and serving
    * anti-joins them out of the inverted file — a dead vector neither
    * queries nor surfaces as a neighbor, exactly as if the index had
    * been rebuilt without it under the same FROZEN codebooks (the
    * codebook-drift contract is the caller's, as with every delta
    * merge here; the q143/q145 gates pin serve ≡ filtered-rebuild).
    * Idempotent: anti-join semantics make replayed deletes harmless. */
  def tombstoneVectors(deletedIds: DataFrame, indexDir: String): Unit =
    pqStore.tombstone(deletedIds, indexDir)

  /** Drop tombstoned vectors from a served relation keyed by vec_id.
    * No forced broadcast — a delete set grows unboundedly between
    * compactions; AQE picks the build side. */
  private def dropDead(rel: DataFrame, dead: Option[DataFrame]): DataFrame =
    dead.fold(rel)(d => rel.join(d, Seq("vec_id"), "left_anti"))

  /** Answer ANN queries from a persisted [[saveTwoLevelIndex]] artifact
    * — same probe pipeline as the live stage, so answers are identical
    * by construction (doubles round-trip parquet bit-exactly; pinned by
    * IvfIndexPersistenceSpec's two-level case). Tombstoned vectors
    * ([[tombstoneVectors]]) drop out of the inverted file before the
    * probe, so they neither query nor surface. */
  def twoLevelTopKFromIndex(spark: SparkSession, indexDir: String,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, k: Int = 3): DataFrame = {
    val v = IdStore.latest(spark, indexDir)
    twoLevelProbe(
      v.read(spark, "coarse"),
      v.read(spark, "subcents"),
      dropDead(v.read(spark, "assignments")
        // partition-discovery typing: restore the live stage's long
        .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"),
          col("sub_id"), col("u")),
        v.tombstones(spark, "vec_id")),
      nProbe1, nProbe2, nQueries, k)
  }

  /** Expunge vector tombstones from a [[saveTwoLevelIndex]] artifact —
    * [[Retrieval.compactPostings]]'s contract for the ANN inverted
    * file: rewrite ONLY the cent_id partitions holding a dead vector
    * (survivors rewritten, dead rows dropped), delete the tombstone
    * set. Compaction cost ∝ touched cells, never the index — a delete
    * set clustered in embedding space (a retired source's vectors are
    * usually semantically close) touches few cells. Answer-invisible by
    * construction (the q146 gate serves the compacted artifact under
    * q143's oracle); one published version, like the postings
    * compaction. */
  def compactTwoLevelIndex(spark: SparkSession, indexDir: String): Unit =
    pqStore.write(spark, indexDir)(w => IdStore.purge(w, "vec_id")(expungeTwoLevel(w, _)))

  /** Drop a dead set's rows from the two-level inverted file: only the
    * cent_id cells holding a dead vector rewrite. Shared by
    * [[compactTwoLevelIndex]] (whole tombstone set) and the
    * resurrection path in [[appendTwoLevelDelta]] (the re-appended
    * overlap only). */
  private def expungeTwoLevel(w: IdStore.Writer, dead: DataFrame): Unit =
    IdStore.expunge(w, "assignments", "cent_id", "vec_id", dead)

  /** q146: q143's lifecycle COMPACTED — same full-corpus build and
    * delete set, tombstones expunged by [[compactTwoLevelIndex]] before
    * serving, so no anti-join remains in the plan. Gated under q143's
    * oracle: compaction is answer-invisible in the hash gate. */
  def twoLevelCompacted(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, k: Int = 3): DataFrame =
    twoLevelTopKFromIndex(spark,
      twoLevelLifecycled(spark, dir, nCoarse, nSub, Tombstone, Compact),
      nProbe1, nProbe2, nQueries, k)

  /** q161: the two-level lifecycle COMPOSED — base build (70 %, the
    * codebooks train here and stay frozen) → delta append (30 %) →
    * tombstone a 10 % delete set spanning both → RE-APPEND half the
    * deleted vectors (resurrection: re-assignment under the frozen
    * books reproduces the original rows) → compact → serve. Gated
    * against an oracle whose codebooks train on the base split while
    * the served inverted file keeps only the survivors: the whole
    * composition ≡ rebuild-on-survivors under frozen books. */
  def twoLevelComposed(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, k: Int = 3): DataFrame =
    twoLevelTopKFromIndex(spark,
      twoLevelLifecycled(spark, dir, nCoarse, nSub, Append, Tombstone, Reappend, Compact),
      nProbe1, nProbe2, nQueries, k)

  /** q143: the two-level artifact with DELETES — full-corpus build,
    * a deterministic 10 % delete set tombstoned, served through the
    * exact probe pipeline. Gated against an oracle whose codebooks
    * train on the FULL corpus (frozen books — deletes do not retrain)
    * while the served inverted file excludes the dead set: serve ≡
    * rebuild-on-survivors under frozen codebooks, end to end. */
  def twoLevelTombstoned(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, k: Int = 3): DataFrame =
    twoLevelTopKFromIndex(spark, twoLevelLifecycled(spark, dir, nCoarse, nSub, Tombstone),
      nProbe1, nProbe2, nQueries, k)

  /** The session's two-level artifact of `dir` run through `steps`. */
  private def twoLevelLifecycled(spark: SparkSession, dir: String,
      nCoarse: Int, nSub: Int, steps: Lifecycle.Step*): String =
    Lifecycle.artifact(persistedTwoLevel, IndexFamily.twoLevel(nCoarse, nSub), spark, dir,
      steps: _*)

  private val persistedTwoLevel = new TempArtifacts("graft-ivf2-index")
  private[ops] def persistedTwoLevelDirFor(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4): Option[String] =
    persistedTwoLevel.peek(spark, s"$dir#$nCoarse:$nSub")

  /** q131: [[twoLevelIvfTopK]] served entirely from the persisted
    * on-disk index — the q127 serving-shapes contract applied to ANN:
    * live session stage and restartable artifact, one pinned answer
    * (both gates run under the same oracle SQL). Artifact lifecycle =
    * [[TempArtifacts]]: built on first use, retired with the session's
    * stages by [[releaseStages]]. */
  def twoLevelTopKPersisted(spark: SparkSession, dir: String,
      nCoarse: Int = 8, nSub: Int = 4,
      nProbe1: Int = 4, nProbe2: Int = 2,
      nQueries: Int = 100, k: Int = 3): DataFrame = {
    // the artifact is shaped by (nCoarse, nSub): key the memo on them
    // too, or a second config under the same dir would serve the first
    // config's index
    val indexDir = persistedTwoLevel.getOrCreate(spark, s"$dir#$nCoarse:$nSub")(
      saveTwoLevelIndex(spark, dir, _, nCoarse, nSub))
    twoLevelTopKFromIndex(spark, indexDir, nProbe1, nProbe2, nQueries, k)
  }

  /** ANN via multi-table sign-LSH with multi-probe: `nTables` hash
    * tables, table t keyed by the dot-signs of `bits` seeded random
    * hyperplanes ([[hyperplaneWeight]] — independent per (table, bit),
    * so bits and tables scale free of the 64-dim budget the former
    * dim-slice keys were clamped by); each query probes its own bucket
    * per table plus every bucket within hamming distance `maxFlips`
    * (all flip-one and flip-two variants). Candidate generation is a
    * hash equi-join on (table, bucket) + a distinct — the same banded
    * shape as MinHash-LSH, never all-pairs.
    *
    * Recall@3 vs exact at sf0.01 under hyperplane keys: 8×8 + flip-two
    * = 0.97 — identical to the dim-slice keys' 0.97 (statistically the
    * same projection family on this near-isotropic corpus; dims ARE
    * random directions). Probe count per table grows ~bits²/2 (37 at
    * bits=8, 191 at bits=20) but probes are metadata rows — candidate
    * cost is governed by bucket population.
    *
    * The DEFAULT (`bits`/`nTables` ≤ 0) derives the configuration from
    * the corpus row count via [[adaptiveLshConfig]] — bucket population
    * is held ~constant as the corpus grows, so the default path carries
    * no scale cliff (a fixed 8-bit default left ~780-vector buckets at
    * 200k vectors: 29–62 s per 100× run vs ~2.9 s adaptive, equal
    * recall). Explicit values pin a config (q92 gates the 12×5 scale
    * point; specs pin 8×8 for the recall ladder). */
  def lshTopK(spark: SparkSession, dir: String, nQueries: Int = 200,
      k: Int = 3, bits: Int = 0, nTables: Int = 0,
      maxFlips: Int = 2): DataFrame = {
    val (bitsEff, nTablesEff) =
      if (bits > 0 && nTables > 0) (bits, nTables)
      else if (bits > 0) (bits, 8)
      else adaptiveLshConfig(corpusCount(spark, dir))
    require(bitsEff <= 30, "bucket keys fold into one positive Int")
    require(maxFlips >= 0 && maxFlips <= 2, "probe ladder supports hamming 0-2")
    val sig = lshSigStage(spark, dir, bitsEff, nTablesEff)
    val corpus = sig
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    // probes are DATA, not expressions: explode the mask ladder (a 37-int
    // literal array at bits=8/flips=2) and XOR it onto the bucket key —
    // a constant-size plan regardless of bits/flips, vs the former
    // 296-struct string-surgery projection that blew up codegen
    val masks = typedLit(probeMasks(bitsEff, maxFlips))
    val probes = sig.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket0")))
      .select(col("q_id"), col("tbl"), col("bucket0"), explode(masks).as("mask"))
      .select(col("q_id"), col("tbl"), col("bucket0").bitwiseXOR(col("mask")).as("bucket"))
    val cand = probes.join(corpus, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val qv = sig.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val scored = cand
      .join(broadcast(qv), Seq("q_id"))
      .join(sig.select(col("vec_id").as("neighbor_id"), col("u").as("nu")), Seq("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), dot(col("qu"), col("nu")).as("cos"))
    rankTopK(scored, k)
  }

  /** q95: corpus-scale embedding near-dup PAIRS — the scale path of the
    * bounded-exact [[nearDup]] (q36), completing the embedding rung of
    * the dedup ladder the way q32/q94 complete the text rung: candidates
    * are pairs sharing a sign-LSH bucket in ≥1 table (equi-join on
    * (table, bucket), never all-pairs), scored with the exact cosine,
    * kept at `cos >= threshold`. No probe ladder: near-dup targets
    * high-cosine pairs, whose per-table same-bucket collision
    * probability is already high — tables supply the recall that probes
    * buy in the top-k setting. (bits, nTables) defaults to the same
    * corpus-size derivation as [[lshTopK]] ([[adaptiveLshConfig]]), so
    * bucket population — and with it candidate volume per vector —
    * stays ~constant as the corpus grows. Hot buckets are population-
    * capped via the SAME guard as the text ladder
    * ([[Dedup.capBands]] — mass-duplicate embeddings would otherwise go
    * quadratic in one bucket; capped vectors keep their other tables).
    * The cap never binds at gate scale (≤ ~10-vector buckets at
    * sf0.01), so the static oracle omits it, exactly as q32's does. */
  def nearDupLsh(spark: SparkSession, dir: String, threshold: Double = 0.4,
      bits: Int = 0, nTables: Int = 0,
      maxBucketPopulation: Int = 1000): DataFrame =
    nearDupPairsStage(spark, dir, threshold, bits, nTables, maxBucketPopulation)
      .orderBy("vec_a", "vec_b")

  /** The unordered confirmed-pair stage behind [[nearDupLsh]] — shared
    * with [[semanticKeepers]], whose aggregate doesn't want the output
    * sort in its lineage. */
  private def nearDupPairsStage(spark: SparkSession, dir: String, threshold: Double,
      bits: Int, nTables: Int, maxBucketPopulation: Int): DataFrame = {
    val (bitsEff, nTablesEff) =
      if (bits > 0 && nTables > 0) (bits, nTables)
      else if (bits > 0) (bits, 8)
      else adaptiveLshConfig(corpusCount(spark, dir))
    require(bitsEff <= 30, "bucket keys fold into one positive Int")
    nearDupPairsOf(lshSigStage(spark, dir, bitsEff, nTablesEff),
      threshold, maxBucketPopulation)
  }

  /** The pair pipeline over a signature relation (vec_id, u, buckets) —
    * shared by [[nearDupLsh]] and the planted-duplicate recall spec.
    *
    * Unit vectors RIDE ON the bucket rows, so the self-join output is
    * scored and threshold-filtered inside the join's own codegen stage
    * and only the (tiny) survivor set reaches the distinct. The
    * candidates-first formulation (distinct 24M bare pairs, then two
    * joins to re-attach vectors, then score) shuffled every candidate
    * THREE more times — measured 16 s vs ~10 s at the 100× corpus.
    *
    * FIRST-LIVE-TABLE emission: a true near-dup pair (cos → 1) collides
    * in essentially EVERY table, so the naive join emits — and scores,
    * and distinct-shuffles — each pair nTables times; on a duplicate-
    * heavy corpus that multiplicity dominates the whole query (measured
    * 10.9 s at the 100× corpus, ~8 emissions per confirmed pair). Both
    * sides carry their full bucket array, so band t emits a pair only
    * when NO smaller band both matches and survived the population cap
    * (the per-doc `live_bands` list — a capped band must not suppress
    * its pair, or the "capped vectors keep their other tables" promise
    * breaks). The suppression predicate is ≤ nTables integer compares
    * inside the join stage, replacing a 64-dim dot + a distinct-shuffle
    * row per duplicate emission; the emitted pair SET — and the oracle —
    * are unchanged by construction. Measured at the 100× corpus (which
    * holds 10.04M TRUE near-dup pairs — ~100-copy duplicate groups):
    * 10.9 → 8.2 s wall, 278 → 181 CPU-s; the residual is the 10M-row
    * confirmed-pair relation itself (distinct + materialization —
    * consumers like q102 that reduce it further run in 0.5 s warm).
    * The `distinct` stays: it now dedupes nothing (one emission per
    * pair) but pins the contract against future emission-rule drift.
    *
    * The per-doc surviving-band list rides back onto the band rows via a
    * `collect_list OVER (PARTITION BY doc_id)` window, NOT a
    * groupBy+join: a forced `broadcast(live)` (the round-8 shape) ships
    * one row per corpus vector to every executor — fine at 200 k
    * vectors, a guaranteed OOM at the 10⁹-vector scale this file
    * targets, the exact disease the streaming band index is
    * threshold-gated against ([[graft.streaming.DocumentsStreaming
    * .nearDupCandidates]]'s `broadcastIndex` ladder). The window is
    * unconditionally scale-safe (one hash exchange of the band rows on
    * doc_id, partitions of ≤ nTables rows each, no driver-side
    * collect), and it evaluates [[Dedup.capBands]]'s lineage ONCE where
    * the join form rebuilt it for each side. ExchangeAuditSpec pins the
    * contract: with auto-broadcast thresholds off, nothing
    * corpus-proportional broadcasts in the q95 plan. */
  private[ops] def nearDupPairsOf(sig: DataFrame, threshold: Double,
      maxBucketPopulation: Int): DataFrame = {
    val capped = Dedup.capBands(
      sig.select(col("vec_id").as("doc_id"), col("u"), col("buckets"),
        posexplode(col("buckets")).as(Seq("band", "band_key"))),
      maxBucketPopulation)
    val buckets = capped.withColumn("live_bands",
      collect_list(col("band")).over(Window.partitionBy("doc_id")))
    val earlierLive = exists(
      filter(col("a.live_bands"), t => t < col("a.band")),
      t => element_at(col("a.buckets"), t + 1) === element_at(col("b.buckets"), t + 1))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id") && !earlierLive)
      .select(col("a.doc_id").as("vec_a"), col("b.doc_id").as("vec_b"),
        round(dot(col("a.u"), col("b.u")), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .distinct()
  }

  /** q135: EMBEDDING-SPACE decontamination — the semantic hole in the
    * lexical rungs: a PARAPHRASED eval item shares no word-5-gram, so
    * q69/q99's gram joins are provably blind to it (SemanticContamSpec
    * constructs exactly that pair), and its term profile need not rank
    * under q119's BM25 — but its embedding sits at high cosine to the
    * eval item. Eval set = `vec_id % 97 == 0` (q69's held-out rule on
    * the embeddings table).
    *
    * Scale shape: candidates come from the SAME sign-LSH signature
    * stage as q95 — eval band rows are tiny and BROADCAST against the
    * population-capped corpus bands, so the corpus never crosses the
    * eval set and never shuffles for candidate generation; pair volume
    * is bounded by |eval| × capped bucket population. Exact cosine
    * verifies at `threshold`, then the verdict aggregates per train
    * vector like q69's: how many eval items it collides with and how
    * close the worst collision is. */
  def semanticContamination(spark: SparkSession, dir: String,
      threshold: Double = 0.35, bits: Int = 0, nTables: Int = 0,
      maxBucketPopulation: Int = 1000): DataFrame = {
    val (bitsEff, nTablesEff) =
      if (bits > 0 && nTables > 0) (bits, nTables)
      else adaptiveLshConfig(corpusCount(spark, dir))
    semanticContaminationOf(lshSigStage(spark, dir, bitsEff, nTablesEff),
      threshold, maxBucketPopulation)
  }

  /** The q135 pipeline over any (vec_id, u, buckets) signature relation
    * — split out so the planted-paraphrase spec can drive it with a
    * handmade near-identical (eval, train) embedding pair.
    *
    * Eval-side size ladder (the q119/streaming two-rung discipline):
    * the eval split here is CORPUS-PROPORTIONAL (`vec_id % 97` — ~n/97
    * rows × nTables bands, each carrying a 64-double vector: ~340 MB of
    * broadcast at 8 M vectors), so forcing `broadcast(evalBands)`
    * unconditionally is the %-derived-eval-set scale cliff the round-7
    * baseline flagged. One footer-count-cheap row count on the (cached)
    * signature stage picks the rung: a bounded eval set broadcasts (the
    * common case — real eval suites are thousands of rows); past
    * `maxBroadcastEvalRows` the join falls back to the plain shuffle
    * hash join on (band, band_key), which is correct at any size. The
    * emitted pair set — and the oracle — are identical on both rungs
    * (SemanticContamSpec pins it). */
  private[graft] def semanticContaminationOf(sig: DataFrame,
      threshold: Double, maxBucketPopulation: Int,
      maxBroadcastEvalRows: Long = 200000L): DataFrame = {
    val bands = sig.select(col("vec_id").as("doc_id"), col("u"),
      posexplode(col("buckets")).as(Seq("band", "band_key")))
    val evalBands = bands.where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("u").as("eu"),
        col("band"), col("band_key"))
    val trainBands =
      Dedup.capBands(bands.where(col("doc_id") % 97 =!= 0), maxBucketPopulation)
    // one count on the (cached) signature stage picks the rung; band
    // rows = eval docs × nTables, so compare the doc count against the
    // row budget divided by a nominal 8-table fan-out
    val nEvalDocs = sig.where(col("vec_id") % 97 === 0).count()
    val evalSide =
      if (nEvalDocs <= maxBroadcastEvalRows / 8) broadcast(evalBands) else evalBands
    trainBands.join(evalSide, Seq("band", "band_key"))
      .select(col("doc_id").as("vec_id"), col("eval_id"), col("u"), col("eu"))
      // a pair colliding in several tables must score once, not per table
      .dropDuplicates("vec_id", "eval_id")
      .select(col("vec_id"), col("eval_id"),
        round(dot(col("u"), col("eu")), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cos_sim")).as("max_cos_sim"))
      .orderBy("vec_id")
  }

  /** q102: semantic-dedup pruning profile — the DECISION layer on top of
    * the q95 pair relation, per the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540: embed, group into buckets, drop all but one of
    * every high-cosine group). The keep rule here is the greedy
    * lowest-id rule: a vector is PRUNED iff some confirmed partner with
    * a smaller vec_id exists — since confirmed pairs are stored with
    * vec_a < vec_b, the pruned set is exactly `distinct vec_b`, one
    * projection + distinct over the pair relation, no second pass.
    * Deliberately NOT the transitive rule (q67's canonical keepers): the
    * greedy rule needs no connected-components iteration and is what a
    * single-pass bucketed dedup ships at scale; on a chain a~b, b~c,
    * a!~c it prunes BOTH b and c (conservative — may prune a vector
    * whose only lower partner was itself pruned), which is the
    * documented SemDeDup behavior of keeping one exemplar per bucket
    * rather than per component.
    *
    * Output is the per-label pruning profile (what fraction of each
    * semantic class the dedup removes — the read that decides whether a
    * threshold is eating a class), compact enough to oracle-check while
    * still covering pair generation + decision + accounting end-to-end.
    * Scale shape: everything upstream is q95's bucketed equi-join; the
    * decision layer adds one distinct on the (tiny) pair set and one
    * left semi-style join back to the corpus — no new corpus shuffle
    * beyond the label aggregate. */
  def semanticKeepers(spark: SparkSession, dir: String, threshold: Double = 0.4,
      bits: Int = 0, nTables: Int = 0,
      maxBucketPopulation: Int = 1000): DataFrame = {
    val pruned = nearDupPairsStage(spark, dir, threshold, bits, nTables, maxBucketPopulation)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("pruned", lit(1L))
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .join(pruned, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce(col("pruned"), lit(0L))).as("n_pruned"),
        (count(lit(1)) - sum(coalesce(col("pruned"), lit(0L)))).as("n_kept"))
      .orderBy("label")
  }

  /** Gate-reference stages: the recall gates (q62, q130, q140) anchor
    * their verdicts on reference relations that are IDENTICAL across
    * gates and across repeat invocations — the exact brute-force top-k
    * on the shared query set, and (q140) the probe-exact two-level
    * top-k at the gate budgets. Each is bounded (nQueries × k rows) but
    * corpus-priced to compute, so they are session stages with
    * [[releaseStages]] as retirement — the Hybrid pool discipline
    * (VERDICT r15 §5): a gate re-run re-measures the ANN path UNDER
    * TEST and the verdict join, never the fixed reference. */
  private val gateRefCache = new StageCache[(SparkSession, String)]
  private[ops] def gateRefBuilds = gateRefCache.builds

  private def exactRefStage(spark: SparkSession, dir: String,
      nQueries: Int, k: Int): DataFrame =
    gateRefCache.getOrBuild((spark,
        s"exact:${StageCache.inputTag(spark, dir)}:$nQueries:$k")) {
      val built = bruteForceTopK(spark, dir, nQueries, k)
        .select(col("q_id"), col("neighbor_id")).cache()
      built.count()
      built
    }

  private def twoLevelRefStage(spark: SparkSession, dir: String, nCoarse: Int,
      nSub: Int, nProbe1: Int, nProbe2: Int, nQueries: Int, k: Int): DataFrame =
    gateRefCache.getOrBuild((spark, s"tl:${StageCache.inputTag(spark, dir)}" +
        s":$nCoarse:$nSub:$nProbe1:$nProbe2:$nQueries:$k")) {
      val built = twoLevelIvfTopK(spark, dir, nCoarse, nSub,
          nProbe1, nProbe2, nQueries, k)
        .select(col("q_id"), col("neighbor_id")).cache()
      built.count()
      built
    }

  /** Recall@k of each ANN path against the exact brute-force top-k on the
    * same query set — the quality metric that makes the ANN claims
    * falsifiable (and a deterministic aggregate, so it oracle-checks). */
  def annRecall(spark: SparkSession, dir: String,
      nQueries: Int = 100, k: Int = 3): DataFrame = {
    val exact = exactRefStage(spark, dir, nQueries, k)
    def recallOf(method: String, approx: DataFrame): DataFrame =
      exact
        .join(approx.select(col("q_id"), col("neighbor_id"), lit(1).as("hit")),
          Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
          round(col("n_hit") / col("n_exact"), 4).as("recall"))
    recallOf("ivf", ivfTopK(spark, dir, nQueries = nQueries, k = k))
      .unionAll(recallOf("lsh_mp", lshTopK(spark, dir, nQueries = nQueries, k = k)))
      .orderBy("method")
  }

  /** q130: the two-level recall gate — recall@k of [[twoLevelIvfTopK]]
    * vs exact brute force, hash-pinned under the DuckDB oracle the way
    * q62 gates the flat-IVF and LSH rungs. Two rows: the EQUAL-budget
    * probe config (4 × 2 = 8 of 32 lists — the flat path's nProbe-8
    * budget, where the ceiling probe measured degradation with n) and a
    * partial escalation (6 × 3 = 18 of 32), so the gate pins the
    * knob→recall relationship itself — recall must rise with the probe
    * budget — not just one point. (The adaptive config's own 16 × 4
    * budget covers ALL 32 lists of the gate codebook — a degenerate
    * full scan here; its ≥ 0.95 evidence at the multi-million-vector
    * regime it exists for is the probe-sweep table in BASELINE.md.)
    * The gate corpus codebook (8 coarse × 4 sub) matches q129. */
  def annRecallTwoLevel(spark: SparkSession, dir: String,
      nQueries: Int = 100, k: Int = 3): DataFrame = {
    val exact = exactRefStage(spark, dir, nQueries, k)
    def recallOf(method: String, approx: DataFrame): DataFrame =
      exact
        .join(approx.select(col("q_id"), col("neighbor_id"), lit(1).as("hit")),
          Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
          round(col("n_hit") / col("n_exact"), 4).as("recall"))
    recallOf("two_level_4x2",
        twoLevelIvfTopK(spark, dir, nCoarse = 8, nSub = 4,
          nProbe1 = 4, nProbe2 = 2, nQueries = nQueries, k = k))
      .unionAll(recallOf("two_level_6x3",
        twoLevelIvfTopK(spark, dir, nCoarse = 8, nSub = 4,
          nProbe1 = 6, nProbe2 = 3, nQueries = nQueries, k = k)))
      .orderBy("method")
  }

  /** q140: the IVFADC recall gate — the compressed path's quality claim
    * as hash-pinned evidence (it previously lived only in the PqProbe
    * tables), at two escalating probe budgets like q130. The loss
    * decomposes: (probe misses — the true neighbor's cell wasn't
    * probed) + (quantization misses — probed, but the ADC shortlist
    * dropped it). Probe loss is the CODEBOOK's property, already gated
    * by q130, and it grows with corpus/budget ratio — no constant floor
    * survives a scale-up (measured: e2e 0.57 at sf0.001 → 0.39 at
    * sf0.1 for the same 4×2 budget). Quantization loss is the RERANK
    * DEPTH's property relative to the probed population: a fixed
    * 16-deep shortlist over probed lists that grow with n decays too
    * (0.82 at sf0.01 → 0.63 at sf0.1), which is exactly why production
    * IVFADC scales rerank with the probed population. The gate
    * therefore pins three points calibrated to the gate corpus:
    * the q138 config (floor 0.7), a probe escalation at the same
    * rerank (floor 0.7 — MORE candidates competing for the same
    * shortlist, quant recall may dip slightly), and a rerank
    * escalation (r64, floor 0.9 — depth buys the loss back), so the
    * rerank→recall knob is itself hash-pinned; `e2e_recall` vs brute
    * force rides along as ungated evidence per budget. The scale story
    * (rerank must track probed-list population) is the BASELINE.md
    * sweep, as with every budget knob in this file. The sketch-gate
    * pattern (q114/q116): the verdict column is recomputed identically
    * by the oracle, so the claim itself is pinned. */
  def annRecallPq(spark: SparkSession, dir: String,
      nQueries: Int = 100, k: Int = 3): DataFrame = {
    val brute = exactRefStage(spark, dir, nQueries, k)
    def verdictOf(method: String, bound: Double,
        nProbe1: Int, nProbe2: Int, rerank: Int): DataFrame = {
      val adc = pqAdcTopK(spark, dir, nProbe1 = nProbe1, nProbe2 = nProbe2,
        nQueries = nQueries, topK = k, rerank = rerank)
        .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
      // the probe-exact reference is a REFERENCE here (the ADC serve is
      // the path under test) — staged like the brute reference
      val probeExact = twoLevelRefStage(spark, dir, nCoarse = 8, nSub = 4,
        nProbe1 = nProbe1, nProbe2 = nProbe2, nQueries = nQueries, k = k)
      val quant = probeExact.join(adc, Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_ref"),
          sum(coalesce(col("hit"), lit(0))).as("quant_hit"))
      val e2e = brute.join(adc, Seq("q_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0))).as("e2e_hit"))
      quant.crossJoin(broadcast(e2e)) // 1-row × 1-row
        .select(lit(method).as("method"), col("n_ref"), col("quant_hit"),
          round(col("quant_hit") / col("n_ref"), 4).as("quant_recall"),
          col("e2e_hit"), round(col("e2e_hit") / col("n_ref"), 4).as("e2e_recall"))
        .withColumn("within_bound",
          when(col("quant_recall") >= bound, 1L).otherwise(0L))
    }
    verdictOf("pq_4x2_r16", 0.7, 4, 2, 16)
      .unionAll(verdictOf("pq_6x3_r16", 0.7, 6, 3, 16))
      .unionAll(verdictOf("pq_4x2_r64", 0.9, 4, 2, 64))
      .orderBy("method")
  }

  /** q107: embedding outlier profile — per label, how far its members
    * stray from the label centroid (cosine to the centroid direction):
    * vector count, mean and minimum cosine, and how many point AWAY
    * (cos < 0). The actionable filter read on top of q78's tightness
    * diagnostic: mislabeled or garbage embeddings sit in the cold tail,
    * and a curation pass drops or re-labels them. Determinism recipe as
    * q78/q39: centroid components are means of 1e6-scaled LONG sums
    * (exact under any partitioning); per-vector cosine is the codegen'd
    * index-order [[graft.functions.DotProduct]] against the (broadcast,
    * per-label-identical) centroid; the mean cosine crosses the
    * unordered SUM as 1e6-scaled longs. One corpus shuffle (the
    * per-(label, dim) component sums); the scoring pass is a broadcast
    * join + hash aggregate. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame =
    embeddingOutliersOf(Tables.embeddingsSpread(spark, dir))

  /** The q107 pipeline over any (vec_id, label, embedding) relation —
    * split out so the planted-outlier spec can drive it with a vector
    * known to point away from its label. */
  private[graft] def embeddingOutliersOf(emb: DataFrame): DataFrame = {
    val e = emb
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      // guard: a zero vector has no direction; none exist in this corpus
      // (min |v| ~ 1) but a library shouldn't NaN on one
      .where(aggregate(col("v"), lit(0.0), (a, x) => a + x * x) > 0)
    val sv = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(round(col("x") * 1e6).cast("long")).as("sv"), count(lit(1)).as("n"))
    val cent = sv
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("sv") / col("n") / lit(1e6)).as("m")))).as("pm"))
      .select(col("label"), transform(col("pm"), p => p.getField("m")).as("cv"))
    val scored = e.join(broadcast(cent), Seq("label"))
      .select(col("label"),
        (dot(col("v"), col("cv")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("cv"), col("cv"))))).as("cos"))
    scored
      .select(col("label"), col("cos"), round(col("cos") * 1e6).cast("long").as("cos6"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum("cos6") / count(lit(1)) / 1e6, 4).as("avg_cos"),
        round(min("cos"), 4).as("min_cos"),
        sum(when(col("cos") < 0, 1L).otherwise(0L)).as("n_neg"))
      .orderBy("label")
  }

  /** q89: int8 quantization loss — per label, the mean and max absolute
    * reconstruction error of symmetric max-abs int8 quantization (the
    * standard ANN-index compression). The read that decides whether an
    * index can ship at 4× less memory. Determinism: quantize/dequantize
    * is exact per component; the per-vector mean-abs-error folds the
    * components in index order (sequential `aggregate` HOF); per-label
    * averages cross the unordered SUM as 1e9-scaled longs. */
  def quantizationError(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddingsSpread(spark, dir)
      .select(col("label").cast("long").as("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("s", aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
    // an all-zero vector quantizes with exactly zero error — it stays in
    // the per-label stats (diluting the mean), never silently dropped
    val recon = e.withColumn("err",
      when(col("s") > 0,
        aggregate(col("v"), lit(0.0),
          (a, x) => a + abs(x - round(x / col("s") * 127) * col("s") / 127)) / size(col("v")))
        .otherwise(lit(0.0)))
    recon
      .select(col("label"), round(col("err") * 1e9).cast("long").as("err9"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum("err9") / count(lit(1)) / 1e9, 6).as("avg_abs_err"),
        round(max("err9") / 1e9, 6).as("max_abs_err"))
      .orderBy("label")
  }

  /** q78: per-label embedding statistics — count, mean vector norm, and
    * centroid norm (a low centroid norm = the label's vectors point in
    * scattered directions; near 1 = a tight semantic cluster). The
    * cluster-quality read a labeled-embedding pipeline runs after
    * annotation or clustering.
    *
    * Determinism recipe (as q39's k-means): everything that crosses an
    * unordered SUM is scaled to 1e6 and summed as LONGS (exact,
    * associative); the only double fold (centroid norm) runs in sorted
    * component order via the array-sort + `aggregate` HOF. Per-vector
    * norms use the codegen'd [[graft.functions.DotProduct]] fused loop. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddingsSpread(spark, dir)
      .select(col("label").cast("long").as("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val perLabel = e
      .select(col("label"), round(sqrt(dot(col("v"), col("v"))) * 1e6).cast("long").as("sn"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("sn").as("snsum"))
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(round(col("x") * 1e6).cast("long")).as("sv"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("svs"))
    perLabel.join(cent, Seq("label"))
      .select(col("label"), col("n_vecs"),
        round(col("snsum") / col("n_vecs") / 1e6, 4).as("avg_norm"),
        round(sqrt(aggregate(col("svs"), lit(0.0),
          (acc, s) => acc + pow(s.getField("sv") / col("n_vecs") / 1e6, lit(2.0)))), 4)
          .as("centroid_norm"))
      .orderBy("label")
  }

  /** q111: dominant principal direction of the (centered) embedding
    * cloud via two integer power-iteration rounds — the drift/anisotropy
    * diagnostic an embedding pipeline reads before trusting cosine
    * thresholds (a corpus whose variance collapses onto one axis makes
    * every cosine look high). Output: one row per dimension with the
    * loading normalized to max |loading| = 1.
    *
    * Determinism recipe (the q78/q107 discipline, taken all the way):
    * components quantize to 1e4-scaled LONGS up front, the mean vector
    * rounds to integers, and BOTH power-iteration mat-vec products are
    * pure integer arithmetic — every corpus-crossing SUM is exact under
    * any partitioning, so Spark and the DuckDB oracle agree bit-for-bit
    * with no FP-summation-order caveat. The inter-round rescale divides
    * the iterate to ≤1e4 and the row dot by 1e6, keeping every product
    * inside int64 up to ~1e8 rows × 64 dims (beyond that, split the
    * per-dim sum into a two-level shard/global aggregation).
    *
    * Plan shape — the d² ≪ n structure is the whole design: ONE corpus
    * pass aggregates the flattened moment vector (ΣqqT row-major, Σq,
    * n — dim²+dim+1 = 4161 cells) into a session-cached stage, and both
    * power-iteration rounds run on that 4161-row relation via the exact
    * centering identity Σ(q−m)(q−m)T = G − m·ST − S·mT + n·m·mT. The
    * corpus is scanned once per session, never joined on vec_id, never
    * windowed; everything after the moments shuffle is work on ≤4161
    * rows. (A first cut that centered via a per-(vec_id, pos) join
    * recomputed the centering per pass — 46 executed shuffles;
    * ExchangeAuditSpec's census caught it. The moments stage follows
    * the MinHash/IVF StageCache discipline instead.)
    */
  def principalDirection(spark: SparkSession, dir: String): DataFrame =
    directionFromMoments(
      momentsCache.getOrBuild((spark, StageCache.inputTag(spark, dir))) {
        val built = momentsOf(Tables.embeddingsSpread(spark, dir)).cache()
        built.count()
        built
      }, dim = 64)

  /** The q111 pipeline over any (vec_id, embedding) relation, uncached —
    * split out so the planted-anisotropy spec can drive it with a cloud
    * whose dominant axis is known by construction. */
  private[graft] def principalDirectionOf(emb: DataFrame, dim: Int): DataFrame =
    directionFromMoments(momentsOf(emb), dim)

  private val momentsCache = new StageCache[(SparkSession, String)]
  private[ops] def momentsBuilds = momentsCache.builds
  private[ops] def releaseMomentsStages(spark: SparkSession): Int =
    momentsCache.release(_._1 eq spark)

  /** Flattened moment relation (idx, s) of the 1e4-quantized component
    * arrays: idx < dim² → (ΣqqT)[idx/dim][idx%dim]; dim² ≤ idx <
    * dim²+dim → (Σq)[idx−dim²]; idx = dim²+dim → n. All integer, so the
    * sums are exact under any partitioning; per-row the cell array is
    * built from the BOUND `q` column (HOF-CSE discipline) and the
    * aggregation map-side combines onto dim²+dim+1 keys. */
  private def momentsOf(emb: DataFrame): DataFrame = {
    val e = emb.select(
      transform(col("embedding"), x => round(x.cast("double") * lit(1e4), 0).cast("long"))
        .as("q"))
    val cells = concat(
      flatten(transform(col("q"), a => transform(col("q"), b => a * b))),
      col("q"),
      array(lit(1L)))
    e.select(posexplode(cells).as(Seq("idx", "v")))
      .groupBy(col("idx").cast("long").as("idx"))
      .agg(sum(col("v")).as("s"))
  }

  /** Both power-iteration rounds over the (tiny) moment relation. */
  private def directionFromMoments(mom: DataFrame, dim: Int): DataFrame = {
    val d2 = dim * dim
    val n1 = broadcast(mom.where(col("idx") === d2 + dim).select(col("s").as("n")))
    val m = mom.where(col("idx") >= d2 && col("idx") < d2 + dim)
      .crossJoin(n1)
      .select((col("idx") - d2).as("j"),
        round(col("s") * lit(1.0) / col("n"), 0).cast("long").as("m"), col("s"))
    val g = mom.where(col("idx") < d2)
      .select((col("idx") / dim).cast("long").as("j"),
        (col("idx") % dim).as("k"), col("s").as("g"))
    val gc = g
      .join(broadcast(m.select(col("j"), col("m").as("mj"), col("s").as("sj"))), "j")
      .join(broadcast(m.select(col("j").as("k"), col("m").as("mk"), col("s").as("sk"))), "k")
      .crossJoin(n1)
      .select(col("j"), col("k"),
        (col("g") - col("mj") * col("sk") - col("sj") * col("mk") +
          col("n") * col("mj") * col("mk")).as("gc"))
    val v1 = gc.groupBy("j").agg(sum(col("gc")).as("v1"))
    val vq = v1.crossJoin(broadcast(v1.agg(max(abs(col("v1"))).as("mx"))))
      .select(col("j").as("k"),
        round(col("v1") * lit(1.0e4) / col("mx"), 0).cast("long").as("vq"))
    val v2 = gc.join(broadcast(vq), "k")
      .groupBy("j")
      .agg(sum(round(col("gc") * lit(1.0) * col("vq") / lit(1e6), 0).cast("long")).as("v2"))
    v2.crossJoin(broadcast(v2.agg(max(abs(col("v2"))).as("mx"))))
      .select((col("j") + 1).cast("long").as("pos"),
        round(col("v2") * lit(1.0) / col("mx"), 4).as("loading"))
      .orderBy("pos")
  }
}
