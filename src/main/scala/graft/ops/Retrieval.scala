package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.SqlMath.roundHalfUp
import graft.ops.Lifecycle.{Append, Compact, Reappend, Tombstone}

/** Sparse-lexical retrieval over the `documents` table — the BM25 layer a
  * training-data pipeline uses for eval-set mining, hard-negative mining,
  * and contamination triage ("which training docs would this benchmark
  * query retrieve?").
  *
  * Scale design (the 100 TB shape):
  *   - The query set is tiny and the corpus is huge, so queries BROADCAST
  *     and the corpus never shuffles against them: candidate postings are
  *     `tokens ⋈ broadcast(query_terms)` — an equi-join that prunes every
  *     document containing no query term before any aggregation.
  *   - Document frequency is computed from the candidate postings (only
  *     query terms need a df), so the term-statistics shuffle is bounded
  *     by |query vocabulary|, not corpus vocabulary.
  *   - Top-k per query is SALTED TWO-PHASE: local top-k within
  *     (query, salt) partitions, then a final top-k over ≤ salts×k
  *     survivors — no single reducer ever sees a whole query's candidate
  *     list, so a stop-word query cannot funnel the corpus through one
  *     task. The phase-1/phase-2 ordering is total (score desc, doc_id),
  *     so the composition is exactly the global top-k.
  *
  * Cross-engine determinism (DuckDB oracle): every aggregate that crosses
  * an unordered SUM is integer — per-term BM25 weights are computed from
  * integer tf/df/dl with a fixed association order, scaled to 1e6 and
  * summed as LONGS. The only doubles are per-row scalar expressions
  * written identically in both engines (same literals, same association),
  * so they are bit-identical IEEE sequences; `ln` agreement is pinned the
  * same way q65's tf-idf is.
  */
object Retrieval {

  /** Deterministic benchmark query set over the corpus vocabulary. */
  val DefaultQueries: Seq[(Int, String)] = Seq(
    1 -> "spark table scan",
    2 -> "window agg group",
    3 -> "customer query fast",
    4 -> "vector stream merge")

  private val postingsCache = new StageCache[(SparkSession, String)]
  private val gramsCache = new StageCache[(SparkSession, String)]
  private val dlCache = new StageCache[(SparkSession, String)]
  private[ops] def postingsBuilds = postingsCache.builds
  def releaseStages(spark: SparkSession): Int =
    // The persisted-index artifact shares the session stages' lifecycle
    // ([[TempArtifacts]]): releasing a session also retires its on-disk
    // index, or a corpus regenerated under the same dir would be served
    // stale answers by q127 while q110/q124 rebuild from the new data.
    persistedIndex.release(spark) +
      postingsCache.release(_._1 eq spark) + gramsCache.release(_._1 eq spark) +
      dlCache.release(_._1 eq spark)

  /** Session postings stage — the inverted-index artifact every BM25
    * call serves from: (doc_id, term, tf, dl), one tokenize→aggregate
    * pass per (session, dir), cached and materialized (the StageCache
    * discipline: consumers must plan against real row counts). The
    * corpus is scanned once per session no matter how many query
    * batches run — exactly how a production retrieval layer treats its
    * index build. Corpus stats (n_docs, Σdl) ride along as a grouping-
    * sets-free trick: the dl of each doc repeats on its postings, so
    * stats are an aggregate over `postings.dropDuplicates(doc_id)` —
    * but docs with ZERO tokens would vanish from postings, so dl rows
    * are emitted even for empty docs via a left join from documents. */
  private def postingsStage(spark: SparkSession, dir: String): DataFrame =
    postingsCache.getOrBuild((spark, StageCache.inputTag(spark, dir))) {
      val built = postingsOf(Tables.documents(spark, dir)).cache()
      built.count()
      built
    }

  /** The postings build over ANY (doc_id, text) relation — factored out
    * of the session stage so the incremental path ([[appendPostingsDelta]])
    * can run it on a delta batch alone: the artifact rows are PER-DOC
    * (tf is within-doc, dl is per-doc), so base ∪ delta is row-identical
    * to a full rebuild by construction. */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val tf = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // left join keeps token-less docs visible to the stats consumer
    // (null term, tf 0) without perturbing term joins (null ≠ any term)
    dl.join(tf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("term"), coalesce(col("tf"), lit(0L)).as("tf"), col("dl"))
  }

  /** q110: BM25 top-k per query (k1=1.2, b=0.75, Robertson-ish idf with
    * the +1 floor so weights stay positive). Output:
    * (query_id, doc_id, score, rank), rank 1..k per query.
    *
    * Two serving modes with a measured tradeoff (100× corpus,
    * local[32]): the default computes tf ONLY for query-term postings —
    * the broadcast prune runs before any aggregation, ~3.7 s single-
    * shot; `indexed = true` serves from the session [[postingsStage]]
    * (full-vocabulary inverted index, built once per (session, dir):
    * ~10.7 s cold, then every batch ~3.8 s with zero corpus work) — the
    * right mode when a retrieval service answers many query batches per
    * session. Both modes produce identical results (RetrievalSpec). */
  def bm25TopK(spark: SparkSession, dir: String,
               queries: Seq[(Int, String)] = DefaultQueries,
               topK: Int = 5, salts: Int = 32,
               indexed: Boolean = false): DataFrame = {
    import spark.implicits._
    val queryTerms = queries.toDF("query_id", "qtext")
      .select(col("query_id").cast("long").as("query_id"),
        explode(TextAnalysis.tokens(col("qtext"))).as("term"))
      .distinct()
    bm25Rank(Tables.documents(spark, dir),
      if (indexed) Some(indexStages(spark, dir)) else None,
      queryTerms, topK, salts, excludeSelf = false)
  }

  /** BM25 ranking for an arbitrary (query_id, term) relation — the
    * shared engine of [[bm25TopK]] (literal queries) and
    * [[contaminationRetrieval]] (queries derived from eval docs).
    * `excludeSelf` drops the doc whose id equals the query_id before
    * ranking (for corpus-derived queries, the source doc is a
    * degenerate guaranteed top hit). */
  /** Session doc-length stage for indexed serving — (doc_id, dl), one
    * dropDuplicates over the postings relation, cached: the per-doc
    * relation is |corpus| SHORT rows, while re-deriving it inside every
    * ranking call re-shuffles the full postings relation (measured: the
    * dominant per-page cost of the 100× sweep — 3 pages paid 3 corpus-
    * postings shuffles for a relation that never changes). */
  private def dlStage(spark: SparkSession, dir: String): DataFrame =
    dlCache.getOrBuild((spark, StageCache.inputTag(spark, dir))) {
      val built = postingsStage(spark, dir)
        .select(col("doc_id"), col("dl")).dropDuplicates("doc_id").cache()
      built.count()
      built
    }

  /** Indexed-serving artifacts: the session-cached postings and the
    * corpus stats of the session-cached per-doc lengths. */
  private[ops] def indexStages(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (postingsStage(spark, dir), corpusStats(dlStage(spark, dir)))

  /** Persist the BM25 index (postings + doc lengths) as parquet — the
    * lifecycle step the session-cached [[postingsStage]] lacks: a
    * serving restart re-paid the full corpus tokenize/aggregate build
    * (9.1 s at the 100× corpus), and at real scale the index must
    * outlive any one session anyway. Mirrors
    * [[Similarity.saveIvfIndex]]'s layout argument: postings are
    * partitioned by a hash bucket of the term, so a query batch prunes
    * to ≤ |query terms| buckets AT SCAN TIME — the storage-level analog
    * of the broadcast term prune ("probe cost ∝ query vocabulary, not
    * corpus vocabulary"). Token-less docs (null term rows in the
    * session stage) are carried in the dl relation only — the postings
    * artifact stays null-free so bucket pruning never needs a null
    * bucket. */
  def savePostingsIndex(spark: SparkSession, dir: String, outDir: String): Unit =
    IdStore.rebuild(spark, outDir) { w =>
      w.add("postings")(
        TermLayout.write(postingsStage(spark, dir).where(col("term").isNotNull), _))
      w.add("dl")(store.layout.write(dlStage(spark, dir), _))
    }

  /** Partition layout of the postings store: a query batch's terms name
    * the partitions it reads. */
  private val TermLayout = IdStore.Layout("term_bucket", 64, "term")

  /** The artifact's lifecycle: postings derived, the per-doc dl store
    * keyed (`id_bucket` — the replay guard's scan target). */
  private val store = new IdStore("doc_id", IdStore.byId("doc_id"), "postings", "dl")

  /** Persist an index from an arbitrary (doc_id, text) base relation —
    * the starting point of the incremental lifecycle (the full-corpus
    * [[savePostingsIndex]] specialization serves q127). */
  def savePostingsIndexOf(docs: DataFrame, outDir: String): Unit =
    IdStore.rebuild(docs.sparkSession, outDir)(addPostings(_, docs))

  /** Add both stores' rows of a (doc_id, text) relation. */
  private def addPostings(w: IdStore.Writer, docs: DataFrame): Unit = {
    val p = postingsOf(docs)
    w.add("postings")(TermLayout.write(p.where(col("term").isNotNull), _))
    w.add("dl")(store.layout.write(
      p.select(col("doc_id"), col("dl")).dropDuplicates("doc_id"), _))
  }

  /** Merge a delta batch of NEW documents into a persisted
    * [[savePostingsIndex]]/[[savePostingsIndexOf]] artifact — the daily-
    * ingest shape a production contamination/retrieval service actually
    * runs (q96's delta model applied to the index): the delta's
    * postings land as APPENDED files in exactly the term buckets its
    * vocabulary hashes to, dl rows append alongside, and nothing
    * already on disk is rewritten — dynamic-partition append touches
    * only the delta's partitions, so merge cost ∝ |delta|, never
    * ∝ |index|. Because every artifact row is per-doc (tf within-doc,
    * dl per-doc) and delta doc_ids are new, base ∪ delta is
    * row-identical to a full rebuild — [[bm25TopKFromIndex]] answers
    * over the merged artifact are therefore EQUAL to full-rebuild
    * answers, which is what the q133 gate pins under q110's own oracle
    * (corpus stats n_docs/Σdl re-derive from the merged dl relation once
    * per published version, so they update for free). Replay-safe: doc_ids already
    * in the artifact's dl relation are anti-joined out of the delta up
    * front — one column-pruned scan of the per-doc dl file plus a join
    * ∝ |delta| — so the retry/replay a production ingest eventually
    * does is a no-op instead of silently doubling the doc's postings
    * (PostingsIndexPersistenceSpec pins the replayed merge). Bootstrap:
    * a first delta into an empty artifact (streaming ingest starts
    * cold) has no dl relation to guard against — every delta doc is
    * fresh then, mirroring [[Sketches.appendDailyDelta]]'s first-append
    * path. Both stores' files publish as one version ([[IdStore]]). */
  def appendPostingsDelta(deltaDocs: DataFrame, indexDir: String): Unit =
    store.write(deltaDocs.sparkSession, indexDir) { w =>
      // materialized once: both stores' writes derive from it. A first
      // delta is admitted as `deltaDocs` itself, which its caller may
      // hold cached: only a cache made here is dropped here
      val fresh = store.admit(w, deltaDocs)(expungePostings(w, _))
      val own = fresh.storageLevel == StorageLevel.NONE
      if (own) fresh.cache().count()
      addPostings(w, fresh)
      if (own) fresh.unpersist(blocking = false)
    }

  /** Retire documents from a persisted postings artifact — the delete
    * half of the index lifecycle (takedowns, re-crawled URLs, licence
    * pulls) q133's append-only half lacks. Tombstones, not rewrites:
    * the delete set lands as appended rows in `$indexDir/tombstones`
    * (cost ∝ |deletes|, nothing on disk rewritten — the same
    * append-economics argument as the postings delta), and serving
    * drops it ([[bm25TopKFromIndex]]): from the candidate postings after
    * the term-bucket prune (so only probed rows are touched) and from
    * the dl relation before corpus stats (so n_docs/avgdl/df shrink
    * exactly as a rebuild's would — base − deleted + delta ≡ rebuild,
    * which is what the q142 gate pins under q110's oracle). Idempotent
    * by construction: anti-join semantics make a twice-deleted doc_id
    * harmless. A production index compacts when the tombstone fraction
    * crosses a threshold (rewrite only the touched term buckets); the
    * serve-time anti-join is the correct shape between compactions. */
  def tombstoneDocs(deletedIds: DataFrame, indexDir: String): Unit =
    store.tombstone(deletedIds, indexDir)

  /** Expunge the tombstones: rewrite ONLY the term buckets that hold a
    * deleted doc's postings (survivors re-written, dead rows dropped)
    * and the dl buckets the deleted ids hash to, then delete the
    * tombstone set. The production cadence: serve-time anti-joins
    * between compactions, compaction when the tombstone fraction
    * crosses a threshold — and compaction cost ∝ touched buckets, never
    * the artifact (a delete set concentrated in few terms rewrites few
    * directories; the untouched buckets' files survive byte-identical,
    * which the spec pins by mtime). Answer-invisible by construction:
    * the compacted artifact serves exactly what the anti-join served
    * (the q144 gate runs it under q142's oracle). The rewritten buckets
    * and the dropped tombstone set publish as one version, so a crash
    * anywhere leaves the pre-compaction version serving and a re-run
    * converges (AppendCrashWindowsSpec pins the windows). */
  def compactPostings(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)(expungePostings)

  /** Drop a dead set's rows from the artifact: only the term buckets
    * holding a dead doc's postings and the dl buckets its ids hash to
    * rewrite. Shared by [[compactPostings]] (whole tombstone set) and
    * the resurrection path in [[appendPostingsDelta]] (just the
    * re-appended overlap). */
  private def expungePostings(w: IdStore.Writer, dead: DataFrame): Unit = {
    IdStore.expunge(w, "postings", TermLayout.column, "doc_id", dead)
    store.expungeKeyed(w, dead)
  }

  /** q144: the q142 lifecycle COMPACTED — same base + delta + deletes,
    * but the tombstones are expunged by [[compactPostings]] before
    * serving, so the plan contains no anti-join at all (the artifact
    * itself is the surviving corpus). Gated under q142's oracle: the
    * fifth serving shape, one pinned answer — compaction is
    * answer-invisible in the hash gate, not just in a spec. */
  def bm25TopKCompacted(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = DefaultQueries,
      topK: Int = 5, salts: Int = 32): DataFrame =
    bm25TopKFromIndex(spark, lifecycled(spark, dir, Append, Tombstone, Compact),
      queries, topK, salts)

  /** q160: the FULL lifecycle COMPOSED in one relation — base build
    * → delta append → tombstone a delete set spanning both → RE-APPEND
    * part of the deleted docs (resurrection — the deleted-then-re-appended
    * interaction the pairwise q142/q144 gates can't see) → compact →
    * serve ([[Lifecycle]]'s rules). Gated under q110's oracle
    * restricted to the surviving corpus (everything except deleted AND
    * not re-appended): the whole composition ≡ a fresh build of
    * exactly that corpus. */
  def bm25TopKComposed(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = DefaultQueries,
      topK: Int = 5, salts: Int = 32): DataFrame =
    bm25TopKFromIndex(spark, lifecycled(spark, dir, Append, Tombstone, Reappend, Compact),
      queries, topK, salts)

  /** q142: BM25 over the FULL index lifecycle — base build + delta
    * append + tombstoned deletes, served from the merged artifact.
    * The corpus splits by q96's delta rule, and the delete set (spanning
    * BOTH base and delta docs — deletes must work against appended rows
    * too) is tombstoned. Gated under q110's oracle over the surviving
    * corpus: base − deleted + delta ≡ full rebuild on (corpus − deleted). */
  def bm25TopKWithTombstones(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = DefaultQueries,
      topK: Int = 5, salts: Int = 32): DataFrame =
    bm25TopKFromIndex(spark, lifecycled(spark, dir, Append, Tombstone),
      queries, topK, salts)

  /** q133: BM25 served from an INCREMENTALLY BUILT index — the corpus is
    * split by q96's deterministic delta rule, the base is persisted,
    * the delta merged via [[appendPostingsDelta]], and the merged
    * artifact serves the batch. Gated under q110's oracle: merged-index
    * answers ≡ full-rebuild answers ≡ live answers — the fourth serving
    * shape, one pinned answer. */
  def bm25TopKIncremental(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = DefaultQueries,
      topK: Int = 5, salts: Int = 32): DataFrame =
    bm25TopKFromIndex(spark, lifecycled(spark, dir, Append), queries, topK, salts)

  /** The session's postings artifact of `dir` run through `steps`. */
  private def lifecycled(spark: SparkSession, dir: String, steps: Lifecycle.Step*): String =
    Lifecycle.artifact(persistedIndex, IndexFamily.bm25, spark, dir, steps: _*)

  /** Serve BM25 from a persisted [[savePostingsIndex]] artifact — NO
    * corpus relation in the plan at all (the restarted-service shape).
    * Answers are pinned IDENTICAL to the live [[bm25TopK]] modes
    * (PostingsIndexPersistenceSpec; the q127 gate runs this under
    * q110's own oracle).
    *
    * The query text is tokenized and its terms hashed to their
    * `term_bucket`s on the driver ([[IdStore.Layout.bucketOf]]), so
    * planning runs no Spark job. When the probed buckets' postings files
    * plus the tombstones total under [[DriverRankBytes]] (the version
    * names every file's length, so no listing), the call answers on the
    * driver with no Spark job: it reads the query terms'
    * `(doc_id, term, tf, dl)` rows from the probed buckets' files
    * ([[IdStore.Version.readLocal]]), and df, the integer-micro BM25 and
    * the per-query top-k run in the JVM ([[rankedOnDriver]]), against
    * the version's corpus stats and dead set memoized once per version
    * (the first request after a publish runs the corpus-stats job). The
    * ranked rows come back as a local relation (`createDataFrame`) with
    * no sort above it, so collecting it runs no job either. Over the
    * bound the distributed [[rankedFromIndex]] plan serves, with the
    * same answer, as a lazy plan. */
  def bm25TopKFromIndex(spark: SparkSession, indexDir: String,
      queries: Seq[(Int, String)] = DefaultQueries,
      topK: Int = 5, salts: Int = 32): DataFrame =
    servedFromIndex(spark, indexDir, queries, topK, salts, DriverRankBytes)

  /** Probed postings plus tombstone bytes under which a request ranks
    * on the driver: the rows it reads (candidates and dead ids) come
    * from these files only, so the bound caps the driver's heap. It is
    * not a speed crossover: swept on a 4-core host over 50k- and
    * 200k-document stores (`Bm25BoundSweep`), the driver path beat the
    * distributed plan at every probed size up to the whole 25.7 MB
    * store (0.84–0.92 s against 0.98–1.04 s there). A candidate row
    * holds about 120 bytes of driver heap, 1.5–4.5 bytes per probed
    * byte (the more of a probed file's rows are candidates, the more),
    * so a request at the bound holds about 13–38 MB. */
  private val DriverRankBytes = 8L << 20

  /** [[bm25TopKFromIndex]] with the driver-path byte bound as an
    * argument, so specs can force either path. */
  private[ops] def servedFromIndex(spark: SparkSession, indexDir: String,
      queries: Seq[(Int, String)], topK: Int, salts: Int, driverBytes: Long): DataFrame = {
    // exactly the latest published version's files: a writer's
    // unpublished files are invisible, and nothing here writes
    val v = IdStore.latest(spark, indexDir)
    val terms = queryTermsOf(queries)
    val buckets = terms.map(t => TermLayout.bucketOf(t._2)).distinct
    if (probedBytes(v, buckets) < driverBytes) {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rankedOnDriver(spark, v, terms, buckets, topK).asJava, RankedSchema)
    } else {
      import spark.implicits._
      rankedFromVersion(spark, v, terms.toDF("query_id", "term"), buckets, topK, salts,
        excludeSelf = false)
    }
  }

  /** The term-bucket partitions of the postings store that a request
    * over `buckets` reads. */
  private def probed(buckets: Seq[Long]) = Some(TermLayout.column -> buckets)

  /** The bytes of the version's postings files in `buckets` plus its
    * tombstones: the files a driver-ranked request over those buckets
    * opens ([[IdStore.Version.filesUnder]]). */
  private[ops] def probedBytes(v: IdStore.Version, buckets: Seq[Long]): Long =
    (v.filesUnder("postings", probed(buckets)) ++ v.filesUnder("tombstones", None))
      .map(v.files).sum

  /** The distinct (query_id, term) pairs of literal queries, tokenized on
    * the driver by the kernel [[TextAnalysis.tokens]] runs. */
  private[ops] def queryTermsOf(queries: Seq[(Int, String)]): Seq[(Long, String)] =
    queries.flatMap { case (q, text) =>
      if (text == null) Nil
      else graft.core.TextNorm.splitWhitespaceUtf8(UTF8String.fromString(text))
        .array.toSeq.map(t => (q.toLong, t.toString))
    }.distinct

  /** The ranked relation's schema, as [[rankTopK]] emits it. */
  private val RankedSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("doc_id", LongType),
    StructField("score", DoubleType),
    StructField("rank", LongType, nullable = false)))

  /** [[bm25Scored]] + [[rankTopK]] over the candidate rows in the JVM,
    * expression for expression: the same association order, `log` as
    * catalyst's `Log` computes it (`StrictMath.log`), and `round` as
    * catalyst rounds a double ([[roundHalfUp]]). Per-term weights are
    * integer micros, so their sum is exact in any order. */
  private def rankedOnDriver(spark: SparkSession, v: IdStore.Version,
      terms: Seq[(Long, String)], buckets: Seq[Long], topK: Int): Seq[Row] = {
    val dead = deadIds(spark, v)
    // the query terms' postings rows, from their buckets' files only
    val cand = v.readLocal(spark, "postings", probed(buckets), Seq("doc_id", "term", "tf", "dl"),
      Some("term" -> terms.map(_._2).toSet[Any])).filterNot(r => dead(r.getLong(0)))
    // read only when some candidate needs a weight
    lazy val (nDocs, avgdl) = {
      val stats = corpusStatsOf(spark, v)
      (stats.getLong(0), stats.getLong(1) * 1.0 / stats.getLong(0))
    }
    // candidates are unique per (doc, term): the row count is the df
    val df = cand.groupBy(_.getString(1)).map { case (t, rs) => t -> rs.length.toLong }
    val queriesOf = terms.groupMap(_._2)(_._1)
    val sm = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    cand.foreach { r =>
      val (doc, term, tf, dl) = (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      val idf = StrictMath.log((nDocs - df(term) + 0.5) / (df(term) + 0.5) + 1.0)
      val w = roundHalfUp(idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6, 0).toLong
      queriesOf(term).foreach(q => sm((q, doc)) = sm.getOrElse((q, doc), 0L) + w)
    }
    sm.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (q, hits) =>
      hits.map { case ((_, doc), s) => (doc, s) }
        .sortWith { case ((d1, s1), (d2, s2)) => s1 > s2 || (s1 == s2 && d1 < d2) }
        .take(topK).zipWithIndex.map { case ((doc, s), i) =>
          Row(q, doc, roundHalfUp(s / 1000000.0, 4), i + 1L)
        }
    }
  }

  /** (n_docs, sum_dl) of a dl relation, as one row. */
  private def corpusStats(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** The version's corpus stats net of its tombstones, computed once per
    * published version into the artifact's memo slot. */
  private def corpusStatsOf(spark: SparkSession, v: IdStore.Version): Row =
    StoreMemo.get(spark, v.dir, v.id, "bm25:corpus")(
      // the dl store in its public (doc_id, dl) shape: the physical
      // `id_bucket` partition column never leaks into corpus stats
      corpusStats(store.live(v.read(spark, "dl").drop("id_bucket"),
        v.tombstones(spark, "doc_id"))).head())

  /** The version's tombstoned ids, read on the driver once per
    * published version into the artifact's memo slot. */
  private def deadIds(spark: SparkSession, v: IdStore.Version): Set[Long] =
    StoreMemo.get(spark, v.dir, v.id, "bm25:dead")(
      v.readLocal(spark, "tombstones", None, Seq("doc_id"), None).map(_.getLong(0)).toSet)

  /** BM25 ranking from a persisted artifact for an arbitrary
    * (query_id, term) relation — the distributed from-index engine: the
    * hybrid fusion's lexical pool ([[Hybrid.rrfTopKFromIndexes]],
    * corpus-derived queries) and [[bm25TopKFromIndex]] over its driver
    * bound. The query batch's term buckets are computed from its
    * bounded relation and pushed as a static `term_bucket IN (...)`
    * partition filter, so the scan reads only the probed directories.
    * The corpus is structurally unreachable (the by-name docs argument
    * throws if analyzed). */
  private[ops] def rankedFromIndex(spark: SparkSession, indexDir: String,
      queryTerms: DataFrame, topK: Int, salts: Int,
      excludeSelf: Boolean): DataFrame =
    rankedFromVersion(spark, IdStore.latest(spark, indexDir), queryTerms,
      TermLayout.bucketsOf(queryTerms), topK, salts, excludeSelf)

  private def rankedFromVersion(spark: SparkSession, v: IdStore.Version,
      queryTerms: DataFrame, buckets: Seq[Long], topK: Int, salts: Int,
      excludeSelf: Boolean): DataFrame = {
    val postings = v.read(spark, "postings")
      .where(col(TermLayout.column).isin(buckets: _*))
      // dl rides on every posting row (the store writes it) — reading it
      // here lets the ranker skip the per-doc dl join entirely
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    // tombstoned docs drop out at serve time: postings AFTER the bucket
    // prune (the anti-join touches only probed rows); the corpus stats
    // are the version's, net of the same tombstones
    val stats = corpusStatsOf(spark, v)
    bm25Rank(
      sys.error("the persisted-index path must not touch the corpus"),
      Some((store.live(postings, v.tombstones(spark, "doc_id")),
        spark.createDataFrame(java.util.List.of(stats), stats.schema))),
      queryTerms, topK, salts, excludeSelf = excludeSelf)
  }

  /** The session's persisted postings artifact for `dir`, built on
    * first use — shared by the q127 gate and the hybrid from-artifact
    * serving path. */
  private[ops] def persistedPostingsDir(spark: SparkSession, dir: String): String =
    persistedIndex.getOrCreate(spark, dir)(savePostingsIndex(spark, dir, _))

  /** One persisted-index artifact per (session, dir), built on first
    * use — the q127 gate entry: the determinism contract (a query
    * surface may be invoked repeatedly) meets the write-once lifecycle
    * via the same memoization discipline as the session stages. */
  private val persistedIndex = new TempArtifacts("graft-bm25-index")
  private[ops] def persistedIndexDirFor(spark: SparkSession, dir: String): Option[String] =
    persistedIndex.peek(spark, dir)

  /** q127: [[bm25TopK]] served entirely from the persisted parquet
    * index — same oracle as q110/q124, which is the point: three
    * physical serving shapes (scan-time prune / session index /
    * restartable on-disk index), one pinned answer. */
  def bm25TopKPersisted(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = DefaultQueries,
      topK: Int = 5, salts: Int = 32): DataFrame =
    bm25TopKFromIndex(spark, persistedPostingsDir(spark, dir), queries, topK, salts)

  private def bm25Rank(docs: => DataFrame, index: Option[(DataFrame, DataFrame)],
      queryTerms: DataFrame, topK: Int, salts: Int, excludeSelf: Boolean): DataFrame =
    rankTopK(bm25Scored(docs, index, queryTerms, excludeSelf), topK, salts)

  /** The scoring half of [[bm25Rank]] — emits the per-(query, doc)
    * integer-micro score relation UNRANKED, so a paged sweep can union
    * its pages' scores and rank ONCE (ranking partitions by query_id and
    * pages split the query set disjointly, so union-then-rank ≡
    * rank-per-page; scores are batch-independent — the
    * [[contaminationBatch]] argument). */
  private def bm25Scored(docs: => DataFrame, index: Option[(DataFrame, DataFrame)],
      queryTerms: DataFrame, excludeSelf: Boolean): DataFrame = {
    // by-name docs + lazy toks: the persisted-index path serves with NO
    // corpus relation at all (a restarted service has only the index),
    // so the tokenize plan must not even be ANALYZED when an index is
    // supplied
    lazy val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    // 1-row corpus stats (an index brings its own); avgdl written as
    // sum*1.0/count in BOTH engines
    val corpus = index.fold(
      corpusStats(toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))))(_._2)
      .withColumn("avgdl", col("sum_dl") * lit(1.0) / col("n_docs"))

    // candidate postings: only (doc, term) pairs where term is a query
    // term survive — the prune runs BEFORE any aggregation so the
    // corpus-side shuffle carries only query-term positions. The
    // relation is UNIQUE per (doc, term) and carries dl ON the row
    // (both the session stage and the persisted store hold a
    // per-posting dl column): re-joining the per-doc dl relation by
    // doc_id cost two exchanges per call for a value the row already
    // had, and query_id attaches AFTER df so df needs no distinct.
    val terms = queryTerms.select("term").distinct()
    val cand = index match {
      case Some((p, _)) =>
        p.join(broadcast(terms), "term")
          .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      case None =>
        toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            explode(col("toks")).as("term"))
          .join(broadcast(terms), "term")
          .groupBy(col("doc_id"), col("term"), col("dl"))
          .agg(count(lit(1)).as("tf"))
    }

    // df over candidate postings only (a term may appear in several
    // queries; candidates are unique per (doc, term), so a plain
    // partial-aggregating count IS the distinct-doc count per term)
    val dfreq = cand.groupBy("term").agg(count(lit(1)).as("df"))

    // per-term BM25 weight in 1e6-scaled micros (LONG): association
    // order mirrors the oracle SQL token for token
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val wMicros = round(idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))) *
      lit(1e6), 0).cast("long")

    val scoredAll = cand
      .join(broadcast(queryTerms), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(corpus))
      .select(col("query_id"), col("doc_id"), wMicros.as("sm"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("sm")).as("sm"))
    // df/idf stay corpus-true; self-exclusion only removes the
    // degenerate hit from the RANKING
    if (excludeSelf) scoredAll.where(col("doc_id") =!= col("query_id"))
    else scoredAll
  }

  /** q119: retrieval-based contamination TRIAGE — for each eval doc
    * (the q69 stand-in eval set, `doc_id % 97 == 0`), use its opening
    * tokens as a search query, retrieve the top-k training docs by
    * BM25 (the eval doc itself excluded — it is a guaranteed degenerate
    * hit), and count the word 5-grams each hit shares with that eval
    * doc. The triage read behind "the benchmark leaked": gram overlap
    * (q69) catches verbatim contamination; ranking by BM25 surfaces the
    * near-verbatim and paraphrase-adjacent docs an n-gram filter
    * misses, ordered by how retrievable they are from the eval prompt.
    *
    * Scale shape: the postings join fans out per QUERY CONTAINING the
    * term, so the cost is Σ_positions × (queries sharing that term) —
    * linear in the corpus only while the query batch is bounded.
    * `queryCap` bounds the batch (eval ids below it): the stand-in
    * eval-id rule (`% 97`) grows WITH the corpus, and an uncapped run
    * at the 100× corpus (≈5 200 simultaneous queries over a small
    * shared vocabulary) measured 56–85 s of pure fan-out vs ~1 s
    * capped. The full eval sweep is [[contaminationRetrievalSweep]] —
    * it pages successive id-range batches exactly how a production
    * triage job pages through a benchmark suite, keeping every batch's
    * shuffle bounded regardless of corpus or eval-suite size. The
    * default here covers every eval id at the sf0.01 gate (all ids
    * < 500), so the oracle pins the same relation.
    *
    * The gram join runs only on |queries|·k retrieved pairs versus the
    * (broadcast) eval grams — the corpus gram relation streams past
    * it, never shuffling. */
  def contaminationRetrieval(spark: SparkSession, dir: String,
      prefixTokens: Int = 8, topK: Int = 5, salts: Int = 32,
      queryCap: Long = 10000L): DataFrame =
    // serve from the session stages the sweep already builds (r16): the
    // postings/dl/grams relations are batch-independent (the sweep ≡
    // one-batch argument below), so the indexed path emits the exact
    // relation [[contaminationRetrievalOf]] derives from the raw corpus
    // — without re-tokenizing the corpus and re-deriving its 5-grams on
    // every invocation. The Of-form stays corpus-direct for spec-driven
    // constructed relations. RAW table, not the spread: with an index
    // the docs relation only sources the bounded eval query batch, and
    // the spread's repartition is an AQE-uncoalescible 32-task exchange
    // under a pushed-filter scan of a few rows (the heavy full-corpus
    // tokenize the spread exists for lives in the staged index build).
    contaminationBatch(Tables(spark, dir, "documents"),
      Some(indexStages(spark, dir)), gramsStage(spark, dir),
      col("doc_id") % 97 === 0 && col("doc_id") < queryCap,
      prefixTokens, topK, salts)
      .orderBy("query_id", "rank")

  /** The q119 pipeline over any (doc_id, text) relation — split out so
    * the planted-contamination spec can drive a corpus where an eval
    * doc's passage verbatim-leaks into a known training doc. */
  private[graft] def contaminationRetrievalOf(docs: DataFrame,
      prefixTokens: Int, topK: Int, salts: Int,
      queryCap: Long = 10000L): DataFrame =
    contaminationBatch(docs, None, TextAnalysis.docGrams(docs),
      col("doc_id") % 97 === 0 && col("doc_id") < queryCap,
      prefixTokens, topK, salts)
      .orderBy("query_id", "rank")

  /** One id-range batch of the contamination-triage pipeline: eval docs
    * selected by `evalFilter` become the query batch; retrieval +
    * shared-gram counting run exactly as in [[contaminationRetrievalOf]].
    * Returns the relation UNORDERED — callers sort (the sweep sorts once
    * over the union, not per batch).
    *
    * Batch-independence argument (why a paged sweep equals one giant
    * batch, pinned by ContaminationSweepSpec): every per-(query, doc)
    * score is built from batch-INDEPENDENT statistics — df is counted
    * over all docs containing the term (the candidate-postings relation
    * restricted to one term is the same regardless of which queries
    * brought the term in), n_docs/avgdl are corpus constants, and
    * ranking is a within-query window. So partitioning the eval set by
    * id range changes WHICH rows a batch emits, never their values. */
  private def contaminationBatch(docs: DataFrame, index: Option[(DataFrame, DataFrame)],
      grams: DataFrame, evalFilter: org.apache.spark.sql.Column,
      prefixTokens: Int, topK: Int, salts: Int): DataFrame =
    sharedGramCounts(grams,
      rankedBatch(docs, index, evalFilter, prefixTokens, topK, salts), evalFilter)

  /** The retrieval HALF of a batch: eval docs under `evalFilter` become
    * the query set; emits the ranked (query_id, doc_id, score, rank)
    * relation, unordered. */
  private[ops] def rankedBatch(docs: DataFrame, index: Option[(DataFrame, DataFrame)],
      evalFilter: org.apache.spark.sql.Column,
      prefixTokens: Int, topK: Int, salts: Int): DataFrame =
    rankTopK(scoredBatch(docs, index, evalFilter, prefixTokens), topK, salts)

  /** The UNRANKED scores of one batch — the sweep unions its pages'
    * scores and ranks once (ranking partitions by query_id and pages
    * split the query set disjointly, so the composition is exactly the
    * per-page ranking). */
  private def scoredBatch(docs: DataFrame, index: Option[(DataFrame, DataFrame)],
      evalFilter: org.apache.spark.sql.Column, prefixTokens: Int): DataFrame = {
    val queryTerms = docs.where(evalFilter)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, prefixTokens)))
          .as("term"))
    bm25Scored(docs, index, queryTerms, excludeSelf = true)
  }

  /** The gram-counting HALF: annotate a ranked relation with the word
    * 5-grams each hit shares with its eval query. ONE corpus-gram pass
    * per call — the sweep calls this once over the UNION of its pages'
    * rankings instead of once per page (the gram join cost is a corpus
    * scan against the broadcast pair set; paying it per page tripled
    * q123's 100× cost for zero isolation benefit, since the pair set is
    * already bounded by pages × queries × k). */
  private def sharedGramCounts(grams: DataFrame, ranked: DataFrame,
      evalFilter: org.apache.spark.sql.Column): DataFrame = {
    val evalGrams = grams.where(evalFilter)
      .select(col("doc_id").as("query_id"), col("gram"))
    val pairGrams = ranked.select(col("query_id"), col("doc_id"))
      .join(evalGrams, "query_id") // |pairs| × eval grams — broadcast-sized
    val shared = grams
      .join(broadcast(pairGrams), Seq("doc_id", "gram"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    ranked.join(shared, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** Batches the most recent [[contaminationRetrievalSweep]] paged
    * through in this JVM (−1 before any run) — bench telemetry, the
    * q59 rounds-count discipline: "per-batch fan-out stays bounded as
    * the eval suite grows" becomes checkable from the artifact. */
  val lastSweepBatches = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Session word-5-gram stage — (doc_id, gram), distinct per doc,
    * cached once per (session, dir) so a paged sweep does not re-derive
    * corpus grams per batch. */
  private[ops] def gramsStage(spark: SparkSession, dir: String): DataFrame =
    gramsCache.getOrBuild((spark, StageCache.inputTag(spark, dir))) {
      val built = TextAnalysis.docGrams(Tables.documents(spark, dir)).cache()
      built.count()
      built
    }

  /** The FULL q119 eval sweep: pages the eval set through id-range
    * batches of `batchWidth` and unions the per-batch verdicts — the
    * API form of the pattern that prevents the measured uncapped-batch
    * cliff (the `% 97` eval-id rule grows WITH the corpus; one giant
    * batch at the 100× corpus ran 56–85 s of postings fan-out, while
    * every `batchWidth`-bounded batch keeps Σ_positions × queries-per-
    * term — and with it each batch's shuffle — bounded regardless of
    * corpus or eval-suite size).
    *
    * Sweep ≡ one uncapped run, by construction: scores depend only on
    * batch-independent statistics (see [[contaminationBatch]]), so the
    * union over disjoint exhaustive id ranges emits exactly the
    * uncapped relation (ContaminationSweepSpec pins it at gate scale).
    *
    * Cost discipline: the corpus-side artifacts are session stages
    * built ONCE — the [[postingsStage]] inverted index replaces a
    * per-batch corpus tokenize (the sweep's dominant cost at 100×
    * otherwise) and [[gramsStage]] does the same for the 5-gram
    * relation; each batch then touches only its own query terms'
    * postings. The driver-side loop is control flow only (one `max`
    * scalar for the id range — the q59 bounded-loop shape); all data
    * stays distributed, and the union executes as independent bounded
    * stages over the shared cached relations. */
  def contaminationRetrievalSweep(spark: SparkSession, dir: String,
      prefixTokens: Int = 8, topK: Int = 5, salts: Int = 32,
      batchWidth: Long = 10000L, maxQueryId: Long = Long.MaxValue): DataFrame = {
    require(batchWidth > 0, "batchWidth must be positive")
    // raw table, not the spread (same reasoning as [[contaminationRetrieval]]):
    // docs here only sources each page's bounded query batch and the maxId
    // footer-stats aggregate — the corpus-wide tokenize lives in the stages
    val docs = Tables(spark, dir, "documents")
    val index = indexStages(spark, dir)
    val grams = gramsStage(spark, dir)
    // `maxQueryId` bounds the swept id WINDOW (q119's queryCap
    // discipline at the sweep level): the default sweeps the full id
    // space — pages × per-page cost, the honest price of a full eval
    // sweep — while a bounded window keeps page count scale-invariant
    // (the q123 gate registration pins 3 fixed pages at every SF; the
    // full-space sweep at a 100× corpus is 50 pages and is priced as
    // such, not benched per round)
    val maxId = Option(docs.agg(max(col("doc_id"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val hi = math.min(maxId, maxQueryId - 1)
    val windowFilter = col("doc_id") % 97 === 0 && col("doc_id") < lit(maxQueryId)
    // pages bound the RETRIEVAL fan-out (the per-page shuffle is what
    // must stay constant); ranking runs ONCE over the union of the
    // pages' scores (per-page ranking paid two window exchanges per
    // page for a partition key — query_id — that pages split
    // disjointly), and the gram annotation runs ONCE over that ranking
    // — the pair set is bounded either way, and a per-page gram join
    // just re-scans the corpus grams per page
    val batches = (0L to math.max(hi, 0L) by batchWidth).map { lo =>
      scoredBatch(docs, Some(index),
        windowFilter && col("doc_id") >= lo && col("doc_id") < lo + batchWidth,
        prefixTokens)
    }
    lastSweepBatches.set(batches.size)
    sharedGramCounts(grams,
      rankTopK(batches.reduce(_.unionAll(_)), topK, salts), windowFilter)
      .orderBy("query_id", "rank")
  }

  /** Salted two-phase top-k over a (query_id, doc_id, sm) relation. */
  private def rankTopK(scored: DataFrame, topK: Int, salts: Int): DataFrame = {
    // salted two-phase top-k (total order: sm desc, doc_id asc)
    val local = Window.partitionBy(col("query_id"), pmod(hash(col("doc_id")), lit(salts)))
      .orderBy(col("sm").desc, col("doc_id"))
    val global = Window.partitionBy(col("query_id"))
      .orderBy(col("sm").desc, col("doc_id"))
    scored
      .withColumn("lr", row_number().over(local)).where(col("lr") <= topK)
      .withColumn("rank", row_number().over(global).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"),
        round(col("sm") / lit(1000000.0), 4).as("score"), col("rank"))
      .orderBy("query_id", "rank")
  }
}
