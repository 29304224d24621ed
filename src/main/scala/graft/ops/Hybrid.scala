package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid lexical + dense retrieval fused by Reciprocal Rank Fusion
  * (RRF, Cormack/Clarke/Büttcher SIGIR 2009) — the serving shape a RAG
  * or eval-mining pipeline actually runs: a sparse BM25 pool catches
  * exact-term matches, a dense embedding pool catches paraphrases, and
  * the fused rank `Σ 1/(K + rank_i)` is robust to the two scorers'
  * incomparable score scales (ranks are scale-free; scores are not).
  *
  * Scale shape (the 100 TB story): the fusion itself touches only
  * |queries| × poolK rows PER POOL — both pools already end in a
  * bounded per-query top-k, so the full-outer fusion join and its
  * per-query window are driver-trivial no matter the corpus size. All
  * corpus-scale work lives inside the two pool stages, each already
  * scale-shaped: the BM25 side broadcasts the query terms so the corpus
  * never shuffles ([[Retrieval]] header), and the dense side is
  * whatever ANN family serves the deployment (the gate pins the EXACT
  * brute-force pool so the oracle is closed-form; swapping in the
  * IVF/PQ artifact paths changes recall, not fusion semantics).
  *
  * Cross-engine determinism: RRF contributions are computed in EXACT
  * integer arithmetic — `1e12 DIV (K + rank)` (floor division on
  * BIGINT in both engines; Spark `DIV` ≡ DuckDB `//`) — so the fused
  * score is a LONG sum of longs, never a float. Both input ranks are
  * themselves engine-exact: BM25 ranks order integer-micro scores
  * (doc_id tiebreak) and dense ranks order round(cos, 6) (doc_id
  * tiebreak), both already pinned under the q110/q37 oracles.
  */
object Hybrid {

  /** q163: corpus-derived hybrid retrieval — the first `nQueries` docs
    * play the query batch (their opening `prefixTokens` tokens are the
    * lexical query; their embedding is the dense query; the source doc
    * itself is excluded from both pools as a degenerate guaranteed
    * hit). Pools of `poolK` from each side fuse by RRF; top `topK`
    * fused hits per query are returned with both provenance ranks
    * (0 = absent from that pool). */
  def rrfTopK(spark: SparkSession, dir: String,
      nQueries: Long = 8L, prefixTokens: Int = 8,
      poolK: Int = 20, topK: Int = 10, rrfK: Int = 60,
      salts: Int = 32): DataFrame = {
    // both pools are the gates' session stages (r16): q163's lexical
    // pool IS liveLexPool and its dense pool IS the gates' exact
    // reference — identical relations by construction, so q163 builds
    // (or serves) the same stages the q167/q170 gates consume instead
    // of re-running a corpus BM25 ranking + brute-force scan per
    // invocation. Fusion itself stays per-invocation work.
    fuse(liveLexPool(spark, dir, nQueries, prefixTokens, poolK, salts),
      exactDensePool(spark, dir, nQueries, poolK), topK, rrfK)
  }

  /** q166: the SAME fused relation served entirely from persisted
    * artifacts — the restart story a RAG service actually lives: after
    * a redeploy it holds only its indexes, no corpus. The lexical pool
    * ranks from the BM25 postings artifact (term-bucket-pruned scan,
    * corpus structurally unreachable — [[Retrieval.rankedFromIndex]]
    * throws if the docs relation is even analyzed); the dense pool
    * rescores EXACTLY over the LSH artifact's `vectors` store (the
    * rescore relation every ANN serve already joins), so both pools —
    * and therefore the fusion — are row-identical to [[rrfTopK]] by
    * construction and gate under the same oracle. The only corpus
    * touch is deriving the gate's stand-in query batch (8 rows,
    * filter-pushed scan); a production service receives queries as
    * input. */
  def rrfTopKFromIndexes(spark: SparkSession, dir: String,
      nQueries: Long = 8L, prefixTokens: Int = 8,
      poolK: Int = 20, topK: Int = 10, rrfK: Int = 60,
      salts: Int = 32): DataFrame =
    fuse(artifactLexPool(spark, dir, nQueries, prefixTokens, poolK, salts),
      artifactDensePool(spark, dir, nQueries, poolK), topK, rrfK)

  /** The artifact-served lexical pool (term-bucket-pruned BM25 postings
    * serve) as a session stage — q166's lexical half and q169's, which
    * are IDENTICAL relations by construction (same query derivation,
    * same artifact, same serve), so they share one key and the second
    * consumer serves instead of re-running the postings serve. */
  private def artifactLexPool(spark: SparkSession, dir: String,
      nQueries: Long, prefixTokens: Int, poolK: Int, salts: Int): DataFrame =
    stagedPool(spark, s"artlex:${StageCache.inputTag(spark, dir)}" +
        s":$nQueries:$prefixTokens:$poolK:$salts")(
      artifactLexServe(spark, dir, nQueries, prefixTokens, poolK, salts))

  /** The raw (unstaged) artifact lexical serve — the plan production
    * executes per query batch; factored out so the structural spec pins
    * its corpus-free shape directly (the staged form materializes it,
    * hiding the artifact scans behind an InMemoryRelation). */
  private[ops] def artifactLexServe(spark: SparkSession, dir: String,
      nQueries: Long, prefixTokens: Int, poolK: Int, salts: Int): DataFrame = {
    // raw table, not the spread: only the nQueries pushed-filter rows
    // are read, and the spread's repartition is an AQE-uncoalescible
    // 32-task exchange on a handful of rows
    val queryTerms = Tables(spark, dir, "documents").where(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, prefixTokens)))
          .as("term"))
    Retrieval.rankedFromIndex(spark,
        Retrieval.persistedPostingsDir(spark, dir), queryTerms, poolK, salts,
        excludeSelf = true)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))
  }

  /** q166's dense pool — the EXACT rescore over the LSH artifact's
    * `vectors` store — as a session stage: bounded (|queries| × poolK
    * rows) but priced at a full vectors-store pass per run. */
  private def artifactDensePool(spark: SparkSession, dir: String,
      nQueries: Long, poolK: Int): DataFrame =
    stagedPool(spark,
        s"artdense:${StageCache.inputTag(spark, dir)}:$nQueries:$poolK") {
      // liveVectors, not the raw parquet: the latest version, tombstone-
      // filtered, so an artifact with pending deletes or a crashed
      // writer's files still serves the q163 contract (ADVICE r12)
      val vectors = LshIndex.liveVectors(spark, LshIndex.persistedDir(spark, dir))
      // bounded query batch: collect the nQueries rows once instead of
      // scanning the full id-bucketed vectors store to extract them (the
      // vec_id filter cannot prune hash-spread dirs) — the LshIndex serve
      // discipline
      import spark.implicits._
      val qvRows = vectors.where(col("vec_id") < nQueries)
        .select(col("vec_id"), col("u"))
        .as[(Long, Seq[Double])].collect().toSeq
      val qv = qvRows.toDF("vec_id", "u")
        .select(col("vec_id").as("q_id"), col("u").as("qu"))
      val scored = broadcast(qv).join(vectors, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          graft.functions.VectorFunctions.dotProduct(col("qu"), col("u")).as("cos"))
      Similarity.rankTopK(scored, poolK)
        .select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_dense"))
    }

  /** q167: the DEPLOYED hybrid shape — the dense pool comes from the
    * persisted multi-probe LSH artifact instead of exact brute force —
    * gated the q62/q130/q140 way: the relation reports fused recall@topK
    * against the exact-pool [[rrfTopK]] relation, with a verdict flag,
    * so pool-swap quality sits INSIDE the hash gate instead of being
    * asserted. Fusion semantics ([[fuse]]) are shared verbatim; only
    * the dense pool's provenance changes, which is the point — RRF is
    * pool-agnostic, and this pins how much fused quality the ANN
    * substitution costs (the lexical pool is exact in both, so fused
    * recall is typically higher than the raw ANN recall@k).
    *
    * Scale shape: the ANN dense pool is the pruned artifact serve
    * ([[LshIndex.lshTopKFromIndex]] — probe-bucket partition filter, no
    * corpus scan), the lexical pool broadcasts query terms, the exact
    * reference pool is |queries| × corpus ONLY because the gate needs
    * the closed-form oracle — a production deployment runs just the
    * ANN+RRF half. */
  def rrfAnnPoolRecall(spark: SparkSession, dir: String,
      nQueries: Long = 8L, prefixTokens: Int = 8,
      poolK: Int = 20, topK: Int = 10, rrfK: Int = 60,
      salts: Int = 32, recallBound: Double = 0.7): DataFrame = {
    annPoolGate(spark, dir,
      liveLexPool(spark, dir, nQueries, prefixTokens, poolK, salts),
      lshDensePool(spark, dir, nQueries, poolK),
      "hybrid_lsh_pool", nQueries, poolK, topK, rrfK, recallBound)
  }

  /** The exact corpus-side lexical pool q163 and the q167/q170 gates
    * share, as a session stage. */
  private def liveLexPool(spark: SparkSession, dir: String, nQueries: Long,
      prefixTokens: Int, poolK: Int, salts: Int): DataFrame =
    stagedPool(spark, s"live:${StageCache.inputTag(spark, dir)}" +
        s":$nQueries:$prefixTokens:$poolK:$salts") {
      Retrieval.rankedBatch(Tables.documents(spark, dir), None,
          col("doc_id") < nQueries, prefixTokens, poolK, salts)
        .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))
    }

  /** q170: the SECOND ANN family under the fused-recall gate — the
    * dense pool comes from the persisted IVFADC+rerank artifact
    * ([[Similarity.pqTopKPersisted]], the memory-bound choice at 10⁹
    * vectors: m bytes/vector resident vs the full float payload)
    * instead of the LSH multi-probe serve. [[fuse]] and the verdict
    * shape are [[annPoolGate]] verbatim — zero changes to fusion — so
    * this pins that RRF's pool-agnosticism is structural, not an
    * accident of the one family q167 happened to gate. The rerank
    * budget is raised to cover the pool (poolK candidates must survive
    * the ADC shortlist; q140's wide-rerank budget). */
  def rrfPqPoolRecall(spark: SparkSession, dir: String,
      nQueries: Long = 8L, prefixTokens: Int = 8,
      poolK: Int = 20, topK: Int = 10, rrfK: Int = 60,
      salts: Int = 32, recallBound: Double = 0.7, rerank: Int = 64): DataFrame = {
    val pqPool = Similarity.pqTopKPersisted(spark, dir,
        nQueries = nQueries.toInt, topK = poolK, rerank = rerank)
      .select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_dense"))
    annPoolGate(spark, dir,
      liveLexPool(spark, dir, nQueries, prefixTokens, poolK, salts),
      pqPool, "hybrid_pq_pool", nQueries, poolK, topK, rrfK, recallBound)
  }

  /** The multi-probe LSH dense pool projected to the gate's column
    * shape — shared by q167 and q169 so the two gates' ANN pools cannot
    * drift. STAGED like the lexical and exact pools (VERDICT r15 §5):
    * the pool is bounded (|queries| × poolK rows) but artifact-serve-
    * priced to compute, and q167/q169 consume the IDENTICAL relation by
    * construction — the second gate serves the staged rows instead of
    * re-running the multi-probe serve. [[releaseStages]] retires it
    * with the other pools. */
  private def lshDensePool(spark: SparkSession, dir: String,
      nQueries: Long, poolK: Int): DataFrame =
    stagedPool(spark,
        s"lshpool:${StageCache.inputTag(spark, dir)}:$nQueries:$poolK") {
      LshIndex.lshTopKPersisted(spark, dir, nQueries.toInt, poolK)
        .select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_dense"))
    }

  /** Session-scoped lexical-pool stages for the recall gates: each pool
    * is BOUNDED (|queries| × poolK rows) but corpus-priced to compute
    * (the BM25 ranking scans the corpus), identical across the gates
    * that share its provenance (q167 and q170 fuse the same live pool)
    * and across repeat invocations — so it is a session stage with
    * [[releaseStages]] as the retirement path, not a raw `.cache()`
    * pinning a CacheManager entry with no release hook (ADVICE r13). */
  private val poolCache = new StageCache[(SparkSession, String)]

  /** Visible for specs: number of pool-stage builds (the "two gates,
    * one ANN-pool build" sharing contract pins on this). */
  private[ops] def poolBuilds = poolCache.builds

  /** Drop this session's resident gate-pool stages. */
  def releaseStages(spark: SparkSession): Int =
    poolCache.release(_._1 == spark)

  private def stagedPool(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame =
    poolCache.getOrBuild((spark, key)) {
      val built = build.cache()
      built.count()
      built
    }

  /** The exact brute-force dense pool — q163's dense half AND the
    * gates' fixed verdict reference, identical by construction, so one
    * stage serves both (the corpus-priced |queries| × corpus scan runs
    * once per session). */
  private def exactDensePool(spark: SparkSession, dir: String,
      nQueries: Long, poolK: Int): DataFrame =
    stagedPool(spark,
        s"exact:${StageCache.inputTag(spark, dir)}:$nQueries:$poolK") {
      Similarity.bruteForceTopK(spark, dir, nQueries.toInt, poolK)
        .select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_dense"))
    }

  /** The shared q167/q169/q170 verdict: fuse the given lexical pool
    * with the given artifact-served ANN dense pool AND with the exact
    * dense pool, and report fused recall@topK with the bound flag. ONE
    * implementation on purpose — the gates share the exact-pool oracle,
    * so the verdict shape (rounding, bound, column names) must not be
    * able to drift between them; only the ANN pool's provenance and the
    * method label vary (RRF is pool-agnostic, which is the point).
    * The verdict is ONE row by construction, so it evaluates EAGERLY
    * over the resident lexical stage and returns the computed row. */
  private def annPoolGate(spark: SparkSession, dir: String,
      lex: DataFrame, annPool: DataFrame, method: String,
      nQueries: Long, poolK: Int, topK: Int, rrfK: Int,
      recallBound: Double): DataFrame = {
    // `lex` arrives already staged (liveLexPool / artifactLexPool).
    // the exact reference pool exists only to anchor the verdict and is
    // identical across the gates and across invocations — the same
    // bounded-but-corpus-priced shape as the lexical pool, staged the
    // same way (and shared with q163's dense half), so repeat gate runs
    // re-measure the ANN pool and the fusion, not the fixed reference
    val denExact = exactDensePool(spark, dir, nQueries, poolK)
    val exactFused = fuse(lex, denExact, topK, rrfK).select("query_id", "doc_id")
    val annFused = fuse(lex, annPool, topK, rrfK)
      .select(col("query_id"), col("doc_id"), lit(1).as("hit"))
    val r = exactFused.join(annFused, Seq("query_id", "doc_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("n_exact"), col("n_hit"),
        round(col("n_hit") * 1.0 / col("n_exact"), 4).as("recall"),
        (col("n_hit") * 1.0 / col("n_exact") >= recallBound).as("recall_ok"))
      .collect()(0)
    import spark.implicits._
    Seq((method, r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toDF("method", "n_exact", "n_hit", "recall", "recall_ok")
  }

  /** q169: the FULLY DEPLOYED hybrid — BOTH pools served from persisted
    * artifacts (term-bucket-pruned BM25 postings; bucket-pruned LSH
    * multi-probe) fused by the same RRF, under q167's fused-recall gate.
    * This is the restart shape q166 pins (corpus structurally
    * unreachable on the lexical side) COMBINED with the ANN pool q167
    * gates: what a redeployed RAG service actually executes end to end.
    * Row-identical to [[rrfAnnPoolRecall]] by construction — the
    * artifact lexical pool ≡ the live pool (the q127 contract) and the
    * artifact dense pool IS q167's — so it gates under the same oracle;
    * the only corpus touch is deriving the gate's stand-in query batch. */
  def rrfDeployedRecall(spark: SparkSession, dir: String,
      nQueries: Long = 8L, prefixTokens: Int = 8,
      poolK: Int = 20, topK: Int = 10, rrfK: Int = 60,
      salts: Int = 32, recallBound: Double = 0.7): DataFrame = {
    val pools = deployedPools(spark, dir, nQueries, prefixTokens, poolK, salts)
    annPoolGate(spark, dir,
      pools._1, pools._2, "hybrid_lsh_pool",
      nQueries, poolK, topK, rrfK, recallBound)
  }

  /** The two artifact-served pools of the deployed hybrid (q169's
    * serving half, before the gate's exact reference pool is added for
    * the verdict) — factored so the structural spec can fuse EXACTLY
    * what production serves and pin its plan: no embeddings-table scan
    * anywhere (the dense pool is artifact-only), and the documents
    * table touched only by the 8-row pushed-filter query derivation. */
  private[ops] def deployedPools(spark: SparkSession, dir: String,
      nQueries: Long, prefixTokens: Int, poolK: Int,
      salts: Int): (DataFrame, DataFrame) =
    // the artifact lexical pool is q166's stage (identical relation by
    // construction — same query derivation, same artifact, same serve),
    // so whichever of q166/q169 runs first builds it and the other serves
    (artifactLexPool(spark, dir, nQueries, prefixTokens, poolK, salts),
      lshDensePool(spark, dir, nQueries, poolK))

  /** RRF fusion of two (query_id, doc_id, rank_*) pools. Exposed at
    * `ops` scope so specs can drive planted pools directly. */
  private[ops] def fuse(lex: DataFrame, den: DataFrame,
      topK: Int, rrfK: Int): DataFrame = {
    // exact-integer RRF: floor(1e12 / (K + rank)) on BIGINTs — identical
    // floor division in Spark (DIV) and DuckDB (//); absent-from-pool
    // contributes exactly 0
    def contrib(rankCol: String): Column =
      coalesce(expr(s"CAST(1000000000000 AS BIGINT) DIV ($rrfK + $rankCol)"),
        lit(0L))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_pico").desc, col("doc_id"))
    lex.join(den, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_pico", contrib("rank_lex") + contrib("rank_dense"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"),
        col("rrf_pico"), col("rank"))
      .orderBy("query_id", "rank")
  }
}
