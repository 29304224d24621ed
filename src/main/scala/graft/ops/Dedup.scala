package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the exact → normalized →
  * MinHash-LSH → SimHash ladder of a training-data pipeline.
  *
  * Scale design (the part that matters at 100 TB):
  *  - the dedup unit is the word 3-gram SHINGLE, not the word: the
  *    corpus vocabulary is tiny (31 words), so word-set Jaccard between
  *    unrelated docs averages ~0.6 — banding on words would emit O(n²)
  *    candidate pairs. Shingle Jaccard between unrelated docs is ~0.001
  *    and ~1.0 for true near-dups (measured), so LSH candidates stay
  *    near-linear.
  *  - MinHash signatures are k=8 md5-minima; LSH banding is b=4, r=2 —
  *    the candidate join keys on (band, band_key), a shuffle that scales
  *    with corpus size, never with pair count. Exact Jaccard runs only
  *    on surviving candidates.
  *  - all hashes are md5 over explicit strings: deterministic,
  *    engine-portable (the DuckDB oracle reproduces them bit-for-bit),
  *    and seedable by prefixing the seed index.
  */
object Dedup {

  private def tokens: Column = TextAnalysis.tokens(col("text"))

  /** Distinct word-3-gram shingles; short docs (<3 tokens) collapse to a
    * single whole-text shingle. */
  def shingles(t: Column): Column = array_distinct(
    when(size(t) >= 3,
      transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array(concat_ws(" ", t))))

  /** Tokens are materialized as a column BEFORE the shingle lambda: an
    * expression inlined into a higher-order-function lambda is
    * re-evaluated per lambda reference (no common-subexpression
    * elimination across the lambda boundary), so the token regex would
    * run ~3× per shingle instead of once per doc — measured 2× slower
    * end-to-end on the shingle build at sf0.1. */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"))).as("sh"))

  /** Exact dedup: hash-aggregate on the raw text. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")
      .orderBy("keep_id")

  /** Normalized dedup: group on the canonical fingerprint (casing /
    * punctuation / whitespace-insensitive md5 — TextAnalysis.fingerprint). */
  def normalized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")
      .orderBy("keep_id")

  /** MinHash signature row per doc: k 32-bit (8-hex-digit) minima as k
    * parallel columns `m0..m{k-1}`, sliced from TWO seeded md5s per
    * shingle (64 hex digits → 8 disjoint 32-bit hashes; md5 output bits
    * are independent, so the slices act as k independent hash functions
    * at a quarter of the hashing cost of k full md5 calls — measured
    * ~2x on the end-to-end signature build at sf0.1).
    *
    * Deliberately NOT the explode-by-seed formulation: `min` over a
    * string buffer can't use HashAggregate, so a (doc, seed)-exploded
    * groupBy sort-aggregates k× the shingle rows (measured 17s vs ~3s at
    * sf0.1). One groupBy over the shingle rows with k parallel mins
    * sorts 1/k the data and shuffles 1/k the rows — and 8-char minima
    * keep the aggregate state and the shuffled signature rows 4x
    * smaller than full 32-hex digests. */
  def minhashSignatures(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    minhashSignaturesOf(docShingles(spark, dir), k)

  private def minhashSignaturesOf(sh: DataFrame, k: Int): DataFrame = {
    // one md5 = 32 hex chars = FOUR 8-hex (32-bit) slices, so k slices
    // need ceil(k/4) seeded digests (k=8 → the original 'a|'/'b|' pair;
    // k=16 → four). An earlier revision claimed two md5s yield 16 slices
    // — they yield 8; k>8 would have read past the digest into empty
    // substrings and silently degenerate minima.
    require(k >= 1 && k <= 16, "supported signature widths: 1-16 32-bit slices")
    val nDigests = (k + 3) / 4
    val h = concat(Seq("a", "b", "c", "d").take(nDigests)
      .map(s => md5(concat(lit(s + "|"), col("sh")))): _*)
    val mins = (0 until k).map(i => min(substring(h, i * 8 + 1, 8)).as(s"m$i"))
    sh.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
  }

  /** Session-scoped (doc_id, m0..m{k-1}) MinHash signature stage, the
    * same pattern as [[simhashStage]]: q32's estimator and every
    * pair-stage build share ONE tokenize→shingle→hash pass per
    * (session, dir, k). The signature relation is |docs| rows of k short
    * strings — cheap to keep resident; the expensive input (the shingle
    * scan) is what sharing avoids. */
  private val minhashCache = new StageCache[(SparkSession, String, Int)]

  /** Visible for specs: number of times the signature stage was built. */
  private[ops] def minhashBuilds = minhashCache.builds

  private def minhashStage(spark: SparkSession, dir: String, k: Int,
      preShingles: Option[DataFrame]): DataFrame =
    minhashCache.getOrBuild((spark, StageCache.inputTag(spark, dir), k)) {
      val built = minhashSignaturesOf(
        preShingles.getOrElse(docShingles(spark, dir)), k).cache()
      built.count()
      built
    }

  /** Hot-band guard: a band key shared by m docs emits m(m-1)/2 candidate
    * pairs, so one giant duplicate cluster (or degenerate content like
    * empty shingles) turns the LSH join quadratic. Band keys whose
    * population exceeds `maxBandPopulation` are dropped whole — the
    * standard cap; true near-dup pairs inside a dropped band can still
    * surface through their other b-1 bands.
    *
    * Shape: aggregate the per-key populations (map-side partial combine,
    * so only distinct keys shuffle), keep the over-cap keys (normally
    * zero rows), and broadcast anti-join them away — the band rows
    * themselves are never shuffled or sorted here (a window count would
    * shuffle + sort the full band set). */
  private[ops] def capBands(bands: DataFrame, maxBandPopulation: Int): DataFrame = {
    val hot = bands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bk_n"))
      .where(col("bk_n") > maxBandPopulation)
      .select("band", "band_key")
    bands.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
  }

  /** (doc_id, band, band_key) rows from signature rows — the banding
    * construction shared by [[lshCandidates]] and [[bandIndex]] so the
    * batch pair path and the streaming ingest gate can never key
    * differently. */
  private[graft] def bandsOf(sigs: DataFrame, k: Int, r: Int): DataFrame = {
    val b = k / r
    // band key = md5 over the band's r signature slices joined by '|'
    // (concat_ws produces byte-identical input to the former explicit
    // two-slice concat at r=2, so q32's oracle hashes are unchanged)
    val bandCols = (0 until b).map(i =>
      struct(lit(i).as("band"),
        md5(concat_ws("|", (0 until r).map(j => col(s"m${r * i + j}")): _*)).as("band_key")))
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Static LSH band-key index of the corpus — the distinct
    * (band, band_key) relation an INGEST gate probes ("does this
    * incoming doc share a band bucket with anything we already hold",
    * [[graft.streaming.DocumentsStreaming.nearDupCandidates]]). Built
    * from the session signature stage, so it costs one banding pass over
    * resident rows; the index is ≤ b·|docs| short rows and broadcasts. */
  def bandIndex(spark: SparkSession, dir: String, k: Int = 8, r: Int = 2): DataFrame =
    bandsOf(minhashStage(spark, dir, k, None), k, r)
      .select("band", "band_key").distinct()

  /** The band index as a BLOOM FILTER — the third rung of the ingest
    * gate's index ladder (broadcast hash < shuffle join < Bloom): at
    * 10⁹ band keys the exact index is ~50 GB of strings (too big to
    * broadcast) and the shuffle join prices every micro-batch at a
    * corpus-index shuffle, while a 1 %-fpp Bloom is ~1.2 bytes/key
    * (~1.2 GB — shippable) probed per row inside codegen with no join
    * at all. False positives only ADD verifier work downstream (band
    * collisions are candidates, never verdicts — exact Jaccard decides);
    * false negatives are impossible by Bloom contract, so the gate's
    * recall is untouched. The q99 decontamination pattern, applied to
    * the dedup ingest gate. Built distributed (`stat.bloomFilter` runs
    * as an aggregate), sized from the index's own distinct count. */
  def bandIndexBloom(spark: SparkSession, dir: String, k: Int = 8, r: Int = 2,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val idx = bandIndex(spark, dir, k, r)
      .select(concat_ws("|", col("band"), col("band_key")).as("bk"))
    idx.stat.bloomFilter("bk", math.max(idx.count(), 1L), fpp)
  }

  /** Per-ROW MinHash band keys of a text column — the stateless twin of
    * the batch signature stage, for streams (no groupBy, so no state
    * store: shingle → seeded-md5 → k array-min slices → banded keys, all
    * array HOFs inside one row). Digest seeds, slice layout, and band-key
    * construction are the SAME as [[minhashSignaturesOf]]/[[bandsOf]];
    * BandKeyParitySpec pins byte-equality of the keys on the corpus.
    *
    * Built in STAGES by the caller (materialize the TOKEN column before
    * the shingle lambda, and the digest array column before slicing): an
    * expression inlined into a higher-order-function lambda re-evaluates
    * per reference (no CSE across the lambda boundary — the docShingles
    * lesson), so this takes a BOUND token-array column — an inlined
    * `tokens(text)` would re-run the whitespace-split kernel ~3× per
    * shingle position — and the k slice-minima must likewise read a
    * bound digest-array column, not recompute k×nDigests md5s. */
  private[graft] def rowDigests(toks: Column, k: Int = 8): Column = {
    require(k >= 1 && k <= 16, "supported signature widths: 1-16 32-bit slices")
    val nDigests = (k + 3) / 4
    transform(shingles(toks), s =>
      concat(Seq("a", "b", "c", "d").take(nDigests)
        .map(p => md5(concat(lit(p + "|"), s))): _*))
  }

  /** Band-key struct array from a bound digest-array column (see
    * [[rowDigests]]): array of (band, band_key) structs, `k/r` entries. */
  private[graft] def rowBandKeys(digests: Column, k: Int = 8, r: Int = 2): Column = {
    val mins = (0 until k).map(i =>
      array_min(transform(digests, h => substring(h, i * 8 + 1, 8))))
    array((0 until k / r).map(i =>
      struct(lit(i).as("band"),
        md5(concat_ws("|", (i * r until i * r + r).map(mins): _*)).as("band_key"))): _*)
  }

  /** LSH candidate pairs from cached signature rows: band → cap → self
    * equi-join on (band, band_key) → distinct. Shared by [[minhashLsh]]
    * and [[confirmedPairs]] so both key generation paths stay identical. */
  private def lshCandidates(sigs: DataFrame, k: Int, r: Int,
      maxBandPopulation: Int): DataFrame = {
    val bands = capBands(bandsOf(sigs, k, r), maxBandPopulation)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH banding (b bands of r rows) → candidate pairs → MinHash-estimated
    * Jaccard. The candidate join keys on (band, band_key): cost scales
    * with corpus size, never with pair count; the estimator is a per-row
    * expression over the two signature rows (no second aggregate).
    * `maxBandPopulation` (default far above organic sf0.1 populations)
    * bounds the worst-case band — see [[capBands]]. */
  def minhashLsh(spark: SparkSession, dir: String,
      maxBandPopulation: Int = 1000): DataFrame =
    minhashLshAt(spark, dir, k = 8, r = 2, maxBandPopulation)

  /** q94: the documented larger-corpus MinHash banding config, under the
    * same oracle gate as the k=8/r=2 default — the scale path as gated
    * evidence, exactly as q92 gates the ANN-LSH scale config.
    *
    * Why k=16/r=4 at scale: band count stays b=4, but each band key now
    * agrees only when FOUR consecutive signature slices agree, so the
    * per-band candidate collision probability for a pair with Jaccard j
    * falls from j² to j⁴ — at j=0.5 that is 0.25 → 0.0625 per band, an
    * exponential cut in false-positive candidates, which is what grows
    * with corpus size. The trade is the detection threshold rising from
    * (1/b)^(1/2) ≈ 0.5 to (1/b)^(1/4) ≈ 0.71: borderline pairs surface
    * less often while true near-dups (j → 1) still collide with
    * probability ≥ 1-(1-j⁴)⁴. Hashing cost doubles (four seeded digests
    * per shingle instead of two) — linear, paid once per corpus, vs the
    * candidate volume that the narrower bands cut. */
  def minhashLshScaled(spark: SparkSession, dir: String,
      maxBandPopulation: Int = 1000): DataFrame =
    minhashLshAt(spark, dir, k = 16, r = 4, maxBandPopulation)

  /** LSH banding at an explicit (k, r): session-cached signatures →
    * banded candidates → per-pair MinHash-estimated Jaccard. */
  private def minhashLshAt(spark: SparkSession, dir: String, k: Int, r: Int,
      maxBandPopulation: Int): DataFrame = {
    val sigs = minhashStage(spark, dir, k, None) // session-cached signatures
    val cand = lshCandidates(sigs, k, r, maxBandPopulation)
    val matches = (0 until k).map(i =>
      when(col(s"x.m$i") === col(s"y.m$i"), 1).otherwise(0)).reduce(_ + _)
    cand
      .join(sigs.as("x"), col("x.doc_id") === col("doc_a"))
      .join(sigs.as("y"), col("y.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(matches / lit(k * 1.0), 3).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Session-scoped cache of the verified near-dup pair stage, keyed on
    * (session, dir). Six queries (q33/q43/q58/q59/q77/q88) consume the
    * same shingles → MinHash → LSH-candidates → exact-Jaccard subplan;
    * before this stage existed each re-ran it from scratch (~2.5 s × 6 of
    * the sf0.1 bench). A real pipeline materializes the verified edge
    * list once — this is that stage, kept as an eagerly-computed
    * in-memory table for the session (at cluster scale the same method
    * would parquet-materialize under a job-scoped path; the session map
    * is the local analogue and keeps the oracle path hermetic). */
  private val pairsCache = new StageCache[(SparkSession, String)]

  /** Visible for specs: number of times the pair pipeline was actually
    * built (not served from cache). */
  private[ops] def pairsBuilds = pairsCache.builds

  /** The full scored near-dup pair set (doc_a, doc_b, jaccard — every LSH
    * candidate pair sharing ≥1 shingle, unfiltered, unsorted), computed
    * once per (session, dir), eagerly materialized, then the bulky
    * intermediates (shingle rows, signature rows) are unpersisted — only
    * the bounded pair set stays resident. Downstream thresholds are a
    * filter over this set, so every threshold shares one build. */
  def confirmedPairs(spark: SparkSession, dir: String): DataFrame =
    pairsCache.getOrBuild((spark, StageCache.inputTag(spark, dir)))(
      buildConfirmedPairs(spark, dir))

  private def buildConfirmedPairs(spark: SparkSession, dir: String): DataFrame = {
      System.err.println(s"[graft] confirmedPairs build #${pairsBuilds.get()} for $dir")
      val k = 8; val r = 2
      val sh = docShingles(spark, dir).cache()
      // materialize the shingle cache BEFORE the candidate/intersection
      // joins are planned: cold, the shingle explode's size estimate is
      // garbage and join-strategy misplays on it are catastrophic at scale
      // (observed: a 100x cold build orders of magnitude over its warm
      // cost); planned against materialized InMemoryRelations, every join
      // sees real row counts. The scans were needed anyway — this only
      // moves them ahead of planning.
      sh.count()
      // piggyback BOTH fingerprint stages on the hot shingle cache:
      // q32 (MinHash signatures) and q34/q35 (SimHash) otherwise re-run
      // the tokenize→shingle scan this build just materialized (it
      // dominates their cost); each stage is one extra groupBy over rows
      // already in memory and stays resident for the session (|docs| rows
      // of a few short strings each)
      val sigs = minhashStage(spark, dir, 8, Some(sh))
      val _ = simhashStage(spark, dir, Some(sh))
      val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val cand = lshCandidates(sigs, k, r, maxBandPopulation = 1000)
      val inter = cand
        .join(sh.as("wa"), col("wa.doc_id") === col("doc_a"))
        .join(sh.as("wb"), col("wb.doc_id") === col("doc_b") && col("wa.sh") === col("wb.sh"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_inter"))
      val pairs = inter
        .join(counts.as("ca"), col("ca.doc_id") === col("doc_a"))
        .join(counts.as("cb"), col("cb.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("n_inter") * lit(1.0) /
            (col("ca.n_sh") + col("cb.n_sh") - col("n_inter")), 4).as("jaccard"),
          // kept alongside jaccard so asymmetric measures (containment,
          // q112) are a projection over the shared stage, not a rebuild
          col("n_inter"), col("ca.n_sh").as("n_a"), col("cb.n_sh").as("n_b"))
        .cache()
      pairs.count() // materialize fully before dropping the parents
      sh.unpersist(blocking = false)
      // sigs stays resident: it IS the session minhash stage (q32 serves
      // from it), bounded at |docs| rows of 8 short strings
      pairs
  }

  /** q108: near-dup threshold sensitivity — the candidate-pair Jaccard
    * distribution as a histogram (bucket b = number of thresholds in
    * {0.1..1.0} the pair passes, i.e. floor(10·j) computed by comparison
    * ladder, NEVER by floating multiply-floor — 0.3 * 10 is
    * 2.999999... in doubles and the two engines must agree at every
    * bucket edge). The curve an operator reads before PICKING the dedup
    * threshold: how many pairs each 0.05-0.1 of threshold buys, where
    * the false-positive knee sits. Served from the shared
    * [[confirmedPairs]] stage — zero marginal corpus work; the histogram
    * is one aggregate over the resident pair set. */
  def jaccardSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (1 to 10)
      .map(i => when(col("jaccard") >= i / 10.0, 1L).otherwise(0L))
      .reduce(_ + _)
    confirmedPairs(spark, dir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min("jaccard"), 4).as("min_jaccard"),
        round(max("jaccard"), 4).as("max_jaccard"))
      .orderBy("bucket")
  }

  /** q109: dedup-funnel accounting — what each rung of the ladder BUYS,
    * as cumulative survivor counts and token totals: raw → exact
    * (min-id per raw text) → normalized (min surviving id per
    * casing/punct/ws-insensitive fingerprint) → near-dup (min surviving
    * member per transitive MinHash cluster). The ROI curve an operator
    * reads to decide how deep to run the ladder on a new corpus — rung
    * N's marginal token reduction is its entire justification at 100 TB,
    * where the near-dup rung costs real compute and the exact rung is
    * almost free.
    *
    * Each rung keeps the minimum doc_id among the PREVIOUS rung's
    * survivors of its group (survivor sets are `left_semi` joins — id
    * sets stay distributed, nothing collects). Cluster labels come from
    * the shared [[clusterLabels]] propagation over the resident pair
    * stage; token counts are the codegen'd count_tokens kernel. The
    * four rung summaries are single-row aggregates unioned, with
    * fractions against the raw totals via a 1-row cross join (the
    * q76/Audit literal-relation shape). */
  def dedupFunnel(spark: SparkSession, dir: String, threshold: Double = 0.5,
      maxIters: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        TextAnalysis.nTokens(col("text")).as("n_tok"))
    val s1 = docs.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id")
    val s2 = docs.join(s1, Seq("doc_id"), "left_semi")
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val s3 = clusterLabels(spark, dir, threshold, maxIters)
      .join(s2, Seq("doc_id"), "left_semi")
      .groupBy("label").agg(min("doc_id").as("doc_id")).select("doc_id")
    val rungs = Seq("0_raw" -> docs.select("doc_id"),
      "1_exact" -> s1, "2_normalized" -> s2, "3_neardup" -> s3)
    val perRung = rungs.map { case (name, ids) =>
      docs.join(ids, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .select(lit(name).as("rung"), col("n_docs"), col("n_tokens"))
    }.reduce(_ unionAll _)
    val raw = docs.agg(sum("n_tok").as("raw_tokens"))
    perRung.crossJoin(raw)
      .select(col("rung"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") * lit(1.0) / col("raw_tokens"), 4).as("token_frac"))
      .orderBy("rung")
  }

  /** Exact n-gram Jaccard, computed only for LSH candidate pairs
    * (candidate-filtered verification — the scalable two-phase shape).
    * Served from the shared [[confirmedPairs]] stage. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    confirmedPairs(spark, dir)
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** q112: asymmetric shingle containment — |A∩B| / min(|A|, |B|), the
    * quote/subset detector. Jaccard under-scores a short doc embedded
    * verbatim inside a much longer one (the union is dominated by the
    * container), so a Jaccard-thresholded dedup pass keeps both; the
    * containment read surfaces exactly those pairs. Reported with the
    * contained doc first (tie on equal set sizes → lower-keyed side),
    * alongside jaccard so the reader sees which pairs the symmetric
    * measure would have missed.
    *
    * Served entirely from the shared [[confirmedPairs]] stage (the
    * intersection/set-size columns ride along in the cached pair set) —
    * zero marginal corpus work, so the candidate generation remains the
    * banded LSH equi-join and nothing here scales with pair count. */
  def containmentPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val small = col("n_a") <= col("n_b")
    confirmedPairs(spark, dir)
      .select(
        when(small, col("doc_a")).otherwise(col("doc_b")).as("doc_small"),
        when(small, col("doc_b")).otherwise(col("doc_a")).as("doc_big"),
        round(col("n_inter") * lit(1.0) / least(col("n_a"), col("n_b")), 4)
          .as("containment"),
        col("jaccard"))
      .where(col("containment") >= threshold)
      .orderBy("doc_small", "doc_big")
  }

  /** Incremental (delta-vs-corpus) near-dedup — the shape a production
    * pipeline runs daily: dedup TODAY'S crawl against the historical
    * corpus without re-deduping the corpus itself. The incoming batch is
    * a deterministic hash split (Knuth bucket over doc_id, same rule as
    * Sampling — reproducible on any engine/partitioning); "existing" is
    * the rest.
    *
    * Kill rules, in order:
    *   1. vs-corpus: an incoming doc with a confirmed near-dup edge
    *      (exact shingle Jaccard ≥ `threshold` over LSH candidates —
    *      the shared [[confirmedPairs]] stage) to ANY existing doc dies.
    *   2. within-batch: a surviving doc with an edge to a SMALLER-id
    *      surviving doc dies (deterministic, non-recursive — the
    *      standard streaming-dedup tiebreak; full transitive clustering
    *      is q59's job, not the delta path's).
    *
    * Output is the per-source accounting the ingest job logs:
    * `n_incoming = n_dup_corpus + n_dup_batch + n_kept` by construction.
    *
    * Scale shape: the edge list is built once per session (candidate
    * generation is the banded equi-join, never all-pairs); the batch/
    * corpus membership tests are semi/anti joins, so no id-set ever
    * lands on the driver. At 100 TB the `existing` side is the
    * pre-materialized signature store — the delta batch is the only
    * thing newly shingled, which is the entire point of the shape. */
  def incrementalDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val pairs = confirmedPairs(spark, dir).where(col("jaccard") >= threshold)
    val sym = pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      (Lifecycle.bucket(col("doc_id")) < Lifecycle.DeltaPct).as("incoming"))
    val incoming = docs.where(col("incoming")).select("doc_id", "source")
    val existingIds = docs.where(!col("incoming")).select(col("doc_id").as("doc_b"))
    val corpusDup = sym
      .join(existingIds, Seq("doc_b"), "left_semi")
      .select(col("doc_a").as("doc_id")).distinct()
    val fresh = incoming.join(corpusDup, Seq("doc_id"), "left_anti")
    val freshIds = fresh.select("doc_id")
    val batchDup = sym
      .where(col("doc_b") < col("doc_a"))
      .join(freshIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(freshIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(col("doc_a").as("doc_id")).distinct()
    val kept = fresh.join(batchDup, Seq("doc_id"), "left_anti")
    val ia = incoming.groupBy("source").agg(count(lit(1)).as("n_incoming"))
    val fa = fresh.groupBy("source").agg(count(lit(1)).as("n_fresh"))
    val ka = kept.groupBy("source").agg(count(lit(1)).as("n_kept"))
    ia.join(fa, Seq("source"), "left").join(ka, Seq("source"), "left")
      .select(col("source"), col("n_incoming"),
        (col("n_incoming") - coalesce(col("n_fresh"), lit(0L))).as("n_dup_corpus"),
        (coalesce(col("n_fresh"), lit(0L)) - coalesce(col("n_kept"), lit(0L))).as("n_dup_batch"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Hybrid near-dup verdict: MinHash-LSH text candidates scored by BOTH
    * exact shingle Jaccard and embedding cosine (doc_id ↔ vec_id) — the
    * production pattern where surface-form and semantic signals must
    * agree before a pair is dropped. Candidate generation stays the
    * LSH equi-join; the embedding join is a plain key join, so nothing
    * here scales with pair count. */
  def hybridNearDup(spark: SparkSession, dir: String): DataFrame = {
    val text = confirmedPairs(spark, dir)
    val e = Tables.embeddingsSpread(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val unit = e.select(col("vec_id"),
      transform(col("v"), x => x / sqrt(graft.functions.VectorFunctions.dotProduct(col("v"), col("v")))).as("u"))
    text
      .join(unit.select(col("vec_id").as("doc_a"), col("u").as("ua")), Seq("doc_a"))
      .join(unit.select(col("vec_id").as("doc_b"), col("u").as("ub")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(graft.functions.VectorFunctions.dotProduct(col("ua"), col("ub")), 4).as("cos_sim"))
      .withColumn("verdict",
        when(col("jaccard") >= 0.5, "dup")
          .when(col("jaccard") >= 0.2 || col("cos_sim") >= 0.4, "review")
          .otherwise("keep"))
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash from shingle md5 hex digits: each of the 32 digits
    * contributes its top two nibble bits (>= '8'; and the 4-bit, i.e.
    * 4-7/c-f), so the digest is consumed as 64 independent coin flips.
    * One groupBy with 64 parallel sums — no per-bit explode, single
    * shuffle of |docs| rows.
    *
    * Width history, measured on this corpus: 16-bit fingerprints (4-bit
    * bands) collide at ~23% for unrelated docs — quadratic candidate
    * blowup at any scale; 32-bit (8-bit bands) collide at ~1.6% — fine to
    * ~5k docs but the 10x corpus put q35 at 4.5x cost (bucket populations
    * grow linearly when band width is fixed, pairs quadratically); 64-bit
    * (16-bit bands) is the standard production width (Manku et al.,
    * WWW'07) and keeps expected bucket populations ~1 into the millions
    * of docs. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashStage(spark, dir, None).select("doc_id", "simhash").orderBy("doc_id")

  /** Session-scoped (doc_id, simhash) stage, same pattern as
    * [[confirmedPairs]]: q34 (fingerprints), q35 (near-dup pairs) and any
    * pair-stage build share ONE tokenize→shingle→hash pass per
    * (session, dir). The fingerprint relation is |docs| rows of 64 chars —
    * cheap to keep resident; the expensive input (the shingle scan) is
    * what sharing avoids. */
  private val simhashCache = new StageCache[(SparkSession, String)]

  /** Visible for specs: number of times the simhash stage was actually
    * computed (not served from cache). */
  private[ops] def simhashBuilds = simhashCache.builds

  private def simhashStage(spark: SparkSession, dir: String,
      preShingles: Option[DataFrame]): DataFrame =
    simhashCache.getOrBuild((spark, StageCache.inputTag(spark, dir))) {
      val built = simhashOf(preShingles.getOrElse(docShingles(spark, dir))).cache()
      built.count()
      built
    }

  /** The fingerprint computation over shingle rows (doc_id, sh) — no sort;
    * [[simhash]] adds the presentation ORDER BY.
    *
    * Emits the fingerprint TWICE from the same votes: the 64-char
    * '0'/'1' string (the q34 output contract and the band-key source)
    * and `simhash_long`, the same 64 bits packed into one long (bit i of
    * the string = bit 64−i of the long; disjoint powers of two, so the
    * sum is a bitwise OR). The long exists for pair scoring:
    * `bit_count(a ^ b)` is one codegen'd instruction per candidate pair
    * where the string form costs 64 per-char substring comparisons —
    * at 100× (≈ millions of candidate pairs) that difference was ~80%
    * of q35's runtime. (For the VOTE aggregation itself the one-byte
    * substring compares still beat digest-parsing formulations —
    * measured 3.5 s vs 2.3 s at sf0.1 — so only pair scoring moves to
    * the packed form.) */
  private def simhashOf(sh: DataFrame): DataFrame = {
    val votes = (1 to 32).flatMap { i =>
      val d = substring(col("h"), i, 1)
      Seq(
        sum(when(d >= "8", 1).otherwise(-1)).as(s"v${2 * i - 1}"),
        sum(when(d.between("4", "7") || d.between("c", "f"), 1).otherwise(-1)).as(s"v${2 * i}"))
    }
    val fp = concat((1 to 64).map(i => when(col(s"v$i") >= 0, "1").otherwise("0")): _*)
    val fpLong = (1 to 64).map(i =>
      when(col(s"v$i") >= 0, lit(1L << (64 - i))).otherwise(lit(0L))).reduce(_ + _)
    sh
      .select(col("doc_id"), md5(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"), fpLong.as("simhash_long"))
  }

  /** Degree distribution of the confirmed near-dup graph — the shape
    * diagnostic run before transitive clustering: a heavy tail here
    * (one doc near-dup to thousands) is the signal to raise LSH band
    * caps or pre-split boilerplate before q59's propagation pays for it.
    * Two hash aggregates over the edge list — cost ∝ confirmed pairs,
    * which the LSH ladder already bounds. */
  def dupGraphDegrees(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    // explode both endpoints in ONE pass — a union of two selects would
    // duplicate the whole candidate pipeline in the plan (2x the
    // exchanges before runtime reuse kicks in)
    confirmedPairs(spark, dir).where(col("jaccard") >= threshold)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("d").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** q88: cross-source duplication matrix — confirmed near-dup pairs
    * (q33's verified set) bucketed by the unordered (source, source)
    * pair: the provenance read that tells a crawl pipeline which feeds
    * mirror each other (high off-diagonal mass = buy one, drop the
    * other). Two key-joins to attach sources + one small aggregate on
    * top of the bounded candidate set. */
  def sourceDupMatrix(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    confirmedPairs(spark, dir).where(col("jaccard") >= threshold)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"))
      .groupBy("source_x", "source_y")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  /** Materialized dedup: the surviving corpus after near-dup removal —
    * what a training-data pipeline actually feeds downstream. Greedy
    * min-id policy: a doc is dropped iff it has a confirmed near-dup
    * (exact shingle Jaccard >= threshold on LSH candidates) with a
    * smaller doc_id. Deliberately NOT transitive closure: connected
    * components needs iterative propagation (graph joins); greedy
    * keeps it one anti-join and is the standard first-pass policy —
    * at 100 TB the anti-join is a shuffle on doc_id, candidates stay
    * near-linear per the LSH design above. */
  def keepers(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val losers = confirmedPairs(spark, dir).where(col("jaccard") >= threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Lineage truncation for BSP loops: iterative plans that merely cache
    * stack every round's joins into one ever-deeper lineage (measured:
    * >1000 Exchange nodes in the final plan string after 3 rounds here —
    * analysis cost, and eventually planner stack overflow). With a
    * checkpoint dir configured (`SparkContext.setCheckpointDir`, or the
    * `graft.checkpoint.dir` conf) this uses RELIABLE checkpoints — the
    * round state survives executor loss, which matters for long cluster
    * jobs; without one it falls back to `localCheckpoint` (fine in local
    * mode, executor-memory-resident and NOT fault-tolerant on a cluster). */
  private def truncate(spark: SparkSession, df: DataFrame): DataFrame = {
    // self-provision at point of use (GraftSession honors an explicit
    // graft.checkpoint.dir conf, else a scratch dir): any entry point —
    // Bench, Verify, the driver's own session, a library caller — gets
    // the RELIABLE checkpoint path, not the executor-memory-resident
    // localCheckpoint fallback that dies with an executor on a cluster
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      graft.GraftSession.ensureCheckpointDir(spark)
    if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
  }

  /** Transitive near-dup clusters via iterative min-label propagation
    * (connected components over the confirmed-pair graph — the BSP
    * pattern GraphX/Pregel uses, expressed as plain DataFrame joins).
    * Each round every doc adopts the smallest label among itself and
    * its neighbors; rounds repeat until a fixpoint (component diameter
    * bounds the count — near-dup clusters are tiny, so 2-3 rounds).
    * Per round: one join + one aggregate, both shuffles on doc_id —
    * cost ∝ edges, never pairs². The driver-side loop is control flow
    * only; all data stays distributed.
    *
    * Control-flow cost: the convergence check is a full count job, so
    * rounds run in PAIRS between checks (propagating past the fixpoint
    * is idempotent — an extra round just reproduces the same labels).
    * If the loop exits at `maxIters` with changes still flowing (a
    * component with min-label chains longer than maxIters hops), the
    * result under-merges relative to exact transitive closure — that is
    * loudly warned, because the q59 oracle (a recursive CTE) computes
    * the exact closure and would diverge. */
  def clusters(spark: SparkSession, dir: String, threshold: Double = 0.5,
      maxIters: Int = 10): DataFrame =
    clusterLabels(spark, dir, threshold, maxIters)
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") >= 2)
      .orderBy("cluster_rep")

  /** Propagation rounds the most recent [[clusterLabels]] run executed in
    * this JVM (−1 before any run). Bench telemetry: the BSP loop's round
    * count is bounded by component diameter, which near-dup graphs keep
    * small — recording it per bench run is how "iteration count stays
    * flat as the corpus grows" becomes checkable from the artifact
    * instead of a claim. */
  val lastPropagationRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Session stage for the propagated label assignment: FIVE query
    * surfaces consume the identical (doc_id, label) relation (q59
    * clusters, q67 canonical keepers, q100 leakage-safe split, q109
    * funnel rung 3, the q72 curation pipeline), and each invocation of
    * the BSP loop below is a driver-paced sequence of checkpointed
    * rounds — the per-round fixed cost is exactly what [[StageCache]]
    * exists to pay once per (session, inputs). Keyed on the full
    * parameter tuple: an unconverged run's labels DO depend on
    * maxIters, so different budgets must not share an entry. The
    * rounds telemetry ([[lastPropagationRounds]]) is recorded by the
    * building invocation; staged serves leave it untouched (−1 under
    * the bench's per-query reset), so the bench artifact carries the
    * round count on whichever query built the stage. */
  private val labelsCache = new StageCache[(SparkSession, String, Double, Int)]

  private[ops] def clusterLabels(spark: SparkSession, dir: String, threshold: Double,
      maxIters: Int): DataFrame =
    labelsCache.getOrBuild((spark, StageCache.inputTag(spark, dir), threshold, maxIters)) {
      val built = clusterLabelsUncached(spark, dir, threshold, maxIters).cache()
      built.count()
      built
    }

  /** Per-doc min-label after propagation — the raw (doc_id, label)
    * assignment [[clusters]] histograms and [[canonical]] selects within. */
  private def clusterLabelsUncached(spark: SparkSession, dir: String, threshold: Double,
      maxIters: Int): DataFrame = {
    val edges = confirmedPairs(spark, dir).where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
    val sym = truncate(spark, edges.union(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    var labels = truncate(spark, Tables.documents(spark, dir)
      .select(col("doc_id"), col("doc_id").as("label")))
    // One propagation round = min(own label ∪ neighbor labels): the
    // neighbor labels (one join) union the self rows, then a single
    // min-aggregate — two shuffles per round (the agg+left-join
    // formulation costs three; at BSP round cadence the fixed per-stage
    // overhead is what the driver loop actually pays for).
    // `old0` (the label at batch start) rides along on the self rows so
    // the convergence check is a filter-count on the already-checkpointed
    // result — no extra join/shuffle per check.
    def propagate(cur: DataFrame): DataFrame =
      truncate(spark, cur
        .union(sym
          .join(cur, sym("doc_b") === cur("doc_id"))
          .select(sym("doc_a").as("doc_id"), col("label"),
            lit(null).cast("long").as("old0")))
        .groupBy("doc_id")
        .agg(min("label").as("label"), max("old0").as("old0")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val steps = math.min(2, maxIters - i)
      var next = labels.withColumn("old0", col("label"))
      for (_ <- 0 until steps) next = propagate(next)
      changed = next.where(col("label") =!= col("old0")).count()
      labels = next.select("doc_id", "label")
      i += steps
    }
    if (changed > 0)
      System.err.println(s"[graft] warn: label propagation stopped at maxIters=$maxIters " +
        s"with $changed labels still changing — clusters may be under-merged vs exact " +
        "transitive closure (raise maxIters)")
    lastPropagationRounds.set(i)
    labels
  }

  /** Canonical selection: within each near-dup CLUSTER (transitive
    * closure over the confirmed-pair graph, [[clusterLabels]]), keep the
    * highest-quality member (quality per TextAnalysis.qualityFilter's
    * score, doc_id as the deterministic tiebreak). One join + one
    * `max_by` hash aggregate on the cluster label; emits only clusters
    * that actually had duplicates. The "which copy survives" policy step
    * that follows clustering in a real dedup pipeline. (Earlier revision
    * grouped by exact fingerprint equality; at 64-bit fingerprints
    * near-dups never tie exactly, so grouping keys on the verified
    * cluster instead — the semantics production pipelines actually
    * want.) */
  def canonical(spark: SparkSession, dir: String): DataFrame = {
    val stop = graft.functions.TextFunctions.countWords(col("text"), TextAnalysis.QualityStopwords)
    val nTok = TextAnalysis.nTokens(col("text"))
    val punct = graft.functions.TextFunctions.countNonAlnumChars(col("text")) * lit(1.0) /
      greatest(length(col("text")), lit(1))
    val quality = round(
      lit(0.4) * least(col("n_chars") * lit(1.0) / lit(500.0), lit(1.0)) +
      lit(0.4) * least(stop * lit(10.0) / greatest(nTok, lit(1)), lit(1.0)) +
      lit(0.2) * (lit(1.0) - punct), 4)
    val qdf = Tables.documents(spark, dir)
      .select(col("doc_id"), quality.as("q"))
    clusterLabels(spark, dir, threshold = 0.5, maxIters = 10)
      .join(qdf, Seq("doc_id"))
      .groupBy(col("label").as("cluster_rep"))
      .agg(max_by(struct(col("doc_id"), col("q")), struct(col("q"), -col("doc_id"))).as("best"),
        count(lit(1)).as("n_dups"))
      .where(col("n_dups") >= 2)
      .select(col("cluster_rep"), col("best.doc_id").as("keep_id"),
        col("best.q").as("quality"), col("n_dups"))
      .orderBy("keep_id")
  }

  /** SimHash near-dup pairs: 4 bands of 16 bits for candidates (a pair
    * with hamming <= 3 over 64 bits must agree on at least one band by
    * pigeonhole; <= maxHamming with high probability), then the exact
    * 64-position hamming distance. Bands carry the same population guard
    * as the MinHash ladder ([[capBands]]): a band key shared by more than
    * `maxBandPopulation` docs (mass-produced boilerplate) is dropped
    * rather than allowed to go quadratic — those docs keep their other
    * three bands. */
  def simhashNearDup(spark: SparkSession, dir: String, maxHamming: Int = 8,
      maxBandPopulation: Int = 1000): DataFrame = {
    val sh = simhashStage(spark, dir, None) // session-cached fingerprints
    val bands = capBands(
      sh.select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("band_key", expr("substring(simhash, band * 16 + 1, 16)"))
        .select("doc_id", "band", "band_key"),
      maxBandPopulation)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash_long").as("la")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash_long").as("lb")), Seq("doc_b"))
    // hamming over the packed fingerprints: popcount of the XOR — one
    // codegen'd op per pair (the former 64-substring comparison form was
    // ~80% of this query's 100× runtime; values are identical, so the
    // oracle's substring formulation still matches hash-exactly)
    cand
      .withColumn("hamming", bit_count(col("la").bitwiseXOR(col("lb"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Drop this session's resident dedup stages (MinHash/SimHash
    * signatures, confirmed-pair set), returning executor storage memory
    * to the pool — the long-lived-session discipline [[StageCache]]
    * documents. Next use rebuilds. */
  def releaseStages(spark: SparkSession): Int =
    minhashCache.release(_._1 eq spark) +
      simhashCache.release(_._1 eq spark) +
      pairsCache.release(_._1 eq spark) +
      labelsCache.release(_._1 eq spark)
}
