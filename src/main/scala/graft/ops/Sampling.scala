package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the subsetting step of a training-data
  * pipeline. Spark's `sample()` is seed-dependent per partitioning and
  * not reproducible cross-engine, so selection here is a pure function of
  * the row key: a Knuth multiplicative hash bucket over doc_id. Exact
  * int64 arithmetic → the same rows are chosen on any engine, any
  * partitioning, any cluster size (and the choice is stable under
  * re-runs — what a lineage-tracked data pipeline needs for
  * reproducibility audits).
  */
object Sampling {

  /** Hash bucket in [0, 100): exact integer arithmetic, no float. */
  private def bucket100 = Lifecycle.bucket(col("doc_id"))

  /** Stratified sample accounting: per-language keep rates (downsample
    * the dominant language, keep the tail) applied via hash bucket.
    * Output is the per-stratum accounting a pipeline logs: corpus count,
    * sampled count, realized fraction. */
  def stratifiedSample(spark: SparkSession, dir: String,
      headRate: Int = 20, tailRate: Int = 50): DataFrame = {
    val rate = when(col("lang") === "en", lit(headRate)).otherwise(lit(tailRate))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), (bucket100 < rate).as("keep"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .select(col("lang"), col("n_docs"), col("n_sampled"),
        round(col("n_sampled") / col("n_docs"), 4).as("frac"))
      .orderBy("lang")
  }

  /** Temperature-based source mixing plan — the "how many epochs of each
    * source under a token budget" table a pre-training run is configured
    * from. Each source's sampling weight is `tokens^alpha` (alpha < 1
    * up-weights small/curated sources relative to their raw size — the
    * multilingual-sampling trick applied to source mixing); `mix_p` is
    * the normalized mixture probability and `epochs` the implied
    * pass-count over each source at `budgetTokens` total.
    *
    * Scale shape: the only corpus-sized work is ONE map-side-combined
    * aggregate (source → doc/token counts, token counting via the byte
    * kernel); the mixing math runs on the #sources-row result with a
    * 1-row broadcast normalizer. Nothing downstream of the first
    * aggregate scales with data size. */
  def sourceMixing(spark: SparkSession, dir: String, alpha: Double = 0.5,
      budgetTokens: Long = 1000000L): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.nTokens(col("text"))).as("n_tokens"))
    val norm = perSource.agg(sum(pow(col("n_tokens"), alpha)).as("total_w"))
    perSource.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(pow(col("n_tokens"), lit(alpha)) / col("total_w"), 6).as("mix_p"),
        round(lit(budgetTokens) * pow(col("n_tokens"), lit(alpha)) / col("total_w")
          / col("n_tokens"), 4).as("epochs"))
      .orderBy("source")
  }

  /** q118: capped temperature-mixture BUDGET ALLOCATION — the step after
    * q98's mixing weights that a real pre-training config needs: given a
    * token budget (`budgetFrac` of the corpus) and temperature-weighted
    * mixture probabilities, how many tokens does each source actually
    * contribute once no source may exceed `maxEpochs` passes over its
    * own data? Round 1 allocates `budget·wᵢ/Σw`; sources pushed past
    * their cap are pinned there and the freed budget redistributes over
    * the uncapped sources' weights (one redistribution round — a second
    * round only re-clips, so the remainder after re-clipping is
    * reported as unallocated in `epochs` terms rather than looped on).
    *
    * Scale shape: as q98 — one map-side-combined corpus aggregate to
    * |sources| rows, then two 1-row broadcast normalizers; nothing
    * after the first aggregate scales with data. Determinism: the only
    * FP sums are over |sources| values via the same `pow` expressions
    * in both engines (the q98 precedent); allocations round to whole
    * tokens at the end. */
  def budgetAllocation(spark: SparkSession, dir: String, alpha: Double = 0.3,
      budgetFrac: Double = 0.9, maxEpochs: Double = 1.0): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.nTokens(col("text"))).as("n_tokens"))
    val stats = perSource.agg(
      sum(pow(col("n_tokens"), lit(alpha))).as("sw"),
      sum(col("n_tokens")).as("total"))
    val r1 = perSource.crossJoin(broadcast(stats))
      .withColumn("w", pow(col("n_tokens"), lit(alpha)))
      .withColumn("cap", lit(maxEpochs) * col("n_tokens"))
      .withColumn("budget", lit(budgetFrac) * col("total"))
      .withColumn("a1", col("budget") * col("w") / col("sw"))
      .withColumn("capped", col("a1") > col("cap"))
    val redis = r1.agg(
      sum(when(col("capped"), col("cap")).otherwise(lit(0.0))).as("capped_tok"),
      sum(when(!col("capped"), col("w")).otherwise(lit(0.0))).as("nc_sw"))
    r1.crossJoin(broadcast(redis))
      .withColumn("fin",
        when(col("capped"), col("cap"))
          .otherwise(least(
            (col("budget") - col("capped_tok")) * col("w") / col("nc_sw"),
            col("cap"))))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("w") / col("sw"), 6).as("mix_p"),
        col("capped"),
        round(col("fin"), 0).cast("long").as("alloc_tokens"),
        round(round(col("fin"), 0).cast("long") * lit(1.0) / col("n_tokens"), 4)
          .as("epochs"))
      .orderBy("source")
  }

  /** Shard-count derivation for [[exportShuffle]]: hex nibbles of the
    * md5 used as the shard key, holding the expected shard population
    * near `targetPop` — `nibbles = ceil(log16(n / targetPop))` clamped
    * to [1, 8] (8 nibbles = 4 billion shards, far past any real
    * corpus). The same population-constancy discipline as
    * [[Similarity.adaptiveLshConfig]]: per-shard rows — and with them
    * the within-shard ordering sort — stay bounded as the corpus grows.
    * Integer ceil-log, so plateau edges are exact: n ≤ 4096 → 1 nibble
    * (16 shards — the sf0.01 oracle pin, 500 docs, sits mid-plateau),
    * n = 500 000 → 2 nibbles (256 shards, ~2 k rows each). */
  private[ops] def shardNibbles(n: Long, targetPop: Long = 4096L): Int = {
    var nibbles = 1
    var capacity = 16L * targetPop
    while (nibbles < 8 && n > capacity) { nibbles += 1; capacity *= 16 }
    nibbles
  }

  /** q101: deterministic global training-export shuffle — the "write the
    * curated corpus out in pseudo-random order across S shards" step
    * that precedes tokenization (training wants documents decorrelated
    * from crawl/source order; the exporter wants a reproducible
    * permutation so a re-run ships byte-identical shards).
    *
    * The permutation is a pure function of the row key: order by
    * `md5('shuffle|' || doc_id)` — an engine-independent, seed-free
    * pseudo-random total order (the salt makes it independent of every
    * other hash in the pipeline). The shard is the key's leading hex
    * nibbles, so shard assignment and within-shard order come from ONE
    * hash; `order_checksum = sum(pos * doc_id)` is position-sensitive,
    * so the oracle hash pins the exact permutation, not just the
    * membership (swap any two docs in a shard and the checksum moves —
    * ExportShuffleSpec falsifies it with a different salt).
    *
    * Scale shape: one shuffle on `shard`, one within-shard sort — the
    * physical plan of any sorted-shard write. Per-shard rows are held
    * ~constant by [[shardNibbles]] as the corpus grows, so the sort
    * stays distributed; nothing here is a global order-by. */
  def exportShuffle(spark: SparkSession, dir: String, nibbles: Int = 0): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nib = if (nibbles > 0) nibbles else shardNibbles(docs.count())
    val keyed = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(concat(lit("shuffle|"), col("doc_id").cast("string"))).as("h"))
      .withColumn("shard",
        conv(substring(col("h"), 1, nib), 16, 10).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("h", "doc_id")
    keyed
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        sum("n_chars").as("total_chars"),
        sum(col("pos") * col("doc_id")).as("order_checksum"))
      .orderBy("shard")
  }
}
