package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The materialized last mile of the curation pipeline: take the q72
  * keeper corpus ([[Curation.keeperDocs]] — quality gate, normalized
  * dedup, eval holdout, decontamination), apply the q101 deterministic
  * export permutation (ONE salt-keyed md5 drives both shard assignment
  * and within-shard order), and WRITE the training shards as
  * shard-partitioned parquet plus a manifest — the artifact a
  * tokenization/training job actually consumes, not just a report about
  * it.
  *
  * Determinism contract: the permutation is a pure function of doc_id,
  * so two exports of the same corpus ship identical shards — per-shard
  * membership, row order, and the position-sensitive order checksum all
  * reproduce (ExportSpec pins a re-export against a first run). The
  * manifest is derived from the SAME keyed relation that is written, so
  * it can never drift from the shipped data.
  *
  * Scale shape: one shuffle on `shard` + a within-shard sort — per-shard
  * rows held ~constant by [[Sampling.shardNibbles]] as the corpus grows,
  * so the sort stays distributed and output file sizes stay bounded; no
  * global order-by, nothing collects to the driver.
  */
object Export {

  /** Write the curated corpus as `outDir/shard=N/` parquet (rows in the
    * deterministic export order) and return the per-shard manifest:
    * (shard, n_docs, n_tokens, total_chars, order_checksum). The
    * manifest is also written to `outDir/_manifest` as parquet, and the
    * frozen nibble count to `outDir/_export_meta` (the incremental
    * re-export must key docs under the SHIPPED shard geometry, never a
    * freshly re-derived one). */
  def writeTrainingShards(spark: SparkSession, dir: String, outDir: String,
      nibbles: Int = 0): DataFrame =
    writeTrainingShardsOf(spark, Curation.keeperDocs(spark, dir), outDir, nibbles)

  private[ops] def writeTrainingShardsOf(spark: SparkSession, clean: DataFrame,
      outDir: String, nibbles: Int = 0): DataFrame = {
    val nib = if (nibbles > 0) nibbles else Sampling.shardNibbles(clean.count())
    val keyed = keyedOf(clean, nib)
    keyed
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "h", "doc_id")
      .select("shard", "doc_id", "lang", "source", "n_chars", "n_tok", "text")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    val manifest = manifestOf(keyed)
    manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")
    import spark.implicits._
    Seq(nib).toDF("nibbles")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_export_meta")
    manifest
  }

  /** The export permutation keys: ONE salt-keyed md5 drives shard
    * assignment and within-shard order (q101's rule). */
  private def keyedOf(clean: DataFrame, nib: Int): DataFrame =
    clean
      .withColumn("h", md5(concat(lit("shuffle|"), col("doc_id").cast("string"))))
      .withColumn("shard", conv(substring(col("h"), 1, nib), 16, 10).cast("long"))
      .withColumn("n_tok", TextAnalysis.nTokens(col("text")))

  private def manifestOf(keyed: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("h", "doc_id")
    keyed
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("n_tokens"),
        sum("n_chars").as("total_chars"),
        sum(col("pos") * col("doc_id")).as("order_checksum"))
      .orderBy("shard")
  }

  /** INCREMENTAL re-export — the nightly's scale move: shard membership
    * is a pure function of doc_id, so the admitted + retired id-set
    * names exactly the shards whose contents can have changed; only
    * those rewrite (from the CURRENT curated corpus, under the SHIPPED
    * nibble geometry), behind per-shard [[SafeSwap]], and the manifest
    * merges recomputed touched rows with the prior untouched ones —
    * provably ≡ a full rewrite's (ExportSpec pins byte-wise per-shard
    * file equality against a fresh full export). Untouched shard files
    * are not rewritten, re-sorted, or even read.
    *
    * Falls back to the full rewrite when: the artifact was never
    * exported (no manifest/meta — bootstrap), or the corpus has moved
    * past its frozen nibble boundary (every shard's membership changes
    * then; the full rewrite re-derives and re-freezes the geometry).
    * The manifest store swaps LAST — a crash mid-rewrite leaves prior
    * manifest rows describing prior files for every shard the swap
    * didn't reach, and the retry re-rewrites the touched set (the
    * deterministic permutation makes that convergent). */
  def writeTrainingShardsIncremental(spark: SparkSession, dir: String,
      outDir: String, changedIds: DataFrame): DataFrame =
    writeTrainingShardsIncrementalOf(spark, Curation.keeperDocs(spark, dir),
      outDir, changedIds)

  private[ops] def writeTrainingShardsIncrementalOf(spark: SparkSession,
      clean: DataFrame, outDir: String, changedIds: DataFrame): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    SafeSwap.recover(fs, root)
    if (!exists(s"$outDir/_manifest") || !exists(s"$outDir/_export_meta"))
      return writeTrainingShardsOf(spark, clean, outDir)
    val nib = spark.read.parquet(s"$outDir/_export_meta").head().getAs[Int]("nibbles")
    if (Sampling.shardNibbles(clean.count()) != nib)
      return writeTrainingShardsOf(spark, clean, outDir)
    val touched = changedIds
      .select(conv(substring(
          md5(concat(lit("shuffle|"), col("doc_id").cast("string"))), 1, nib),
        16, 10).cast("long").as("shard"))
      .distinct().collect().map(_.getLong(0)) // bounded: ≤ 16^nib shards
    if (touched.isEmpty)
      return spark.read.parquet(s"$outDir/_manifest").orderBy("shard")
    val touchedSeq = touched.toIndexedSeq
    val keyed = keyedOf(clean, nib)
      .where(col("shard").isin(touchedSeq.map(Long.box): _*))
    val tmp = s"$outDir/_shards_incr_tmp"
    keyed
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "h", "doc_id")
      .select("shard", "doc_id", "lang", "source", "n_chars", "n_tok", "text")
      .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    SafeSwap.swapPartitions(fs, root, new org.apache.hadoop.fs.Path(tmp),
      touchedSeq.map(s => s"shard=$s"))
    // manifest: recomputed touched rows replace prior ones; a touched
    // shard with zero surviving docs drops out (its dir swapped away)
    val prior = spark.read.parquet(s"$outDir/_manifest")
      .where(!col("shard").isin(touchedSeq.map(Long.box): _*))
    val manifest = prior.unionByName(manifestOf(keyed)).orderBy("shard")
    val mTmp = s"$outDir/_manifest_incr_tmp"
    manifest.write.mode("overwrite").parquet(mTmp)
    SafeSwap.swapDir(fs, new org.apache.hadoop.fs.Path(s"$outDir/_manifest"),
      new org.apache.hadoop.fs.Path(mTmp))
    spark.read.parquet(s"$outDir/_manifest").orderBy("shard")
  }

  private val persistedShards = new TempArtifacts("graft-export-shards")

  /** Release this session's memoized export artifacts. */
  def releaseStages(spark: SparkSession): Int = persistedShards.release(spark)

  /** q175: the INCREMENTALLY-maintained export's manifest under the
    * full-rewrite oracle — ExportSpec pins incremental ≡ full byte-wise
    * per shard file; this pins the shipped accounting against an
    * independent engine. The artifact is seeded with yesterday's
    * corpus (keepers minus the q96-rule arriving slice, the q172/q174
    * split discipline), then today's slice admits through
    * [[writeTrainingShardsIncremental]]'s touched-shard rewrite; the
    * served manifest must equal what DuckDB computes for a FULL export
    * of the whole keeper corpus (q72's keeper chain + q101's
    * permutation + the manifest aggregation). Nibbles pinned at 1 —
    * the gate's frozen geometry, like every gate's fixed config. */
  def manifestIncremental(spark: SparkSession, dir: String): DataFrame = {
    val outDir = persistedShards.getOrCreate(spark, s"$dir#incr") { tmp =>
      val keepers = Curation.keeperDocs(spark, dir)
      val arriving = Lifecycle.bucket(col("doc_id")) < Lifecycle.DeltaPct
      writeTrainingShardsOf(spark, keepers.where(!arriving), tmp, nibbles = 1)
      writeTrainingShardsIncrementalOf(spark, keepers, tmp,
        keepers.where(arriving).select("doc_id"))
      ()
    }
    spark.read.parquet(s"$outDir/_manifest")
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("total_chars"), col("order_checksum"))
      .orderBy("shard")
  }

  /** Re-derive the manifest from the SHIPPED shards and diff it against
    * the stored `_manifest` — the receiving side's integrity check
    * before tokenization (did every shard arrive, whole and in order?).
    * Positions are recomputed from the files' physical row order via a
    * per-shard window, so a truncated, reordered, or re-written shard
    * moves its `order_checksum` even when counts still match. Returns
    * one row per discrepancy; an empty result is a clean artifact. */
  def verifyShards(spark: SparkSession, outDir: String): DataFrame = {
    val stored = spark.read.parquet(s"$outDir/_manifest")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("order")
    val recomputed = spark.read.parquet(outDir)
      .select(col("shard"), col("doc_id"), col("n_tok"), col("n_chars"),
        monotonically_increasing_id().as("order"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("n_tokens"),
        sum("n_chars").as("total_chars"),
        sum(col("pos") * col("doc_id")).as("order_checksum"))
    stored.as("m").join(recomputed.as("s"), Seq("shard"), "full_outer")
      .where(coalesce(col("m.n_docs") =!= col("s.n_docs"), lit(true)) ||
        coalesce(col("m.n_tokens") =!= col("s.n_tokens"), lit(true)) ||
        coalesce(col("m.total_chars") =!= col("s.total_chars"), lit(true)) ||
        coalesce(col("m.order_checksum") =!= col("s.order_checksum"), lit(true)))
      .select(col("shard"),
        col("m.n_docs").as("manifest_docs"), col("s.n_docs").as("shipped_docs"),
        col("m.order_checksum").as("manifest_checksum"),
        col("s.order_checksum").as("shipped_checksum"))
      .orderBy("shard")
  }
}
