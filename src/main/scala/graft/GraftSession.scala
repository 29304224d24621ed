package graft

import org.apache.spark.sql.SparkSession

/** Shared session post-configuration for the library's entry points
  * (Bench / Verify / test harness). */
object GraftSession {

  /** One-stop session post-configuration: everything the library needs a
    * session to carry, applied ONCE at construction time. Per-query code
    * (loaders, operators) never mutates session conf — a `spark.conf.set`
    * hidden inside a loader is a global side effect a library caller
    * can't see (it once lived in `Tables.apply`, where a caller reading
    * nanos parquet THEY produced would silently get longs where they
    * expected an error).
    *
    *  - `nanosAsLong`: historical events corpora carried TIMESTAMP(NANOS)
    *    columns, which Spark 4 rejects outright unless surfaced as raw
    *    longs; [[graft.ops.Tables.normalizeEventTs]] then dispatches on
    *    the surfaced LongType. No-op for non-nano files.
    *  - a reliable checkpoint dir (see [[ensureCheckpointDir]]). */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Let AQE re-plan the materialization of CACHED plans (default off
    // for output-partitioning compatibility). Every session stage in
    // this library is built once and scanned by many consumers; with
    // the default, a 2 000-row staged relation materializes with the
    // full spark.sql.shuffle.partitions partition count and every
    // consumer scan pays that task count, while at corpus scale the
    // same stage keeps as many partitions as its byte size warrants —
    // exactly the scale-adaptive partitioning the optimization guide
    // §2 prescribes (AQE coalescing instead of a constant). Measured
    // (r15 opt round, paired A/B on the 20 heaviest sf0.1 queries):
    // best-sum 39.4 → 35.0 s, every artifact-serve query down
    // 0.25–0.69 s, answers hash-identical (oracle parity re-run).
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Partitioned artifact stores (the 64-dir term/id/bucket layouts)
    // sit just above the default 32-path threshold, so EVERY serve-time
    // read launched a distributed file-listing JOB before any work.
    // Listing ≤ 1024 dirs on the driver is microseconds on a local FS
    // and still sane on cluster object stores; past that the
    // distributed listing takes over as before.
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    // AQE partition-coalescing policy. false makes AQE coalesce
    // post-shuffle partitions purely by BYTE SIZE (Spark's own
    // doc recommends it for production clusters); true (the Spark
    // default, kept here) stops coalescing at the default parallelism.
    // MEASURED both ways this round (r16, 24-query subset A/B at sf0.1
    // local[32], back-to-back windows): false LOSES ~2 s — the byte rule
    // collapses every metadata-sized shuffle to ONE partition, which
    // serializes the rescore/rank stages of the ANN serves (q164 +0.77 s,
    // q140 +0.65 s), costing more than the saved per-task overhead once
    // the sort-shuffle-writer change removed the per-task file-open tax.
    // The r15 anti-scaling family (8 cores beating 32 by 3–11×) traced
    // to bypass-merge shuffle file creation growing ∝ maps × reducers =
    // cpus² — fixed in build.sbt, not here. A cluster deployment whose
    // shuffles are corpus-sized should set it to false on its session
    // and let the 64 MB advisory size rule.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    ensureCheckpointDir(spark)
  }

  /** Ensure a RELIABLE checkpoint directory is configured: iterative ops
    * (Dedup.clusters' label propagation) truncate lineage per round, and
    * only reliable checkpoints survive executor loss on a cluster —
    * `localCheckpoint` is executor-memory-resident and dies with the
    * executor. Honors an explicit `graft.checkpoint.dir` conf first;
    * otherwise provisions a scratch dir under java.io.tmpdir so the
    * fault-tolerant path is the one actually exercised by default. */
  def ensureCheckpointDir(spark: SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val conf = spark.conf.get("graft.checkpoint.dir", "")
      val dir =
        if (conf.nonEmpty) conf
        else java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
    }
}
