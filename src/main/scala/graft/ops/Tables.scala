package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata table loader. Every operator reads through here so the scan
  * path (parquet, column pruning, filter pushdown) is uniform. */
object Tables {
  /** Pure loader — no session-conf mutation (that's a construction-time
    * concern: [[graft.GraftSession.configure]] sets
    * `spark.sql.legacy.parquet.nanosAsLong` so nano-vintage events files
    * surface as raw longs for [[normalizeEventTs]]; a session without it
    * gets Spark's own loud TIMESTAMP(NANOS) rejection, never a silent
    * long where the caller expected an error). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    // memoized resolved relation (metadata only — see [[StoreMemo]]):
    // every query invocation re-loaded each table it touches, paying a
    // listing + schema-inference job per table per run
    StoreMemo.parquet(spark, s"$dir/$name.parquet")

  /** Spread a scan across the cluster when the file layout under-splits
    * it (a single small parquet file = one task, which serializes any
    * heavy per-row work — hashing, regex, vector math — onto one core).
    * No-op when the scan already has enough splits, so at production
    * scale (many files / row groups) this adds nothing; locally it's a
    * ~MB shuffle that unlocks full parallelism for the compute above it.
    *
    * Split estimate comes from a driver-side file listing (count of data
    * files × ceil(size / maxPartitionBytes)) — NOT `df.rdd`, which would
    * force an RDD conversion of the analyzed plan on every query build. */
  def spread(spark: SparkSession, df: DataFrame, key: String, path: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (estimatedSplits(spark, path) < target)
      df.repartition(target, org.apache.spark.sql.functions.col(key))
    else df
  }

  private def estimatedSplits(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
      fs.listStatus(p).iterator
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .map(f => math.max(1L, (f.getLen + maxSplit - 1) / maxSplit))
        .sum
    } catch {
      // unreadable path: claim enough splits — the scan itself will give
      // the real error; spread must never add one of its own
      case _: Exception => Long.MaxValue
    }

  /** Documents, spread for compute-heavy per-row work. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spread(spark, apply(spark, dir, "documents"), "doc_id", s"$dir/documents.parquet")

  /** Embeddings, spread for vector math. */
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(spark, apply(spark, dir, "embeddings"), "vec_id", s"$dir/embeddings.parquet")

  /** Events with `ts` normalized to a micro-precision TimestampType
    * column regardless of the underlying parquet physical type. The
    * encoding of an input we don't produce is NOT a constant: the test
    * corpus has shipped as TIMESTAMP(NANOS) (surfaced as LongType under
    * `nanosAsLong`), as INT64 micros `isAdjustedToUTC=0` (surfaced as
    * TIMESTAMP_NTZ), and could ship as plain TIMESTAMP micros — so the
    * loader dispatches on the surfaced type instead of assuming one.
    * EventsEncodingSpec pins all three paths to identical `unix_micros`
    * values. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(apply(spark, dir, "events"))

  /** Normalize an events frame's `ts` column to TimestampType micros.
    *   - LongType: nanos-as-long (legacy TIMESTAMP(NANOS) files read with
    *     `spark.sql.legacy.parquet.nanosAsLong`) — integer-div by 1000;
    *     integer division keeps full precision (nanos since epoch
    *     overflow double's 2^53 exact-integer range). TZ-independent.
    *   - TimestampNTZType: INT64 micros with `isAdjustedToUTC=0`. The
    *     corpus contract is that the naive wall-clock IS the UTC instant
    *     (DuckDB's `epoch_us` on the same files assumes exactly this), so
    *     the conversion must not depend on the session timezone: a plain
    *     cast reinterprets the wall-clock in the session zone, which in a
    *     non-UTC user session would silently shift every instant by the
    *     zone offset — the same corruption class the round-5 streaming
    *     bug had. The epoch offset is therefore computed ZONE-FREE as
    *     pure field arithmetic — days-since-epoch of the wall-clock date
    *     plus the wall-clock time of day — which never consults a zone,
    *     so wall-clocks inside a session zone's DST gap/overlap and
    *     long-lived streams whose session zone changes after plan
    *     definition both read exactly wall-clock-as-UTC. (The obvious
    *     `timestampdiff(MICROSECOND, NTZ epoch, ts)` is NOT zone-free:
    *     Spark resolves NTZ operands through the session zone, and the
    *     DST-gap instant in EventsEncodingSpec catches it shifting by
    *     the gap width in an America/New_York session.)
    *   - TimestampType: already the target; pass through.
    *   - anything else: fail LOUDLY at load time. A silent pass-through
    *     here is how the round-5 encoding flip reached six queries as
    *     per-query analysis errors; an unknown future encoding (INT96,
    *     millis-as-int, string) should name itself in one place instead.
    * Shared by the batch loader above and the streaming source
    * ([[graft.streaming.EventsStreaming.readEvents]]) so both fronts
    * absorb an encoding flip identically. Pinned by EventsEncodingSpec,
    * including a non-UTC-session case. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // NTZ field extractions (date, hour, minute, fractional second)
        // are wall-clock-local by definition; date_part('SECOND') is a
        // DECIMAL(8,6), so ×1e6 is exact micros
        df.withColumn("ts", timestamp_micros(
          unix_date(col("ts").cast(DateType)).cast(LongType) * lit(86400000000L) +
            hour(col("ts")).cast(LongType) * lit(3600000000L) +
            minute(col("ts")).cast(LongType) * lit(60000000L) +
            (expr("date_part('SECOND', ts)") * lit(1000000)).cast(LongType)))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other — teach Tables.normalizeEventTs this encoding")
    }
  }
}
