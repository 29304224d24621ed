package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The store lifecycle the persisted index families share — BM25
  * postings ([[Retrieval]]), image hashes ([[ImageIndex]]), LSH vectors
  * ([[LshIndex]]), PQ codes ([[Similarity]]) and fingerprints
  * ([[FingerprintIndex]]); the flat and two-level IVF inverted files
  * use its tombstone half.
  *
  * An artifact is a directory of parquet stores keyed by one id column
  * (`doc_id` or `vec_id`): derived stores first, then the KEYED store —
  * the per-id store the replay guard scans and the one every append
  * writes last (the cached-plan recache trap: appending the guard's
  * store first re-evaluates the guarded delta to empty for the derived
  * write). Beside them:
  *   - `tombstones` — (id): the delete set, appended by [[tombstone]],
  *     anti-joined at serve time, expunged by [[compact]];
  *   - `_append_pending` — an [[AppendCommit]] marker of an append in
  *     flight ([[atomically]]);
  *   - `<store>.old` — a [[SafeSwap]] rewrite in flight.
  *
  * Layout, one policy for every family: the keyed store of an id-keyed
  * family lands under `id_bucket = pmod(xxhash64(id), 64)`
  * ([[IdStore.byId]]), so the replay guard and the expunge read only the
  * partitions their id sets hash to — cost ∝ the delta, never the
  * corpus; the fingerprint store and the derived probe stores hash their
  * own probe key the same way ([[IdStore.Layout]]) under a fixed
  * family-private modulus. A keyed store in any other layout (an
  * artifact written before the layout existed) fails fast at append and
  * compaction, naming its path; rebuild it (an LSH artifact upgrades in
  * place via `LshIndex.migrateLshIndex`).
  * Single-writer ownership, as for every artifact mutation here.
  */
private[graft] class IdStore(val id: String, val layout: IdStore.Layout, stores: String*) {
  import IdStore._

  private def keyed = stores.last

  /** Entry-point recovery, run before every append, compaction and
    * serve: restore partitions a crashed swap left aside, then roll
    * back an uncommitted append. Returns whether a rollback ran (a
    * holder of resident relations over the stores must drop them).
    * Families with recovery of their own (LSH regeometry, PQ retrain)
    * override it and call this after theirs. */
  def recover(spark: SparkSession, indexDir: String): Boolean = {
    val fs = fsOf(spark, indexDir)
    stores.foreach(s => SafeSwap.recover(fs, new Path(indexDir, s)))
    AppendCommit.recover(fs, indexDir)
  }

  /** The one old-layout policy: a keyed store whose root holds anything
    * but its layout's partition dirs cannot be guarded or expunged by
    * partition, and mixing an old layout with new partitions would
    * silently drop rows from served answers — fail fast instead. One
    * listing, no Spark job; a store not written yet passes. */
  def requireLaidOut(spark: SparkSession, indexDir: String): Unit = {
    val root = new Path(indexDir, keyed)
    val fs = fsOf(spark, indexDir)
    if (fs.exists(root)) {
      val stray = fs.listStatus(root).map(_.getPath.getName).filterNot(n =>
        n.startsWith("_") || n.startsWith(".") || n.startsWith(s"${layout.column}="))
      require(stray.isEmpty,
        s"$root is not partitioned by ${layout.column} (found ${stray.head}); " +
          "rebuild the artifact (LSH: LshIndex.migrateLshIndex)")
    }
  }

  /** The replay guard's DELTA-PROPORTIONAL keyed-store scan: the held
    * ids the delta could collide with. The delta's partitions under the
    * keyed layout (collected locally, ≤ modulus longs) push a static
    * partition filter into the scan. Sound because a replayed row sits
    * in exactly the partition its delta row hashes to (same id ⇒ same
    * bytes; a changed document is re-ingested through tombstone +
    * append, not the guard). */
  def heldIds(spark: SparkSession, indexDir: String, delta: DataFrame): DataFrame =
    spark.read.parquet(s"$indexDir/$keyed")
      .where(col(layout.column).isin(layout.bucketsOf(delta): _*))
      .select(id)

  /** An append's admission, after [[recover]]: fail fast on an old
    * layout, withdraw the tombstones of re-ingested ids
    * ([[IdStore.withdraw]]),
    * then the replay guard — the delta rows the store does not hold yet
    * (all of them when the keyed store does not exist: the first delta
    * is the base build). Uncached; callers writing two stores
    * materialize it first. */
  def admit(spark: SparkSession, indexDir: String, delta: DataFrame)(
      expunge: DataFrame => Unit): DataFrame = {
    requireLaidOut(spark, indexDir)
    IdStore.withdraw(spark, indexDir, id, delta)(expunge)
    if (!fsOf(spark, indexDir).exists(new Path(indexDir, keyed))) delta
    else delta.join(heldIds(spark, indexDir, delta), Seq(id), "left_anti")
  }

  /** One append's writes, atomic to any observer ([[AppendCommit]]):
    * `writes` must land the derived stores first, the keyed store last. */
  def atomically(spark: SparkSession, indexDir: String)(writes: => Unit): Unit = {
    val fs = fsOf(spark, indexDir)
    AppendCommit.begin(fs, indexDir, stores)
    writes
    AppendCommit.commit(fs, indexDir)
  }

  /** Drop a dead set's rows from the keyed store. Under the id layout
    * the dead ids themselves name the touched partitions (no store
    * scan); under any other a join finds them. */
  def expungeKeyed(indexDir: String, dead: DataFrame): Unit =
    IdStore.expunge(s"$indexDir/$keyed", layout.column, id, dead,
      if (layout.keys == Seq(id)) Some(layout.bucketsOf(dead)) else None)

  /** The compaction: recover, fail fast on an old layout, expunge the
    * tombstoned rows, delete the tombstone set LAST (the commit point —
    * a crash before it leaves the tombstones serving exactly and a
    * re-run redoes the pass). Tombstones against a keyed store that was
    * never built are already in effect and just drop. */
  def compact(spark: SparkSession, indexDir: String)(expunge: DataFrame => Unit): Unit = {
    recover(spark, indexDir)
    requireLaidOut(spark, indexDir)
    val built = fsOf(spark, indexDir).exists(new Path(indexDir, keyed))
    purge(spark, indexDir, id)(dead => if (built) expunge(dead))
  }

  def tombstone(deletedIds: DataFrame, indexDir: String): Unit =
    IdStore.tombstone(deletedIds, indexDir, id)

  def tombstones(spark: SparkSession, indexDir: String): Option[DataFrame] =
    IdStore.tombstones(spark, indexDir, id)

  /** `rel` without the tombstoned ids. No forced broadcast — a delete
    * set can grow unboundedly between compactions; AQE picks the build
    * side. */
  def live(rel: DataFrame, dead: Option[DataFrame]): DataFrame =
    dead.fold(rel)(d => rel.join(d, Seq(id), "left_anti"))
}

private[graft] object IdStore {

  /** Partition count of every keyed store. */
  val Buckets = 64

  /** A hash-partitioned store layout: rows land under
    * `column = pmod(xxhash64(keys), modulus)`, one file per partition
    * dir. A probe's, delta's or dead set's partitions are a pure
    * function of its own rows, so they collect LOCALLY (≤ modulus
    * longs) and push a static partition filter — probe, guard and
    * expunge cost ∝ the batch, never the store. The modulus is frozen
    * per store: two moduli in one store would silently defeat the
    * prune. */
  final case class Layout(column: String, modulus: Int, keys: String*) {
    def bucket: Column = pmod(xxhash64(keys.map(col): _*), lit(modulus.toLong))

    def bucketsOf(rows: DataFrame): Seq[Long] =
      rows.select(bucket).distinct().collect().map(_.getLong(0)).toSeq

    def write(rows: DataFrame, path: String, mode: String): Unit =
      rows.withColumn(column, bucket)
        .repartition(col(column)) // one file per bucket dir, not one per task
        .write.mode(mode).partitionBy(column).parquet(path)
  }

  /** The keyed-store layout of an id-keyed family. */
  def byId(id: String): Layout = Layout("id_bucket", Buckets, id)

  private[ops] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Retire ids — tombstones, not rewrites (cost ∝ |deletes|);
    * idempotent under the serve-time anti-join. */
  def tombstone(deletedIds: DataFrame, indexDir: String, id: String): Unit =
    deletedIds.select(col(id).cast("long").as(id))
      .write.mode("append").parquet(s"$indexDir/tombstones")

  /** The artifact's tombstone relation, if any were written. */
  def tombstones(spark: SparkSession, indexDir: String, id: String): Option[DataFrame] =
    if (fsOf(spark, indexDir).exists(new Path(indexDir, "tombstones")))
      Some(StoreReads.parquet(spark, s"$indexDir/tombstones").select(id).distinct())
    else None

  /** RESURRECTION (the deleted-then-re-appended interaction): a delta id
    * in the tombstone set is being deliberately re-ingested — expunge
    * its dead rows and withdraw its tombstones BEFORE the replay guard
    * runs, so the fresh rows append as new and neither generation
    * double-serves. Crash-converging in both windows: rows gone but
    * still tombstoned re-detects the overlap on re-run; tombstone
    * withdrawn but rows absent falls through to the guard, which sees
    * the id absent and appends it. */
  def withdraw(spark: SparkSession, indexDir: String, id: String, delta: DataFrame)(
      expunge: DataFrame => Unit): Unit =
    tombstones(spark, indexDir, id).foreach { dead =>
      val overlap = dead.join(delta.select(id), Seq(id)).cache()
      if (overlap.count() > 0) {
        expunge(overlap)
        val tsTmp = s"$indexDir/tombstones_withdraw_tmp"
        dead.join(overlap, Seq(id), "left_anti").write.mode("overwrite").parquet(tsTmp)
        SafeSwap.swapDir(fsOf(spark, indexDir),
          new Path(indexDir, "tombstones"), new Path(tsTmp))
      }
      overlap.unpersist(blocking = false)
    }

  /** Expunge the whole tombstone set, then delete it LAST (the commit
    * point). */
  def purge(spark: SparkSession, indexDir: String, id: String)(
      expunge: DataFrame => Unit): Unit =
    tombstones(spark, indexDir, id).foreach { dead =>
      expunge(dead)
      fsOf(spark, indexDir).delete(new Path(indexDir, "tombstones"), true)
    }

  /** Drop a dead set's rows from the store at `path`, partitioned by
    * `column`: only the touched partitions rewrite (untouched ones
    * survive byte-identical) — `touched` when the caller derives them,
    * else the partitions a join finds holding a dead id (bounded
    * collect). Crash-safe via [[SafeSwap.swapPartitions]]; a partition
    * whose every row was dead is moved aside and not replaced. */
  def expunge(path: String, column: String, id: String, dead: DataFrame,
      touched: Option[Seq[Long]] = None): Unit = {
    val spark = dead.sparkSession
    val rows = spark.read.parquet(path)
    val parts = touched.getOrElse(rows.join(dead, Seq(id))
      // partition discovery types the column as INT on read-back
      .select(col(column).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq)
    if (parts.nonEmpty) {
      val tmp = s"${path}_compact_tmp"
      rows.where(col(column).isin(parts: _*))
        .join(dead, Seq(id), "left_anti")
        .repartition(col(column)) // one file per rewritten dir
        .write.mode("overwrite").partitionBy(column).parquet(tmp)
      SafeSwap.swapPartitions(fsOf(spark, path), new Path(path), new Path(tmp),
        parts.map(p => s"$column=$p"))
    }
  }
}
