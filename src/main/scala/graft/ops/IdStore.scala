package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{GenericRow, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ParquetFiles

/** The store lifecycle the persisted index families share — BM25
  * postings ([[Retrieval]]), image hashes ([[ImageIndex]]), LSH vectors
  * ([[LshIndex]]), PQ codes ([[Similarity]]) and fingerprints
  * ([[FingerprintIndex]]); the flat and two-level IVF inverted files
  * use its version log and tombstone half.
  *
  * An artifact is a directory of parquet stores keyed by one id column
  * (`doc_id` or `vec_id`): derived stores, side stores (meta, books)
  * and the KEYED store — the per-id store the replay guard scans.
  * Beside them:
  *   - `tombstones` — (id): the delete set, appended by [[tombstone]],
  *     anti-joined at serve time, expunged by [[compact]];
  *   - `_versions/<n>` — the artifact's append-only version log
  *     ([[IdStore.Version]]), its one commit protocol.
  *
  * Version log: a version names every live file of every store (with
  * its length) and carries a unique id. Writers ([[IdStore.Writer]])
  * only ever add new files — Spark writes land in the writer's staging
  * dir and move into the store dirs under their job-unique names — and
  * then publish version n+1 by one exclusive create of a fully written
  * file. An append publishes the old files plus its new ones; an
  * expunge, withdraw, compaction or rebuild publishes one version
  * without the files it replaces, so each commits atomically and needs
  * no snapshot: version n's files stay readable until the rebuild
  * publishes. Readers ([[IdStore.latest]]) list `_versions/` once and
  * read exactly the latest version's files: no store listing, no
  * recovery, no writes. A crash anywhere leaves files no version names;
  * they are ignored, and the next writer's cleanup deletes them. The
  * cleanup after publishing v spares what v−1 names, so a reader still
  * on v−1 finishes; one on an older version fails on a missing file,
  * never with fewer rows.
  *
  * Concurrency: if version n+1 already exists, the publish throws and
  * names the artifact — the exclusive create is the writer lease, so a
  * second writer on the same version fails fast and never loses rows.
  *
  * Layout, one policy for every family: the keyed store of an id-keyed
  * family lands under `id_bucket = pmod(xxhash64(id), 64)`
  * ([[IdStore.byId]]), so the replay guard and the expunge read only the
  * partitions their id sets hash to — cost ∝ the delta, never the
  * corpus; the fingerprint store and the derived probe stores hash their
  * own probe key the same way ([[IdStore.Layout]]) under a fixed
  * family-private modulus. An artifact written before the version log
  * is upgraded by its first writer (v0 from the listing), which first
  * fails fast, naming the path, on a keyed store in any other layout or
  * on a leftover crash marker or aside of the older commit schemes.
  */
private[graft] class IdStore(val id: String, val layout: IdStore.Layout, stores: String*) {
  import IdStore._

  private def keyed = stores.last

  /** One mutation as one published version ([[IdStore.write]]); an
    * unversioned artifact is laid-out-checked and upgraded first. */
  def write[T](spark: SparkSession, indexDir: String)(body: Writer => T): T =
    IdStore.write(spark, indexDir, stores)(requireLaidOut(spark, indexDir))(body)

  /** The existence test of a bootstrap-or-append caller (itself a
    * writer): whether the artifact has a published version, after
    * upgrading one written before the version log to v0 — so such an
    * artifact is probed and appended to, never bootstrapped over. */
  def exists(spark: SparkSession, indexDir: String): Boolean = {
    upgrade(spark, indexDir, stores)(requireLaidOut(spark, indexDir))
    latestOpt(fsOf(spark, indexDir), indexDir).isDefined
  }

  /** The old-layout policy of the upgrade: a keyed store whose root
    * holds anything but its layout's partition dirs cannot be guarded
    * or expunged by partition, and mixing an old layout with new
    * partitions would silently drop rows from served answers — fail
    * fast instead. One listing, no Spark job; a store not written yet
    * passes. */
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
    heldIn(latest(spark, indexDir).read(spark, keyed), delta)

  private def heldIn(rows: DataFrame, delta: DataFrame): DataFrame =
    rows.where(col(layout.column).isin(layout.bucketsOf(delta): _*)).select(id)

  /** An append's admission inside writer `w`: withdraw the tombstones
    * of re-ingested ids ([[IdStore.withdraw]]), then the replay guard —
    * the delta rows the store does not hold yet (all of them when the
    * keyed store does not exist: the first delta is the base build).
    * Uncached; callers writing two stores materialize it first. */
  def admit(w: Writer, delta: DataFrame)(expunge: DataFrame => Unit): DataFrame = {
    IdStore.withdraw(w, id, delta)(expunge)
    w.readOpt(keyed).fold(delta)(rows => delta.join(heldIn(rows, delta), Seq(id), "left_anti"))
  }

  /** Drop a dead set's rows from the keyed store. Under the id layout
    * the dead ids themselves name the touched partitions (no store
    * scan); under any other a join finds them. */
  def expungeKeyed(w: Writer, dead: DataFrame): Unit =
    IdStore.expunge(w, keyed, layout.column, id, dead,
      if (layout.keys == Seq(id)) Some(layout.bucketsOf(dead)) else None)

  /** The compaction: expunge the tombstoned rows and drop the tombstone
    * set, published as one version. Tombstones against a keyed store
    * that was never built are already in effect and just drop. */
  def compact(spark: SparkSession, indexDir: String)(expunge: (Writer, DataFrame) => Unit): Unit =
    write(spark, indexDir) { w =>
      IdStore.purge(w, id)(dead => if (w.has(keyed)) expunge(w, dead))
    }

  def tombstone(deletedIds: DataFrame, indexDir: String): Unit =
    write(deletedIds.sparkSession, indexDir)(IdStore.tombstone(_, deletedIds, id))

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

    /** [[bucket]] of one row's key values, computed on the driver with no
      * job: catalyst's `XXH64` chained over the keys from seed 42, as
      * `xxhash64` hashes them (a string by its UTF-8 bytes, a long by its
      * value), then `pmod`. */
    def bucketOf(values: Any*): Long = {
      val h = values.foldLeft(42L) {
        case (seed, s: String) =>
          val u = UTF8String.fromString(s)
          XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
        case (seed, l: Long) => XXH64.hashLong(l, seed)
        case (_, v) => throw new IllegalArgumentException(
          s"no driver hash for $v (key of $column): strings and longs only")
      }
      java.lang.Math.floorMod(h, modulus.toLong)
    }

    def write(rows: DataFrame, path: String): Unit =
      rows.withColumn(column, bucket)
        .repartition(col(column)) // one file per bucket dir, not one per task
        .write.partitionBy(column).parquet(path)
  }

  /** The keyed-store layout of an id-keyed family. */
  def byId(id: String): Layout = Layout("id_bucket", Buckets, id)

  private[ops] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Log = "_versions"
  private val Staging = "_staging"
  private val Tombstones = "tombstones"

  /** Crash leftovers of the commit schemes the version log replaced; an
    * upgrade refuses to adopt a listing that still holds one. */
  private val LegacyMarkers = Seq("_append_pending", "_regeom_pending", "_retrain_pending")

  /** One published version of the artifact at `dir`: its number, its
    * unique id (the token of the artifact's memo slot, [[StoreMemo]] — a
    * deleted and rebuilt artifact restarts at version 0 under a fresh
    * id) and every live file, relative to `dir`, with its length. */
  final case class Version(dir: String, n: Long, id: String, files: Map[String, Long]) {
    def has(store: String): Boolean = files.keysIterator.exists(_.startsWith(store + "/"))

    /** The store's rows, resolved once into the artifact's memo slot: a
      * read of another version replaces the slot ([[StoreMemo]]). */
    def read(spark: SparkSession, store: String): DataFrame =
      StoreMemo.get(spark, dir, id, s"store:$store")(
        readFiles(spark, dir, store, files.keySet, s"version $n"))

    def tombstones(spark: SparkSession, idCol: String): Option[DataFrame] =
      if (has(Tombstones)) Some(read(spark, Tombstones).select(idCol).distinct()) else None

    /** The files of `store` the version names, relative to `dir` and
      * sorted — only those under the `column=value` dirs of
      * `partitions`, when given. From the version alone, no listing:
      * what [[readLocal]] opens. */
    private[ops] def filesUnder(store: String, partitions: Option[(String, Seq[Long])]): Seq[String] = {
      val under = partitions.fold(Seq(s"$store/")) { case (c, ps) => ps.map(p => s"$store/$c=$p/") }
      files.keysIterator.filter(f => under.exists(f.startsWith)).toSeq.sorted
    }

    /** The store's rows on the driver, with no Spark job: `columns` of the
      * files [[filesUnder]] names, with a partition column's value taken
      * from its dir, and only the rows whose `filter` column holds one of
      * the given values. The same rows and types as [[read]] under the
      * same partition filter, `select(columns)` and `isin`. For bounded
      * reads: every row comes back to the driver. */
    def readLocal(spark: SparkSession, store: String, partitions: Option[(String, Seq[Long])],
        columns: Seq[String], filter: Option[(String, Set[Any])]): Seq[Row] =
      IdStore.readLocal(spark, dir, store, filesUnder(store, partitions), columns, filter,
        s"version $n")

    private[IdStore] def body: String =
      files.toSeq.sorted.map { case (f, len) => s"$f\t$len" }.mkString(s"$id\n", "\n", "\n")
  }

  /** A store's files out of `files`, read with `basePath` set so the
    * partition columns come back from the relative paths. A named file
    * that is gone means the store was changed outside the log: fail
    * fast, naming the store. */
  private def readFiles(spark: SparkSession, dir: String, store: String,
      files: collection.Set[String], at: String): DataFrame = {
    val root = s"$dir/$store"
    val paths = files.iterator.filter(_.startsWith(store + "/")).map(f => s"$dir/$f").toSeq.sorted
    require(paths.nonEmpty, s"$root: $at of $dir holds no files of this store")
    try spark.read.option("basePath", root).parquet(paths: _*)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => throw gone(root, at, dir, e)
    }
  }

  private def gone(root: String, at: String, dir: String, cause: Throwable) =
    new IllegalArgumentException(s"$root: $at of $dir names files that are " +
      "gone — the store was changed outside the artifact's version log; rebuild the " +
      "artifact (LSH: LshIndex.migrateLshIndex)", cause)

  /** [[Version.readLocal]] of `files`: each opened by [[ParquetFiles.read]]
    * against the session's loaded Hadoop configuration (a fresh
    * `Configuration` per file re-parses the `*-default.xml` resources,
    * milliseconds a file), its row groups and pages pruned by the
    * filter's statistics, dictionaries and page indexes, then decoded
    * record by record, each kept by a hash lookup of its filter value
    * (with parquet's own record filter the cost per row grew with the
    * number of values: 5× slower over 64 terms). A file that is gone, a
    * column no file holds or one of a type it does not decode fails,
    * naming the store. */
  private def readLocal(spark: SparkSession, dir: String, store: String, files: Seq[String],
      columns: Seq[String], filter: Option[(String, Set[Any])], at: String): Seq[Row] = {
    val root = s"$dir/$store"
    if (files.isEmpty || filter.exists(_._2.isEmpty)) Nil
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val in = filter.map { case (c, vs) => inFilter(root, c, vs) }
      val options = HadoopReadOptions.builder(conf)
        .withRecordFilter(in.fold(FilterCompat.NOOP)(p => FilterCompat.get(p._2))).build()
      val out = Vector.newBuilder[Row]
      files.foreach { f =>
        try ParquetFiles.read(new Path(dir, f), conf, options) { (reader, _) =>
          val meta = reader.getFooter.getFileMetaData
          // the `column=value` dirs between the store and the file
          val partValues = f.split('/').iterator.drop(1).filter(_.contains('=')).map { d =>
            val eq = d.indexOf('=')
            d.substring(0, eq) -> (d.substring(eq + 1).toInt: Any)
          }.toMap
          require(filter.forall(p => !partValues.contains(p._1)), s"$root: a local read filters " +
            s"its partition column ${filter.get._1} by the partitions it reads, not by a filter")
          val decoded = (columns ++ filter.map(_._1)).distinct.filterNot(partValues.contains)
          val projection = new MessageType(meta.getSchema.getName,
            decoded.map(decodable(root, f, meta.getSchema, _)): _*)
          reader.setRequestedSchema(projection)
          val io = new ColumnIOFactory(meta.getCreatedBy).getColumnIO(projection, meta.getSchema)
          val record = new FlatRecord(projection.getFieldCount,
            filter.zip(in).map { case ((c, _), (test, _)) => (decoded.indexOf(c), test) })
          val pick = columns.map(c => partValues.get(c).toLeft(decoded.indexOf(c))).toArray
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            val rows = io.getRecordReader(pages, record)
            var i = 0L
            while (i < pages.getRowCount) {
              val values = rows.read()
              if (values != null) out += new GenericRow(pick.map(_.fold(identity, values(_))))
              i += 1
            }
            pages = reader.readNextFilteredRowGroup()
          }
        } catch { case e: java.io.FileNotFoundException => throw gone(root, at, dir, e) }
      }
      out.result()
    }
  }

  /** The physical types [[readLocal]] decodes, as Spark reads them:
    * INT32 and INT64 (plain or signed 32/64-bit ints), DOUBLE and UTF-8
    * BINARY, not repeated. */
  private def decodable(root: String, file: String, schema: MessageType, c: String): Type = {
    require(schema.containsField(c), s"$root: $file holds no column $c")
    val t = schema.getType(schema.getFieldIndex(c))
    val ok = t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) && {
      val a = t.getLogicalTypeAnnotation
      t.asPrimitiveType.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT32 => a == null || a == LogicalTypeAnnotation.intType(32, true)
        case PrimitiveTypeName.INT64 => a == null || a == LogicalTypeAnnotation.intType(64, true)
        case PrimitiveTypeName.DOUBLE => a == null
        case PrimitiveTypeName.BINARY => a == LogicalTypeAnnotation.stringType()
        case _ => false
      }
    }
    require(ok, s"$root: column $c of $file is `$t`; a local read decodes INT32, INT64, " +
      "DOUBLE and UTF-8 BINARY columns only")
    t
  }

  /** `column IN values` typed by the values: the test of a decoded
    * value (a UTF-8 `Binary` or a boxed long) and the parquet predicate. */
  private def inFilter(root: String, column: String, values: Set[Any]): (Any => Boolean, FilterPredicate) = {
    import scala.jdk.CollectionConverters._
    require(values.forall(_.getClass == values.head.getClass),
      s"$root: a filter on $column mixes value types")
    values.head match {
      case _: String =>
        val bs = values.map(v => Binary.fromString(v.asInstanceOf[String]))
        (v => bs.contains(v.asInstanceOf[Binary]), FilterApi.in(FilterApi.binaryColumn(column), bs.asJava))
      case _: Long =>
        val ls = values.map(v => java.lang.Long.valueOf(v.asInstanceOf[Long]))
        (v => ls.contains(v.asInstanceOf[java.lang.Long]), FilterApi.in(FilterApi.longColumn(column), ls.asJava))
      case v => throw new IllegalArgumentException(
        s"$root: no local filter on $column by $v: strings and longs only")
    }
  }

  /** A flat record's values, one slot per projected column, as boxed
    * Ints, Longs, Doubles and Strings; a null leaves its slot null. A
    * record whose `keep` slot fails its test is null, and its strings
    * are never decoded. */
  private final class FlatRecord(width: Int, keep: Option[(Int, Any => Boolean)])
      extends RecordMaterializer[Array[Any]] {
    private val values = new Array[Any](width)
    private val root = new GroupConverter {
      private val slots: Array[Converter] = Array.tabulate(width) { i =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = values(i) = v
          override def addLong(v: Long): Unit = values(i) = v
          override def addDouble(v: Double): Unit = values(i) = v
          // valid until the next record is read, as the page holds it
          override def addBinary(v: Binary): Unit = values(i) = v
        }
      }
      def getConverter(i: Int): Converter = slots(i)
      def start(): Unit = java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
      def end(): Unit = ()
    }
    def getCurrentRecord: Array[Any] =
      if (keep.exists { case (i, in) => !in(values(i)) }) null
      else values.map { case b: Binary => b.toStringUsingUTF8; case v => v }
    def getRootConverter: GroupConverter = root
  }

  /** The latest published version: one listing of `_versions/`, one
    * read of its newest entry. Fails fast, naming the path, on an
    * artifact with no published version (never built, or written
    * before the version log — its first writer upgrades it). */
  def latest(spark: SparkSession, dir: String): Version =
    latestOpt(fsOf(spark, dir), dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no published version" +
        (if (fsOf(spark, dir).exists(new Path(dir, Log))) ""
        else " (an artifact written before the version log is upgraded by its first " +
          "append, tombstone or compaction; an LSH artifact in the pre-partition layout " +
          "by LshIndex.migrateLshIndex)")))

  private def latestOpt(fs: FileSystem, dir: String): Option[Version] = {
    val names = try fs.listStatus(new Path(dir, Log)).map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    val ns = names.filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    if (ns.isEmpty) None
    else {
      val n = ns.max
      val in = fs.open(new Path(s"$dir/$Log/$n"))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      Some(Version(dir, n, lines.head, lines.tail.map { l =>
        val t = l.lastIndexOf('\t')
        l.substring(0, t) -> l.substring(t + 1).toLong
      }.toMap))
    }
  }

  /** Every file under `root` as (path relative to `root`, status),
    * skipping the hidden names Spark leaves (`_SUCCESS`, `.crc`). */
  private def listFiles(fs: FileSystem, root: Path): Seq[(String, FileStatus)] = {
    val out = Seq.newBuilder[(String, FileStatus)]
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { s =>
        val name = s.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          val r = if (rel.isEmpty) name else s"$rel/$name"
          if (s.isDirectory) walk(s.getPath, r) else out += (r -> s)
        }
      }
    if (fs.exists(root)) walk(root, "")
    out.result()
  }

  /** Create `target` holding `body` iff it does not exist yet — link(2)
    * of a fully written temp file on the local file system, rename
    * without overwrite elsewhere (HDFS refuses an existing target). */
  private def createExclusive(fs: FileSystem, target: Path, body: Array[Byte]): Boolean = {
    val tmpName = s".${target.getName}.${java.util.UUID.randomUUID()}.tmp"
    if (fs.getScheme == "file") {
      val t = java.nio.file.Paths.get(fs.makeQualified(target).toUri)
      val tmp = t.resolveSibling(tmpName)
      java.nio.file.Files.write(tmp, body)
      try { java.nio.file.Files.createLink(t, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new Path(target.getParent, tmpName)
      val out = fs.create(tmp, false)
      try out.write(body) finally out.close()
      try fs.rename(tmp, target) finally fs.delete(tmp, false)
    }
  }

  /** One writer on one version of an artifact: the files it adds and
    * drops become version `base.n + 1` at [[publish]]. Reads see the
    * writer's own state (base − dropped + added), uncached. */
  final class Writer private[IdStore] (val spark: SparkSession, val dir: String,
      val base: Option[Version]) {
    private val fs = fsOf(spark, dir)
    private val staging = new Path(s"$dir/$Staging/${java.util.UUID.randomUUID()}")
    fs.mkdirs(staging)
    /** The writer's start on the file system's own clock — the clock
      * every file age compared against it comes from. */
    private val start = fs.getFileStatus(staging).getModificationTime
    private var files: Map[String, Long] = base.fold(Map.empty[String, Long])(_.files)
    private val added = scala.collection.mutable.Set.empty[String]
    private var scratches = 0

    def has(store: String): Boolean = files.keysIterator.exists(_.startsWith(store + "/"))

    def read(store: String): DataFrame =
      readFiles(spark, dir, store, files.keySet,
        s"the writer on ${base.fold("no version")(v => s"version ${v.n}")}")

    def readOpt(store: String): Option[DataFrame] = if (has(store)) Some(read(store)) else None

    def tombstones(idCol: String): Option[DataFrame] =
      readOpt(Tombstones).map(_.select(idCol).distinct())

    /** A fresh path in this writer's staging dir, for intermediate
      * writes; it goes with the staging dir at publish. */
    def scratch(): String = { scratches += 1; s"$staging/$scratches" }

    /** Add a store's new files: `write` lands them at the path it is
      * given, and each moves into `store` under the same relative path
      * (Spark part-file names are unique per write job). */
    def add(store: String)(write: String => Unit): Unit = {
      val staged = scratch()
      write(staged)
      listFiles(fs, new Path(staged)).foreach { case (rel, s) =>
        val f = s"$store/$rel"
        val dst = new Path(dir, f)
        fs.mkdirs(dst.getParent)
        require(fs.rename(s.getPath, dst), s"could not move $staged/$rel to $dst")
        files += f -> s.getLen
        added += f
      }
    }

    /** Drop every file of `store` from the next version. */
    def drop(store: String): Unit = files = files.filterNot(_._1.startsWith(store + "/"))

    /** Drop the files of the named partitions of `store`. */
    def dropPartitions(store: String, column: String, parts: Seq[Long]): Unit = {
      val dirs = parts.map(p => s"$store/$column=$p/").toSet
      files = files.filterNot { case (f, _) => dirs.exists(f.startsWith) }
    }

    /** Drop every file: the next version holds only what is added. */
    def clear(): Unit = files = Map.empty

    private[IdStore] def adopt(listing: Seq[(String, Long)]): Unit = files ++= listing

    /** Publish the writer's state as version `base.n + 1` (0 on a fresh
      * artifact) — unless nothing changed — then delete the files that
      * neither it nor its base names and that this writer added or that
      * are older than its start: crash leftovers, and files replaced two
      * versions back. A reader still on the base keeps working; a newer
      * writer's unpublished files are left alone. Throws, naming the
      * artifact, if another writer published that version first. */
    private[ops] def publish(): Unit = {
      if (base.fold(files.isEmpty)(_.files == files))
        added.foreach(f => fs.delete(new Path(dir, f), false))
      else {
        val n = base.fold(0L)(_.n + 1)
        val v = Version(dir, n, java.util.UUID.randomUUID().toString, files)
        if (!createExclusive(fs, new Path(s"$dir/$Log/$n"), v.body.getBytes("UTF-8"))) {
          abort()
          throw new IllegalStateException(s"$dir: version $n was published by another " +
            "writer first; this writer's changes were not published (re-run it)")
        }
        val previous = base.fold(Set.empty[String])(_.files.keySet)
        listFiles(fs, new Path(dir)).foreach { case (f, s) =>
          if (!files.contains(f) && !previous(f) &&
              (added(f) || s.getModificationTime < start))
            fs.delete(s.getPath, false)
        }
        // a store neither version holds (a compaction's tombstone set, a
        // rebuild's dropped store, one publish later) goes with its last
        // file
        val stores = files.keySet.map(f => f.substring(0, f.indexOf('/')))
        fs.listStatus(new Path(dir)).foreach { s =>
          val name = s.getPath.getName
          if (s.isDirectory && !stores(name) && !name.startsWith("_") &&
              !name.startsWith(".") && listFiles(fs, s.getPath).isEmpty)
            fs.delete(s.getPath, true)
        }
        val stale = new Path(dir, Staging)
        if (fs.exists(stale)) fs.listStatus(stale).foreach { s =>
          if (s.getModificationTime < start) fs.delete(s.getPath, true)
        }
      }
      fs.delete(staging, true)
    }

    /** Give up: remove what this writer added; nothing is published. */
    private[IdStore] def abort(): Unit = {
      added.foreach(f => fs.delete(new Path(dir, f), false))
      fs.delete(staging, true)
    }
  }

  /** An artifact holding any of `stores` but no `_versions/` was
    * written before the version log: it must hold no leftover crash
    * marker or aside and pass `laidOut`, then its listing is published
    * as v0. Anything else is left as it is. */
  private def upgrade(spark: SparkSession, dir: String, stores: Seq[String])(
      laidOut: => Unit): Unit = {
    val fs = fsOf(spark, dir)
    val all = if (stores.isEmpty) Nil else stores :+ Tombstones
    if (!fs.exists(new Path(dir, Log)) && all.exists(s => fs.exists(new Path(dir, s)))) {
      (LegacyMarkers ++ all.map(_ + ".old")).map(new Path(dir, _)).find(fs.exists)
        .foreach(p => throw new IllegalArgumentException(s"$p: a crash leftover of the " +
          "pre-version-log commit scheme; finish or discard it before upgrading $dir"))
      laidOut
      fs.mkdirs(new Path(dir, Log))
      val v0 = new Writer(spark, dir, None)
      v0.adopt(all.flatMap(s => listFiles(fs, new Path(dir, s))
        .map { case (f, st) => s"$s/$f" -> st.getLen }))
      v0.publish()
    }
  }

  /** Open a writer on the latest version of the artifact at `dir`,
    * [[upgrade]]d first. */
  private[ops] def open(spark: SparkSession, dir: String, stores: Seq[String])(
      laidOut: => Unit): Writer = {
    upgrade(spark, dir, stores)(laidOut)
    val fs = fsOf(spark, dir)
    fs.mkdirs(new Path(dir, Log))
    new Writer(spark, dir, latestOpt(fs, dir))
  }

  /** Run `body` on a writer ([[open]]) and publish what it did; on a
    * failure, remove what it added and publish nothing. */
  def write[T](spark: SparkSession, dir: String, stores: Seq[String])(laidOut: => Unit)(
      body: Writer => T): T = {
    val w = open(spark, dir, stores)(laidOut)
    val out = try body(w) catch { case e: Throwable => w.abort(); throw e }
    w.publish()
    out
  }

  /** A base build: the next version holds only what `body` adds. No
    * upgrade — whatever the directory held before is superseded, and
    * deleted after the publish. */
  def rebuild[T](spark: SparkSession, dir: String)(body: Writer => T): T =
    write(spark, dir, Nil)(()) { w => w.clear(); body(w) }

  /** Retire ids — tombstones, not rewrites (cost ∝ |deletes|);
    * idempotent under the serve-time anti-join. */
  def tombstone(w: Writer, deletedIds: DataFrame, id: String): Unit =
    w.add(Tombstones)(deletedIds.select(col(id).cast("long").as(id)).write.parquet(_))

  /** RESURRECTION (the deleted-then-re-appended interaction): a delta id
    * in the tombstone set is being deliberately re-ingested — expunge
    * its dead rows and withdraw its tombstones BEFORE the replay guard
    * runs, so the fresh rows append as new and neither generation
    * double-serves. All in the append's one version. */
  def withdraw(w: Writer, id: String, delta: DataFrame)(expunge: DataFrame => Unit): Unit =
    w.tombstones(id).foreach { dead =>
      val overlap = dead.join(delta.select(id), Seq(id)).cache()
      if (overlap.count() > 0) {
        expunge(overlap)
        val rest = dead.join(overlap, Seq(id), "left_anti")
        w.drop(Tombstones)
        w.add(Tombstones)(rest.write.parquet(_))
      }
      overlap.unpersist(blocking = false)
    }

  /** Expunge the whole tombstone set, then drop it. */
  def purge(w: Writer, id: String)(expunge: DataFrame => Unit): Unit =
    w.tombstones(id).foreach { dead =>
      expunge(dead)
      w.drop(Tombstones)
    }

  /** Drop a dead set's rows from `store`, partitioned by `column`: only
    * the touched partitions rewrite (untouched ones keep their files) —
    * `touched` when the caller derives them, else the partitions a join
    * finds holding a dead id (bounded collect). A partition whose every
    * row was dead is dropped and not replaced. */
  def expunge(w: Writer, store: String, column: String, id: String, dead: DataFrame,
      touched: Option[Seq[Long]] = None): Unit = {
    val rows = w.read(store)
    val parts = touched.getOrElse(rows.join(dead, Seq(id))
      // partition discovery types the column as INT on read-back
      .select(col(column).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq)
    if (parts.nonEmpty) {
      val survivors = rows.where(col(column).isin(parts: _*)).join(dead, Seq(id), "left_anti")
      w.dropPartitions(store, column, parts)
      w.add(store)(survivors
        .repartition(col(column)) // one file per rewritten dir
        .write.partitionBy(column).parquet(_))
    }
  }
}
