package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped cached-stage registry — the one pattern behind the
  * MinHash/SimHash/confirmed-pair/LSH-signature stages: expensive
  * shared intermediates are computed once per (session, inputs) key,
  * kept resident for the session, and every consumer query serves from
  * the materialized relation instead of re-running the scan.
  *
  * Contract with builders: `build` must return a DataFrame that is
  * already `.cache()`d AND action-materialized (counted) — planning
  * consumers against a cold view lets Catalyst inline the stage into
  * each consumer (the round-4 q38 regression) and gives joins garbage
  * size estimates (the 100x cold confirmedPairs misplay).
  *
  * Storage-aware: a map hit whose cache was cleared behind our back
  * (`spark.catalog.clearCache()`, executor loss) rebuilds instead of
  * silently re-running the full lineage per consumer.
  *
  * [[release]] is the memory discipline for long-lived sessions: the
  * 100x full-surface bench measured these stages squeezing an 8 g heap
  * into GC thrash (BASELINE.md, BENCH_100X_r05.json) — a service
  * embedding this library drops a finished dataset's stages instead of
  * holding every (session, dir) resident forever. Release is a
  * quiescent-point API: a build racing a release may re-insert its
  * stage, which stays correct (it is simply resident again).
  */
private[graft] object StageCache {
  /** Content tag for an input directory: the path plus an order-
    * independent fold of every leaf file's (path, length, mtime).
    * Dir-keyed stage keys embed it, so a corpus REWRITTEN UNDER THE
    * SAME PATH mid-session mints a fresh key and the stage rebuilds
    * instead of serving rows from the dead generation (VERDICT r15:
    * the keys previously trusted the path string alone). The replaced
    * generation's stage stays resident until [[StageCache.release]] —
    * a bounded leak, never a stale answer. Cost per lookup: one
    * recursive listing (metadata only, no data IO; the bench corpora
    * are ~10 files, and a production index build lists its input once
    * per stage access against hours of build work). */
  def inputTag(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir)
    // the shared context conf, NOT sessionState.newHadoopConf(): the
    // latter clones the full Configuration per call, and stage getters
    // run on every serve — read-only FileSystem resolution needs no
    // session-scoped copy
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var acc = 0L
    // manual listStatus recursion, NOT fs.listFiles(path, true): the
    // recursive iterator yields LocatedFileStatus, whose construction on
    // the local FS loads POSIX permissions by shelling out per file —
    // measured 40 ms per tag on a 10-file corpus, and a gate query's
    // construction computes ~20 tags (one per stage-key access). We only
    // fold (path, len, mtime), which plain FileStatus carries lazily.
    if (fs.exists(path)) {
      val stack = new scala.collection.mutable.ArrayDeque[org.apache.hadoop.fs.Path]()
      stack.append(path)
      while (stack.nonEmpty) {
        val p = stack.removeLast()
        fs.listStatus(p).foreach { s =>
          if (s.isDirectory) stack.append(s.getPath)
          else {
            var h = s.getPath.toString.hashCode.toLong
            h = h * 0x9e3779b97f4a7c15L + s.getLen
            h = h * 0x9e3779b97f4a7c15L + s.getModificationTime
            acc += h * 0xbf58476d1ce4e5b9L // order-independent combine
          }
        }
      }
    }
    dir + "#" + java.lang.Long.toHexString(acc)
  }

  /** A cached, counted relation. `orig` is what the builder cached
    * (registered in the CacheManager: liveness checks and unpersist go
    * through it); `serve` is the same relation REBASED onto its
    * InMemoryRelation leaf ([[org.apache.spark.sql.graft.StagePlans.fromCache]])
    * — what consumers get. Serving the leaf instead of the full build
    * lineage collapses per-consumer Catalyst analysis/canonicalization
    * from the stage's whole build tree to one leaf node: the ANN/hybrid
    * gate family was spending 10-25x more driver time re-planning
    * staged lineages than running tasks (q140: 1.5 s wall, 0.06 s job
    * time). */
  final case class Resident(orig: DataFrame, serve: DataFrame) {
    def live: Boolean = orig.storageLevel.useMemory
  }

  object Resident {
    def apply(built: DataFrame): Resident =
      Resident(built, org.apache.spark.sql.graft.StagePlans.fromCache(built).getOrElse(built))
  }
}

private[graft] final class StageCache[K] {
  private val map = new java.util.concurrent.ConcurrentHashMap[K, StageCache.Resident]()

  /** Number of times a stage was actually built (not served) — specs pin
    * the sharing contract ("N queries, one build") on this. */
  val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  def getOrBuild(key: K)(build: => DataFrame): DataFrame = {
    val hit = map.get(key)
    if (hit != null && hit.live) return hit.serve
    synchronized {
      val again = map.get(key)
      if (again != null && again.live) return again.serve
      builds.incrementAndGet()
      val built = StageCache.Resident(build)
      map.put(key, built)
      built.serve
    }
  }

  /** Unpersist and forget every stage whose key matches `owns`; returns
    * how many stages were dropped. */
  def release(owns: K => Boolean): Int = {
    import scala.jdk.CollectionConverters._
    val victims = map.keySet.asScala.filter(owns).toVector
    victims.foreach { k =>
      val e = map.remove(k)
      if (e != null) e.orig.unpersist(blocking = false)
    }
    victims.size
  }
}

/** Memoized per-(session, input-dir) ON-DISK artifacts — the persisted
  * indexes (q127 BM25 postings, q131 two-level IVF). The determinism
  * contract (a gated query may be invoked repeatedly) meets the
  * write-once index lifecycle via the same memoization discipline as
  * [[StageCache]], and [[release]] is the matching retirement: the
  * artifact dir is DELETED with the session's stages (and its memo
  * slots, [[StoreMemo.forget]]), so a regenerated corpus under the
  * same path can never be served stale answers by the persisted
  * serving shape while the live shapes rebuild. */
private[ops] final class TempArtifacts(prefix: String) {
  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** The artifact dir for (session, input dir), built on first use. A
    * build that throws must not leak its half-written directory: the
    * memo registers nothing on failure (computeIfAbsent propagates the
    * exception without inserting), so [[release]] would never see the
    * orphan — delete it here before rethrowing.
    *
    * The memo key embeds the input dir's CONTENT TAG
    * ([[StageCache.inputTag]] over the path prefix before any '#'
    * logical suffix), so a corpus rewritten under the same path
    * mid-session rebuilds the artifact instead of serving the dead
    * generation — the same hardening the session stages carry. The
    * superseded artifact dir is deleted at [[release]] like any other. */
  def getOrCreate(spark: SparkSession, dir: String)(build: String => Unit): String =
    dirs.computeIfAbsent((spark, tagged(spark, dir)), { _ =>
      val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
      try build(tmp)
      catch {
        case e: Throwable =>
          TempArtifacts.deleteRecursively(java.nio.file.Paths.get(tmp))
          throw e
      }
      tmp
    })

  /** Fingerprint the underlying PATH, not the logical key: callers key
    * variants of one corpus as "$dir#<variant>" (a lifecycle artifact as
    * "$dir#lifecycle:<family>:<steps>", [[Lifecycle.artifact]]) — the
    * corpus lives at the prefix. */
  private def tagged(spark: SparkSession, dir: String): String = {
    val cut = dir.indexOf('#')
    if (cut < 0) StageCache.inputTag(spark, dir)
    else StageCache.inputTag(spark, dir.substring(0, cut)) + dir.substring(cut)
  }

  /** Visible for specs: the registered artifact dir, if any. */
  def peek(spark: SparkSession, dir: String): Option[String] =
    Option(dirs.get((spark, tagged(spark, dir))))

  /** Drop every artifact owned by `spark`: map entry removed (releasing
    * the session reference), memo slots under it forgotten, then the
    * on-disk dir deleted. */
  def release(spark: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    dirs.keySet.asScala.filter(_._1 eq spark).toVector.count { k =>
      Option(dirs.remove(k)).exists { d =>
        StoreMemo.forget(spark, d)
        TempArtifacts.deleteRecursively(java.nio.file.Paths.get(d))
        true
      }
    }
  }
}

private[ops] object TempArtifacts {
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // Files.walk holds directory handles until closed — leaving the
      // stream open leaks file descriptors for the life of the JVM
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}

/** The one memo of reads of stored data: one SLOT per (session, stored
  * path), holding named parts read from the path as of one token — an
  * artifact's version id ([[IdStore.Version]]) or a plain parquet dir's
  * content tag ([[StageCache.inputTag]]). A lookup under another token
  * replaces the whole slot and unpersists its cached relations, so a
  * path published to again and again holds one generation. Tokens are
  * compared for equality only: a deleted and rebuilt artifact restarts
  * at version 0 under a fresh id. Parts are resolved relations (a plan,
  * never data: `spark.read.parquet` pays a listing plus a
  * schema-inference job per call), driver-side values and [[cached]]
  * relations. */
private[ops] object StoreMemo {
  private final class Slot(val token: String) {
    val parts = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    def drop(): Unit = synchronized(parts.values.forEach {
      case r: StageCache.Resident => r.orig.unpersist(blocking = false)
      case _ =>
    })
  }

  private val slots = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Slot]()

  /** The part `load` makes of `path` as of `token`, loaded once; a
    * cached relation whose cache was dropped is reloaded, and a load
    * that raced a replacement or a release retries on the current slot. */
  def get[T <: AnyRef](spark: SparkSession, path: String, token: String, part: String)(
      load: => T): T = {
    val key = (spark, path)
    var replaced: Slot = null
    val slot = slots.compute(key, (_, old) =>
      if (old != null && old.token == token) old else { replaced = old; new Slot(token) })
    if (replaced != null) replaced.drop()
    def live(v: AnyRef) = v match { case r: StageCache.Resident => r.live; case _ => v != null }
    // reentrant: a load may read other parts of its own slot
    val got = slot.synchronized {
      if (slots.get(key) ne slot) null
      else Option(slot.parts.get(part)).filter(live).getOrElse {
        val v = load
        slot.parts.put(part, v)
        v
      }
    }
    if (got == null) get(spark, path, token, part)(load) else got.asInstanceOf[T]
  }

  /** The relation `load` resolves, kept resident under [[StageCache]]'s
    * rules. */
  def cached(spark: SparkSession, path: String, token: String, part: String)(
      load: => DataFrame): DataFrame =
    get(spark, path, token, part) {
      val built = load.cache()
      built.count()
      StageCache.Resident(built)
    }.serve

  /** A plain parquet dir's resolved relation. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    get(spark, path, StageCache.inputTag(spark, path), "parquet")(spark.read.parquet(path))

  /** Visible for specs: the session's slots, path → token. */
  def slotsOf(spark: SparkSession): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    slots.asScala.collect { case ((s, p), slot) if s eq spark => p -> slot.token }.toMap
  }

  /** Forget the session's slots at `dir` and under it. */
  def forget(spark: SparkSession, dir: String): Int =
    remove(k => (k._1 eq spark) && (k._2 == dir || k._2.startsWith(dir + "/")))

  def release(spark: SparkSession): Int = remove(_._1 eq spark)

  private def remove(owns: ((SparkSession, String)) => Boolean): Int = {
    import scala.jdk.CollectionConverters._
    slots.keySet.asScala.filter(owns).toVector.count { k =>
      Option(slots.remove(k)).exists { s => s.drop(); true }
    }
  }
}

/** Umbrella release over every stage registry in the library, keyed by
  * session: `StageRegistry.releaseSession(spark)` after finishing a
  * dataset returns executor storage memory to the pool. */
object StageRegistry {
  def releaseSession(spark: SparkSession): Int =
    Dedup.releaseStages(spark) + Similarity.releaseStages(spark) +
      TextAnalysis.releaseStages(spark) + Retrieval.releaseStages(spark) +
      Sketches.releaseSession(spark) + ImageIndex.releaseStages(spark) +
      LshIndex.releaseStages(spark) + Hybrid.releaseStages(spark) +
      Pipeline.releaseStages(spark) + Export.releaseStages(spark) +
      StoreMemo.release(spark)
}
