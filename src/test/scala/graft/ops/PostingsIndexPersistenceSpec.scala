package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The BM25 build-once/serve-forever lifecycle: a saved postings/dl
  * artifact must answer IDENTICALLY to both live serving modes — the
  * index carries integer tf/dl and the score is a 1e6-scaled integer
  * sum, so any divergence means the artifact lost information, not
  * precision. Also pins the layout claim (postings partitioned by term
  * hash bucket) and the restart contract: the from-index plan must not
  * touch the corpus at all.
  */
class PostingsIndexPersistenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  test("a saved postings index answers identically to both live modes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-test").toString
    try {
      Retrieval.savePostingsIndex(spark, dir, tmp)
      val live = rows(Retrieval.bm25TopK(spark, dir))
      val indexed = rows(Retrieval.bm25TopK(spark, dir, indexed = true))
      val persisted = rows(Retrieval.bm25TopKFromIndex(spark, tmp))
      assert(live.nonEmpty)
      assert(live == indexed, "session-index answers diverged from the pruned default")
      assert(live == persisted, "persisted-index answers diverged from the live modes")
      // layout: one directory per term hash bucket — the storage analog
      // of "probe cost ∝ query vocabulary, not corpus vocabulary"
      val parts = new java.io.File(s"$tmp/postings").listFiles()
        .filter(_.getName.startsWith("term_bucket=")).map(_.getName).toSet
      assert(parts.nonEmpty && parts.size <= 64,
        s"expected <=64 term-bucket partitions, got ${parts.size}")
      // pruning: both serving paths read only the probed term buckets,
      // the directories Spark's own bucket expression names for the query
      // terms (the DefaultQueries batch has ~12 distinct terms, far fewer
      // than the populated buckets at this corpus). The driver path runs
      // no scan: it opens the version's files under those buckets on the
      // driver. The over-bound path's scan sits in the plan it returns
      // and must carry the term_bucket partition filter.
      import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.util.QueryExecutionListener
      import spark.implicits._
      object Plans extends AdaptiveSparkPlanHelper
      def postingsScans(plan: SparkPlan): Seq[FileSourceScanExec] =
        Plans.collect(plan) { case s: FileSourceScanExec => s }
          .filter(_.relation.location.rootPaths.exists(_.toString.contains(s"$tmp/postings")))
      val terms = Retrieval.queryTermsOf(Retrieval.DefaultQueries)
      val probed = terms.map(_._2).toDF("term")
        .select(pmod(xxhash64(col("term")), lit(64L))).collect().map(_.getLong(0)).toSet
      val held = parts.map(_.stripPrefix("term_bucket=").toLong)
      def assertPruned(scan: FileSourceScanExec, path: String): Unit = {
        assert(scan.partitionFilters.exists(_.references.exists(_.name == "term_bucket")),
          s"the bucket partition filter vanished from the $path plan")
        val readBuckets = scan.relation.location.listFiles(scan.partitionFilters, Nil)
          .map(_.values.getInt(0).toLong).toSet
        assert(readBuckets.nonEmpty && readBuckets == probed.intersect(held),
          s"the $path plan scans buckets $readBuckets, the query terms probe $probed")
        assert(readBuckets.size < held.size, s"the $path plan pruned no bucket")
      }
      // the driver path: every query the served call and its collect
      // execute, drained by a marker query (the listener bus delivers in
      // order, asynchronously)
      val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          executed.add(qe)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          executed.add(qe)
      }
      spark.listenerManager.register(listener)
      try {
        val served = Retrieval.bm25TopKFromIndex(spark, tmp)
        assert(postingsScans(served.queryExecution.executedPlan).isEmpty,
          "the bounded request did not rank on the driver")
        assert(rows(served) == persisted)
        val marker = spark.range(1).toDF("marker")
        marker.collect()
        val deadline = System.nanoTime() + 10e9.toLong
        while (!executed.contains(marker.queryExecution) && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(executed.contains(marker.queryExecution), "the listener bus did not drain")
        val reads = executed.toArray(Array.empty[QueryExecution]).toSeq
          .flatMap(qe => postingsScans(qe.executedPlan))
        assert(reads.isEmpty, s"the served call ran ${reads.size} postings scans, not 0")
      } finally spark.listenerManager.unregister(listener)
      // the files the driver read opens: exactly the version's postings
      // files under the probed and populated buckets
      val v = IdStore.latest(spark, tmp)
      val opened = v.filesUnder("postings", Some("term_bucket" -> probed.toSeq))
      val expected = v.files.keySet.filter { f =>
        val d = f.split('/')
        d(0) == "postings" && probed.intersect(held).exists(b => d(1) == s"term_bucket=$b")
      }
      assert(opened.nonEmpty && opened.toSet == expected,
        s"the driver read opens $opened, the probed buckets hold $expected")
      assert(opened.map(_.split('/')(1)).distinct.size < held.size,
        "the driver read pruned no bucket")
      // the over-bound path: the distributed plan it returns
      val distributed = Retrieval.servedFromIndex(spark, tmp, Retrieval.DefaultQueries, 5, 32, 0L)
      val scans = postingsScans(distributed.queryExecution.executedPlan)
      assert(scans.nonEmpty, "the distributed plan has no postings scan")
      scans.foreach(assertPruned(_, "distributed from-index"))
      assert(rows(distributed) == persisted, "the over-bound path diverged from the driver path")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("the from-index plan never touches the corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-test2").toString
    try {
      Retrieval.savePostingsIndex(spark, dir, tmp)
      // the corpus guard is a by-name thunk that throws if forced: a
      // passing query IS the proof the plan was built without it, but
      // make the negative explicit by also checking the scan relations
      val df = Retrieval.bm25TopKFromIndex(spark, tmp)
      df.collect()
      val scans = df.queryExecution.executedPlan.toString()
      assert(!scans.contains("documents.parquet"),
        "the persisted-index serving plan scans the corpus")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("an incremental merge equals a full rebuild, without rewriting base files") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-bm25-inc").toString
    val full = java.nio.file.Files.createTempDirectory("graft-bm25-full").toString
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"),
        (pmod(col("doc_id") * lit(2654435761L), lit(100)) < 30).as("incoming"))
      Retrieval.savePostingsIndexOf(docs.where(!col("incoming"))
        .select("doc_id", "text"), base)
      def files(): Map[String, Long] = {
        val b = java.nio.file.Paths.get(base)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(b).iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => (b.relativize(p).toString,
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
      }
      val before = files()
      Retrieval.appendPostingsDelta(docs.where(col("incoming"))
        .select("doc_id", "text"), base)
      val after = files()
      // append-only: every base file survives byte-untouched (same path,
      // same mtime), and the delta only ADDS files
      assert(before.forall { case (p, m) => after.get(p).contains(m) },
        "a base file was rewritten by the delta merge")
      assert(after.size > before.size, "the delta appended no files")

      // merged-index answers == full-rebuild answers, row for row
      Retrieval.savePostingsIndex(spark, dir, full)
      val merged = Retrieval.bm25TopKFromIndex(spark, base).collect().toSeq
      val rebuilt = Retrieval.bm25TopKFromIndex(spark, full).collect().toSeq
      assert(merged.nonEmpty)
      assert(merged == rebuilt, "merged index diverged from the full rebuild")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(base)); rm(new java.io.File(full))
    }
  }

  test("a replayed delta merge is a no-op") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-bm25-replay").toString
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"),
        (pmod(col("doc_id") * lit(2654435761L), lit(100)) < 30).as("incoming"))
      Retrieval.savePostingsIndexOf(docs.where(!col("incoming"))
        .select("doc_id", "text"), base)
      val delta = docs.where(col("incoming")).select("doc_id", "text")
      Retrieval.appendPostingsDelta(delta, base)
      val postings1 = IdStore.latest(spark, base).read(spark, "postings").count()
      val dl1 = IdStore.latest(spark, base).read(spark, "dl").count()
      val answers1 = Retrieval.bm25TopKFromIndex(spark, base).collect().toSeq
      // the retry/replay a production ingest eventually does: the SAME
      // batch merged again must change nothing (the anti-join guard)
      Retrieval.appendPostingsDelta(delta, base)
      assert(IdStore.latest(spark, base).read(spark, "postings").count() == postings1,
        "a replayed merge double-wrote postings")
      assert(IdStore.latest(spark, base).read(spark, "dl").count() == dl1,
        "a replayed merge double-wrote dl rows")
      val answers2 = Retrieval.bm25TopKFromIndex(spark, base).collect().toSeq
      assert(answers1.nonEmpty && answers1 == answers2,
        "a replayed merge changed the served answers")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("a first delta leaves the caller's cache of the batch in place") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-bm25-cached").toString
    // the nightly caches its kept batch for every family's append: the
    // bootstrap admits the batch itself, and dropping its cache made
    // each later append re-run the whole curation
    val batch = Tables.documents(spark, dir).where(col("doc_id") < 50)
      .select("doc_id", "text").cache()
    try {
      batch.count()
      Retrieval.appendPostingsDelta(batch, base)
      assert(batch.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the append dropped its caller's cache")
    } finally {
      batch.unpersist(blocking = false)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("tombstoned docs vanish exactly as a rebuild without them; deletes are idempotent") {
    import org.apache.spark.sql.functions._
    val full = java.nio.file.Files.createTempDirectory("graft-bm25-tomb").toString
    val filtered = java.nio.file.Files.createTempDirectory("graft-bm25-tombref").toString
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val deadRule = pmod(col("doc_id") * lit(7919L), lit(100)) < 10
      Retrieval.savePostingsIndexOf(docs, full)
      val beforeDelete = Retrieval.bm25TopKFromIndex(spark, full).collect().toSeq
      Retrieval.tombstoneDocs(docs.where(deadRule).select("doc_id"), full)
      // reference: a FULL REBUILD over the surviving corpus — the
      // base − deleted ≡ rebuild contract the q142 gate pins at sf0.01
      Retrieval.savePostingsIndexOf(docs.where(!deadRule), filtered)
      val tombstoned = Retrieval.bm25TopKFromIndex(spark, full).collect().toSeq
      val rebuilt = Retrieval.bm25TopKFromIndex(spark, filtered).collect().toSeq
      assert(tombstoned.nonEmpty && tombstoned == rebuilt,
        "tombstone serving diverged from the rebuild on the surviving corpus")
      assert(tombstoned != beforeDelete,
        "the delete set must actually change the served answers " +
          "(a vacuous fixture pins nothing)")
      // deleting the same docs again is harmless (anti-join semantics)
      Retrieval.tombstoneDocs(docs.where(deadRule).select("doc_id"), full)
      val again = Retrieval.bm25TopKFromIndex(spark, full).collect().toSeq
      assert(again == tombstoned, "a replayed delete changed the served answers")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(full)); rm(new java.io.File(filtered))
    }
  }

  test("compaction expunges tombstones, rewrites only touched buckets, and is answer-invisible") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25-compact").toString
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val deadRule = pmod(col("doc_id") * lit(7919L), lit(100)) < 10
      Retrieval.savePostingsIndex(spark, dir, idx)
      Retrieval.tombstoneDocs(docs.where(deadRule).select("doc_id"), idx)
      val served = Retrieval.bm25TopKFromIndex(spark, idx).collect().toSeq
      // which buckets hold a dead doc's postings — the ONLY ones
      // compaction may touch
      val touched = IdStore.latest(spark, idx).read(spark, "postings")
        .join(IdStore.latest(spark, idx).read(spark, "tombstones"), Seq("doc_id"))
        .select(col("term_bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(touched.nonEmpty, "the fixture delete set must touch some buckets")
      // the postings files the latest version names
      def bucketFiles(): Map[String, Long] = {
        val b = java.nio.file.Paths.get(s"$idx/postings")
        val named = IdStore.latest(spark, idx).files
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(b).iterator().asScala
          .filter(p => named.contains(s"postings/${b.relativize(p)}"))
          .map(p => (b.relativize(p).toString,
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
      }
      val before = bucketFiles()
      Retrieval.compactPostings(spark, idx)
      val after = bucketFiles()
      assert(!IdStore.latest(spark, idx).has("tombstones"),
        "compaction must delete the tombstone set")
      // untouched buckets survive byte-identical (same path, same mtime)
      def bucketOf(rel: String): Long =
        rel.split("/").head.stripPrefix("term_bucket=").toLong
      for ((p, m) <- before if !touched.contains(bucketOf(p)))
        assert(after.get(p).contains(m), s"untouched bucket file $p was rewritten")
      // touched buckets were rewritten (old files gone)
      for ((p, _) <- before if touched.contains(bucketOf(p)))
        assert(!after.contains(p), s"touched bucket file $p survived compaction")
      // answer-invisible: post-compaction serving equals the anti-join
      // serving, and no dead doc remains anywhere in the artifact
      val compacted = Retrieval.bm25TopKFromIndex(spark, idx).collect().toSeq
      assert(compacted.nonEmpty && compacted == served,
        "compaction changed the served answers")
      val residue = IdStore.latest(spark, idx).read(spark, "postings")
        .join(docs.where(deadRule).select("doc_id"), Seq("doc_id")).count()
      assert(residue == 0, s"$residue dead postings survived compaction")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(idx))
    }
  }

  test("releaseStages retires the q127 artifact: dir deleted, next use rebuilds") {
    // The stale-index hazard: after a session release + corpus
    // regeneration, q110/q124 rebuild from new data but a surviving
    // persisted artifact would keep serving the OLD corpus — breaking
    // the 'three serving shapes, one answer' contract. Release must
    // drop the map entry AND delete the on-disk artifact.
    Retrieval.bm25TopKPersisted(spark, dir).collect()
    val first = Retrieval.persistedIndexDirFor(spark, dir)
    assert(first.isDefined, "q127 must register its artifact dir")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(first.get)))
    Retrieval.releaseStages(spark)
    assert(Retrieval.persistedIndexDirFor(spark, dir).isEmpty,
      "release must drop the persisted-index map entry")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(first.get)),
      "release must delete the on-disk artifact")
    Retrieval.bm25TopKPersisted(spark, dir).collect()
    val second = Retrieval.persistedIndexDirFor(spark, dir)
    assert(second.isDefined && second != first,
      "next use must rebuild into a fresh artifact dir")
    Retrieval.releaseStages(spark)
  }
}
