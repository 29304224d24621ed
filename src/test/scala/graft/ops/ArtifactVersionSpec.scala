package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The version log behind every persisted index artifact ([[IdStore]]):
  * readers read exactly the latest published version and never write;
  * a writer's unpublished files are invisible until it publishes, and
  * the next writer removes them; two writers on one version cannot both
  * publish; memo slots carry version ids, so a deleted-and-rebuilt
  * artifact is never served stale; an artifact written before the log is
  * upgraded by its first writer, or refused naming the leftover. */
class ArtifactVersionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def docs = Tables.documents(spark, dir).select("doc_id", "text")
  private def vecs = Similarity.unitEmbeddings(spark, dir).select("vec_id", "u")
  private def probeDocs = docs.where(col("doc_id") < 40)
  private def probeVecs = vecs.where(col("vec_id") < 40)

  /** One artifact family: its build, the stores a crashed writer would
    * touch, and every serve entry over it. */
  private case class Family(name: String, build: String => Unit, stores: Seq[String],
      serves: Seq[(String, String => Seq[String])])

  private val families = Seq(
    Family("bm25", IndexFamily.bm25.build(docs, _), Seq("postings", "dl"),
      Seq("bm25TopKFromIndex" -> (d => rows(Retrieval.bm25TopKFromIndex(spark, d))))),
    Family("image", IndexFamily.image.build(docs, _), Seq("bands", "hashes"),
      Seq("imageDupsFromIndex" -> (d => rows(ImageIndex.imageDupsFromIndex(spark, d))),
        "probeImages" -> (d => rows(ImageIndex.probeImages(probeDocs, d))))),
    Family("lsh", IndexFamily.lsh.build(vecs, _), Seq("meta", "buckets", "vectors"),
      Seq("lshTopKFromIndex" -> (d => rows(LshIndex.lshTopKFromIndex(spark, d))),
        "probeVectors" -> (d => rows(LshIndex.probeVectors(probeVecs, d))),
        "liveVectors" -> (d => rows(LshIndex.liveVectors(spark, d).orderBy("vec_id"))))),
    Family("fp", IndexFamily.fingerprint.build(docs, _), Seq("meta", "fingerprints"),
      Seq("probeFingerprints" -> (d => rows(FingerprintIndex.probeFingerprints(
        probeDocs.select(col("doc_id") + 100000L as "doc_id", col("text")), d))))),
    Family("ivf", IndexFamily.ivf(16).build(vecs, _), Seq("centroids", "assignments"),
      Seq("ivfTopKFromIndex" -> (d => rows(Similarity.ivfTopKFromIndex(spark, d))))),
    Family("ivf2", IndexFamily.twoLevel(8, 4).build(vecs, _),
      Seq("coarse", "subcents", "assignments"),
      Seq("twoLevelTopKFromIndex" -> (d => rows(Similarity.twoLevelTopKFromIndex(spark, d))))),
    Family("pq", IndexFamily.pq().build(vecs, _), Seq("pqbook", "meta", "codes", "vectors"),
      Seq("pqTopKFromIndex" -> (d => rows(Similarity.pqTopKFromIndex(spark, d))),
        "pqTopKFromIndexCold" -> (d => rows(Similarity.pqTopKFromIndexCold(spark, d))))))

  test("every serve entry leaves a writer's unpublished files alone and serves the last version") {
    for (f <- families) {
      val out = tmpDir(s"graft-version-serve-${f.name}")
      try {
        f.build(out)
        val published = f.serves.map { case (_, serve) => serve(out) }
        Unpublished.plant(spark, out, f.stores)
        val before = Unpublished.listing(out)
        for (((entry, serve), answer) <- f.serves.zip(published)) {
          assert(serve(out) == answer,
            s"${f.name}/$entry: a writer's unpublished files leaked into the answer")
          assert(Unpublished.listing(out) == before,
            s"${f.name}/$entry: the serve changed the artifact's files")
        }
      } finally rm(new java.io.File(out))
    }
  }

  test("a second writer on the same version cannot publish; the first writer's result serves") {
    val out = tmpDir("graft-version-lease")
    val twin = tmpDir("graft-version-lease-twin")
    import spark.implicits._
    try {
      Retrieval.savePostingsIndexOf(docs, out)
      Retrieval.savePostingsIndexOf(docs, twin)
      val first = IdStore.open(spark, out, Nil)(())
      val second = IdStore.open(spark, out, Nil)(())
      assert(first.base.map(_.n) == second.base.map(_.n))
      IdStore.tombstone(first, Seq(1L, 2L).toDF("doc_id"), "doc_id")
      IdStore.tombstone(second, Seq(3L, 4L).toDF("doc_id"), "doc_id")
      first.publish()
      val e = intercept[IllegalStateException](second.publish())
      assert(e.getMessage.contains(out), s"the lost lease must name the artifact: ${e.getMessage}")
      Retrieval.tombstoneDocs(Seq(1L, 2L).toDF("doc_id"), twin)
      assert(rows(Retrieval.bm25TopKFromIndex(spark, out)) ==
        rows(Retrieval.bm25TopKFromIndex(spark, twin)),
        "the artifact does not serve exactly the first writer's result")
      assert(Unpublished.unnamed(spark, out).isEmpty,
        "the refused writer's files were left behind")
    } finally { rm(new java.io.File(out)); rm(new java.io.File(twin)) }
  }

  test("two concurrent appends: a lost lease fails fast, and its re-run loses no rows") {
    // every doc probed under a fresh id, so each held doc flags
    val shifted = docs.select(col("doc_id") + 100000L as "doc_id", col("text"))
    // (family, input, serve): the input splits three ways by id — the
    // base, then two deltas raced against each other. LSH pins its
    // geometry, so the base's size does not pick it
    val cases: Seq[(String, IndexFamily, DataFrame, String => Seq[String])] = Seq(
      ("bm25", IndexFamily.bm25, docs, d => rows(Retrieval.bm25TopKFromIndex(spark, d))),
      ("lsh", IndexFamily.lsh.copy(build = LshIndex.saveLshIndexOf(_, _, 8, 8)), vecs,
        d => rows(LshIndex.lshTopKFromIndex(spark, d))),
      ("pq", IndexFamily.pq(4, 2, 4, 16), vecs, d => rows(Similarity.pqTopKFromIndex(spark, d))),
      ("image", IndexFamily.image, docs, d => rows(ImageIndex.probeImages(shifted, d))),
      ("fp", IndexFamily.fingerprint, docs,
        d => rows(FingerprintIndex.probeFingerprints(shifted, d))))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    for ((name, family, input, serve) <- cases) {
      val (id, build, append) = (family.id, family.build, family.append)
      val out = tmpDir(s"graft-version-race-$name")
      val twin = tmpDir(s"graft-version-race-$name-twin")
      val Seq(base, a, b) = (0 to 2).map(p => input.where(pmod(col(id), lit(3)) === p))
      try {
        build(base, out)
        val runs = Seq(a, b).map(d => d -> Future(scala.util.Try(append(d, out))))
        for ((delta, run) <- runs) Await.result(run, Duration.Inf).failed.foreach {
          case e: IllegalStateException =>
            assert(e.getMessage.contains(out),
              s"$name: the lost lease must name the artifact: ${e.getMessage}")
            append(delta, out)
          case e => throw e
        }
        build(base, twin)
        append(a, twin)
        append(b, twin)
        val answer = serve(out)
        assert(answer.nonEmpty && answer == serve(twin),
          s"$name: concurrent appends lost or doubled rows")
        assert(Unpublished.unnamed(spark, out).isEmpty, s"$name: a refused append left files behind")
      } finally { rm(new java.io.File(out)); rm(new java.io.File(twin)) }
    }
  }

  test("an artifact deleted and rebuilt under the same path serves its new answers") {
    val split = pmod(col("doc_id"), lit(2)) === 0
    val vsplit = pmod(col("vec_id"), lit(2)) === 0
    val cases: Seq[(String, String => Unit, String => Unit, String => Seq[String])] = Seq(
      ("bm25", Retrieval.savePostingsIndexOf(docs.where(split), _),
        Retrieval.savePostingsIndexOf(docs.where(!split), _),
        d => rows(Retrieval.bm25TopKFromIndex(spark, d))),
      ("lsh", LshIndex.saveLshIndexOf(vecs.where(vsplit), _, 8, 8),
        LshIndex.saveLshIndexOf(vecs.where(!vsplit), _, 8, 8),
        d => rows(LshIndex.lshTopKFromIndex(spark, d))),
      ("pq", Similarity.savePqIndexOf(vecs.where(vsplit), _, 4, 2, 4, 16),
        Similarity.savePqIndexOf(vecs.where(!vsplit), _, 4, 2, 4, 16),
        d => rows(Similarity.pqTopKFromIndex(spark, d))))
    for ((name, buildA, buildB, serve) <- cases) {
      val out = tmpDir(s"graft-version-rebuilt-$name")
      val fresh = tmpDir(s"graft-version-rebuilt-$name-fresh")
      try {
        buildA(out)
        val answerA = serve(out)
        rm(new java.io.File(out))
        buildB(out)
        assert(IdStore.latest(spark, out).n == 0, s"$name: the rebuild must restart at version 0")
        buildB(fresh)
        val expected = serve(fresh)
        assert(expected != answerA, s"$name: the two builds must answer differently")
        assert(serve(out) == expected, s"$name: the rebuilt artifact served a stale answer")
      } finally { rm(new java.io.File(out)); rm(new java.io.File(fresh)) }
    }
  }

  test("an unpublished partial append never serves, and the next writer removes it") {
    val out = tmpDir("graft-version-partial")
    import spark.implicits._
    try {
      Retrieval.savePostingsIndexOf(docs, out)
      val served = rows(Retrieval.bm25TopKFromIndex(spark, out))
      // the partial append: new files in existing partitions and in a
      // brand-new store; the keyed store never written; no publish
      val w = IdStore.open(spark, out, Nil)(())
      w.add("postings")(p => IdStore.latest(spark, out).read(spark, "postings").limit(30)
        .write.partitionBy("term_bucket").parquet(p))
      w.add("junk")(Seq((9L, "q")).toDF("doc_id", "v").write.parquet(_))
      assert(Unpublished.unnamed(spark, out).nonEmpty)
      assert(rows(Retrieval.bm25TopKFromIndex(spark, out)) == served,
        "the unpublished partial append leaked into the answer")
      // the next writer publishes and deletes what no version names
      Retrieval.tombstoneDocs(Seq(-1L).toDF("doc_id"), out)
      assert(Unpublished.unnamed(spark, out).isEmpty,
        "the crashed writer's files survived the next publish")
      assert(!new java.io.File(s"$out/_staging").listFiles().exists(_.isDirectory),
        "the crashed writer's staging dir survived the next publish")
      assert(rows(Retrieval.bm25TopKFromIndex(spark, out)) == served)
    } finally rm(new java.io.File(out))
  }

  test("a crashed LSH delta append leaves the base serving; the retry converges duplicate-free") {
    val inc = tmpDir("graft-version-lsh")
    val full = tmpDir("graft-version-lsh-full")
    try {
      val split = vecs.withColumn("incoming",
        pmod(col("vec_id") * lit(2654435761L), lit(100)) < 30)
      LshIndex.saveLshIndexOf(split.where(!col("incoming")).select("vec_id", "u"), inc)
      val baseServe = rows(LshIndex.lshTopKFromIndex(spark, inc))
      // the crash: the derived store's rows landed, never published
      Unpublished.plant(spark, inc, Seq("buckets"))
      assert(rows(LshIndex.lshTopKFromIndex(spark, inc)) == baseServe,
        "a crashed append leaked into the served answers")
      LshIndex.appendLshDelta(split.where(col("incoming")).select("vec_id", "u"), inc)
      LshIndex.saveLshIndex(spark, dir, full)
      assert(rows(LshIndex.lshTopKFromIndex(spark, inc)) ==
        rows(LshIndex.lshTopKFromIndex(spark, full)),
        "the retried append diverged from a full rebuild")
      val b = IdStore.latest(spark, inc).read(spark, "buckets")
      assert(b.count() == b.dropDuplicates("vec_id", "tbl", "bucket").count(),
        "duplicate bucket rows survived the retried append")
    } finally { rm(new java.io.File(inc)); rm(new java.io.File(full)) }
  }

  test("a reader on the previous version finishes; one two versions back fails, never short") {
    val out = tmpDir("graft-version-retain")
    try {
      Retrieval.savePostingsIndexOf(docs, out)
      Retrieval.tombstoneDocs(docs.where(col("doc_id") < 30).select("doc_id"), out)
      val onBase = IdStore.latest(spark, out).read(spark, "postings")
      val rowsOnBase = onBase.count()
      // publishes a version without the touched partitions' files
      Retrieval.compactPostings(spark, out)
      assert(onBase.count() == rowsOnBase, "a reader on the previous version lost rows")
      // one more publish: the compacted-away files are two versions back
      Retrieval.tombstoneDocs(docs.where(col("doc_id") === 40L).select("doc_id"), out)
      val e = intercept[Exception](onBase.count())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
          t.isInstanceOf[java.io.FileNotFoundException] ||
            String.valueOf(t.getMessage).contains("FILE_NOT_EXIST")),
        s"a reader two versions back must fail on a missing file: $e")
    } finally rm(new java.io.File(out))
  }

  /** An artifact as written before the version log: the same stores,
    * no `_versions/`. */
  private def unversioned(build: String => Unit): String = {
    val out = tmpDir("graft-version-legacy")
    build(out)
    rm(new java.io.File(s"$out/_versions"))
    out
  }

  test("a v0 upgrade serves what the listing served") {
    val cases: Seq[(String => Unit, String => Unit, String => Seq[String])] = Seq(
      (Retrieval.savePostingsIndexOf(docs, _),
        Retrieval.appendPostingsDelta(docs.where(col("doc_id") < 50), _),
        d => rows(Retrieval.bm25TopKFromIndex(spark, d))),
      (LshIndex.saveLshIndexOf(vecs, _), LshIndex.appendLshDelta(vecs.where(col("vec_id") < 50), _),
        d => rows(LshIndex.lshTopKFromIndex(spark, d))))
    for ((build, replay, serve) <- cases) {
      val twin = tmpDir("graft-version-legacy-twin")
      val out = unversioned(build)
      try {
        build(twin)
        val e = intercept[IllegalArgumentException](serve(out))
        assert(e.getMessage.contains(out),
          s"the unversioned read must name the path: ${e.getMessage}")
        // a replayed (guarded, no-op) append is the first writer
        replay(out)
        assert(new java.io.File(s"$out/_versions/0").exists, "the upgrade published no v0")
        assert(serve(out) == serve(twin),
          "the upgraded artifact diverged from the listing's answers")
      } finally { rm(new java.io.File(out)); rm(new java.io.File(twin)) }
    }
  }

  test("a streaming admit probes an artifact written before the version log like its versioned twin") {
    // held: nine tenths of the vectors; arriving: the rest, some of them
    // near-duplicates of held ones
    val held = vecs.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val arrivals = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .where(pmod(col("doc_id"), lit(10)) === 0)
    val legacy = unversioned(LshIndex.saveLshIndexOf(held, _))
    val twin = tmpDir("graft-version-legacy-twin")
    val flags = tmpDir("graft-version-legacy-flags")
    try {
      LshIndex.saveLshIndexOf(held, twin)
      val landed = Seq("legacy" -> legacy, "twin" -> twin).map { case (name, d) =>
        graft.streaming.DocumentsStreaming.admitBatch(arrivals, 0L, d, s"$flags/$name", 0.4, 0L)
        rows(spark.read.parquet(s"$flags/$name")
          .select("probe_id", "vec_id", "cos_sim").orderBy("probe_id", "vec_id"))
      }
      assert(landed.last.nonEmpty, "the twin flagged no arrival: the check is vacuous")
      assert(landed.head == landed.last,
        "the unversioned artifact was not probed: its batch landed other flags")
      assert(rows(LshIndex.lshTopKFromIndex(spark, legacy)) ==
        rows(LshIndex.lshTopKFromIndex(spark, twin)),
        "the admit into the unversioned artifact diverged from the twin's")
    } finally { rm(new java.io.File(legacy)); rm(new java.io.File(twin)); rm(new java.io.File(flags)) }
  }

  test("a leftover marker or aside fails the upgrade fast, naming its path") {
    for (leftover <- Seq("_append_pending", "_regeom_pending", "_retrain_pending", "dl.old")) {
      val out = unversioned(Retrieval.savePostingsIndexOf(docs, _))
      try {
        val f = new java.io.File(s"$out/$leftover")
        if (leftover.endsWith(".old")) f.mkdirs() else f.createNewFile()
        val before = Unpublished.listing(out)
        val e = intercept[IllegalArgumentException](
          Retrieval.appendPostingsDelta(docs.where(col("doc_id") < 50), out))
        assert(e.getMessage.contains(s"$out/$leftover"),
          s"the refused upgrade must name $leftover: ${e.getMessage}")
        assert(Unpublished.listing(out) == before, "the refused upgrade changed the artifact")
      } finally rm(new java.io.File(out))
    }
  }
}
