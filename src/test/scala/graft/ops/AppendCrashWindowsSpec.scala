package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Crash-point windows of the version log IN COMPOSITION — each of the
  * four multi-store families (BM25 postings+dl, image bands+hashes, LSH
  * buckets+vectors, PQ codes+vectors) has its own write order,
  * partitioning and serve entry. For every family and every crash
  * window of an append — a writer that staged work only; that added
  * files to the derived store; that added files to both stores — the
  * writer never published, so the family's NORMAL serve entry must
  * (a) leave the artifact's files as they are and (b) serve the
  * previous version's answers; the retried real append must then
  * converge to exactly what a clean (never-crashed) twin artifact
  * serves, duplicate-free, with no unpublished file left behind. */
class AppendCrashWindowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One multi-store family's lifecycle hooks. */
  private case class Family(
      name: String,
      derived: String, guard: String,
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      serve: String => Seq[String],
      guardKey: String)

  private def exercise(f: Family, base: DataFrame, delta: DataFrame): Unit = {
    val inc = tmpDir(s"graft-crashwin-${f.name}")
    val twin = tmpDir(s"graft-crashwin-${f.name}-twin")
    try {
      f.build(base, inc)
      f.build(base, twin)
      val baseServe = f.serve(inc)
      // every window before the publish: staged work only; the derived
      // store's files added; both stores' files added
      for ((window, stores) <- Seq("staged-only" -> Nil, "derived-added" -> Seq(f.derived),
          "both-stores" -> Seq(f.derived, f.guard))) {
        if (stores.isEmpty) Unpublished.plant(spark, inc, Seq(f.derived), scratch = true)
        else Unpublished.plant(spark, inc, stores, scratch = false)
        val crashed = Unpublished.listing(inc)
        // CRASH here (no publish). The family's normal serve entry
        // reads the previous version and writes nothing.
        assert(f.serve(inc) == baseServe,
          s"${f.name}/$window: the crashed append leaked into served answers")
        assert(Unpublished.listing(inc) == crashed,
          s"${f.name}/$window: the serve changed the artifact's files")
      }
      // WARM window: a serve's resident state (if the family memoizes
      // any — PQ's loaded relations; the others memoize resolved
      // relations, but that immunity is TESTED here, not assumed) must
      // stay on the published version. Serve to warm, crash with both
      // stores added, then serve TWICE.
      f.serve(inc)
      Unpublished.plant(spark, inc, Seq(f.derived, f.guard), scratch = false)
      assert(f.serve(inc) == baseServe,
        s"${f.name}/warm: the first post-crash serve diverged")
      assert(f.serve(inc) == baseServe,
        s"${f.name}/warm: a warm re-serve after the crash diverged")
      // the retried REAL append converges: crashed-and-retried ≡ a
      // clean twin that never crashed, with no duplicate guard ids and
      // no crashed writer's file left on disk
      f.append(delta, inc)
      f.append(delta, twin)
      assert(f.serve(inc) == f.serve(twin),
        s"${f.name}: the retried append diverged from the clean twin")
      assert(Unpublished.unnamed(spark, inc).isEmpty,
        s"${f.name}: the crashed writers' files survived the retried append")
      val g = IdStore.latest(spark, inc).read(spark, f.guard)
      assert(g.count() == g.select(f.guardKey).distinct().count(),
        s"${f.name}: duplicate ${f.guardKey} rows in the guard store")
    } finally { rm(new java.io.File(inc)); rm(new java.io.File(twin)) }
  }

  private def incomingRule = pmod(col("doc_id") * lit(2654435761L), lit(100)) < 30
  private def docs = Tables.documents(spark, dir)
    .select(col("doc_id"), col("text"), incomingRule.as("incoming"))
  private def vecs = Similarity.unitEmbeddings(spark, dir)
    .select(col("vec_id"), col("u"),
      (pmod(col("vec_id") * lit(2654435761L), lit(100)) < 30).as("incoming"))

  test("BM25 postings+dl: every crash window rolls back; the retry converges") {
    exercise(Family("bm25", "postings", "dl",
        (b, d) => Retrieval.savePostingsIndexOf(b, d),
        (x, d) => Retrieval.appendPostingsDelta(x, d),
        d => Retrieval.bm25TopKFromIndex(spark, d).collect().map(_.toString).toSeq,
        "doc_id"),
      docs.where(!col("incoming")).select("doc_id", "text"),
      docs.where(col("incoming")).select("doc_id", "text"))
  }

  test("image bands+hashes: every crash window rolls back; the retry converges") {
    exercise(Family("image", "bands", "hashes",
        (b, d) => ImageIndex.saveImageHashIndexOf(Multimodal.imageHashesOf(b), d),
        (x, d) => ImageIndex.appendImageHashDelta(x, d),
        d => ImageIndex.imageDupsFromIndex(spark, d).collect().map(_.toString).toSeq,
        "doc_id"),
      docs.where(!col("incoming")).select("doc_id", "text"),
      docs.where(col("incoming")).select("doc_id", "text"))
  }

  test("LSH buckets+vectors: every crash window rolls back; the retry converges") {
    exercise(Family("lsh", "buckets", "vectors",
        (b, d) => LshIndex.saveLshIndexOf(b, d),
        (x, d) => LshIndex.appendLshDelta(x, d),
        d => LshIndex.lshTopKFromIndex(spark, d).collect().map(_.toString).toSeq,
        "vec_id"),
      vecs.where(!col("incoming")).select("vec_id", "u"),
      vecs.where(col("incoming")).select("vec_id", "u"))
  }

  test("PQ codes+vectors: every crash window rolls back; the retry converges") {
    exercise(Family("pq", "codes", "vectors",
        (b, d) => Similarity.savePqIndexOf(b, d),
        (x, d) => Similarity.appendPqDelta(x, d),
        d => Similarity.pqTopKFromIndex(spark, d).collect().map(_.toString).toSeq,
        "vec_id"),
      vecs.where(!col("incoming")).select("vec_id", "u"),
      vecs.where(col("incoming")).select("vec_id", "u"))
  }

  test("BM25 compaction: every crash window serves the tombstoned version; the re-run converges") {
    val crashed = tmpDir("graft-crashwin-compact")
    val clean = tmpDir("graft-crashwin-compact-twin")
    def rows(d: String) = Retrieval.bm25TopKFromIndex(spark, d).collect().map(_.toString).toSeq
    try {
      val all = Tables.documents(spark, dir).select("doc_id", "text")
      val dead = all.where(pmod(col("doc_id") * lit(7919L), lit(100)) < 10).select("doc_id")
      for (d <- Seq(crashed, clean)) {
        Retrieval.savePostingsIndexOf(all, d)
        Retrieval.tombstoneDocs(dead, d)
      }
      val tombstoned = rows(crashed)
      Retrieval.compactPostings(spark, clean)
      // every window of the compaction writer before its publish: the
      // touched postings buckets rewritten; the dl buckets too; both
      // and the tombstone set dropped — never published
      for (stores <- Seq(Seq("postings"), Seq("dl"), Seq("postings", "dl"))) {
        val w = IdStore.open(spark, crashed, Nil)(())
        val deadIds = dead.select(col("doc_id").cast("long"))
        if (stores.contains("postings"))
          IdStore.expunge(w, "postings", "term_bucket", "doc_id", deadIds)
        if (stores.contains("dl"))
          IdStore.expunge(w, "dl", "id_bucket", "doc_id", deadIds)
        w.drop("tombstones")
        val before = Unpublished.listing(crashed)
        assert(rows(crashed) == tombstoned,
          s"${stores.mkString("+")}: the unpublished compaction changed the answers")
        assert(Unpublished.listing(crashed) == before,
          s"${stores.mkString("+")}: the serve changed the artifact's files")
      }
      // the owner re-runs the compaction: it converges to the clean twin
      Retrieval.compactPostings(spark, crashed)
      assert(!IdStore.latest(spark, crashed).has("tombstones"),
        "the re-run compaction left the tombstone set")
      assert(Unpublished.unnamed(spark, crashed).isEmpty,
        "the crashed compaction's files survived the re-run")
      assert(rows(crashed) == rows(clean),
        "crashed-then-re-run answers diverged from the clean compaction")
    } finally { rm(new java.io.File(crashed)); rm(new java.io.File(clean)) }
  }
}
