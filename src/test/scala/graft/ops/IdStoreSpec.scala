package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The shared store layout policy: a keyed store written before the
  * `id_bucket` layout (its rows at the store root, no partition dirs)
  * cannot be guarded or expunged by partition, so every mutation fails
  * fast naming the store — before it touches any store. */
class IdStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs: DataFrame = {
    import spark.implicits._
    (0L until 40L).map(i => (i, s"doc $i on topic ${i % 7} with term ${i * 13 % 11}"))
      .toDF("doc_id", "text")
  }

  private def listing(root: String): Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(f: java.io.File, rel: String): Unit =
      Option(f.listFiles()).foreach(_.foreach { c =>
        val r = if (rel.isEmpty) c.getName else rel + "/" + c.getName
        if (c.isDirectory) walk(c, r) else out += ((r, c.lastModified()))
      })
    walk(new java.io.File(root), "")
    out.sorted.toSeq
  }

  /** Rewrite a store in the unpartitioned layout: same rows, no
    * `id_bucket` dirs. */
  private def devolve(indexDir: String, store: String, cols: Seq[String]): Unit = {
    spark.read.parquet(s"$indexDir/$store").select(cols.map(col): _*)
      .write.parquet(s"$indexDir/${store}_old")
    rm(new java.io.File(s"$indexDir/$store"))
    assert(new java.io.File(s"$indexDir/${store}_old")
      .renameTo(new java.io.File(s"$indexDir/$store")))
  }

  private def failsNaming(path: String)(mutation: => Unit): Unit = {
    val e = intercept[IllegalArgumentException](mutation)
    assert(e.getMessage.contains(path), s"the fail-fast must name $path: ${e.getMessage}")
  }

  test("an unpartitioned keyed store fails fast at append and compaction") {
    val bm25 = tmpDir("graft-idstore-bm25")
    val images = tmpDir("graft-idstore-img")
    try {
      val base = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val delta = docs.where(pmod(col("doc_id"), lit(2)) === 1)

      Retrieval.savePostingsIndexOf(base, bm25)
      devolve(bm25, "dl", Seq("doc_id", "dl"))
      Retrieval.tombstoneDocs(base.limit(5).select("doc_id"), bm25)
      val postings = listing(s"$bm25/postings")
      failsNaming(s"$bm25/dl")(Retrieval.appendPostingsDelta(delta, bm25))
      failsNaming(s"$bm25/dl")(Retrieval.compactPostings(spark, bm25))
      assert(listing(s"$bm25/postings") == postings,
        "a refused mutation rewrote the postings store")

      ImageIndex.saveImageHashIndexOf(Multimodal.imageHashesOf(base), images)
      devolve(images, "hashes", Seq("doc_id", "a_hi", "a_lo", "d_hi", "d_lo"))
      val bands = listing(s"$images/bands")
      failsNaming(s"$images/hashes")(ImageIndex.appendImageHashDelta(delta, images))
      assert(listing(s"$images/bands") == bands,
        "a refused append wrote the band store")
    } finally { rm(new java.io.File(bm25)); rm(new java.io.File(images)) }
  }
}
