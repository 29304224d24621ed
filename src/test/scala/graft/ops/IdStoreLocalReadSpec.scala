package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver-side read of a published version
  * ([[IdStore.Version.readLocal]]) returns exactly the rows and types the
  * Spark read ([[IdStore.Version.read]]) does under the same partition
  * subset, projection and `IN` filter: through the BM25 postings
  * lifecycle, on a store of every type it decodes, and never fewer rows —
  * a type it does not decode, or a file the version names that is gone,
  * fails naming the store. */
class IdStoreLocalReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The local rows equal Spark's as a multiset, value and boxed type. */
  private def same(what: String, local: Seq[Row], bySpark: DataFrame): Unit = {
    def key(r: Row) = r.toSeq.mkString("\u0001")
    val (l, s) = (local.sortBy(key), bySpark.collect().toSeq.sortBy(key))
    assert(l.size == s.size, s"$what: ${l.size} rows read locally, ${s.size} by Spark")
    assert(l == s, s"$what: the rows diverged")
    def types(rs: Seq[Row]) = rs.map(_.toSeq.map(v => Option(v).map(_.getClass.getName)))
    assert(types(l) == types(s), s"$what: the types diverged")
  }

  private val TermBuckets = IdStore.Layout("term_bucket", 64, "term")

  /** 600 documents of 3–11 words over a 40-word vocabulary that holds
    * the default queries' terms. */
  private def corpus: DataFrame = {
    import spark.implicits._
    val vocab = Retrieval.DefaultQueries.flatMap(_._2.split(' ')) ++ (0 until 28).map(i => s"w$i")
    (0L until 600L).map { i =>
      (i, (0 until 3 + (i % 9).toInt).map(j => vocab(((i * 7 + j * 13) % vocab.size).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("readLocal equals the Spark read through the postings lifecycle") {
    val docs = corpus
    val incoming = pmod(col("doc_id"), lit(3)) === 0
    val dead = pmod(col("doc_id"), lit(7)) === 0
    val reborn = dead && pmod(col("doc_id"), lit(14)) === 0
    val out = tmpDir("graft-local-read")
    try {
      val states: Seq[(String, () => Unit)] = Seq(
        "base" -> (() => Retrieval.savePostingsIndexOf(docs.where(!incoming), out)),
        "+ delta" -> (() => Retrieval.appendPostingsDelta(docs.where(incoming), out)),
        "+ tombstones" -> (() => Retrieval.tombstoneDocs(docs.where(dead).select("doc_id"), out)),
        "+ resurrection" -> (() => Retrieval.appendPostingsDelta(docs.where(reborn), out)),
        "compacted" -> (() => Retrieval.compactPostings(spark, out)))
      val words = Retrieval.queryTermsOf(Retrieval.DefaultQueries).map(_._2).distinct
      val wordBuckets = words.map(TermBuckets.bucketOf(_)).distinct
      val columns = Seq("doc_id", "term", "tf", "dl", "term_bucket")
      var sawTwoFilesInABucket, sawTombstones = false
      for ((state, step) <- states) {
        step()
        val v = IdStore.latest(spark, out)
        val postings = v.read(spark, "postings")
        val held = v.filesUnder("postings", None).map(_.split('/')(1).stripPrefix("term_bucket=").toLong)
        sawTwoFilesInABucket ||= held.size > held.distinct.size
        same(s"$state: the whole store",
          v.readLocal(spark, "postings", None, columns, None), postings.select(columns.map(col): _*))
        // a held subset plus a bucket no file sits under
        val subset = held.distinct.sorted.take(3) :+ 64L
        same(s"$state: a partition subset",
          v.readLocal(spark, "postings", Some("term_bucket" -> subset), columns, None),
          postings.where(col("term_bucket").isin(subset: _*)).select(columns.map(col): _*))
        assert(v.readLocal(spark, "postings", Some("term_bucket" -> Nil), columns, None).isEmpty,
          s"$state: the empty subset read rows")
        val local = v.readLocal(spark, "postings", Some("term_bucket" -> wordBuckets),
          Seq("doc_id", "term", "tf", "dl"), Some("term" -> words.toSet[Any]))
        assert(local.map(_.getString(1)).distinct.size > 1, s"$state: a vacuous term filter")
        same(s"$state: the query terms' rows", local,
          postings.where(col("term_bucket").isin(wordBuckets: _*) && col("term").isin(words: _*))
            .select("doc_id", "term", "tf", "dl"))
        val absent = "zzz-no-such-term"
        assert(v.readLocal(spark, "postings", Some("term_bucket" -> Seq(TermBuckets.bucketOf(absent))),
          columns, Some("term" -> Set[Any](absent))).isEmpty, s"$state: a term no row holds")
        same(s"$state: the dl store", v.readLocal(spark, "dl", None, Seq("dl", "doc_id", "id_bucket"), None),
          v.read(spark, "dl").select("dl", "doc_id", "id_bucket"))
        if (v.has("tombstones")) {
          sawTombstones = true
          same(s"$state: the tombstones", v.readLocal(spark, "tombstones", None, Seq("doc_id"), None),
            v.read(spark, "tombstones").select("doc_id"))
        } else assert(v.readLocal(spark, "tombstones", None, Seq("doc_id"), None).isEmpty)
      }
      val partFilter = intercept[IllegalArgumentException](IdStore.latest(spark, out)
        .readLocal(spark, "postings", None, columns, Some("term_bucket" -> Set[Any](1L))))
      assert(partFilter.getMessage.contains(s"$out/postings"), partFilter.getMessage)
      assert(sawTwoFilesInABucket, "no bucket held a base and a delta file")
      assert(sawTombstones, "no state held tombstones")
    } finally rm(new java.io.File(out))
  }

  test("every decoded type, nulls, many row groups, and filters by long and by string") {
    import spark.implicits._
    val out = tmpDir("graft-local-types")
    try {
      val rows = (0 until 5000).map { i =>
        (i.toLong * 7919L, i % 97, if (i % 7 == 0) None else Some(i / 3.0),
          if (i % 5 == 0) None else Some(s"s-${i % 211}é日"), i % 2 == 0,
          java.sql.Date.valueOf("2024-01-01"))
      }.toDF("id", "i", "d", "s", "flag", "day")
      // small row groups and pages, so the filters prune some of them
      IdStore.rebuild(spark, out)(_.add("s")(rows.repartition(2).write
        .option("parquet.block.size", 8192).option("parquet.page.size", 1024).parquet(_)))
      val v = IdStore.latest(spark, out)
      val groups = v.filesUnder("s", None).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(out, f), spark.sparkContext.hadoopConfiguration))
        try r.getRowGroups.size finally r.close()
      }
      assert(groups.forall(_ > 1), s"row groups per file: $groups")
      val s = v.read(spark, "s")
      val cols = Seq("id", "i", "d", "s")
      same("every decoded column", v.readLocal(spark, "s", None, cols, None), s.select(cols.map(col): _*))
      val ids = Set[Any](0L, 7919L * 1234, 7919L * 4999, 5L)
      same("a long filter", v.readLocal(spark, "s", None, cols, Some("id" -> ids)),
        s.where(col("id").isin(ids.toSeq: _*)).select(cols.map(col): _*))
      val strings = Set[Any]("s-17é日", "s-210é日", "none")
      same("a string filter on a column not read",
        v.readLocal(spark, "s", None, Seq("id"), Some("s" -> strings)),
        s.where(col("s").isin(strings.toSeq: _*)).select("id"))
      assert(v.readLocal(spark, "s", None, Seq("id"), Some("s" -> strings)).size > 30)
      for (c <- Seq("flag", "day")) {
        val e = intercept[IllegalArgumentException](v.readLocal(spark, "s", None, Seq("id", c), None))
        assert(e.getMessage.contains(s"$out/s") && e.getMessage.contains(s"column $c "),
          s"the failure must name the store and the column: ${e.getMessage}")
      }
    } finally rm(new java.io.File(out))
  }

  test("a version that names a deleted file fails naming the store, as the Spark read does") {
    import spark.implicits._
    val out = tmpDir("graft-local-gone")
    try {
      Retrieval.savePostingsIndexOf(
        (0L until 40L).map(i => (i, s"doc $i topic ${i % 7}")).toDF("doc_id", "text"), out)
      val v = IdStore.latest(spark, out)
      val victim = v.filesUnder("postings", None).head
      assert(new java.io.File(s"$out/$victim").delete())
      val local = intercept[IllegalArgumentException](
        v.readLocal(spark, "postings", None, Seq("doc_id"), None))
      assert(local.getMessage.contains(s"$out/postings") &&
        local.getMessage.contains("changed outside the artifact's version log"), local.getMessage)
      val bySpark = intercept[IllegalArgumentException](v.read(spark, "postings"))
      assert(local.getMessage == bySpark.getMessage)
    } finally rm(new java.io.File(out))
  }
}
