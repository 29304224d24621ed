package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver trainer of a bounded batch against the distributed
  * trainer it replaces: the coarse and sub books, the PQ book, the
  * inverted file, the projections, the codes and the meta must be
  * bit-identical, the relations must carry the same schemas, and the
  * artifacts they write must hold the same parquet schemas and serve
  * the same answers. The distributed path is called directly, so it
  * stays covered although every batch here is under the driver bound. */
class PqDriverTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** A value rendered so that doubles compare by their bits (-0.0 and
    * NaN included). */
  private def exact(v: Any): String = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toHexString
    case s: scala.collection.Seq[_] => s.map(exact).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(exact).mkString("(", ",", ")")
    case null => "null"
    case x => x.toString
  }

  private def rowsOf(df: DataFrame, key: String*): Seq[String] =
    df.orderBy(key.map(col): _*).collect().map(exact).toSeq

  private def bothTrained(vecs: DataFrame, nCoarse: Int, nSub: Int, m: Int, k: Int)
      : (Similarity.Trained, Similarity.Trained) = {
    val onDriver = Similarity.trainedOnDriver(vecs, nCoarse, nSub, Some((m, k)))
      .getOrElse(fail("a bounded batch must train on the driver"))
    val distributed = Similarity.trainedDistributed(vecs, nCoarse, nSub, Some((m, k)))
    (onDriver, distributed)
  }

  private def assertSame(d: Similarity.Trained, s: Similarity.Trained): Unit = {
    def schemas(t: Similarity.Trained) =
      Seq(t.coarse, t.subCents, t.assigned, t.pq.get.codes).map(_.schema)
    assert(schemas(d) == schemas(s))
    assert(rowsOf(d.coarse, "cent_id") == rowsOf(s.coarse, "cent_id"), "coarse cu differ")
    assert(rowsOf(d.subCents, "cent_id", "sub_id") == rowsOf(s.subCents, "cent_id", "sub_id"),
      "sub scu differ")
    assert(rowsOf(d.assigned, "vec_id") == rowsOf(s.assigned, "vec_id"), "assignments differ")
    assert(d.pq.get.book == s.pq.get.book, "PQ book flat differs")
    assert(rowsOf(d.pq.get.codes, "vec_id") == rowsOf(s.pq.get.codes, "vec_id"),
      "proj or codes differ")
    assert(d.pq.get.nTrained == s.pq.get.nTrained)
    assert(exact(d.pq.get.explainedMicros) == exact(s.pq.get.explainedMicros),
      s"explained_micros ${d.pq.get.explainedMicros} vs ${s.pq.get.explainedMicros}")
  }

  private def trainedBoth(vecs: DataFrame, nCoarse: Int = 8, nSub: Int = 4,
      m: Int = 8, k: Int = 64): Unit = {
    val (d, s) = bothTrained(vecs, nCoarse, nSub, m, k)
    try assertSame(d, s) finally s.release()
  }

  test("the gate config trains bit-identically on the driver and distributed") {
    val vecs = Similarity.unitEmbeddings(spark, dir)
    trainedBoth(vecs)
  }

  test("a seeded random split with missing seed ids trains bit-identically") {
    val rnd = new scala.util.Random(11)
    val ids = Similarity.unitEmbeddings(spark, dir).select("vec_id").collect().map(_.getLong(0))
    val dropped = ids.filter(_ => rnd.nextInt(100) < 35).toSet
    // the split must exercise missing coarse seeds and missing PQ seeds
    assert((0L until 8L).exists(dropped) && (8L until 64L).exists(dropped))
    val vecs = Similarity.unitEmbeddings(spark, dir)
      .where(!col("vec_id").isin(dropped.toSeq.map(Long.box): _*))
    trainedBoth(vecs)
  }

  test("a batch smaller than k trains bit-identically") {
    val vecs = Similarity.unitEmbeddings(spark, dir).where(col("vec_id") < 40)
    val (d, s) = bothTrained(vecs, 8, 4, 8, 64)
    try {
      assertSame(d, s)
      assert(d.pq.get.book.k == 40, "the book has one code per seed below k")
    } finally s.release()
  }

  test("tied one-hot clusters with non-null columns train bit-identically") {
    // spark.range ids and a literal-built u are non-nullable: the driver
    // relations take the input's nullability as the distributed plans do
    val vecs = spark.range(0, 200).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> cast(if(i = pmod(id, 8), 1.0, 0.0) as double))")
        .as("u"))
    trainedBoth(vecs)
  }

  test("the artifacts of both trainers hold the same parquet schemas and serve alike") {
    val vecs = Similarity.unitEmbeddings(spark, dir)
    val (d, s) = bothTrained(vecs, 8, 4, 8, 64)
    val dirs = Seq.fill(2)(java.nio.file.Files.createTempDirectory("graft-pq-train").toString)
    try {
      Seq(d, s).zip(dirs).foreach { case (t, out) =>
        IdStore.rebuild(spark, out)(Similarity.addPqStores(_, t, 8, 4, 8, 64))
      }
      val conf = spark.sparkContext.hadoopConfiguration
      val options = graft.core.ParquetFiles.options(conf)
      def schemas(out: String): Map[String, Set[String]] =
        IdStore.latest(spark, out).files.keys.filter(_.endsWith(".parquet")).toSeq
          .groupBy(_.takeWhile(_ != '/')).map { case (store, fs) =>
            store -> fs.map(f => graft.core.ParquetFiles.read(
              new org.apache.hadoop.fs.Path(out, f), conf, options)((r, _) =>
              r.getFooter.getFileMetaData.getSchema.toString)).toSet
          }
      val (sd, ss) = (schemas(dirs(0)), schemas(dirs(1)))
      assert(sd.keySet == Set("coarse", "subcents", "pqbook", "codes", "meta", "vectors"))
      assert(sd == ss, s"written schemas differ:\n$sd\n$ss")
      val served = dirs.map(out => Similarity.pqTopKFromIndexCold(spark, out)
        .collect().map(exact).toSeq)
      assert(served.head.nonEmpty && served.head == served(1),
        "the two artifacts serve different answers")
      val metas = dirs.map(out => IdStore.latest(spark, out).read(spark, "meta")
        .collect().map(exact).toSeq)
      assert(metas.head == metas(1), "the metas differ")
    } finally {
      s.release()
      dirs.foreach(out => rmrf(new java.io.File(out)))
    }
  }
}
