package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator

/** Measures where a BM25 request should stop ranking on the driver
  * ([[Retrieval.bm25TopKFromIndex]]'s byte bound). It saves the postings
  * index of `<dataDir>`'s documents under `<workDir>`, then serves
  * one-query requests of 1, 2, 4, … 64 terms, each term from another
  * term bucket, so the probed bytes sweep from one bucket to the whole
  * store. Two term families: the most frequent term of each bucket (the
  * most candidate rows a request over that many buckets can collect) and
  * its median-frequency term. Per request it prints one JSON line: the
  * probed bytes ([[Retrieval.probedBytes]], what the bound compares),
  * the candidate rows, the median latency of the driver path and of the
  * distributed plan over `reps` alternating runs (call plus `collect()`),
  * the median time of the driver path's candidate read alone
  * ([[IdStore.Version.readLocal]]), and the driver heap its rows hold
  * (their deep size, by Spark's `SizeEstimator`).
  *
  *   sbt "Test/runMain graft.ops.Bm25BoundSweep <dataDir> <workDir> [reps]"
  *
  * Not a suite: it runs only when called. */
object Bm25BoundSweep {
  def main(args: Array[String]): Unit = {
    val (data, work) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.configure(spark)
    val index = s"$work/bm25"
    if (!new java.io.File(s"$index/_versions").isDirectory) Retrieval.savePostingsIndex(spark, data, index)
    val v = IdStore.latest(spark, index)
    val postingsBytes = v.files.iterator.collect { case (f, len) if f.startsWith("postings/") => len }.sum
    println(s"""{"store_postings_bytes":$postingsBytes,"files":${v.files.size}}""")

    // per bucket, its terms by descending df
    val byBucket = v.read(spark, "postings").groupBy("term_bucket", "term")
      .agg(count(lit(1)).as("df")).collect()
      .groupBy(_.getInt(0).toLong).map { case (b, rs) =>
        b -> rs.map(r => (r.getString(1), r.getLong(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    val order = new scala.util.Random(7L).shuffle(byBucket.keys.toSeq.sorted)
    val families = Seq[(String, Seq[(String, Long)] => (String, Long))](
      "top" -> (_.head), "median" -> (ts => ts(ts.size / 2)))

    def ms(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)

    // warm: the version's memo parts, class loading, codegen
    (1 to 3).foreach { _ =>
      Retrieval.servedFromIndex(spark, index, Seq(1 -> "the"), 5, 32, Long.MaxValue).collect()
      Retrieval.servedFromIndex(spark, index, Seq(1 -> "the"), 5, 32, 0L).collect()
    }
    for ((family, pick) <- families; n <- Seq(1, 2, 4, 8, 16, 24, 32, 40, 48, 64) if n <= order.size) {
      val picked = order.take(n).map(b => pick(byBucket(b)))
      val query = Seq(1 -> picked.map(_._1).mkString(" "))
      val terms = Retrieval.queryTermsOf(query)
      val bytes = Retrieval.probedBytes(v, order.take(n))
      def read() = v.readLocal(spark, "postings", Some("term_bucket" -> order.take(n)),
        Seq("doc_id", "term", "tf", "dl"), Some("term" -> terms.map(_._2).toSet[Any]))
      val cand = read()
      val (rows, retained) = (cand.length, SizeEstimator.estimate(cand))
      val readMs = median((1 to reps).map(_ => ms(read())))
      val times = (1 to reps).map { _ =>
        val d = ms(Retrieval.servedFromIndex(spark, index, query, 5, 32, Long.MaxValue).collect())
        val s = ms(Retrieval.servedFromIndex(spark, index, query, 5, 32, 0L).collect())
        (d, s)
      }
      println(f"""{"family":"$family","terms":$n,"probed_bytes":$bytes,"df_sum":${picked.map(_._2).sum},""" +
        f""""cand_rows":$rows,"cand_retained_mb":${retained / 1048576.0}%.1f,"read_ms":$readMs%.1f,""" +
        f""""driver_ms":${median(times.map(_._1))}%.1f,"distributed_ms":${median(times.map(_._2))}%.1f}""")
    }
    spark.stop()
  }
}
