package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A bounded BM25 request served from a persisted artifact ranks on the
  * driver ([[Retrieval.bm25TopKFromIndex]]): term buckets hashed in the
  * JVM, the candidate postings read on the driver, df/BM25/top-k in the
  * JVM. Pinned here: the driver hash equals Spark's bucket expression,
  * the driver answer equals the distributed plan's row for row (scores
  * bit-equal) through the whole index lifecycle, the over-bound fallback
  * answers the same, and a warm request runs no Spark job. */
class Bm25DriverServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("driver bucket ids equal Spark's xxhash64 + pmod for strings and longs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    val ascii = Seq.fill(200)(Seq.fill(rnd.nextInt(40))((32 + rnd.nextInt(95)).toChar).mkString)
    // 2-, 3- and 4-byte UTF-8 sequences, alone and mixed with ASCII
    val ranges = Seq((0xA0, 0x7FF), (0x800, 0xD7FF), (0xE000, 0xFFFD), (0x10000, 0x10FFFF))
    val multiByte = Seq.fill(200) {
      Seq.fill(1 + rnd.nextInt(12)) {
        val (lo, hi) = ranges(rnd.nextInt(ranges.size))
        new String(Character.toChars(lo + rnd.nextInt(hi - lo + 1))) +
          (if (rnd.nextBoolean()) "a" else "")
      }.mkString
    } ++ Seq("café", "naïve", "日本語", "😀", "Ωmega")
    val strings = ascii ++ multiByte :+ ""
    val longs = Seq.fill(200)(rnd.nextLong()) ++
      Seq(0L, 1L, -1L, 42L, -42L, Long.MinValue, Long.MaxValue, Long.MinValue + 1, Long.MaxValue - 1)
    for (m <- Seq(16, 64)) {
      val layout = IdStore.Layout("b", m, "k")
      val bySpark = strings.toDF("k").select(col("k"), layout.bucket).collect()
      assert(bySpark.length == strings.size)
      bySpark.foreach(r => assert(layout.bucketOf(r.getString(0)) == r.getLong(1),
        s"modulus $m, string '${r.getString(0)}'"))
      val longsBySpark = longs.toDF("k").select(col("k"), layout.bucket).collect()
      longsBySpark.foreach(r => assert(layout.bucketOf(r.getLong(0)) == r.getLong(1),
        s"modulus $m, long ${r.getLong(0)}"))
      assert(bySpark.map(_.getLong(1)).toSet.size > 1, "a vacuous fixture pins nothing")
    }
  }

  /** Answers as comparable tuples, the score by its bits. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3))).toSeq

  /** The query shapes: no matching term, whitespace only, a repeated
    * term, queries sharing terms, a term rarer than `topK`, duplicate
    * texts (score ties), a multi-byte term. */
  private val queries = Seq(
    1 -> "zzz-no-such-term",
    2 -> "  \t  ",
    3 -> "spark spark table",
    4 -> "table scan",
    5 -> "table zephyr",
    6 -> "zephyr",
    7 -> "quartz",
    8 -> "café window")

  /** The distributed reference: today's Column tokenization into the
    * distributed from-index plan. */
  private def distributed(out: String, topK: Int): DataFrame = {
    import spark.implicits._
    val queryTerms = queries.toDF("query_id", "qtext")
      .select(col("query_id").cast("long").as("query_id"),
        explode(TextAnalysis.tokens(col("qtext"))).as("term"))
      .distinct()
    Retrieval.rankedFromIndex(spark, out, queryTerms, topK, 32, excludeSelf = false)
  }

  test("the driver answer equals the distributed plan through the lifecycle, scores bit-equal") {
    import spark.implicits._
    val extra = Seq(
      900001L -> "zephyr quartz spark",
      900002L -> "zephyr quartz spark", // duplicate text: ties broken by doc_id
      900003L -> "zephyr café",
      900004L -> "quartz table").toDF("doc_id", "text")
    val docs = Tables.documents(spark, dir).select("doc_id", "text").unionByName(extra)
    val incoming = pmod(col("doc_id"), lit(3)) === 0
    val dead = pmod(col("doc_id"), lit(7)) === 0 || col("doc_id") === 900003L
    val reborn = dead && (pmod(col("doc_id"), lit(14)) === 0 || col("doc_id") === 900003L)
    val out = tmpDir("graft-bm25-driver")
    try {
      val states: Seq[(String, () => Unit)] = Seq(
        "base" -> (() => Retrieval.savePostingsIndexOf(docs.where(!incoming), out)),
        "+ delta" -> (() => Retrieval.appendPostingsDelta(docs.where(incoming), out)),
        "+ tombstones" -> (() => Retrieval.tombstoneDocs(docs.where(dead).select("doc_id"), out)),
        "+ resurrection" -> (() => Retrieval.appendPostingsDelta(docs.where(reborn), out)),
        "compacted" -> (() => Retrieval.compactPostings(spark, out)))
      var sawTie = false
      for ((state, step) <- states) {
        step()
        for (topK <- Seq(5, 1000)) {
          val onDriver = Retrieval.servedFromIndex(spark, out, queries, topK, 32, Long.MaxValue)
          val driverRows = rows(onDriver)
          assert(onDriver.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
            s"$state, k=$topK: the bounded request did not rank on the driver")
          val reference = distributed(out, topK)
          assert(onDriver.schema == reference.schema, s"$state: the schema diverged")
          assert(driverRows == rows(reference),
            s"$state, k=$topK: the driver answer diverged from the distributed plan")
          val fallback = Retrieval.servedFromIndex(spark, out, queries, topK, 32, 0L)
          assert(!fallback.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
          assert(rows(fallback) == driverRows, s"$state, k=$topK: the over-bound fallback diverged")
          // non-vacuous: the shapes are really exercised
          val byQuery = driverRows.groupBy(_._1)
          assert(!byQuery.contains(1L) && !byQuery.contains(2L), s"$state: a termless query hit")
          assert(byQuery.keySet.subsetOf(Set(3L, 4L, 5L, 6L, 7L, 8L)) && byQuery.contains(3L))
          if (topK == 1000) assert(byQuery(6L).size < topK && byQuery(6L).nonEmpty)
          sawTie ||= byQuery.get(7L).exists(q => q.map(_._3).distinct.size < q.size)
        }
      }
      assert(sawTie, "no score tie was served: the tie-break went unchecked")
    } finally rm(new java.io.File(out))
  }

  test("a warm request: the call and its collect run no Spark job") {
    val out = tmpDir("graft-bm25-jobs")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    def inGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    try {
      Retrieval.savePostingsIndex(spark, dir, out)
      // the first request fills the version's memo (corpus stats, dead set)
      Retrieval.bm25TopKFromIndex(spark, out, Seq(1 -> "spark table")).collect()
      sc.addSparkListener(listener)
      val df = inGroup("bm25-call")(Retrieval.bm25TopKFromIndex(spark, out, Seq(1 -> "window agg group")))
      val answer = inGroup("bm25-collect")(df.collect())
      // drain: the bus delivers in order, so once the marker job's start
      // arrives every earlier job's has too
      inGroup("bm25-drain")(sc.parallelize(1 to 1, 1).count())
      val deadline = System.nanoTime() + 10e9.toLong
      while (!groups.contains("bm25-drain") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("bm25-drain"), "the listener bus did not drain")
      def jobs(g: String) = groups.toArray.count(_ == g)
      assert(answer.nonEmpty)
      // the candidates are read on the driver, and the ranked rows are a
      // local relation: collecting them is no job
      assert(jobs("bm25-call") == 0 && jobs("bm25-collect") == 0,
        s"the call ran ${jobs("bm25-call")} jobs and its collect ${jobs("bm25-collect")}")
    } finally {
      sc.removeSparkListener(listener)
      rm(new java.io.File(out))
    }
  }
}
