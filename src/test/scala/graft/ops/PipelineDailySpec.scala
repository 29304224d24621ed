package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The daily composite entry (ops.Pipeline): the stages a nightly run
  * executes must compose IDEMPOTENTLY — running the same day twice
  * changes nothing in any artifact or the export manifest. */
class PipelineDailySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A store of an artifact under `work`, as its latest version names it. */
  private def stored(work: String, artifact: String, store: String) =
    IdStore.latest(spark, s"$work/$artifact").read(spark, store)

  test("running the same day twice changes nothing in any artifact") {
    val work = tmpDir("graft-daily")
    val raw = tmpDir("graft-daily-raw")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(raw, "landed.csv"),
        "id,score\n1,3.5\n2,4.25\n".getBytes("UTF-8"))
      val first = Pipeline.runDaily(spark, dir, work, Some(raw))
      assert(first.converted == 1)
      assert(first.keptDocs > 0 && first.keptDocs <= first.incomingDocs)
      assert(first.exportShards > 0)
      assert(Export.verifyShards(spark, s"$work/shards").isEmpty,
        "the shipped shards failed their own integrity check")
      def snapshot() = (
        stored(work, "bm25", "dl").count(),
        stored(work, "bm25", "postings").count(),
        stored(work, "images", "hashes").count(),
        stored(work, "lsh", "vectors").count(),
        stored(work, "lsh", "buckets").count(),
        stored(work, "pq", "codes").count(),
        stored(work, "pq", "vectors").count(),
        stored(work, "fp", "fingerprints").count(),
        spark.read.parquet(s"$work/rollup/daily")
          .select(date_format(col("day"), "yyyy-MM-dd"), col("event_type"),
            col("n_events"), hll_sketch_estimate(col("users_hll")))
          .orderBy("day", "event_type").collect().map(_.toString).toSeq,
        spark.read.parquet(s"$work/shards/_manifest")
          .orderBy("shard").collect().map(_.toString).toSeq)
      val before = snapshot()
      val second = Pipeline.runDaily(spark, dir, work, Some(raw))
      assert(second.repairedDays == Nil, "a healthy replay repaired days")
      assert(snapshot() == before,
        "replaying the same day changed an artifact or the manifest")
    } finally { rm(new java.io.File(work)); rm(new java.io.File(raw)) }
  }

  test("the pipeline's BM25 artifact equals a fresh build of the curated batch") {
    val work = tmpDir("graft-daily-bm25")
    val ref = tmpDir("graft-daily-bm25-ref")
    try {
      Pipeline.runDaily(spark, dir, work)
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"),
        (pmod(col("doc_id") * lit(2654435761L), lit(100)) < 30).as("incoming"))
      val kept = Pipeline.curatedDelta(
        docs.where(col("incoming")).select("doc_id", "text"),
        docs.where(!col("incoming")).select("doc_id", "text"))
      Retrieval.savePostingsIndexOf(kept, ref)
      assert(
        Retrieval.bm25TopKFromIndex(spark, s"$work/bm25").collect().map(_.toString).toSeq ==
          Retrieval.bm25TopKFromIndex(spark, ref).collect().map(_.toString).toSeq,
        "the pipeline-built index diverged from a fresh build of the same batch")
    } finally { rm(new java.io.File(work)); rm(new java.io.File(ref)) }
  }

  test("a later day's batch appends; the earlier day's rows survive untouched") {
    val work = tmpDir("graft-daily-incr")
    try {
      Pipeline.runDaily(spark, dir, work, batchPct = 30)
      val afterDay1 = stored(work, "bm25", "dl").count()
      // day 2: a wider split — the extra docs are day 2's fresh batch,
      // day 1's docs replay straight into the guard
      val pqAfterDay1 = stored(work, "pq", "vectors").count()
      val booksDay1 = stored(work, "pq", "pqbook")
        .orderBy("j", "code").collect().map(_.toString).toSeq
      Pipeline.runDaily(spark, dir, work, batchPct = 60)
      val afterDay2 = stored(work, "bm25", "dl").count()
      assert(afterDay2 > afterDay1, "day 2's fresh docs never landed")
      val dl = stored(work, "bm25", "dl")
      assert(dl.count() == dl.select("doc_id").distinct().count(),
        "a replayed doc double-indexed across days")
      // the trained family: day 2 encodes its fresh vectors UNDER DAY
      // 1'S FROZEN BOOKS (no retrain — the codebook-drift contract),
      // and the replayed day-1 vectors hit the guard
      assert(stored(work, "pq", "vectors").count() > pqAfterDay1,
        "day 2's fresh vectors never reached the compressed artifact")
      assert(stored(work, "pq", "pqbook")
          .orderBy("j", "code").collect().map(_.toString).toSeq == booksDay1,
        "a later day RETRAINED the frozen PQ books")
      val pqv = stored(work, "pq", "vectors")
      assert(pqv.count() == pqv.select("vec_id").distinct().count(),
        "a replayed vector double-encoded across days")
    } finally rm(new java.io.File(work))
  }

  test("a day over artifacts written before the version log equals an untouched twin's") {
    val work = tmpDir("graft-daily-legacy")
    val twin = tmpDir("graft-daily-legacy-twin")
    try {
      for (d <- Seq(work, twin)) Pipeline.runDaily(spark, dir, d, batchPct = 30)
      // day 1's artifacts as an older build left them: the same stores,
      // no version log — day 2 must upgrade and append, never bootstrap
      for (a <- Seq("bm25", "images", "lsh", "pq", "fp"))
        rm(new java.io.File(s"$work/$a/_versions"))
      val reports = Seq(work, twin).map(Pipeline.runDaily(spark, dir, _, batchPct = 60))
      assert(reports.head == reports.last, "the upgraded day curated differently")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
      def state(d: String) = Seq(
        rows(Retrieval.bm25TopKFromIndex(spark, s"$d/bm25")),
        rows(ImageIndex.imageDupsFromIndex(spark, s"$d/images")),
        rows(LshIndex.lshTopKFromIndex(spark, s"$d/lsh")),
        rows(Similarity.pqTopKFromIndex(spark, s"$d/pq")),
        rows(stored(d, "pq", "pqbook")),
        rows(stored(d, "pq", "vectors").select("vec_id")),
        rows(stored(d, "fp", "fingerprints").select("doc_id", "fp")))
      val (upgraded, untouched) = (state(work), state(twin))
      for (((u, t), what) <- upgraded.zip(untouched).zip(Seq("bm25", "image dups", "lsh",
          "pq", "pq books", "pq vectors", "fingerprints")))
        assert(u == t, s"$what: the upgraded artifact diverged from the untouched twin")
    } finally { rm(new java.io.File(work)); rm(new java.io.File(twin)) }
  }

  test("a crash between the day-1 PQ codes and vectors writes converges on retry") {
    val work = tmpDir("graft-daily-pqcrash")
    try {
      Pipeline.runDaily(spark, dir, work)
      val codesBefore = stored(work, "pq", "codes")
        .orderBy("vec_id").collect().map(_.toString).toSeq
      // plant the window: savePqIndexOf writes vectors LAST
      // (coarse, subcents, pqbook, codes, vectors), so a crash there
      // leaves pqbook+codes on disk with the refine store absent — and
      // the build's version never published
      rm(new java.io.File(s"$work/pq/vectors"))
      rm(new java.io.File(s"$work/pq/_versions/0"))
      Pipeline.runDaily(spark, dir, work)
      // the retried day must re-run the BASE BUILD (the artifact has no
      // published version) — the append path's replay guard IS the
      // missing vectors store and would re-append every day-1 code row,
      // double-serving them in the ADC shortlist
      val codes = stored(work, "pq", "codes")
      assert(codes.count() == codes.select("vec_id").distinct().count(),
        "the retried day double-appended day-1 code rows")
      assert(codes.orderBy("vec_id").collect().map(_.toString).toSeq == codesBefore,
        "the deterministic retrain diverged from the first build")
      val pqv = stored(work, "pq", "vectors").select("vec_id")
      assert(pqv.join(codes.select("vec_id"), Seq("vec_id"), "left_anti").count() == 0 &&
          codes.select("vec_id").join(pqv, Seq("vec_id"), "left_anti").count() == 0,
        "refine store and codes store disagree after the recovered build")
    } finally rm(new java.io.File(work))
  }

  test("maintenance retrains drifted PQ codebooks exactly once") {
    val work = tmpDir("graft-daily-pqdrift")
    try {
      // day 1 trains the books on a SMALL bootstrap batch; day 2 grows
      // the corpus well past the growth trigger's 2× of that sample
      Pipeline.runDaily(spark, dir, work, batchPct = 10)
      Pipeline.runDaily(spark, dir, work, batchPct = 60)
      val booksBefore = stored(work, "pq", "pqbook")
        .orderBy("j", "code").collect().map(_.toString).toSeq
      val first = Pipeline.runMaintenance(spark, dir, work)
      assert(first.pqRetrain.isDefined,
        "a corpus at far past 2x the training sample did not retrain")
      assert(stored(work, "pq", "pqbook")
          .orderBy("j", "code").collect().map(_.toString).toSeq != booksBefore,
        "the 'retrain' kept the day-1 books")
      // the retrained artifact froze its own baseline: a second
      // maintenance run measures it and holds still
      val second = Pipeline.runMaintenance(spark, dir, work)
      assert(second.pqRetrain.isEmpty, "the retrained artifact re-tripped")
      assert(second.servedPq == first.servedPq)
    } finally rm(new java.io.File(work))
  }

  test("maintenance retires, compacts and serves; a second run changes nothing") {
    val work = tmpDir("graft-daily-maint")
    try {
      Pipeline.runDaily(spark, dir, work)
      val beforeBm25 = Retrieval.bm25TopKFromIndex(spark, s"$work/bm25")
        .collect().map(_.toString).toSeq
      val beforeLsh = LshIndex.lshTopKFromIndex(spark, s"$work/lsh")
        .collect().map(_.toString).toSeq
      val first = Pipeline.runMaintenance(spark, dir, work)
      assert(first.retiredDocs > 0)
      // non-vacuous: the retired set must actually change a served answer
      val afterLsh = LshIndex.lshTopKFromIndex(spark, s"$work/lsh")
        .collect().map(_.toString).toSeq
      assert(afterLsh != beforeLsh || Retrieval.bm25TopKFromIndex(spark, s"$work/bm25")
          .collect().map(_.toString).toSeq != beforeBm25,
        "maintenance retired nothing the artifacts held")
      // the tombstones committed: compaction deleted every set
      for (a <- Seq("bm25", "images", "lsh", "pq", "fp"))
        assert(!IdStore.latest(spark, s"$work/$a").has("tombstones"),
          s"$a compaction never committed")
      // the TRAINED family's retire actually reached the compressed
      // stores (codes + refine vectors both shrank past the expunge)
      assert(first.servedPq > 0, "the compressed artifact served nothing")
      assert(stored(work, "pq", "vectors")
          .join(stored(work, "pq", "codes").select("vec_id"),
            Seq("vec_id"), "left_anti").count() == 0,
        "pq refine store and codes store disagree after compaction")
      // geometry stayed on its plateau at gate scale — the regeom step
      // must be a measured NO-OP here, or maintenance would lose its
      // run-twice idempotence for free
      assert(first.lshRegeometry.isEmpty,
        s"an on-plateau artifact was rebuilt: ${first.lshRegeometry}")
      // idempotence INCLUDING the maintenance pass: same report, same
      // served relations, artifact by artifact
      def served() = (
        Retrieval.bm25TopKFromIndex(spark, s"$work/bm25")
          .collect().map(_.toString).toSeq,
        ImageIndex.imageDupsFromIndex(spark, s"$work/images")
          .collect().map(_.toString).toSeq,
        LshIndex.lshTopKFromIndex(spark, s"$work/lsh")
          .collect().map(_.toString).toSeq,
        Similarity.pqTopKFromIndex(spark, s"$work/pq")
          .collect().map(_.toString).toSeq)
      val servedFirst = served()
      val second = Pipeline.runMaintenance(spark, dir, work)
      assert(second == first, "a replayed maintenance run changed the report")
      assert(served() == servedFirst,
        "a replayed maintenance run changed a served relation")
      // and the daily job still replays cleanly AFTER maintenance: the
      // retired docs are gone, so the day's batch re-appends only them
      val day = Pipeline.runDaily(spark, dir, work)
      assert(day.keptDocs >= 0) // composes without error; guards intact
      val dl = stored(work, "bm25", "dl")
      assert(dl.count() == dl.select("doc_id").distinct().count(),
        "post-maintenance replay double-indexed a doc")
    } finally rm(new java.io.File(work))
  }
}
