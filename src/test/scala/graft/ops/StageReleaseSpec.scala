package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The long-lived-session memory discipline: [[StageRegistry]] must drop
  * every resident stage for the session (returning storage memory to the
  * pool) and the next query must transparently rebuild. The 100x
  * full-surface bench measured exactly this failure mode — session
  * stages accumulating until the shared heap thrashed (BASELINE.md,
  * BENCH_100X_r05.json). */
class StageReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("releaseSession drops dedup + LSH stages and the next use rebuilds") {
    // make every registry resident
    Dedup.confirmedPairs(spark, dir).count()            // pairs + minhash + simhash
    Similarity.lshTopK(spark, dir, nQueries = 5).count() // lsh signature stage
    val released = StageRegistry.releaseSession(spark)
    assert(released >= 4,
      s"expected >=4 resident stages (pairs, minhash, simhash, lshSig), released $released")

    // released stages rebuild on next use instead of serving a dead hit
    val pb = Dedup.pairsBuilds.get(); val lb = Similarity.lshSigBuilds.get()
    Dedup.confirmedPairs(spark, dir).count()
    Similarity.lshTopK(spark, dir, nQueries = 5).count()
    assert(Dedup.pairsBuilds.get() === pb + 1, "pair stage should rebuild after release")
    assert(Similarity.lshSigBuilds.get() === lb + 1, "LSH stage should rebuild after release")

    // idempotent: nothing left for a second release of the same session
    // beyond what the rebuilds above just re-registered
    assert(StageRegistry.releaseSession(spark) >= 2)
    assert(StageRegistry.releaseSession(spark) === 0)
  }

  test("a family's release leaves no memo slot over the artifact dirs it deletes") {
    StageRegistry.releaseSession(spark)
    Similarity.pqTopKPersisted(spark, dir, nQueries = 20).count()
    def gone = StoreMemo.slotsOf(spark).keySet.filterNot(p => new java.io.File(p).exists)
    val artifacts = StoreMemo.slotsOf(spark).keySet
      .filter(p => new java.io.File(p).getName.startsWith("graft-pq-index"))
    assert(artifacts.nonEmpty, "the persisted PQ serve memoized nothing: the check is vacuous")
    Similarity.releaseStages(spark)
    assert(artifacts.forall(p => !new java.io.File(p).exists), "the release kept the PQ artifact")
    assert(gone.isEmpty, s"memo slots name deleted dirs: ${gone.mkString(", ")}")
    assert(StageRegistry.releaseSession(spark) >= 1)
    assert(StageRegistry.releaseSession(spark) === 0)
  }

  test("the span family shares ONE winnow stage build, released via the registry") {
    TextAnalysis.releaseStages(spark)
    val b0 = TextAnalysis.winnowBuilds.get()
    TextAnalysis.dupSpans(spark, dir).count()
    TextAnalysis.dupSpanPairs(spark, dir).count()
    assert(TextAnalysis.winnowBuilds.get() === b0 + 1,
      "q103 + q105 should serve from one winnow stage build")
    assert(StageRegistry.releaseSession(spark) >= 1)
    TextAnalysis.dupSpans(spark, dir).count()
    assert(TextAnalysis.winnowBuilds.get() === b0 + 2,
      "winnow stage should rebuild after release")
    TextAnalysis.releaseStages(spark)
  }
}
