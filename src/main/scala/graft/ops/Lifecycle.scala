package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted index family's write API: its id column, the corpus
  * relation its gates build from, and its build, append, tombstone and
  * compact, bound to the family's own functions. `name` carries the
  * build config, so memo keys of differently configured artifacts never
  * collide. */
private[graft] final case class IndexFamily(
    name: String,
    id: String,
    corpus: (SparkSession, String) => DataFrame,
    build: (DataFrame, String) => Unit,
    append: (DataFrame, String) => Unit,
    tombstone: (DataFrame, String) => Unit,
    compact: (SparkSession, String) => Unit)

private[graft] object IndexFamily {
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Similarity.unitEmbeddings(spark, dir)

  val bm25 = IndexFamily("bm25", "doc_id", docs, Retrieval.savePostingsIndexOf,
    Retrieval.appendPostingsDelta, Retrieval.tombstoneDocs, Retrieval.compactPostings)

  val image = IndexFamily("image", "doc_id", docs,
    (d, out) => ImageIndex.saveImageHashIndexOf(Multimodal.imageHashesOf(d), out),
    ImageIndex.appendImageHashDelta, ImageIndex.tombstoneImages,
    ImageIndex.compactImageHashIndex)

  val lsh = IndexFamily("lsh", "vec_id", vecs, LshIndex.saveLshIndexOf(_, _),
    LshIndex.appendLshDelta(_, _), LshIndex.tombstoneVectors, LshIndex.compactLshIndex)

  val fingerprint = IndexFamily("fp", "doc_id", docs,
    FingerprintIndex.saveFingerprintIndexOf, FingerprintIndex.appendFingerprintDelta,
    FingerprintIndex.tombstoneDocs, FingerprintIndex.compactFingerprintIndex)

  def ivf(nCentroids: Int): IndexFamily = IndexFamily(s"ivf:$nCentroids", "vec_id", vecs,
    Similarity.saveIvfIndexOf(_, _, nCentroids), Similarity.appendIvfDelta,
    Similarity.tombstoneVectors, Similarity.compactIvfIndex)

  def twoLevel(nCoarse: Int, nSub: Int): IndexFamily =
    IndexFamily(s"ivf2:$nCoarse:$nSub", "vec_id", vecs,
      Similarity.saveTwoLevelIndexOf(_, _, nCoarse, nSub), Similarity.appendTwoLevelDelta,
      Similarity.tombstoneVectors, Similarity.compactTwoLevelIndex)

  def pq(nCoarse: Int = 8, nSub: Int = 4, m: Int = 8, k: Int = 64): IndexFamily =
    IndexFamily(s"pq:$nCoarse:$nSub:$m:$k", "vec_id", vecs,
      Similarity.savePqIndexOf(_, _, nCoarse, nSub, m, k), Similarity.appendPqDelta,
      Similarity.tombstoneVectors, Similarity.compactPqIndex)
}

/** The q96 split rules and the one script every lifecycle gate runs.
  *
  * The rules are the oracle SQL's own, as hash buckets of the id in
  * [0, 100): an id is in the delta when its [[Lifecycle.bucket]] is
  * under [[Lifecycle.DeltaPct]], in the delete set when its
  * [[Lifecycle.deleteBucket]] is under [[Lifecycle.DeletePct]], and a
  * deleted id re-appends when its [[Lifecycle.reappendBucket]] is under
  * [[Lifecycle.ReappendPct]]. Exact int64 arithmetic, so every engine
  * and partitioning picks the same ids.
  *
  * The script runs a family through an ordered subset of the steps:
  * build the base (the non-delta ids when [[Lifecycle.Append]] is in the
  * subset, every id otherwise), append the delta, tombstone the delete
  * set, re-append the deleted ids the re-append rule picks
  * (resurrection), compact. A new lifecycle step is added here, once,
  * for every family. */
private[graft] object Lifecycle {
  val DeltaPct = 30
  val DeletePct = 10
  val ReappendPct = 50

  /** The q96 bucket: a multiplicative hash, also the sampling bucket. */
  def bucket(id: Column): Column = pmod(id * lit(2654435761L), lit(100))

  def deleteBucket(id: Column): Column = pmod(id * lit(7919L), lit(100))

  def reappendBucket(id: Column): Column = pmod(id * lit(104729L), lit(100))

  sealed trait Step
  case object Append extends Step
  case object Tombstone extends Step
  case object Reappend extends Step
  case object Compact extends Step

  /** The order the script runs any subset in. */
  val Steps: Seq[Step] = Seq(Append, Tombstone, Reappend, Compact)

  /** Run `family` over `rows` (its id column plus what its build reads)
    * through `steps`, writing the artifact at `out`. */
  def run(family: IndexFamily, rows: DataFrame, steps: Set[Step], out: String): Unit = {
    val id = col(family.id)
    val delta = bucket(id) < DeltaPct
    val deleted = deleteBucket(id) < DeletePct
    family.build(if (steps(Append)) rows.where(!delta) else rows, out)
    Steps.filter(steps).foreach {
      case Append => family.append(rows.where(delta), out)
      case Tombstone => family.tombstone(rows.where(deleted).select(id), out)
      case Reappend =>
        family.append(rows.where(deleted && reappendBucket(id) < ReappendPct), out)
      case Compact => family.compact(rows.sparkSession, out)
    }
  }

  /** The memo key suffix of a step subset, in script order. */
  def key(steps: Set[Step]): String =
    Steps.filter(steps).map(_.toString.toLowerCase).mkString("+")

  /** The session's artifact of `family`'s corpus at `dir` run through
    * `steps`, built once per (session, corpus, family config, steps). */
  private[ops] def artifact(memo: TempArtifacts, family: IndexFamily,
      spark: SparkSession, dir: String, steps: Step*): String =
    memo.getOrCreate(spark, s"$dir#lifecycle:${family.name}:${key(steps.toSet)}")(
      run(family, family.corpus(spark, dir), steps.toSet, _))
}
