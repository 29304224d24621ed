package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{LshIndex, FingerprintIndex, Tables, Similarity}

/** Measures the delta-proportional replay guard against the r14
  * full-store form it replaced, on a real artifact at the given scale:
  * for delta sizes from a streaming micro-batch to a nightly 1 %, time
  * (a) the pruned guard anti-join (production) and (b) the unpruned
  * full-store anti-join (the old code's shape), plus one end-to-end
  * replay-guarded append. The prune factor is the delta's id-bucket
  * occupancy (≈ 1 − e^(−d/B) of the store read), so micro-batch admits
  * win big and corpus-scale deltas degrade gracefully to the old cost.
  *
  * Usage: runMain graft.tools.AppendGuardProbe <sfDir> <scratchDir>
  */
object AppendGuardProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.configure(spark)

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val unit = Similarity.unitEmbeddings(spark, sfDir)
    val n = unit.count()
    println(s"[probe] corpus vectors: $n")
    val lsh = s"$out/lsh"
    t(s"saveLshIndexOf(${n} vectors)") {
      LshIndex.saveLshIndexOf(unit, lsh)
    }
    for (d <- Seq(8L, 64L, n / 100)) {
      val delta = unit.where(pmod(col("vec_id") * lit(104729L), lit(n)) < d)
        .cache()
      val dn = delta.count()
      t(s"LSH pruned guard      (delta=$dn)") {
        delta.join(LshIndex.store.heldIds(spark, lsh, delta),
          Seq("vec_id"), "left_anti").count()
      }
      t(s"LSH full-store guard  (delta=$dn)") {
        delta.join(spark.read.parquet(s"$lsh/vectors").select("vec_id"),
          Seq("vec_id"), "left_anti").count()
      }
      delta.unpersist(blocking = false)
    }
    t("replayed appendLshDelta (1% delta, end to end)") {
      LshIndex.appendLshDelta(
        unit.where(pmod(col("vec_id") * lit(104729L), lit(n)) < n / 100), lsh)
    }

    // the fingerprint guard: same shapes over the documents store
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nd = docs.count()
    val fp = s"$out/fp"
    t(s"saveFingerprintIndexOf(${nd} docs)") {
      FingerprintIndex.saveFingerprintIndexOf(docs, fp)
    }
    for (d <- Seq(8L, nd / 100)) {
      val delta = docs.where(pmod(col("doc_id") * lit(104729L), lit(nd)) < d)
      val deltaFps = delta.select(col("doc_id"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp")).cache()
      val dn = deltaFps.count()
      t(s"FP pruned guard       (delta=$dn)") {
        deltaFps.join(FingerprintIndex.store.heldIds(spark, fp, deltaFps),
          Seq("doc_id"), "left_anti").count()
      }
      t(s"FP full-store guard   (delta=$dn)") {
        deltaFps.join(spark.read.parquet(s"$fp/fingerprints").select("doc_id"),
          Seq("doc_id"), "left_anti").count()
      }
      deltaFps.unpersist(blocking = false)
    }
    spark.stop()
  }
}
