package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Converter throughput components on a seeded, dirty lineitem-shaped
  * CSV (50k rows, ~6 MB) the spec writes into a temp dir, read in
  * 1 MiB splits so the scans run as several tasks. Timings are reported
  * with `info`, never asserted:
  *   sbt "testOnly graft.core.ThroughputScratchSpec"
  */
class ThroughputScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val dir = Files.createTempDirectory("throughput")
  private lazy val big = {
    val p = dir.resolve("lineitem.csv")
    LineitemCsv.write(p, rows = 50000, seed = 1)
    p.toString
  }
  private lazy val mb = new java.io.File(big).length / 1024.0 / 1024.0
  private lazy val schema = Inference.detectFile(spark, big, ',', 100)

  private def withSmallSplits[T](body: => T): T =
    TestSpark.withConf("spark.sql.files.maxPartitionBytes", s"${1024 * 1024}")(body)

  /** The best of three runs: one run of a few MiB is mostly JIT noise. */
  private def timed(label: String)(f: => Unit): Unit = {
    val s = Seq.fill(3) {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }.min
    info(f"$label: ${s * 1000}%.0f ms  (${mb / s}%.1f MiB/s)")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("throughput breakdown: Spark CSV scan, fused scan, fused scan + parquet write") {
    withSmallSplits {
      val raw = Converter.rawStringPlan(spark, big, schema, ',', multiLine = false)
      val projected =
        raw.select(schema.headers.zip(schema.types).map { case (h, t) => Converter.castColumn(h, t) }: _*)
      val fused = Converter.conversionPlan(spark, big, schema, ',', multiLine = false)
      timed("Spark CSV scan, all-string rows (noop)")(noop(raw))
      timed("Spark CSV scan + GoCast projection (noop)")(noop(projected))
      timed("fused CsvLineScan (noop)")(noop(fused))
      val out = dir.resolve("out.parquet").toString
      timed("fused CsvLineScan + parquet write")(fused.write.mode("overwrite").parquet(out))
      val conf = spark.sparkContext.hadoopConfiguration
      val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("part-")).sorted
        .map(n => new Path(out, n)).toSeq
      val merged = new Path(dir.resolve("merged.parquet").toString)
      timed(s"mergeParquetParts of the write's ${parts.size} parts") {
        merged.getFileSystem(conf).delete(merged, false)
        Converter.mergeParquetParts(conf, parts, merged)
      }
    }
  }

  test("codec/dictionary sweep: parquet write throughput") {
    withSmallSplits {
      val cast = Converter.conversionPlan(spark, big, schema, ',', multiLine = false)
      noop(cast) // warm the scan path so the first codec isn't penalized
      val variants = Seq(
        ("snappy", true), ("snappy", false),
        ("zstd", true), ("zstd", false),
        ("lz4", true), ("uncompressed", true))
      variants.foreach { case (codec, dict) =>
        val out = dir.resolve(s"codec_${codec}_$dict.parquet").toString
        val t0 = System.nanoTime()
        cast.write.mode("overwrite")
          .option("compression", codec)
          .option("parquet.enable.dictionary", dict.toString)
          .parquet(out)
        val s = (System.nanoTime() - t0) / 1e9
        val outMb = TestSpark.dirBytes(new java.io.File(out)) / 1024.0 / 1024.0
        info(f"$codec dict=$dict: ${s * 1000}%.0f ms  (${mb / s}%.1f MiB/s in, $outMb%.1f MiB out)")
      }
    }
  }
}
