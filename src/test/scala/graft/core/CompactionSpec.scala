package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Compaction contract: fewer files, identical content, identical row
  * groups (the zero-decode proof — a re-encode could legally change
  * group boundaries; a byte-level append cannot), order preserved, and
  * fail-fast on mixed schemas. */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-compact-$tag").toString

  private def rowGroups(dir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(s.getPath, conf))
      try r.getFooter.getBlocks.size.toLong finally r.close()
    }.sum
  }

  test("compaction packs many small files into few, preserving content and row groups") {
    val in = tmpDir("in"); val out = tmpDir("out")
    val df = spark.range(0, 10000).select(col("id"),
      concat(lit("row-"), col("id")).as("payload"))
    df.repartition(23).write.mode("overwrite").parquet(in)
    val nIn = new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nIn == 23)
    val groupsIn = rowGroups(in)

    val sum = Compaction.compactParquet(spark, in, out, targetBytes = 64 * 1024)
    assert(sum.filesIn == 23 && sum.rows == 10000)
    assert(sum.filesOut < sum.filesIn, s"expected fewer files, got ${sum.filesOut}")
    // zero-decode: row groups are moved, never re-formed, with their
    // column and offset indexes
    assert(rowGroups(out) == groupsIn)
    val conf = spark.sparkContext.hadoopConfiguration
    val chunks = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      .flatMap(f => MergeParquetPartsSpec.indexes(conf, new org.apache.hadoop.fs.Path(f.toString)).flatten)
    assert(chunks.size == 2 * groupsIn)
    assert(chunks.forall { case (ci, oi) => ci.isDefined && oi.isDefined })
    // content identity
    val back = spark.read.parquet(out)
    assert(back.count() == 10000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("an oversized input becomes its own output, never split") {
    val in = tmpDir("in2"); val out = tmpDir("out2")
    spark.range(0, 50000).select(col("id"), md5(col("id").cast("string")).as("h"))
      .repartition(2).write.mode("overwrite").parquet(in)
    // target far below any single file: every input must map 1:1
    val sum = Compaction.compactParquet(spark, in, out, targetBytes = 1)
    assert(sum.filesOut == sum.filesIn)
    assert(spark.read.parquet(out).count() == 50000)
  }

  test("mixed schemas fail fast with a diagnostic") {
    val in = tmpDir("in3"); val out = tmpDir("out3")
    spark.range(0, 10).write.mode("overwrite").parquet(in)
    spark.range(0, 10).select(col("id"), lit("x").as("extra"))
      .write.mode("append").parquet(in)
    val e = intercept[IllegalArgumentException] {
      Compaction.compactParquet(spark, in, out)
    }
    assert(e.getMessage.contains("schema mismatch"))
  }
}
