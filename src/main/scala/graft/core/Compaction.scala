package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Zero-decode small-file compaction for parquet directories — the
  * operational answer to the classic landing-zone problem: a streaming
  * sink or many-task write leaves thousands of KB-sized part files, and
  * every later scan pays a task per file. Compaction bin-packs the parts
  * into ~`targetBytes` outputs using the SAME row-group append the
  * single-file converter sink uses ([[Converter.mergeParquetParts]]:
  * `ParquetFileWriter.appendColumnChunk` per column chunk): column chunks
  * are copied as raw bytes with offsets rebased, and their column and
  * offset indexes and bloom filters carried along — no decode, no
  * re-encode, no Spark job. Cost is a byte copy of the data, independent
  * of schema width or row count semantics.
  *
  * Packing is first-fit over the name-sorted part list (name order =
  * write order for Spark part files), so row order within each output
  * and across the sorted output sequence matches a sequential read of
  * the inputs — compaction is invisible to order-insensitive readers and
  * order-stable for sorted ones. Every input lands in exactly one
  * output; an input larger than `targetBytes` becomes its own output
  * (never split — splitting a row group would mean decoding).
  *
  * Fails fast when part schemas differ (the append API requires
  * identical physical schemas — mixed-schema directories are a schema
  * EVOLUTION problem, q87's report territory, not a compaction one).
  *
  * Verification is footer-only: the summed row counts of outputs must
  * equal the inputs' — the zero-decode analog of the converter's
  * post-write check (O13).
  */
object Compaction {

  final case class CompactSummary(filesIn: Int, filesOut: Int,
      bytesIn: Long, bytesOut: Long, rows: Long)

  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactSummary = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new Path(inDir)
    val fs = in.getFileSystem(conf)
    val parts = fs.listStatus(in)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .toSeq
    require(parts.nonEmpty, s"no parquet part files under $inDir")

    // footer pass: schemas must agree; collect per-file row counts
    import scala.jdk.CollectionConverters._
    val options = ParquetFiles.options(conf)
    val footers = parts.map { s =>
      ParquetFiles.read(s.getPath, conf, options) { (r, _) =>
        (s, r.getFooter.getFileMetaData.getSchema, r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      }
    }
    val schema0 = footers.head._2
    footers.find(_._2 != schema0).foreach { case (s, sch, _) =>
      throw new IllegalArgumentException(
        s"schema mismatch under $inDir: ${s.getPath.getName} has $sch, " +
          s"${parts.head.getPath.getName} has $schema0 — compaction requires one " +
          "physical schema (mixed directories are a schema-evolution problem)")
    }
    val totalRows = footers.map(_._3).sum

    // first-fit over name order: sequential bins, >=1 file per bin
    val bins = footers.foldLeft(Vector.empty[Vector[(org.apache.hadoop.fs.FileStatus, Long)]]) {
      case (acc, (s, _, _)) =>
        val entry = (s, s.getLen)
        acc.lastOption match {
          case Some(bin) if bin.map(_._2).sum + s.getLen <= targetBytes =>
            acc.init :+ (bin :+ entry)
          case _ => acc :+ Vector(entry)
        }
    }

    val out = new Path(outDir)
    val outFs = out.getFileSystem(conf)
    if (outFs.exists(out)) outFs.delete(out, true)
    outFs.mkdirs(out)
    val width = math.max(5, bins.size.toString.length)
    bins.zipWithIndex.foreach { case (bin, i) =>
      val dst = new Path(out, s"part-${i.toString.reverse.padTo(width, '0').reverse}.parquet")
      if (bin.size == 1)
        org.apache.hadoop.fs.FileUtil.copy(fs, bin.head._1.getPath, outFs, dst,
          false, true, conf)
      else
        Converter.mergeParquetParts(conf, bin.map(_._1.getPath), dst)
    }

    // footer-only verification: output rows must equal input rows
    val outParts = outFs.listStatus(out).filter(_.getPath.getName.endsWith(".parquet"))
    val outRows = ParquetFiles.rowCount(out, conf)
    if (outRows != totalRows)
      throw new IllegalStateException(
        s"compaction row-count mismatch: in=$totalRows out=$outRows under $outDir")
    CompactSummary(parts.size, outParts.length,
      parts.map(_.getLen).sum, outParts.map(_.getLen).sum, totalRows)
  }
}
