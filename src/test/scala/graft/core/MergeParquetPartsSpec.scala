package graft.core

import java.net.URI
import java.nio.ByteBuffer
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The single-file merge ([[Converter.mergeParquetParts]]) of one
  * conversion's parts: the merged file holds the parts' rows in name
  * order, the first part's key-value metadata, and every column chunk's
  * column and offset index as its part wrote them; each part is opened
  * once. */
class MergeParquetPartsSpec extends AnyFunSuite {
  import MergeParquetPartsSpec._

  private lazy val spark = TestSpark.spark
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val dir = Files.createTempDirectory("merge")
  private lazy val csv = {
    val p = dir.resolve("lineitem.csv")
    LineitemCsv.write(p, rows = 20000, seed = 5)
    p.toString
  }
  private lazy val schema = Inference.detectFile(spark, csv, ',', 100)

  private def withSmallSplits[T](body: => T): T =
    TestSpark.withConf("spark.sql.files.maxPartitionBytes", s"${512 * 1024}")(body)

  /** One conversion's parts, in name (= split) order. */
  private lazy val parts: Seq[Path] = {
    val out = dir.resolve("parts").toString
    withSmallSplits {
      Converter.conversionPlan(spark, csv, schema, ',', multiLine = false).write.parquet(out)
    }
    new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("part-")).sorted
      .map(n => new Path(out, n)).toSeq
  }

  /** A file's rows in file order: one split covers the whole file. */
  private def rows(p: Path): Seq[Row] =
    TestSpark.withConf("spark.sql.files.maxPartitionBytes", s"${1L << 30}") {
      spark.read.parquet(p.toString).collect().toSeq
    }

  private def merged(name: String, from: Seq[Path] = parts): Path = {
    val m = new Path(dir.resolve(name).toString)
    Converter.mergeParquetParts(conf, from, m)
    m
  }

  test("the merged file is the parts' rows in name order, their metadata and their page indexes") {
    assert(parts.size >= 3, parts)
    val m = merged("merged.parquet")
    assert(rows(m) == parts.flatMap(rows))

    assert(footer(conf, m).getFileMetaData.getKeyValueMetaData ==
      footer(conf, parts.head).getFileMetaData.getKeyValueMetaData)

    val want = parts.flatMap(indexes(conf, _))
    val got = indexes(conf, m)
    assert(got.size == want.size && got.size >= parts.size)
    assert(got.flatten.forall { case (ci, oi) => ci.isDefined && oi.isDefined },
      "a merged column chunk without a column or offset index")
    assert(got == want)
  }

  test("a conversion's single file keeps every chunk's page indexes") {
    val out = dir.resolve("converted").toString
    val r = withSmallSplits {
      Converter.convertFile(spark, csv, GraftConfig(input = csv, output = out, deleteOriginal = false))
    }
    assert(r.ok, r.error)
    val single = new Path(r.outputFile)
    val chunks = indexes(conf, single).flatten
    assert(chunks.size >= 3 * schema.headers.size)
    assert(chunks.forall { case (ci, oi) => ci.isDefined && oi.isDefined })
    assert(rows(single) == parts.flatMap(rows))
  }

  test("each part is opened once per merge") {
    val counting = new Configuration(conf)
    counting.set("fs.counting.impl", classOf[OpenCountingFs].getName)
    counting.setBoolean("fs.counting.impl.disable.cache", true)
    val from = parts.map(p => new Path(s"counting://${p.toUri.getPath}"))
    OpenCountingFs.opens.synchronized(OpenCountingFs.opens.clear())
    val m = new Path(dir.resolve("counted.parquet").toString)
    Converter.mergeParquetParts(counting, from, m)
    assert(OpenCountingFs.opens.synchronized(OpenCountingFs.opens.toMap) == parts.map(_.getName -> 1).toMap)
    assert(rows(m) == parts.flatMap(rows))
  }
}

object MergeParquetPartsSpec {

  /** A column index as comparable values. */
  final case class ColumnIndexValues(nullPages: Seq[Boolean], nullCounts: Seq[Long],
      min: Seq[Seq[Byte]], max: Seq[Seq[Byte]], order: String)

  private def bytes(b: ByteBuffer): Seq[Byte] = {
    val d = b.duplicate()
    val a = new Array[Byte](d.remaining)
    d.get(a)
    a.toSeq
  }

  def footer(conf: Configuration, p: Path): org.apache.parquet.hadoop.metadata.ParquetMetadata =
    ParquetFiles.read(p, conf, ParquetFiles.options(conf))((r, _) => r.getFooter)

  /** Per row group, per column chunk: its column index and its offset
    * index as (page offset from the chunk's start, compressed size,
    * first row), `None` where the chunk has none. */
  def indexes(conf: Configuration, p: Path): Seq[Seq[(Option[ColumnIndexValues], Option[Seq[(Long, Int, Long)]])]] =
    ParquetFiles.read(p, conf, ParquetFiles.options(conf)) { (r, _) =>
      r.getFooter.getBlocks.asScala.toSeq.map(_.getColumns.asScala.toSeq.map { c =>
        val ci = Option(r.readColumnIndex(c)).map { i =>
          ColumnIndexValues(i.getNullPages.asScala.map(_.booleanValue).toSeq,
            Option(i.getNullCounts).map(_.asScala.map(_.longValue).toSeq).getOrElse(Nil),
            i.getMinValues.asScala.map(bytes).toSeq, i.getMaxValues.asScala.map(bytes).toSeq,
            i.getBoundaryOrder.toString)
        }
        val oi = Option(r.readOffsetIndex(c)).map { o =>
          (0 until o.getPageCount).map(k =>
            (o.getOffset(k) - c.getStartingPos, o.getCompressedPageSize(k), o.getFirstRowIndex(k)))
        }
        (ci, oi)
      })
    }
}

/** The local file system under the `counting` scheme, counting opens by
  * file name. */
class OpenCountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("counting:///")
  override def getScheme: String = "counting"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountingFs.opens.synchronized(OpenCountingFs.opens(f.getName) = OpenCountingFs.opens.getOrElse(f.getName, 0) + 1)
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opens: mutable.Map[String, Int] = mutable.Map.empty
}
