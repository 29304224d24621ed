package graft.core

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, StandardCharsets}

import com.univocity.parsers.common.TextParsingException
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.util.DropMalformedMode
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, OutputWriterFactory,
  PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Read-only line-mode CSV source that parses and casts each line in one
  * pass over its bytes (the converter's data pass when `multiLine` is
  * off; the idea of *Instant Loading*, Mühlbauer et al., PVLDB 2013).
  *
  * It returns what Spark's line-mode CSV scan under the converter's
  * options (`Converter.csvOptions`) followed by the [[Converter.castColumn]]
  * projection returns, row for row, without the all-string row between
  * them. Each cell is cast by the kernels `GoCast` calls, in its order:
  * `GoParse.trimSpaceUtf8`, then `parse{Long,Double,Bool}BoxedUtf8`, and
  * empty → null for strings; the column's type in the data schema picks
  * the kernel.
  *
  * A line is tokenized over its `Text` bytes only when it is valid UTF-8
  * and RFC-shaped: every field is unquoted (not starting with `"`; a `"`
  * inside it is literal, as univocity reads it), or wholly quoted with
  * only doubled `""` inside and its closing quote right before the
  * delimiter or the end of the line. Every other line (lazy quotes,
  * invalid UTF-8) is decoded as UTF-8 and tokenized by the univocity
  * parser Spark itself builds from the same options, so no second
  * grammar exists for them. The rest follows Spark's line mode: lines
  * come from `HadoopFileLinesReader` (same split boundaries and codecs),
  * lines of bytes ≤ 0x20 only are skipped, the first other line is the
  * header only in the split at offset 0, and a line whose field count is not
  * the schema width is dropped (DROPMALFORMED) — whatever columns the
  * query requires, unlike Spark's CSV column pruning, which skips that
  * check when none are.
  *
  * One divergence from Spark, on the reference's side: a line with more
  * fields than univocity's `maxColumns` (20480) is dropped as ragged,
  * as Go's reader skips it, where Spark's line mode fails the task. The
  * byte path never hands a ragged line to univocity, and the fallback
  * drops a line on which univocity hits its column limit.
  *
  * Rows share one `UnsafeRowWriter`: the iterator advances in `hasNext`,
  * never in `next()`. Without partition columns they reach the sink
  * uncopied.
  */
class CsvLineScan extends TextBasedFileFormat with DataSourceRegister {

  override def shortName(): String = "csvline"

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = None

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("csvline is a read-only source")

  override def buildReader(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val csv = new CSVOptions(options, false, getSqlConf(spark).sessionLocalTimeZone)
    require(!csv.multiLine && csv.parseMode == DropMalformedMode && csv.nullValue.isEmpty &&
      csv.quote == '"' && csv.escape == '"' &&
      csv.charset == StandardCharsets.UTF_8.name && csv.lineSeparatorInRead.isEmpty &&
      !csv.isCommentSet && !csv.ignoreLeadingWhiteSpaceInRead && !csv.ignoreTrailingWhiteSpaceInRead,
      s"csvline reads only the converter's line-mode CSV options, got $options")
    val conf = spark.sparkContext.broadcast(new CsvLineScan.SerializableConf(hadoopConf))
    val kinds = dataSchema.map(f => CsvLineScan.kindOf(f.dataType)).toArray
    val ordinals = dataSchema.map(f => requiredSchema.fieldNames.indexOf(f.name)).toArray
    val width = requiredSchema.length
    file => new CsvLineScan.Rows(file, conf.value.conf, csv, kinds, ordinals, width)
  }

  /** Without partition columns, [[buildReader]]'s rows as they are: they
    * are already `UnsafeRow`s of the required schema, and the default
    * would copy each into a second one. */
  override def buildReaderWithPartitionValues(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    if (partitionSchema.isEmpty)
      buildReader(spark, dataSchema, partitionSchema, requiredSchema, filters, options, hadoopConf)
    else
      super.buildReaderWithPartitionValues(spark, dataSchema, partitionSchema, requiredSchema, filters,
        options, hadoopConf)

  override def toString: String = "CsvLine"
  // equal by class, like CSVFileFormat: two scans of one file are one
  // relation to the cache manager
  override def hashCode(): Int = getClass.hashCode()
  override def equals(other: Any): Boolean = other.isInstanceOf[CsvLineScan]
}

object CsvLineScan {
  private final val Quote = '"'.toByte
  /** `tokenize` result for a line the fast path does not take. */
  private final val NotRfc = -1

  private final val KString = 0
  private final val KLong = 1
  private final val KDouble = 2
  private final val KBool = 3

  private def kindOf(t: DataType): Int = t match {
    case LongType => KLong
    case DoubleType => KDouble
    case BooleanType => KBool
    case _: StringType => KString
    case other => throw new IllegalArgumentException(s"csvline cannot cast to $other")
  }

  private final class SerializableConf(@transient var conf: Configuration) extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = conf.write(out)
    private def readObject(in: ObjectInputStream): Unit = {
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }

  /** One split's rows. `kinds(i)` is data column i's cast, `ordinals(i)`
    * its position in the output row (-1: not required). */
  private final class Rows(file: PartitionedFile, conf: Configuration, csv: CSVOptions,
      kinds: Array[Int], ordinals: Array[Int], width: Int) extends Iterator[InternalRow] {
    private val lines = new HadoopFileLinesReader(file, None, conf)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
    private lazy val univocity = new CsvParser(csv.asParserSettings)
    /** The delimiter byte, or -1 when the fast path cannot split on one
      * byte (multi-char, non-ASCII or quote delimiter). */
    private val delim: Int = csv.delimiter match {
      case d if d.length == 1 && d.charAt(0) < 0x80 && d.charAt(0) != '"' => d.charAt(0).toInt
      case _ => -1
    }
    private val n = kinds.length
    // field i of the current line is bytes [starts(i), ends(i)); slot n
    // absorbs a ragged line's extra fields
    private val starts = new Array[Int](n + 1)
    private val ends = new Array[Int](n + 1)
    private val escaped = new Array[Boolean](n + 1)
    private var unescaped = new Array[Byte](64)
    private val utf8 = StandardCharsets.UTF_8.newDecoder() // reports malformed input
    private val writer = new UnsafeRowWriter(width)
    private var header = csv.headerFlag && file.start == 0
    private var ready = false

    override def hasNext: Boolean = ready || { ready = advance(); ready }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of split")
      ready = false
      writer.getRow
    }

    /** Write the next kept line into `writer`; false at the split's end. */
    private def advance(): Boolean = {
      while (lines.hasNext) {
        val line = lines.next()
        val b = line.getBytes
        val len = line.getLength
        if (!blank(b, len)) {
          if (header) header = false
          else if (parse(b, len)) return true
        }
      }
      false
    }

    /** Spark's `line.trim.isEmpty`: no byte above 0x20. */
    private def blank(b: Array[Byte], len: Int): Boolean = {
      var i = 0
      while (i < len) { if ((b(i) & 0xff) > 0x20) return false; i += 1 }
      true
    }

    /** One data line into `writer`; false when the line is dropped. */
    private def parse(b: Array[Byte], len: Int): Boolean = {
      val fields = if (delim < 0) NotRfc else tokenize(b, len)
      if (fields == NotRfc) return parseFallback(b, len)
      if (fields != n) return false // ragged, however wide
      writer.reset()
      writer.zeroOutNullBytes()
      var i = 0
      while (i < n) {
        if (ordinals(i) >= 0) cast(ordinals(i), kinds(i), cell(b, i))
        i += 1
      }
      true
    }

    /** Field bounds of an RFC-shaped, valid UTF-8 line into
      * `starts`/`ends`/`escaped`; the field count, or [[NotRfc]]. */
    private def tokenize(b: Array[Byte], len: Int): Int = {
      var pos = 0
      var f = 0
      var high = 0 // negative once any byte is >= 0x80
      var more = true
      while (more) {
        var start = pos
        var end = pos
        var esc = false
        if (pos < len && b(pos) == Quote) {
          var j = pos + 1
          var open = true
          while (open) {
            if (j >= len) return NotRfc
            val c = b(j)
            if (c != Quote) { high |= c; j += 1 }
            else if (j + 1 < len && b(j + 1) == Quote) { esc = true; j += 2 }
            else open = false
          }
          start = pos + 1
          end = j
          pos = j + 1
          if (pos < len && b(pos) != delim) return NotRfc
        } else {
          // a quote inside an unquoted field is literal, as univocity reads it
          while (pos < len && b(pos) != delim) {
            high |= b(pos)
            pos += 1
          }
          end = pos
        }
        val slot = math.min(f, n)
        starts(slot) = start
        ends(slot) = end
        escaped(slot) = esc
        f += 1
        more = pos < len
        pos += 1 // the delimiter
      }
      if (high < 0 && !validUtf8(b, len)) NotRfc else f
    }

    /** Decodes without a replacement character: the bytes survive the
      * decode→re-encode Spark's line mode puts every line through. */
    private def validUtf8(b: Array[Byte], len: Int): Boolean =
      try { utf8.decode(ByteBuffer.wrap(b, 0, len)); true }
      catch { case _: CharacterCodingException => false }

    /** Field i's bytes, quotes collapsed; null when empty. */
    private def cell(b: Array[Byte], i: Int): UTF8String = {
      val s = starts(i)
      val e = ends(i)
      if (s == e) null
      else if (!escaped(i)) UTF8String.fromBytes(b, s, e - s)
      else {
        if (unescaped.length < e - s) unescaped = new Array[Byte](e - s)
        var j = s
        var k = 0
        while (j < e) { // every quote inside is doubled
          unescaped(k) = b(j)
          k += 1
          j += (if (b(j) == Quote) 2 else 1)
        }
        UTF8String.fromBytes(unescaped, 0, k)
      }
    }

    /** Spark's path for a line the fast path does not take: decode,
      * univocity tokens, DROPMALFORMED on a width mismatch, nullValue ""
      * → null, then the same casts. */
    private def parseFallback(b: Array[Byte], len: Int): Boolean = {
      val tokens =
        try univocity.parseLine(new String(b, 0, len, StandardCharsets.UTF_8))
        catch { // more fields than `maxColumns`: ragged, not a failed task
          case e: TextParsingException if e.getCause.isInstanceOf[ArrayIndexOutOfBoundsException] => null
        }
      if (tokens == null || tokens.length != n) return false
      writer.reset()
      writer.zeroOutNullBytes()
      var i = 0
      while (i < n) {
        val t = tokens(i)
        if (ordinals(i) >= 0)
          cast(ordinals(i), kinds(i), if (t == null || t.isEmpty) null else UTF8String.fromString(t))
        i += 1
      }
      true
    }

    /** `GoCast`'s cell cast: trim, then the column type's Go parse. */
    private def cast(o: Int, kind: Int, raw: UTF8String): Unit = {
      if (raw == null) { writer.setNullAt(o); return }
      val v = GoParse.trimSpaceUtf8(raw)
      kind match {
        case KLong =>
          val x = GoParse.parseLongBoxedUtf8(v)
          if (x == null) writer.setNullAt(o) else writer.write(o, x.longValue)
        case KDouble =>
          val x = GoParse.parseDoubleBoxedUtf8(v)
          if (x == null) writer.setNullAt(o) else writer.write(o, x.doubleValue)
        case KBool =>
          val x = GoParse.parseBoolBoxedUtf8(v)
          if (x == null) writer.setNullAt(o) else writer.write(o, x.booleanValue)
        case _ =>
          if (v.numBytes == 0) writer.setNullAt(o) else writer.write(o, v)
      }
    }
  }
}
