package graft.core

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GoCast

/** Outcome of one file conversion (reference `Result`,
  * converter/converter.go:21-27). */
final case class ConvertResult(
    inputFile: String,
    outputFile: String,
    inputBytes: Long,
    outputBytes: Long,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Run summary (reference main.go:35-59). */
final case class ConvertSummary(results: Seq[ConvertResult]) {
  def converted: Int = results.count(_.ok)
  def failed: Int = results.count(!_.ok)
  def inputBytes: Long = results.filter(_.ok).map(_.inputBytes).sum
  def outputBytes: Long = results.filter(_.ok).map(_.outputBytes).sum
  def savedBytes: Long = inputBytes - outputBytes
  def exitCode: Int = if (failed > 0) 1 else 0
}

/** CSV → Parquet conversion with the reference's semantics, re-expressed
  * on Spark (reference dataflow converter/converter.go:67-412):
  *
  *   discovery → [per file] sample-pass inference → full-pass read +
  *   reference casts → parquet → verify → (delete source)
  *
  * Spark-first design notes:
  *  - The inference pass reads only the first `sampleRows` records
  *    driver-side (O(sample) IO on any file size; see [[Inference]]).
  *  - The data pass is a declarative scan→write plan. In line mode (every
  *    newline-free CSV) it is one [[CsvLineScan]]: each split tokenizes
  *    its lines' bytes and casts every cell straight into the output row
  *    with the [[GoParse]] kernels, like the reference's
  *    split-then-cast row loop — no all-string row, no projection. The
  *    multiLine mode keeps Spark's CSV datasource followed by the
  *    codegen'd [[graft.functions.GoCast]] projection. The Parquet sink
  *    uses Spark's writer (128 MB row groups + snappy are Spark
  *    defaults, matching converter/converter.go:320-325).
  *  - Ragged rows (field count != header) are DROPPED whole, matching the
  *    observed Go behavior: csv.Reader locks FieldsPerRecord to the header
  *    width, so ragged rows surface as errors and the row loop skips them
  *    (converter/converter.go:349-356). Spark's DROPMALFORMED does the same
  *    for token-count mismatches.
  *  - Quirk Q4 deviation (documented, SURVEY §7.4.3): a non-true/false
  *    value in a BOOLEAN column nulls the *field* here; the reference
  *    emits invalid JSON and drops the *row*. The same
  *    invalid-JSON-row-drop class applies in the reference to `inf`/`nan`
  *    cells in DOUBLE columns (Go %g renders `+Inf`, invalid JSON) and to
  *    raw control characters in strings (only `\` and `"` are escaped,
  *    converter.go:405-408): graft deliberately KEEPS those rows with the
  *    parsed value — storing data beats dropping rows over a formatting
  *    artifact of the reference's JSON intermediate (which Spark does not
  *    have).
  */
object Converter {

  /** Output path derivation (converter/converter.go:107-114):
    * `basename(in)` minus extension + `.<sink ext>` (".parquet" for
    * reference parity), into `output` dir if set, else the input's own
    * directory. */
  def outputPath(input: String, outputDir: String, ext: String = ".parquet"): String = {
    val p = new Path(input)
    val base = {
      val name = p.getName
      val dot = name.lastIndexOf('.')
      // dot >= 0: Go's filepath.Ext strips a leading-dot extension too
      // (".csv" -> "" -> ".parquet")
      if (dot >= 0) name.substring(0, dot) else name
    }
    val dir = if (outputDir != null && outputDir.nonEmpty) new Path(outputDir) else p.getParent
    new Path(dir, base + ext).toString
  }

  /** Build the cast projection for one column per the reference's
    * recordToJSON (converter/converter.go:380-412): trim → empty→null →
    * type-specific parse-to-null. */
  def castColumn(name: String, t: FieldType): org.apache.spark.sql.Column = {
    // GoTrim, not trim(): Spark's trim strips only ASCII spaces; the
    // reference (and our inference) trims Go's full whitespace set
    val trimmed = GoCast.goTrim(col(name))
    val typed = t match {
      // empty→null needs no branch on typed columns: the Go parsers
      // reject "" to null themselves, exactly like the reference's
      // empty-cell rule (converter/converter.go:384-386)
      case FieldType.TInt64   => GoCast.goLong(trimmed)
      case FieldType.TFloat64 => GoCast.goDouble(trimmed)
      case FieldType.TBool    => GoCast.goBool(trimmed)
      case FieldType.TString  => when(trimmed === lit(""), lit(null)).otherwise(trimmed)
    }
    typed.as(name)
  }

  /** Declarative conversion plan for one file: malformed rows dropped,
    * reference casts applied. Line mode is one [[CsvLineScan]] scan that
    * parses and casts in one pass (row for row what the multiLine shape
    * below gives in line mode); multiLine mode is [[rawStringPlan]] →
    * [[castColumn]] projection. Exposed separately so tests and the query
    * surface can reuse it without writing. */
  def conversionPlan(spark: SparkSession, input: String, schema: InferredSchema, delimiter: Char,
      multiLine: Boolean = true): DataFrame =
    if (multiLine) {
      val raw = rawStringPlan(spark, input, schema, delimiter, multiLine)
      raw.select(schema.headers.zip(schema.types).map { case (h, t) => castColumn(h, t) }: _*)
    } else
      spark.read.format(classOf[CsvLineScan].getName)
        .options(csvOptions(delimiter, multiLine))
        .schema(schema.sparkSchema)
        .load(input)

  /** The raw all-strings scan the multiLine [[conversionPlan]] casts from
    * — exposed so telemetry (q83 cast-null stats) can compare pre-cast
    * emptiness with post-cast nullness under the exact same parse
    * options, and so specs can hold [[CsvLineScan]] to Spark's CSV line
    * mode. Spark's CSV column pruning skips the DROPMALFORMED width
    * check when a query requires no column, so a bare `count()` here
    * also counts ragged rows. */
  def rawStringPlan(spark: SparkSession, input: String, schema: InferredSchema, delimiter: Char,
      multiLine: Boolean = true): DataFrame =
    spark.read.options(csvOptions(delimiter, multiLine)).schema(schema.rawSchema).csv(input)

  /** The CSV options of both scans. */
  private def csvOptions(delimiter: Char, multiLine: Boolean): Map[String, String] = Map(
    "header" -> "true",        // skip the header line; names come from the schema
    "enforceSchema" -> "true",
    "delimiter" -> delimiter.toString,
    "mode" -> "DROPMALFORMED", // ragged rows dropped, like Go FieldsPerRecord
    "unescapedQuoteHandling" -> "STOP_AT_CLOSING_QUOTE", // ≈ LazyQuotes
    "escape" -> "\"", // RFC-4180 doubled quotes, like Go csv (Spark default is \)
    // Go's encoding/csv supports embedded newlines in quoted fields;
    // Spark needs multiLine for that. Scale note: multiLine makes a
    // single file non-splittable — conversion still parallelizes across
    // files, which is the reference's own unit of parallelism (O12).
    // `--no-multiline` trades embedded-newline support for a splittable
    // scan (many tasks over one large file).
    "multiLine" -> multiLine.toString,
    "nullValue" -> "")

  /** The scan mode one conversion actually uses: multiLine only when the
    * config asks for embedded-newline support AND either auto-detection
    * is off or the inference sample actually contained a quoted newline.
    * Pure — unit-tested separately from the IO path. */
  def effectiveMultiLine(cfg: GraftConfig, sampleHadNewline: Boolean): Boolean =
    cfg.multiLine && (!cfg.multiLineAuto || sampleHadNewline)

  /** Convert one CSV file. Mirrors convertFile (converter/converter.go:116-183):
    * infer → write → verify non-empty output → cleanup partial output on
    * failure → delete original only after a verified write.
    *
    * The inference prefix read doubles as a multiLine sniff: when no
    * sampled field carries an embedded newline, the data pass keeps
    * the splittable line-based scan (many tasks over one large file)
    * instead of the non-splittable multiLine mode — the default
    * single-big-file conversion was otherwise ONE scan task at any size.
    * That line-mode scan is [[CsvLineScan]], which parses and casts in
    * one pass.
    * See [[GraftConfig.multiLineAuto]] for the heuristic's contract. */
  def convertFile(spark: SparkSession, input: String, cfg: GraftConfig): ConvertResult =
    finishConversion(spark, input, cfg) {
      val (schema, sawNewline) =
        Inference.detectFileStats(spark, input, cfg.delimiterChar, cfg.sampleRows)
      val multiLine = effectiveMultiLine(cfg, sawNewline)
      if (cfg.multiLine && !multiLine)
        System.err.println(s"[graft] $input: no embedded newlines in the first " +
          s"${cfg.sampleRows} records — using the splittable line-based scan " +
          "(pass --multiline to force Go-parity quoted-newline support)")
      conversionPlan(spark, input, schema, cfg.delimiterChar, multiLine)
    }

  /** Convert one JSON-lines file with the SAME inference semantics as the
    * CSV path (an extension — the reference is CSV-only): every scalar is
    * read as its string rendering (`primitivesAsString`), nested
    * structures collapse to their JSON text (the reference data model is
    * flat), headers are normalized, and the reference lattice classifies
    * the sampled string values before the GoCast projection.
    *
    * Scale note: Spark's STRUCTURAL schema inference scans the input by
    * default; `cfg.jsonSamplingRatio` < 1 makes it read a deterministic
    * sample instead (`--json-sampling-ratio`), turning the inference
    * pass O(sample) like the CSV path — the value lattice itself still
    * only reads `sampleRows` rows driver-side. The ratio governs ONLY
    * structural inference (which keys exist / nesting); a key that
    * appears exclusively outside the sampled lines would be missed, the
    * standard sampling trade. The data pass always reads everything. */
  def convertJsonFile(spark: SparkSession, input: String, cfg: GraftConfig): ConvertResult =
    finishConversion(spark, input, cfg) {
      jsonConversionPlan(spark, input, cfg.sampleRows, cfg.jsonSamplingRatio)
    }

  /** Declarative JSON-lines conversion plan (shared by [[convertJsonFile]]
    * and the q68 driver-oracle query). */
  def jsonConversionPlan(spark: SparkSession, input: String, sampleRows: Int,
      samplingRatio: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val raw0 = spark.read
      .option("primitivesAsString", "true")
      .option("samplingRatio", samplingRatio.toString)
      .json(input)
    val flattened = raw0.select(raw0.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => to_json(c).as(f.name)
        case _ => c.cast("string").as(f.name)
      }
    }.toSeq: _*)
    val headers = Normalize.headers(flattened.columns.toSeq)
    val renamed = flattened.toDF(headers: _*)
    val sampled = renamed.take(sampleRows).iterator.map { row =>
      headers.indices.map(i => if (row.isNullAt(i)) "" else row.getString(i)).toArray
    }
    val schema = Inference.detect(headers, sampled, sampleRows)
    renamed.select(schema.headers.zip(schema.types).map { case (h, t) => castColumn(h, t) }: _*)
  }

  /** Telemetry handle for specs: the row accumulator of the most recent
    * tick-instrumented conversion in this JVM (accumulators are the
    * cluster-correct way to observe executor-side counts driver-side). */
  @volatile private[core] var lastTickRows: Option[org.apache.spark.util.LongAccumulator] = None

  /** O18 parity: the reference emits a debug log line every `batch_size`
    * rows while converting (converter/converter.go:365-367). Here the row
    * loop is executor-side, so the tick is per TASK — every `batchSize`
    * rows within a partition — and lands in that executor's stderr,
    * which is where task progress is read on a cluster (in local mode it
    * reaches the driver log, like the reference's). Documented
    * deviation: counts are task-local, not one global row counter; a
    * distributed scan has no cheap global "rows so far".
    *
    * Only applied at `--log-level debug` with `batchSize > 0`: the
    * wrapper inserts a deserialize→map→serialize boundary into the
    * otherwise boundary-free scan→cast→write plan — a cost
    * observability should charge only when asked for (the reference
    * likewise skips its per-row debug formatting at info level). */
  private[core] def withProgressTicks(df: DataFrame, input: String,
      batchSize: Int): DataFrame = {
    val acc = df.sparkSession.sparkContext.longAccumulator(s"graft.rows($input)")
    lastTickRows = Some(acc)
    df.mapPartitions { it =>
      var n = 0L
      it.map { r =>
        n += 1
        acc.add(1L)
        if (n % batchSize == 0)
          System.err.println(s"[graft] debug: $input: processed $n rows (task-local)")
        r
      }
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }

  /** Shared finish: run the plan, write (single-file or directory),
    * verify, clean partial output on failure, delete source only after a
    * verified write. */
  private def finishConversion(spark: SparkSession, input: String, cfg: GraftConfig)
      (plan: => DataFrame): ConvertResult = {
    val out = outputPath(input, cfg.output, "." + cfg.sink)
    val fs = Inference.fileSystem(spark, input)
    val inputBytes =
      try fs.getFileStatus(new Path(input)).getLen
      catch { case e: Exception => return ConvertResult(input, out, 0, 0, Some(s"stat input: ${e.getMessage}")) }
    try {
      val df0 = plan
      val df =
        if (cfg.logLevel.equalsIgnoreCase("debug") && cfg.batchSize > 0)
          withProgressTicks(df0, input, cfg.batchSize)
        else df0
      val outFs = Inference.fileSystem(spark, out)
      // partitionBy requires directory output; enforce here (not only in
      // CLI flag parsing) so a library caller constructing
      // GraftConfig(partitionBy = ...) with the default singleFile=true
      // gets partitioned output instead of silently dropped partitioning
      val singleFile = cfg.singleFile && cfg.partitionCols.isEmpty
      if (cfg.singleFile && cfg.partitionCols.nonEmpty)
        System.err.println(s"[graft] warn: partitionBy=${cfg.partitionBy} implies " +
          "directory output — writing a partitioned directory instead of a single file")
      val outBytes =
        if (singleFile) writeSingleFile(spark, df, out, cfg.codec, cfg.sink)
        else {
          val w = df.write.option("compression", cfg.codec).mode("overwrite")
          val parts = cfg.partitionCols
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).format(cfg.sink).save(out)
          contentLength(outFs, new Path(out))
        }
      // verify (converter/converter.go:160-166): output exists and is non-empty
      if (outBytes <= 0) throw new IllegalStateException(s"output missing or empty: $out")
      if (cfg.deleteOriginal) {
        // failure to delete only warns in the reference (converter.go:168-175)
        try fs.delete(new Path(input), false)
        catch { case e: Exception => System.err.println(s"[graft] warn: could not delete $input: ${e.getMessage}") }
      }
      ConvertResult(input, out, inputBytes, outBytes, None)
    } catch {
      case e: Exception =>
        // partial-output cleanup (converter/converter.go:153-158)
        try Inference.fileSystem(spark, out).delete(new Path(out), true) catch { case _: Exception => () }
        ConvertResult(input, out, inputBytes, 0, Some(e.getMessage))
    }
  }

  /** Reference contract: a single `<base>.parquet` FILE, not a directory
    * (SURVEY §7.4.2).
    *
    * Parquet and JSON keep the PARALLEL write: every core scans/casts its
    * own splits into a temp directory, then the parts collapse to one
    * file without decoding — parquet by row-group append
    * ([[mergeParquetParts]]: column chunks are copied as raw bytes with
    * their page indexes, offsets rebased, one new footer), JSON by byte
    * concatenation.
    * Part files are merged in name order = split offset order, so row
    * order matches a sequential read. The former `coalesce(1)` collapsed
    * the WHOLE plan — scan, cast and write — into one task (a 1 GiB CSV
    * converted at ~20 MiB/s no matter how many cores); the merge is a
    * ~output-sized byte copy instead. Tradeoff: one row group per scan
    * task rather than one 128 MB group — readers parallelize across
    * groups, so at worst this mirrors the input split width.
    *
    * ORC stripes cannot be footer-merged without decode by the bundled
    * API, so the ORC sink keeps the single-task write; `singleFile =
    * false` keeps Spark's parallel directory output for any sink. */
  private def writeSingleFile(spark: SparkSession, df: DataFrame, out: String,
      codec: String = "snappy", sink: String = "parquet"): Long = {
    val outPath = new Path(out)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = outPath.getFileSystem(conf)
    val tmp = new Path(outPath.getParent, s".${outPath.getName}.tmp-${System.nanoTime()}")
    // text formats signal their codec via file extension (part-*.json.snappy);
    // the rename to <base>.json would strip it and make the file unreadable —
    // single-file JSON is therefore uncompressed (directory mode keeps codec)
    val effCodec = if (sink == "json") "none" else codec
    if (effCodec != codec && codec != "uncompressed")
      System.err.println(s"[graft] warn: single-file json output drops codec '$codec' " +
        "(the <base>.json rename strips the codec extension text formats need) — " +
        "writing uncompressed; use --dir-output to keep the codec")
    try {
      val mergeable = sink == "parquet" || sink == "json"
      val writer = if (mergeable) df.write else df.coalesce(1).write
      writer.option("compression", effCodec).mode("overwrite").format(sink).save(tmp.toString)
      val single =
        if (mergeable) {
          val parts = fs.listStatus(tmp).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
          if (parts.isEmpty) throw new IllegalStateException(s"no part files under $tmp")
          if (parts.size == 1) parts.head
          else {
            val merged = new Path(tmp, s"merged.$sink")
            if (sink == "parquet") mergeParquetParts(conf, parts, merged)
            else concatParts(fs, parts, merged)
            merged
          }
        } else
          fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-"))
            .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
      if (fs.exists(outPath)) fs.delete(outPath, true)
      if (!fs.rename(single, outPath)) throw new IllegalStateException(s"rename $single -> $outPath failed")
      fs.getFileStatus(outPath).getLen
    } finally {
      // never leak the hidden temp dir, even when the write/rename fails
      try fs.delete(tmp, true) catch { case _: Exception => () }
    }
  }

  /** Zero-decode parquet merge: copy every part's row groups into one
    * file chunk by chunk (`ParquetFileWriter.appendColumnChunk`: raw
    * bytes, offsets rebased) with each chunk's column index, offset index
    * and bloom filter, and carry the first part's key-value metadata
    * (Spark stores its schema JSON there — losing it would change
    * timestamp/nullability round-trip semantics). Each part is opened
    * once, with one set of read options for the whole merge; the first
    * part's footer gives the schema. */
  private[core] def mergeParquetParts(conf: org.apache.hadoop.conf.Configuration,
      parts: Seq[Path], merged: Path): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.ParquetProperties
    import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val options = ParquetFiles.options(conf)
    var w: ParquetFileWriter = null
    var first: org.apache.parquet.hadoop.metadata.FileMetaData = null
    parts.foreach(p => ParquetFiles.read(p, conf, options) { (r, in) =>
      if (w == null) {
        first = r.getFooter.getFileMetaData
        w = new ParquetFileWriter(HadoopOutputFile.fromPath(merged, conf), first.getSchema,
          ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
          ParquetWriter.MAX_PADDING_SIZE_DEFAULT,
          ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH,
          ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH,
          ParquetProperties.DEFAULT_PAGE_WRITE_CHECKSUM_ENABLED)
        w.start()
      }
      r.getFooter.getBlocks.asScala.foreach { block =>
        w.startBlock(block.getRowCount)
        block.getColumns.asScala.foreach { c =>
          w.appendColumnChunk(first.getSchema.getColumnDescription(c.getPath.toArray), in, c,
            r.readBloomFilter(c), r.readColumnIndex(c), r.readOffsetIndex(c))
        }
        w.endBlock()
      }
    })
    w.end(first.getKeyValueMetaData)
  }

  /** Byte-concatenate text part files (JSON-lines) in split order. */
  private def concatParts(fs: org.apache.hadoop.fs.FileSystem,
      parts: Seq[Path], merged: Path): Unit = {
    val out = fs.create(merged, true)
    try parts.foreach { p =>
      val in = fs.open(p)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
      finally in.close()
    } finally out.close()
  }

  private def contentLength(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
    fs.getContentSummary(p).getLength

  /** Discovery + fan-out, mirroring ConvertAll (converter/converter.go:67-105):
    * stat input; directory → non-recursive, case-sensitive `*.csv` glob;
    * file → singleton; empty glob → warn + empty summary. Files are
    * converted on a fixed-width pool of 4 driver threads (reference
    * semaphore width, converter.go:91) — each conversion is itself a
    * parallel Spark job, so this bounds concurrent jobs, not concurrency.
    */
  def convertAll(spark: SparkSession, cfg: GraftConfig): ConvertSummary = {
    val inPath = new Path(cfg.input)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val glob = if (cfg.format == "json") "*.json" else "*.csv"
    // a missing input is a reported failure, not a crash (reference
    // returns a Result with the stat error and exits 1)
    val status =
      try fs.getFileStatus(inPath)
      catch {
        case e: Exception =>
          return ConvertSummary(Seq(ConvertResult(cfg.input, "", 0, 0,
            Some(s"stat input: ${e.getMessage}"))))
      }
    val files: Seq[String] =
      if (status.isDirectory)
        fs.globStatus(new Path(inPath, glob)).toSeq.map(_.getPath.toString).sorted
      else Seq(cfg.input)
    if (files.isEmpty) {
      System.err.println(s"[graft] warn: no CSV files found in ${cfg.input}")
      return ConvertSummary(Nil)
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = files.map(f => pool.submit(new java.util.concurrent.Callable[ConvertResult] {
        override def call(): ConvertResult =
          if (cfg.format == "json") convertJsonFile(spark, f, cfg)
          else convertFile(spark, f, cfg)
      }))
      ConvertSummary(futures.map(_.get()))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      ()
    }
  }
}
