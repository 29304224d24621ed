package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** The reference cast semantics the expected values are computed under:
  * an int column keeps values that parse as Go int64, a float column
  * keeps values that parse as Go float64, everything else is null. */
sealed trait Declared { def sparkName: String }
case object DInt extends Declared { val sparkName = "bigint" }
case object DFloat extends Declared { val sparkName = "double" }
case object DStr extends Declared { val sparkName = "string" }

/** What a converted CSV must hold: the generator knows every cell it
  * wrote, so the gate needs no second parser. `sums` holds, per int
  * column, the sum of the kept values; per float column the sum of the
  * kept values in hundredths (every float is written with two decimals,
  * so the sum is exact); per string column the sum of kept lengths. */
final case class CsvExpect(file: String, bytes: Long, rows: Long,
    columns: Seq[(String, Declared)], nulls: Seq[Long], sums: Seq[Long],
    raggedRows: Long, dirtyCells: Long, sha256: String)

/** A table written as one CSV file: a column list and a row source. */
private final case class CsvTable(columns: Seq[(String, Declared)],
    cell: (SplittableRandom, Long, Int) => String)

/** Deterministic input generator. Every input derives from `seed` (and
  * nothing else), so the same seed gives byte-identical files. Data is
  * synthesized in the shape of the repository's sf0.1 test tables
  * (lineitem / orders / customer / events / documents / embeddings),
  * with dirty cells injected: empty cells, unparsable numbers and
  * ragged rows. The first `CleanPrefix` rows of every CSV carry no
  * unparsable numbers or ragged rows, so sample-based inference (100
  * rows by default) sees the declared types. */
object Gen {
  val CleanPrefix = 200
  val EmptyShare = 0.004
  val BadNumberShare = 0.002
  val RaggedShare = 0.001

  /** Vocabulary of the generated corpora: stopwords (which the quality
    * gate counts) plus 120 content terms with a skewed draw, so query
    * terms range from common to rare. */
  val Stopwords: Vector[String] = Vector("the", "a", "of", "to", "and", "is", "in")
  val Terms: Vector[String] = {
    val heads = Vector("spark", "table", "scan", "window", "merge", "column", "vector", "stream",
      "value", "data", "join", "filter", "group", "hash", "customer", "sort", "order", "line",
      "part", "row", "agg", "key", "query", "batch")
    val tails = Vector("", "s", "er", "ing", "ed")
    for (t <- tails; h <- heads) yield h + t
  }

  private def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ salt.hashCode.toLong * 0x9E3779B97F4A7C15L)

  /** A skewed draw in [0, n): the square of a uniform puts most mass on
    * low ranks without an empty tail. */
  private def skewed(r: SplittableRandom, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (u * u * n).toInt)
  }

  private def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def quoteIfNeeded(s: String): String =
    if (s.indexOf(',') >= 0 || s.indexOf('"') >= 0) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def pad2(n: Int): String = if (n < 10) "0" + n else n.toString

  private def cents(r: SplittableRandom, lo: Long, hi: Long): String = {
    val c = lo + r.nextLong(hi - lo)
    s"${c / 100}.${pad2((c % 100).toInt)}"
  }

  private val BadNumbers = Vector("n/a", "12x", "--", "1,5", "NaN?", "0x1G", "7..2")

  /** Write one CSV table with dirty cells and return what its converted
    * parquet must hold. */
  private def writeCsv(path: Path, t: CsvTable, rows: Long, r: SplittableRandom): CsvExpect = {
    val cols = t.columns
    val n = cols.size
    val nulls = Array.fill(n)(0L)
    val sums = Array.fill(n)(0L)
    var kept, ragged, dirty = 0L
    val out = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(path.toFile), StandardCharsets.UTF_8), 1 << 16)
    def w(s: String): Unit = out.write(s)
    try {
      w(cols.map(_._1).mkString(",") + "\n")
      val cells = new Array[String](n)
      var i = 0L
      while (i < rows) {
        val late = i >= CleanPrefix
        var c = 0
        while (c < n) { cells(c) = t.cell(r, i, c); c += 1 }
        if (late && r.nextDouble() < RaggedShare) {
          // one field short or one too many: the whole row is dropped
          ragged += 1
          val width = if (r.nextBoolean()) n - 1 else n + 1
          w((0 until width).map(k => quoteIfNeeded(cells(k % n))).mkString(",") + "\n")
        } else {
          kept += 1
          c = 0
          while (c < n) {
            val kind = cols(c)._2
            val roll = r.nextDouble()
            if (roll < EmptyShare) { cells(c) = ""; dirty += 1 }
            else if (late && kind != DStr && roll < EmptyShare + BadNumberShare) {
              cells(c) = BadNumbers(r.nextInt(BadNumbers.size)); dirty += 1
            }
            val v = cells(c)
            kind match {
              case DInt => GoNum.long(v) match {
                case Some(x) => sums(c) += x
                case None => nulls(c) += 1
              }
              case DFloat => GoNum.double(v) match {
                case Some(x) => sums(c) += math.round(x * 100)
                case None => nulls(c) += 1
              }
              case DStr =>
                if (v.isEmpty) nulls(c) += 1 else sums(c) += v.length
            }
            if (c > 0) w(",")
            w(quoteIfNeeded(v))
            c += 1
          }
          w("\n")
        }
        i += 1
      }
    } finally out.close()
    CsvExpect(path.toString, Files.size(path), kept, cols, nulls.toSeq, sums.toSeq,
      ragged, dirty, sha256(path))
  }

  private val Flags = Vector("A", "N", "R")
  private val Status = Vector("O", "F", "P")
  private val Prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val EventTypes = Vector("click", "view", "purchase", "signup", "error")

  private def date(r: SplittableRandom): String =
    s"${1992 + r.nextInt(7)}-${pad2(1 + r.nextInt(12))}-${pad2(1 + r.nextInt(28))}"

  private def comment(r: SplittableRandom): String = {
    val n = 2 + r.nextInt(5)
    val sb = new java.lang.StringBuilder
    // a fifth of the comments carry a comma, so the cell is quoted
    val comma = if (n > 2 && r.nextInt(5) == 0) 2 else -1
    var k = 0
    while (k < n) {
      if (k == comma) sb.append(", ") else if (k > 0) sb.append(' ')
      sb.append(Terms(skewed(r, Terms.size)))
      k += 1
    }
    sb.toString
  }

  // integer cells start at 2: Go's ParseBool accepts "0" and "1", and a
  // bool-looking cell in the inference sample widens an int column to
  // string under the reference lattice
  private val lineitem = CsvTable(Seq(
      "l_orderkey" -> DInt, "l_partkey" -> DInt, "l_suppkey" -> DInt, "l_linenumber" -> DInt,
      "l_quantity" -> DFloat, "l_extendedprice" -> DFloat, "l_discount" -> DFloat,
      "l_tax" -> DFloat, "l_returnflag" -> DStr, "l_linestatus" -> DStr,
      "l_shipdate" -> DStr, "l_comment" -> DStr),
    (r, i, c) => c match {
      case 0 => (2 + i / 4).toString
      case 1 => (2 + r.nextInt(20000)).toString
      case 2 => (2 + r.nextInt(1000)).toString
      case 3 => (2 + i % 7).toString
      case 4 => cents(r, 100, 5100)
      case 5 => cents(r, 90000, 10500000)
      case 6 => cents(r, 0, 11)
      case 7 => cents(r, 0, 9)
      case 8 => Flags(r.nextInt(3))
      case 9 => Status(r.nextInt(2))
      case 10 => date(r)
      case _ => comment(r)
    })

  private def orders(base: Long) = CsvTable(Seq(
      "o_orderkey" -> DInt, "o_custkey" -> DInt, "o_orderstatus" -> DStr,
      "o_totalprice" -> DFloat, "o_orderdate" -> DStr, "o_orderpriority" -> DStr),
    (r, i, c) => c match {
      case 0 => (base + i + 2).toString
      case 1 => (2 + r.nextInt(15000)).toString
      case 2 => Status(r.nextInt(3))
      case 3 => cents(r, 90000, 50000000)
      case 4 => date(r)
      case _ => Prio(r.nextInt(5))
    })

  private def customers(base: Long) = CsvTable(Seq(
      "c_custkey" -> DInt, "c_name" -> DStr, "c_nationkey" -> DInt,
      "c_acctbal" -> DFloat, "c_mktsegment" -> DStr),
    (r, i, c) => c match {
      case 0 => (base + i + 2).toString
      case 1 => "Customer#" + "%09d".format(base + i)
      case 2 => (2 + r.nextInt(25)).toString
      case 3 => cents(r, 10000, 1000000)
      case _ => Segments(r.nextInt(5))
    })

  private def events(base: Long) = CsvTable(Seq(
      "event_id" -> DInt, "ts" -> DStr, "user_id" -> DInt, "event_type" -> DStr,
      "value" -> DFloat, "props" -> DStr),
    (r, i, c) => c match {
      case 0 => (base + i + 2).toString
      case 1 => s"2024-01-${pad2(1 + r.nextInt(28))} ${pad2(r.nextInt(24))}:${pad2(r.nextInt(60))}:${pad2(r.nextInt(60))}"
      case 2 => (2 + r.nextInt(1500)).toString
      case 3 => EventTypes(r.nextInt(5))
      case 4 => cents(r, 1, 50000)
      case _ => s"""{"k": ${r.nextInt(100)}, "src": "s${r.nextInt(9)}"}"""
    })

  /** `convert_bigfile`: one lineitem-shaped CSV. */
  def bigFile(seed: Long, dir: Path, rows: Long): CsvExpect = {
    Files.createDirectories(dir)
    writeCsv(dir.resolve("lineitem.csv"), lineitem, rows, rng(seed, "bigfile"))
  }

  /** A day's landed batch: `files` small CSVs rotating over three
    * schemas (orders, customer and events slices). */
  def landed(seed: Long, dir: Path, files: Int, rowsPerFile: Long,
      prefix: String): Seq[CsvExpect] = {
    Files.createDirectories(dir)
    val r = rng(seed, s"manyfiles/$prefix")
    (0 until files).map { f =>
      val base = f * 1000000L
      val (kind, t) = f % 3 match {
        case 0 => ("orders", orders(base))
        case 1 => ("customer", customers(base))
        case _ => ("events", events(base))
      }
      // row counts vary by up to ±25 % so files are not all alike
      val rows = rowsPerFile * 3 / 4 + r.nextLong(rowsPerFile / 2 + 1)
      writeCsv(dir.resolve(f"${prefix}_$f%03d_$kind.csv"), t, rows, r.split())
    }
  }

  /** One generated document. */
  final case class Doc(id: Long, text: String)

  /** `n` documents with ids `firstId, firstId + 1, ...`: 20–90 tokens
    * each, a sixth of them stopwords, so most pass the pipeline's
    * quality gate. */
  def docs(r: SplittableRandom, firstId: Long, n: Int): Vector[Doc] =
    Vector.tabulate(n) { i =>
      val len = 20 + r.nextInt(71)
      val sb = new StringBuilder
      var k = 0
      while (k < len) {
        if (k > 0) sb.append(' ')
        sb.append(if (r.nextInt(6) == 0) Stopwords(r.nextInt(Stopwords.size))
                  else Terms(skewed(r, Terms.size)))
        k += 1
      }
      Doc(firstId + i, sb.toString)
    }

  /** The query stream. Request `i` has `1 + i % 4` terms; its `j`-th
    * term comes from frequency band `(i + j) % 4` of the vocabulary
    * (four bands of the skewed draw's ranks, common to rare), and the
    * seed picks the term within the band. Every run thus serves the
    * same mix of query shapes and term frequencies in the same order. */
  def queries(seed: Long, n: Int): Vector[String] = {
    val r = rng(seed, "queries")
    val band = Terms.size / 4
    Vector.tabulate(n) { i =>
      (0 until 1 + i % 4).map(j => Terms(((i + j) % 4) * band + r.nextInt(band))).mkString(" ")
    }
  }

  private def parquetWriter(path: Path, schema: String) = {
    Files.deleteIfExists(path)
    val builder = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(MessageTypeParser.parseMessageType(schema))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
    (builder.build(), new SimpleGroupFactory(MessageTypeParser.parseMessageType(schema)))
  }

  /** documents.parquet in the sf0.1 test-table shape. */
  def writeDocuments(path: Path, ds: Seq[Doc]): Unit = {
    val (w, f) = parquetWriter(path,
      """message documents { required int64 doc_id; optional binary text (STRING);
        | optional binary lang (STRING); optional binary source (STRING);
        | optional int64 n_chars; }""".stripMargin)
    try ds.foreach { d =>
      val g: Group = f.newGroup()
      g.add("doc_id", d.id)
      g.add("text", d.text)
      g.add("lang", Vector("en", "de", "zh")(math.floorMod(d.id, 3L).toInt))
      g.add("source", s"src${math.floorMod(d.id, 20L)}")
      g.add("n_chars", d.text.length.toLong)
      w.write(g)
    } finally w.close()
  }

  /** embeddings.parquet: one 64-d vector per doc id, drawn around ten
    * label centroids so the vector indexes have clusters to find. */
  def writeEmbeddings(path: Path, ids: Seq[Long], r: SplittableRandom): Unit = {
    val dim = 64
    val cr = new SplittableRandom(7L) // centroids are fixed across seeds and days
    val centroids = Array.fill(10, dim)(cr.nextDouble() * 2 - 1)
    val (w, f) = parquetWriter(path,
      """message embeddings { required int64 vec_id;
        | optional group embedding (LIST) { repeated group list { optional float element; } }
        | optional int32 label; }""".stripMargin)
    try ids.foreach { id =>
      val label = r.nextInt(10)
      val g = f.newGroup()
      g.add("vec_id", id)
      val e = g.addGroup("embedding")
      var k = 0
      while (k < dim) {
        e.addGroup("list").add("element", (centroids(label)(k) + (r.nextDouble() - 0.5) * 0.4).toFloat)
        k += 1
      }
      g.add("label", label)
      w.write(g)
    } finally w.close()
  }

  /** events.parquet: `n` events on one calendar day (2024-01-01 plus
    * `day`), so each pipeline day rolls up a day the sketch store does
    * not hold yet. */
  def writeEvents(path: Path, day: Int, firstId: Long, n: Int, r: SplittableRandom): Unit = {
    val (w, f) = parquetWriter(path,
      """message events { required int64 event_id;
        | optional int64 ts (TIMESTAMP(MICROS,true)); optional int64 user_id;
        | optional binary event_type (STRING); optional double value;
        | optional binary props (STRING); }""".stripMargin)
    val dayStart = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
    try (0 until n).foreach { i =>
      val g = f.newGroup()
      g.add("event_id", firstId + i)
      g.add("ts", dayStart + r.nextLong(86400L * 1000000L))
      g.add("user_id", (2 + r.nextInt(1500)).toLong)
      g.add("event_type", EventTypes(r.nextInt(5)))
      g.add("value", (1 + r.nextInt(50000)) / 100.0)
      g.add("props", s"""{"k": ${r.nextInt(100)}}""")
      w.write(g)
    } finally w.close()
  }

  /** `bm25_serve`'s delta batches: `deltas` corpus dirs of `deltaDocs`
    * new documents each, with ids no day corpus uses. */
  def deltaCorpora(seed: Long, dir: Path, deltas: Int, deltaDocs: Int): Seq[Path] = {
    val r = rng(seed, "bm25")
    (0 until deltas).map { d =>
      val p = dir.resolve(s"delta$d")
      Files.createDirectories(p)
      writeDocuments(p.resolve("documents.parquet"), docs(r, 1000000000L * (d + 1), deltaDocs))
      p
    }
  }

  /** One `Pipeline.runDaily` day: a corpus dir (documents, embeddings
    * and events no store holds yet: ids are offset by the day) and a
    * landed raw CSV dir. */
  final case class Day(corpusDir: Path, rawDir: Path, landed: Seq[CsvExpect])

  def day(seed: Long, dir: Path, d: Int, corpusDocs: Int, events: Int,
      landedFiles: Int, landedRows: Long): Day = {
    val r = rng(seed, s"day$d")
    val corpus = dir.resolve(s"day$d/corpus")
    Files.createDirectories(corpus)
    // day 0 starts at id 0: the bootstrap day trains the PQ codebooks,
    // which seed from the vector ids below their codebook size
    val ds = docs(r, 10000000L * d, corpusDocs)
    writeDocuments(corpus.resolve("documents.parquet"), ds)
    writeEmbeddings(corpus.resolve("embeddings.parquet"), ds.map(_.id), r)
    writeEvents(corpus.resolve("events.parquet"), d, 10000000L * d, events, r)
    val raw = dir.resolve(s"day$d/raw")
    Day(corpus, raw, landed(seed ^ d, raw, landedFiles, landedRows, prefix = f"day$d%02d"))
  }

  /** Hash of every file under `dir`, in path order: the determinism
    * self-test compares two generations with it. */
  def treeDigest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      finally s.close()
    }
    files.foreach { p =>
      md.update(dir.relativize(p).toString.getBytes(StandardCharsets.UTF_8))
      md.update(sha256(p).getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Go's number syntax as the converter's casts accept it, for the
  * generator's own bookkeeping. The generator only ever writes plain
  * decimal integers, two-decimal floats and the `BadNumbers` strings,
  * so a strict subset parser decides every cell it produces. */
private[perfbench] object GoNum {
  def long(s: String): Option[Long] =
    if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
  def double(s: String): Option[Double] = {
    val dot = s.indexOf('.')
    if (dot > 0 && dot == s.lastIndexOf('.') && dot < s.length - 1 &&
        s.forall(ch => ch.isDigit || ch == '.')) Some(s.toDouble)
    else if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toDouble)
    else None
  }
}
