package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, hex}
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Equivalence gate of the fused line-mode scan: [[CsvLineScan]] (what
  * `Converter.conversionPlan` runs without multiLine) must equal Spark's
  * CSV line mode under the same options followed by the `GoCast`
  * projection — row for row, in order, with the same types. */
class CsvLineScanSpec extends AnyFunSuite {
  import FieldType._

  private lazy val spark = TestSpark.spark
  private lazy val dir = Files.createTempDirectory("csvline")

  private def file(bytes: Array[Byte]): String = {
    val f = Files.createTempFile(dir, "t", ".csv")
    Files.write(f, bytes)
    f.toString
  }

  private def schemaOf(types: Seq[FieldType]): InferredSchema =
    InferredSchema(types.indices.map(i => s"c$i"), types)

  private def sparkPlan(path: String, schema: InferredSchema, delimiter: Char): DataFrame =
    Converter.rawStringPlan(spark, path, schema, delimiter, multiLine = false)
      .select(schema.headers.zip(schema.types).map { case (h, t) => Converter.castColumn(h, t) }: _*)

  private def fusedPlan(path: String, schema: InferredSchema, delimiter: Char): DataFrame =
    Converter.conversionPlan(spark, path, schema, delimiter, multiLine = false)

  /** String cells as hex of their UTF-8 bytes: collecting would decode
    * invalid bytes to U+FFFD and hide a byte difference. */
  private def bytesOf(df: DataFrame): DataFrame = df.select(df.schema.fields.toSeq.map { f =>
    if (f.dataType == StringType) hex(col(f.name)).as(f.name) else col(f.name)
  }: _*)

  private def assertSameRows(want: DataFrame, got: DataFrame): Int = {
    assert(got.schema == want.schema)
    val w = bytesOf(want).collect().toSeq
    val g = bytesOf(got).collect().toSeq
    if (w != g) {
      val i = w.zip(g).indexWhere { case (a, b) => a != b } match { case -1 => w.size min g.size; case k => k }
      def show(rows: Seq[Row]) = rows.slice(i, i + 3).mkString(" | ")
      fail(s"${w.size} Spark rows vs ${g.size} fused; first difference at row $i:\n" +
        s"  spark: ${show(w)}\n  fused: ${show(g)}")
    }
    w.size
  }

  /** Both plans over one file; the number of rows they agree on. */
  private def assertSame(path: String, schema: InferredSchema, delimiter: Char): Int =
    assertSameRows(sparkPlan(path, schema, delimiter), fusedPlan(path, schema, delimiter))

  private def sameBytes(bytes: Array[Byte], types: FieldType*): Int =
    assertSame(file(bytes), schemaOf(types), ',')

  /** `lines` after a header line, every column under each of the casts. */
  private def sameLines(width: Int, lines: String*): Unit = {
    val text = ((0 until width).map(i => s"h$i").mkString(",") +: lines).mkString("", "\n", "\n")
    for (t <- Seq(TString, TInt64, TFloat64, TBool))
      sameBytes(text.getBytes(UTF_8), Seq.fill(width)(t): _*)
  }

  test("the newline-free CrossParserSpec inputs") {
    sameLines(3, "a,b,c", "1,2,3")
    sameLines(2, "\"a,b\",c", "\"x\",y")
    sameLines(2, "\"he said \"\"hi\"\"\",z", "\"\",w")
    sameLines(3, "a,,c", ",,")
    sameLines(3, "a,b,", "1,2,")
    sameBytes("h0,h1\r\na,b\r\n1,2\r\n".getBytes(UTF_8), TString, TInt64)
  }

  test("padded and tab cells, quoted delimiters, doubled and empty quotes") {
    sameLines(3, " 1 ,\t2.5\t, x ", "\t\t, , ", "\" 7\",\"\t8 \",\" \"", "  -3,+4.5e1 ,TRUE ")
    sameLines(3, "\"1,5\",\"a,b,c\",\",\"", "\"\",\"\",\"\"", "\"\"\"\",\"a\"\"b\",\"\"\"\"\"\"")
    sameLines(2, "\"\"\"1\"\"\",\"x\"\"\"", "\"a\"\"\",\"\"\"b\"")
    sameLines(4, "9223372036854775807,-9223372036854775808,9223372036854775808,1e400",
      "0x1p3,1_000,inf,-NaN", "true,False,tRuE,yes", "1.,.5,1e5,-0")
  }

  test("blank and whitespace-only lines, also before the header; CRLF and bare CR") {
    sameBytes("\n \n\t\r\n\u0001\nh0,h1\n\n1,2\n \t \n3,4\n\n".getBytes(UTF_8), TInt64, TString)
    sameBytes("\r\n\r\nh0,h1\r\n1,2\r\n\r\n3,4\r\n".getBytes(UTF_8), TInt64, TInt64)
    sameBytes("h0,h1\r1,2\r3,4".getBytes(UTF_8), TInt64, TInt64)
    sameBytes("  \n\t\n".getBytes(UTF_8), TInt64, TInt64)
    sameBytes(Array.emptyByteArray, TInt64, TInt64)
  }

  test("short and long ragged rows; a header-only file") {
    sameLines(3, "1,2", "1,2,3", "1,2,3,4", "1", "\"1,2\",3", "\"1\",\"2\",\"3\",\"4\"", ",,,")
    sameBytes("h0,h1,h2\n".getBytes(UTF_8), TInt64, TString, TFloat64)
    sameBytes("h0,h1,h2".getBytes(UTF_8), TInt64, TString, TFloat64)
    // a line wider than univocity's maxColumns: Spark's line mode fails
    // the task, the fused scan drops it as ragged
    val wide = (0 until 21000).mkString(",")
    val e = intercept[Exception](sparkPlan(file(s"h0\n$wide\n".getBytes(UTF_8)), schemaOf(Seq(TInt64)), ',').collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[com.univocity.parsers.common.TextParsingException]), e)
    // on the byte path, and on univocity's (a lazy quote takes a line
    // there), with lazy lines after it still read: the fused scan over
    // the file equals Spark's line mode over the file without the line
    for (wideLine <- Seq(wide, "\"a\" ," + wide)) {
      val lines = Seq("1,2", "\"a\" ,3", "\"b\" ,4", "5,6")
      def text(ls: Seq[String]) = ("h0,h1" +: ls).mkString("", "\n", "\n").getBytes(UTF_8)
      for (t <- Seq(TString, TInt64)) {
        val schema = schemaOf(Seq(t, t))
        val rows = assertSameRows(sparkPlan(file(text(lines)), schema, ','),
          fusedPlan(file(text(lines.patch(2, Seq(wideLine), 0))), schema, ','))
        assert(rows == 4)
      }
    }
  }

  test("multibyte, BOM, control bytes and invalid UTF-8") {
    sameLines(2, "é,ü", "\u00a01\u00a0,\u00852.5\u0085", "\u2003x\u2003,\u3000 7", "😀,\"😀,\"\"é\"\"\"",
      "\ufeff1,2", "\"\ufeff\",\ufeff", "\u0000,1", "\"a\u0000b\",\u0000", "\u0001 1,\u007f", "\u0000")
    sameBytes("\ufeffh0,h1\n1,2\n".getBytes(UTF_8), TInt64, TInt64)
    val invalid = Seq(
      Array(0xff), Array(0xe2, 0x82), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80),
      Array(0xf0, 0x80, 0x80, 0x80), Array(0xe0, 0x80, 0x80), Array(0x80), Array(0xc2))
      .map(_.map(_.toByte))
    for (bad <- invalid) {
      // at a cell's edge and inside it: the trim kernel re-decodes edge
      // bytes, so only inner bytes show an undecoded cell
      val text = "h0,h1\n".getBytes(UTF_8) ++ "1,".getBytes(UTF_8) ++ bad ++ "\n\"".getBytes(UTF_8) ++
        bad ++ "\",2\n".getBytes(UTF_8) ++ bad ++ "3,4\na".getBytes(UTF_8) ++ bad ++ "b,\"c".getBytes(UTF_8) ++
        bad ++ "d\"\n".getBytes(UTF_8)
      sameBytes(text, TString, TString)
      sameBytes(text, TInt64, TInt64)
    }
  }

  test("lazy-quote lines take univocity's reading") {
    // Spark reads `"a" ,b` as (a, b) and the last cell of `1,"` as `"`,
    // where a Go-style lazy reader differs: a line with a quoted field
    // that is not RFC-shaped never takes the byte path. A quote inside
    // an unquoted field (`5" disk`) is literal in univocity's reading,
    // and the byte path reads it the same way
    val lazyLines = Seq("\"a\" ,b", "1,\"", "a\"b,c", "\"a\"b,c", "\"a,b", " \"a\",b", "\"a\"\"b\" ,c",
      "\"a\"\",b", "a,b\"", "\"\"a,b", "\"a\"\t,b", "\"\"\",b", "x,\"\"\"", "\"a\" \"b\",c", "a,\"b\"c",
      "\"a\",\"b\" ", "\"\" ,\"\"", "1\",2", "5\" disk,3", "a\"\"b,1", "a\",b", " \"x,y\"")
    sameLines(2, lazyLines: _*)
    sameLines(3, lazyLines: _*)
  }

  test("other delimiters: tab, semicolon, pipe, and a non-ASCII one") {
    for (d <- Seq('\t', ';', '|', '§')) {
      val text = Seq("h0", "h1", "h2").mkString(d.toString) + "\n" +
        Seq(Seq("1", " 2.5 ", "x"), Seq("\"a" + d + "b\"", "", "\"\""), Seq("1", "2"), Seq("\"a\" ", "b", "c"))
          .map(_.mkString(d.toString)).mkString("\n") + "\n"
      assertSame(file(text.getBytes(UTF_8)), schemaOf(Seq(TString, TFloat64, TString)), d)
    }
  }

  test("required-column subsets, reordered, filtered: ragged rows still dropped") {
    val path = file("h0,h1,h2\n1,x,2.5\n2,,\n3,y\n4,\"z,w\",1e3\n5,a,b,c\n".getBytes(UTF_8))
    val schema = schemaOf(Seq(TInt64, TString, TFloat64))
    val queries = Seq[DataFrame => DataFrame](_.select("c2", "c0"), _.where("c0 > 1"), _.select("c1"))
    // Spark's CSV column pruning keeps ragged rows once a query needs
    // fewer columns than the file has; its unpruned reading is the one
    // the converter writes
    TestSpark.withConf("spark.sql.csv.parser.columnPruning.enabled", "false") {
      for (q <- queries) assert(assertSameRows(q(sparkPlan(path, schema, ',')), q(fusedPlan(path, schema, ','))) >= 2)
    }
  }

  test("count() and a one-column select equal the rows written, ragged rows dropped") {
    val conv = Files.createTempDirectory(dir, "conv")
    val path = conv.resolve("ragged.csv")
    Files.write(path, "a,b,c\n1,2,3\n4,5\n6,7,8,9\n10,11,12\n".getBytes(UTF_8))
    val r = Converter.convertFile(spark, path.toString,
      GraftConfig(input = path.toString, output = conv.resolve("out").toString, deleteOriginal = false))
    assert(r.ok, r.error)
    val written = spark.read.parquet(r.outputFile).count()
    assert(written == 2)
    val schema = Inference.detectFile(spark, path.toString, ',', 100)
    val plan = Converter.conversionPlan(spark, path.toString, schema, ',', multiLine = false)
    assert(plan.count() == written)
    assert(plan.select("b").count() == written)
    assert(plan.select("b").collect().length == written)
    // Spark's CSV scan skips the width check when no column is required
    assert(Converter.rawStringPlan(spark, path.toString, schema, ',', multiLine = false).count() == 4)
  }

  test("a seeded dirty lineitem file read in at least 4 splits") {
    val path = dir.resolve("lineitem.csv")
    LineitemCsv.write(path, rows = 20000, seed = 7, lazyQuotes = true)
    val schema = Inference.detectFile(spark, path.toString, ',', 100)
    assert(schema.types.count(_ != TString) >= 8, schema)
    TestSpark.withConf("spark.sql.files.maxPartitionBytes", s"${256 * 1024}") {
      assert(fusedPlan(path.toString, schema, ',').rdd.getNumPartitions >= 4)
      val rows = assertSame(path.toString, schema, ',')
      assert(rows > 19900 && rows < 20000, rows) // some ragged rows dropped
    }
  }

  /** `lines` random lines over `alphabet`, after a header. */
  private def fuzzFile(seed: Long, lines: Int, alphabet: IndexedSeq[Array[Byte]]): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val out = new java.io.ByteArrayOutputStream()
    out.write("h0,h1,h2\n".getBytes(UTF_8))
    for (_ <- 0 until lines) {
      for (_ <- 0 until rnd.nextInt(11)) out.write(alphabet(rnd.nextInt(alphabet.size)))
      out.write('\n')
    }
    out.toByteArray
  }

  test("fuzz: 120k random lines over a, 1, space, tab, quote and comma") {
    val alphabet = "a1 \t\",".map(c => Array(c.toByte))
    for ((seed, types) <- Seq(1L -> Seq(TString, TInt64, TString), 2L -> Seq(TFloat64, TString, TInt64)))
      assert(sameBytes(fuzzFile(seed, 60000, alphabet), types: _*) > 1000)
  }

  test("fuzz: 40k random lines with multibyte, control and invalid bytes") {
    val alphabet = (Seq("a", "1", " ", "\t", "\"", ",", "é", "\u00a0", "\u0085", "\ufeff", "\u0000", "\u0001",
      "true", ".5", "e", "-", "😀").map(_.getBytes(UTF_8)) ++ Seq(Array(0xff.toByte), Array(0xe2.toByte)))
      .toIndexedSeq
    assert(sameBytes(fuzzFile(3, 40000, alphabet), TString, TFloat64, TString) > 1000)
  }

  test("a partitioned directory: the partition column is appended with each file's value") {
    val root = Files.createTempDirectory(dir, "parts")
    for ((k, body) <- Seq(1 -> "1,x\n2,y\n", 2 -> "3,z\n4,\n5,w,extra\n")) {
      Files.createDirectories(root.resolve(s"k=$k"))
      Files.write(root.resolve(s"k=$k/f.csv"), ("h0,h1\n" + body).getBytes(UTF_8))
    }
    val df = fusedPlan(root.toString, schemaOf(Seq(TInt64, TString)), ',')
    assert(df.columns.toSeq == Seq("c0", "c1", "k"))
    assert(df.orderBy("c0").collect().toSeq ==
      Seq(Row(1L, "x", 1), Row(2L, "y", 1), Row(3L, "z", 2), Row(4L, null, 2)))
    assert(df.where("k = 2").select("c1", "k").orderBy("c1").collect().toSeq == Seq(Row(null, 2), Row("z", 2)))
  }

  test("scans of one file are one relation") {
    assert(new CsvLineScan == new CsvLineScan && new CsvLineScan().hashCode == new CsvLineScan().hashCode)
    val path = file("h0,h1\n1,2\n".getBytes(UTF_8))
    val schema = schemaOf(Seq(TInt64, TInt64))
    assert(fusedPlan(path, schema, ',').queryExecution.analyzed
      .sameResult(fusedPlan(path, schema, ',').queryExecution.analyzed))
  }
}
