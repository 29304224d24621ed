package graft.core

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Path

/** Seeded, dirty lineitem-shaped CSV for converter specs: a clean
  * 200-row prefix (so a 100-row inference sample sees the declared
  * types), then empty and padded cells, unparsable numbers, quoted
  * cells with delimiters and doubled quotes, ragged rows and blank
  * lines. `lazyQuotes` adds bare-quote lines that only univocity's
  * lazy-quote handling reads. The same seed writes the same bytes. */
object LineitemCsv {
  val header: String =
    "l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,l_extendedprice,l_discount," +
      "l_tax,l_returnflag,l_linestatus,l_shipdate,l_commitdate,l_receiptdate," +
      "l_shipinstruct,l_shipmode,l_comment"

  private val instruct = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val words = Array("carefully", "final", "deposits", "ironic", "packages", "quickly",
    "regular", "accounts", "blithely", "pending", "requests", "furiously")
  private val junk = Array("n/a", "12x", "1_000", "--", "0x1p3", "inf", "1e400")

  def write(path: Path, rows: Int, seed: Long, lazyQuotes: Boolean = false): Unit = {
    val rnd = new scala.util.Random(seed)
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    def date(): String = f"199${rnd.nextInt(9)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
    def comment(): String = Seq.fill(1 + rnd.nextInt(5))(words(rnd.nextInt(words.length))).mkString(" ")
    try {
      out.write((header + "\n").getBytes(StandardCharsets.UTF_8))
      for (r <- 0 until rows) {
        val cells = Array[String](
          (r / 4 + 1).toString, (1 + rnd.nextInt(20000)).toString, (1 + rnd.nextInt(1000)).toString,
          (r % 4 + 1).toString, (1 + rnd.nextInt(50)).toString,
          f"${rnd.nextInt(10000000) / 100.0}%.2f", f"0.0${rnd.nextInt(10)}", f"0.0${rnd.nextInt(9)}",
          "ANR".charAt(rnd.nextInt(3)).toString, "OF".charAt(rnd.nextInt(2)).toString,
          date(), date(), date(), instruct(rnd.nextInt(instruct.length)),
          modes(rnd.nextInt(modes.length)), comment())
        val dirty = r >= 200
        if (dirty) for (c <- cells.indices) {
          val p = rnd.nextInt(1000)
          if (p < 4) cells(c) = ""
          else if (p < 6 && c < 8) cells(c) = junk(rnd.nextInt(junk.length))
          else if (p < 9) cells(c) = (if (rnd.nextBoolean()) " " else "\t") + cells(c) + " "
          else if (p < 12) cells(c) = "\"" + cells(c) + "\""
        }
        if (dirty && rnd.nextInt(100) < 2 && !cells(15).startsWith("\""))
          cells(15) = "\"" + cells(15) + ", said \"\"" + words(rnd.nextInt(words.length)) + "\"\"\""
        var line = cells.mkString(",")
        if (dirty) rnd.nextInt(1000) match {
          case 0 => line = cells.init.mkString(",")               // one field short
          case 1 => line = line + "," + comment()                // one field too many
          case 2 => line = cells.updated(4, "\"1,5\"").mkString(",") // quoted delimiter in a number
          case 3 => out.write(" \t\n".getBytes(StandardCharsets.UTF_8)) // blank line
          case 4 if lazyQuotes => line = cells.updated(15, "\"" + cells(15) + "\" x").mkString(",")
          case 5 if lazyQuotes => line = cells.updated(13, "say \"" + cells(13)).mkString(",")
          case _ =>
        }
        out.write((line + "\n").getBytes(StandardCharsets.UTF_8))
      }
    } finally out.close()
  }
}
