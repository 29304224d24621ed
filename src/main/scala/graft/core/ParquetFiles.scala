package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.SeekableInputStream

/** The one way the driver opens a parquet file: with read options built
  * once per pass. `ParquetFileReader.open(HadoopInputFile)` rebuilds its
  * options from the path and the configuration at every open, which
  * costs several times the footer read itself. */
private[graft] object ParquetFiles {

  /** Options for every file of one pass that reads whole footers. */
  def options(conf: Configuration): ParquetReadOptions = HadoopReadOptions.builder(conf).build()

  /** `body` over `path`'s reader and the stream it reads through (a
    * caller copying raw bytes out of the file seeks that same stream);
    * both are closed after it. */
  def read[T](path: Path, conf: Configuration, options: ParquetReadOptions)
      (body: (ParquetFileReader, SeekableInputStream) => T): T = {
    val file = HadoopInputFile.fromPath(path, conf)
    val in = file.newStream()
    val reader =
      try ParquetFileReader.open(file, options, in)
      catch { case e: Throwable => in.close(); throw e }
    try body(reader, in) finally reader.close()
  }

  /** The rows of the parquet files directly under `dir`, summed from
    * their footers: no Spark job and no column read. */
  def rowCount(dir: Path, conf: Configuration): Long = {
    import scala.jdk.CollectionConverters._
    val options = this.options(conf)
    dir.getFileSystem(conf).listStatus(dir).iterator
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
        !p.getName.startsWith("."))
      .map(p => read(p, conf, options)((r, _) => r.getFooter.getBlocks.asScala.map(_.getRowCount).sum))
      .sum
  }
}
