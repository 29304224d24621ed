package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (spark_guide.md: one session
  * per JVM, small shuffle partition count for local mode). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // construction-time conf, as GraftSession.configure applies it for
      // the mains: nano-vintage parquet surfaces as raw longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the session-level perf confs the mains get (cached-plan AQE,
    // listing threshold) — plan-pinning suites must exercise the same
    // physical configuration the bench and Verify run under
    GraftSession.configure(s)
    s
  }

  /** Run `body` with one session conf set, restoring it after, so a
    * spec does not leak the setting into later suites. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Recursive on-disk size of a directory (for write-throughput specs). */
  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}
