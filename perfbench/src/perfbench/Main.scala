package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run records. Raw samples only: the runner
  * (`perfbench/run.py`) reduces them to the reported metrics. */
final class Record {
  /** Wall nanoseconds of each timed unit, in order. */
  val unitNs = mutable.ArrayBuffer.empty[Long]
  /** Work items each timed unit completed (files converted, requests
    * answered). */
  val unitItems = mutable.ArrayBuffer.empty[Long]
  /** Input bytes each timed unit read (CSV bytes for conversions). */
  val unitBytes = mutable.ArrayBuffer.empty[Long]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Named parts of set-up, in seconds. */
  val setup = mutable.LinkedHashMap.empty[String, Double]
  /** Wall milliseconds of the host-stall control job, one per unit. */
  val controlMs = mutable.ArrayBuffer.empty[Double]
  /** Per-layer samples (traced runs only). */
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val facts = mutable.LinkedHashMap.empty[String, Any]

  def fail(why: String): Unit = { failed += 1; failures += why }
  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

/** What a workload run can use. */
final class Ctx(val spark: SparkSession, val trace: Trace, val rec: Record,
    val work: Path, val seed: Long, val cores: Int)

/** One benchmark workload: generate inputs from a seed, set up (warm-up
  * and any store build), run one timed unit, and check outputs. */
trait Workload {
  def name: String
  /** Seeded input generation: plain JVM code, before Spark starts.
    * Returns what the evidence file records about the inputs. */
  def generate(seed: Long, dir: Path): Map[String, Any]
  def setup(ctx: Ctx): Unit
  /** Name of the span each timed unit runs in (traced runs). */
  def unitSpan: String
  /** One timed unit; returns (items completed, input bytes). A unit
    * whose output is wrong calls `ctx.rec.fail`. */
  def unit(ctx: Ctx, i: Int): (Long, Long)
  /** Traced runs only: extra layer measurements after each unit. */
  def traceUnit(ctx: Ctx, i: Int): Unit = ()
  /** Traced runs only, after the bus drained: per-layer samples from
    * the spans. */
  def layers(ctx: Ctx): Unit
  /** The correctness gate after the timed loop. */
  def check(ctx: Ctx): Unit
}

/** Benchmark entry: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <evidence.json>
  * [--cores <n>]`. Prints nothing the runner parses; the evidence file
  * is the result. */
object Main {
  /** Fewest timed units a run makes, whatever `--seconds` says. */
  val MinUnits = 3

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val rec = new Record

    val genT0 = System.nanoTime()
    rec.facts("inputs") = workload.generate(seed, work.resolve("inputs"))
    val genNs = System.nanoTime() - genT0
    rec.facts("generate_s") = genNs / 1e9

    val s0 = System.nanoTime()
    val spark = Session.start(work, cores)
    rec.setup("session_s") = (System.nanoTime() - s0) / 1e9
    val trace = new Trace(spark.sparkContext, traced)
    val ctx = new Ctx(spark, trace, rec, work, seed, cores)
    try {
      workload.setup(ctx)
      val control = new Control(spark)
      val firstUnitNs = System.nanoTime()
      rec.facts("setup_total_s") = (firstUnitNs - entryNs - genNs) / 1e9
      val deadline = firstUnitNs + (seconds * 1e9).toLong
      var i = 0
      while (i < MinUnits || System.nanoTime() < deadline) {
        rec.controlMs += control.run()
        rec.attempted += 1
        val t0 = System.nanoTime()
        val (items, bytes) =
          try trace.span(workload.unitSpan)(workload.unit(ctx, i))
          catch { case e: Exception => rec.fail(s"unit $i: $e"); (0L, 0L) }
        rec.unitNs += System.nanoTime() - t0
        rec.unitItems += items
        rec.unitBytes += bytes
        if (traced) workload.traceUnit(ctx, i)
        i += 1
      }
      val checkT0 = System.nanoTime()
      rec.facts("timed_s") = (checkT0 - firstUnitNs) / 1e9
      try workload.check(ctx)
      catch { case e: Exception => rec.fail(s"check: $e") }
      rec.facts("check_s") = (System.nanoTime() - checkT0) / 1e9
      trace.drain()
      if (traced) {
        workload.layers(ctx)
        rec.facts("trace_overhead_ms") = trace.overheadNs.get / 1e6
        rec.facts("spans") = trace.report
      }
    } finally {
      trace.stop()
      spark.stop()
    }
    rec.facts("rss_peak_mb") = Session.rssPeakMb()
    Evidence.write(Paths.get(opt("out")), workload.name, seed, traced, cores, rec)
  }
}

/** The session a CLI conversion gets (cli.Main's settings plus the
  * library's session configuration), with every scratch path inside the
  * run's own directory. */
object Session {
  def start(work: Path, cores: Int): SparkSession = {
    Files.createDirectories(work.resolve("spark-local"))
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      // loopback only, whatever the host's name resolves to
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.configure(spark)
    spark
  }

  /** The process's resident-set high-water mark (`VmHWM`), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}

/** A fixed tiny Spark job run between timed units. Its duration does not
  * depend on the program, so a slow control sample marks a host stall
  * in the unit next to it. */
final class Control(spark: SparkSession) {
  def run(): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to 4000, 4).map(_.toLong).sum()
    (System.nanoTime() - t0) / 1e6
  }
}

/** The evidence file: a small JSON writer over maps, sequences and
  * scalars. */
object Evidence {
  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  def write(path: Path, workload: String, seed: Long, traced: Boolean, cores: Int,
      rec: Record): Unit = {
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "attempted" -> rec.attempted, "failed" -> rec.failed, "failures" -> rec.failures,
      "unit_ns" -> rec.unitNs, "unit_items" -> rec.unitItems, "unit_bytes" -> rec.unitBytes,
      "setup" -> rec.setup, "control_ms" -> rec.controlMs, "layers" -> rec.layers,
      "facts" -> rec.facts)
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, json(doc).getBytes("UTF-8"))
  }
}
