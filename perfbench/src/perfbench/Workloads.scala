package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Converter, GraftConfig, Inference}
import graft.ops.{Pipeline, Retrieval}

object Workloads {
  val names: Seq[String] = Seq("convert_bigfile", "bm25_serve")

  def byName(n: String): Workload = n match {
    case "convert_bigfile" => new ConvertBigFile
    case "bm25_serve" => new Bm25Serve
    case other => sys.error(s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Span counters every traced workload reports per timed unit
    * (inclusive of the unit's child spans), and the job call sites of
    * the units for the evidence file. */
  def spanLayers(rec: Record, trace: Trace, spans: Seq[Span]): Unit = {
    spans.foreach { s =>
      val w = trace.inclusive(s)
      rec.layer("jvm.gc_ms", w.gcMs.get.toDouble)
      rec.layer("spark.shuffle_write_bytes", w.shuffleWriteBytes.get.toDouble)
      rec.layer("spark.input_bytes", w.inputBytes.get.toDouble)
      rec.layer("spark.spill_bytes", w.spillBytes.get.toDouble)
    }
    val sites = mutable.Map.empty[String, Long]
    (spans ++ spans.flatMap(trace.children)).foreach(
      _.sites.forEach((k, v) => sites(k) = sites.getOrElse(k, 0L) + v.get))
    rec.facts("call_sites") = sites.toSeq.sortBy(-_._2).take(40).map { case (k, v) => s"$v x $k" }
  }

  /** What the evidence file records about generated CSVs. */
  def describe(expects: Seq[CsvExpect], root: Path): Seq[Map[String, Any]] = expects.map { e =>
    Map("file" -> root.relativize(java.nio.file.Paths.get(e.file)).toString, "bytes" -> e.bytes,
      "rows" -> e.rows, "ragged_rows" -> e.raggedRows, "dirty_cells" -> e.dirtyCells,
      "nulls" -> e.nulls, "checksums" -> e.sums, "sha256" -> e.sha256)
  }

  /** Compare a converted parquet against what the generator wrote; one
    * message per mismatch. Files of one schema are checked in one job. */
  def checkConverted(spark: SparkSession, expects: Seq[CsvExpect], outDir: String): Seq[String] =
    expects.groupBy(_.columns).toSeq.flatMap { case (cols, group) =>
      val outs = group.map(e => Converter.outputPath(e.file, outDir))
      val df = spark.read.parquet(outs: _*)
      val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      val want = cols.map { case (n, d) => n -> d.sparkName }
      if (types != want) Seq(s"${group.head.file}: schema $types, declared $want")
      else {
        val aggs = count(lit(1)) +: cols.flatMap { case (n, d) =>
          val c = col(n)
          val sum0 = d match {
            case DInt => sum(c)
            case DFloat => sum(round(c * 100).cast("long"))
            case DStr => sum(length(c).cast("long"))
          }
          Seq(sum(when(c.isNull, 1L).otherwise(0L)), coalesce(sum0, lit(0L)))
        }
        val got = df.groupBy(input_file_name().as("f")).agg(aggs.head, aggs.tail: _*).collect()
          .map(r => new java.io.File(new java.net.URI(r.getString(0)).getPath).getName -> r).toMap
        group.flatMap { e =>
          val name = new java.io.File(Converter.outputPath(e.file, outDir)).getName
          got.get(name) match {
            case None => Seq(s"${e.file}: no rows in $name")
            case Some(r) =>
              val counts = r.getLong(1) +: cols.indices.flatMap(i => Seq(r.getLong(2 + 2 * i), r.getLong(3 + 2 * i)))
              val expected = e.rows +: cols.indices.flatMap(i => Seq(e.nulls(i), e.sums(i)))
              if (counts == expected) Nil
              else Seq(s"${e.file}: (rows, nulls/sum per column) $counts, expected $expected")
          }
        }
      }
    }
}

/** One large lineitem-shaped CSV: parse, cast, write and part-merge
  * dominate; inference and per-file costs are near zero. One timed unit
  * is one `Converter.convertAll` over the file with the CLI defaults
  * (source kept). */
final class ConvertBigFile extends Workload {
  val name = "convert_bigfile"
  val unitSpan = "core.Converter"
  private var expect: CsvExpect = _
  private def outDir(ctx: Ctx) = ctx.work.resolve("out").toString
  private def cfg(ctx: Ctx) = GraftConfig(input = expect.file, output = outDir(ctx))

  def generate(seed: Long, dir: Path): Map[String, Any] = {
    expect = Gen.bigFile(seed, dir.resolve("big"), rows = 400000)
    Map("csv" -> Workloads.describe(Seq(expect), dir))
  }

  /** Conversions before the timed ones. The first pays class loading,
    * JIT and codegen (a CLI user pays it on every invocation); the next
    * three still run measurably slower, so timed units start on the
    * plateau. */
  val WarmupConversions = 4

  def setup(ctx: Ctx): Unit = (1 to WarmupConversions).foreach { k =>
    val t0 = System.nanoTime()
    val s = Converter.convertAll(ctx.spark, cfg(ctx))
    ctx.rec.setup(s"warmup_${k}_s") = (System.nanoTime() - t0) / 1e9
    if (s.failed > 0) sys.error(s"warm-up conversion failed: ${s.results.flatMap(_.error)}")
  }

  def unit(ctx: Ctx, i: Int): (Long, Long) = {
    val s = Converter.convertAll(ctx.spark, cfg(ctx))
    if (s.failed > 0 || s.converted != 1)
      ctx.rec.fail(s"unit $i: converted ${s.converted}/1: ${s.results.flatMap(_.error).take(3)}")
    (s.converted.toLong, s.inputBytes)
  }

  /** Inference alone, and parse + cast alone: the conversion plan
    * written to the `noop` sink. */
  override def traceUnit(ctx: Ctx, i: Int): Unit = {
    val (schema, newline) = ctx.trace.span("core.Inference") {
      Inference.detectFileStats(ctx.spark, expect.file, ',', GraftConfig().sampleRows)
    }
    ctx.trace.span("functions.GoCast") {
      Converter.conversionPlan(ctx.spark, expect.file, schema, ',',
        Converter.effectiveMultiLine(GraftConfig(), newline))
        .write.format("noop").mode("overwrite").save()
    }
  }

  def layers(ctx: Ctx): Unit = {
    val rec = ctx.rec
    ctx.trace.named("core.Inference").foreach(s => rec.layer("core.Inference.busy_ms", s.durationMs))
    ctx.trace.named("functions.GoCast").foreach(s => rec.layer("functions.GoCast.busy_ms", s.durationMs))
    val units = ctx.trace.named(unitSpan)
    units.foreach { s =>
      rec.layer("core.Converter.busy_ms", s.durationMs)
      rec.layer("core.Converter.jobs", s.work.jobs.get.toDouble)
      rec.layer("core.Converter.tasks", s.work.tasks.get.toDouble)
      rec.layer("core.Converter.task_ms", s.work.taskMs.get.toDouble)
      rec.layer("core.Converter.core_util", s.work.taskMs.get / (s.durationMs * ctx.cores))
    }
    Workloads.spanLayers(rec, ctx.trace, units)
  }

  def check(ctx: Ctx): Unit =
    Workloads.checkConverted(ctx.spark, Seq(expect), outDir(ctx)).foreach(ctx.rec.fail)
}

/** Closed loop, one client: each request is one query of 1–4 terms,
  * answered by `Retrieval.bm25TopKFromIndex(...).collect()` from the BM25
  * store of a `Pipeline.runDaily` day, grown by delta appends. Set-up
  * runs that day (the bootstrap: convert the landed CSVs, curate, build
  * every store, roll up, export), so the pipeline that writes the store
  * is measured with the reads that serve it. */
final class Bm25Serve extends Workload {
  val name = "bm25_serve"
  val unitSpan = "request"
  val TopK = 5
  val Deltas = 1
  val DeltaDocs = 250
  /** Requests before the timed ones. Latency falls over a process's
    * first requests (class loading, JIT, codegen): steeply over the
    * first few, then slowly for as long as a run lasts. The timed window
    * starts after the steep part; see perfbench/README.md. */
  val WarmupRequests = 5
  private var day: Gen.Day = _
  private var deltaDirs: Seq[Path] = Nil
  private var report: Pipeline.DailyReport = _
  private var queries: Vector[String] = Vector.empty
  private val answers = mutable.LinkedHashMap.empty[Int, Seq[Row]]
  private def stores(ctx: Ctx) = ctx.work.resolve("stores").toString
  private def store(ctx: Ctx) = s"${stores(ctx)}/bm25"

  def generate(seed: Long, dir: Path): Map[String, Any] = {
    day = Gen.day(seed, dir, 0, corpusDocs = 1500, events = 1000, landedFiles = 3, landedRows = 300)
    deltaDirs = Gen.deltaCorpora(seed, dir.resolve("deltas"), Deltas, DeltaDocs)
    queries = Gen.queries(seed, 5000)
    Map("landed_csv" -> Workloads.describe(day.landed, dir),
      "day_corpus_sha256" -> Gen.treeDigest(day.corpusDir),
      "delta_docs" -> Seq.fill(Deltas)(DeltaDocs),
      "deltas_sha256" -> Gen.treeDigest(dir.resolve("deltas")))
  }

  private def docs(spark: SparkSession, d: Path): DataFrame =
    spark.read.parquet(d.resolve("documents.parquet").toString)

  def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    report = ctx.trace.span("ops.Pipeline.day") {
      Pipeline.runDaily(ctx.spark, day.corpusDir.toString, stores(ctx), Some(day.rawDir.toString))
    }
    if (report.keptDocs <= 0 || report.converted != day.landed.size)
      ctx.rec.fail(s"day: kept ${report.keptDocs}, converted ${report.converted}/${day.landed.size}")
    val t1 = System.nanoTime()
    ctx.rec.setup("ingest_day_s") = (t1 - t0) / 1e9
    deltaDirs.foreach { d =>
      ctx.trace.span("ops.Retrieval.append") {
        Retrieval.appendPostingsDelta(docs(ctx.spark, d).select("doc_id", "text"), store(ctx))
      }
    }
    val t2 = System.nanoTime()
    ctx.rec.setup("delta_appends_s") = (t2 - t1) / 1e9
    ctx.rec.facts("warmup_ms") = (1 to WarmupRequests).map { k =>
      val t0 = System.nanoTime()
      serve(ctx, queries(queries.size - k))
      (System.nanoTime() - t0) / 1e6
    }
    ctx.rec.setup("warmup_s") = (System.nanoTime() - t2) / 1e9
    ctx.rec.facts("day_report") = Map("incoming_docs" -> report.incomingDocs,
      "kept_docs" -> report.keptDocs, "converted" -> report.converted, "export_shards" -> report.exportShards)
  }

  private def serve(ctx: Ctx, q: String): Seq[Row] = {
    val df = ctx.trace.span("ops.Retrieval.plan") {
      Retrieval.bm25TopKFromIndex(ctx.spark, store(ctx), Seq(1 -> q), topK = TopK)
    }
    ctx.trace.span("ops.Retrieval.exec")(df.collect().toSeq)
  }

  /** Timed request `i`'s query; the warm-up takes the stream's far end. */
  private def timedQuery(i: Int) = queries(i % (queries.size - WarmupRequests))

  def unit(ctx: Ctx, i: Int): (Long, Long) = {
    answers(i) = serve(ctx, timedQuery(i))
    (1L, 0L)
  }

  def layers(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val t = ctx.trace
    val requests = t.named(unitSpan)
    requests.foreach { r =>
      t.children(r).foreach(s => rec.layer(s"${s.name}_ms", s.durationMs))
      val w = t.inclusive(r)
      rec.layer("ops.Retrieval.jobs_per_request", w.jobs.get.toDouble)
      rec.layer("ops.Retrieval.tasks_per_request", w.tasks.get.toDouble)
    }
    t.named("ops.Retrieval.append").foreach(s => rec.layer("ops.Retrieval.append_ms", s.durationMs))
    t.named("ops.Pipeline.day").foreach { s =>
      rec.layer("ops.Pipeline.day_ms", s.durationMs)
      Trace.Modules.foreach { m =>
        val w = Option(s.byModule.get(m))
        rec.layer(s"ops.Pipeline.$m.jobs", w.map(_.jobs.get.toDouble).getOrElse(0.0))
        rec.layer(s"ops.Pipeline.$m.task_ms", w.map(_.taskMs.get.toDouble).getOrElse(0.0))
      }
    }
    Workloads.spanLayers(rec, t, requests)
  }

  /** The day's landed CSVs converted to exactly what was generated, and
    * a seeded sample of served requests equal to a fresh
    * `Retrieval.bm25TopK` over the documents the store should hold: the
    * day's curated batch (`Pipeline.curatedBatchFromIndex`, the same
    * curation rule computed on its own path) plus the delta documents. */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Workloads.checkConverted(spark, day.landed, s"${stores(ctx)}/converted").foreach(ctx.rec.fail)
    val curated = Pipeline.curatedBatchFromIndex(spark, day.corpusDir.toString).cache()
    val kept = curated.count()
    if (kept != report.keptDocs) ctx.rec.fail(s"curation keeps $kept docs, the day kept ${report.keptDocs}")
    val reference = ctx.work.resolve("reference")
    docs(spark, day.corpusDir).join(curated, Seq("doc_id"), "left_semi")
      .unionByName(deltaDirs.map(docs(spark, _)).reduce(_ unionByName _))
      .write.parquet(reference.resolve("documents.parquet").toString)
    curated.unpersist()
    val served = answers.keys.toVector
    val sample = scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.seed)).shuffle(served).take(6)
    val asked = sample.map(i => (i + 1) -> timedQuery(i))
    val fresh = Retrieval.bm25TopK(spark, reference.toString, asked, topK = TopK)
      .collect().groupBy(_.getAs[Long]("query_id"))
    sample.foreach { i =>
      def key(rows: Seq[Row]) = rows.sortBy(_.getAs[Long]("rank"))
        .map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("score")))
      val got = key(answers(i))
      val want = key(fresh.getOrElse((i + 1).toLong, Array.empty[Row]).toSeq)
      val same = got.size == want.size && got.zip(want).forall { case ((d1, s1), (d2, s2)) =>
        d1 == d2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s2))
      }
      if (!same) ctx.rec.fail(s"request $i '${timedQuery(i)}': store $got, fresh $want")
    }
    ctx.rec.facts("checked_requests") = sample.size
  }
}
