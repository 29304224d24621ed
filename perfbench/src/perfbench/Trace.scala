package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of the Spark work one span caused. */
final class Work {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** One timed call into the program: name, start, end, the span that
  * caused it, and the Spark work submitted while it was the innermost
  * open span on the submitting thread. */
final class Span(val id: Long, val name: String, val parent: Long, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val work = new Work
  /** Jobs of this span grouped by the program module whose code
    * submitted them (see [[Trace.moduleOf]]). */
  val byModule = new ConcurrentHashMap[String, Work]()
  /** Job count per call site, for the evidence file. */
  val sites = new ConcurrentHashMap[String, AtomicLong]()
  def durationMs: Double = (endNs - startNs) / 1e6
}

/** Outside-in tracing: spans around the benchmark's own calls into the
  * program, and a [[SparkListener]] that charges every job, task, task
  * time, GC time and byte count to the span that submitted it.
  *
  * A span tags the driver thread with the Spark local property
  * `perfbench.span`; Spark copies local properties into the threads a
  * call starts (the converter's file pool, broadcast and adaptive
  * re-planning jobs), so work those threads submit is charged to the
  * same span. Spans stay in memory until [[report]]. When tracing is off
  * no listener is registered and [[span]] only runs its body. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val order = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, (Span, String)]()
  /** Call site of each SQL execution, by execution id. */
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  /** Nanoseconds spent in the listener's callbacks and span bookkeeping. */
  val overheadNs = new AtomicLong

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        // the description is the action's call site unless a job
        // description was set
        executionSite.put(x.executionId, x.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t0 = System.nanoTime()
      val props = Option(e.properties)
      val id = props.flatMap(p => Option(p.getProperty(Trace.Property)))
      id.flatMap(s => Option(spans.get(s.toLong))).foreach { span =>
        // the result stage's name is the job's call site, e.g.
        // "save at Converter.scala:328"; a job started from a pool
        // thread (adaptive query stages, broadcasts) names the pool's
        // frame instead, and takes the call site of its SQL execution
        val stageSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        val site =
          if (Trace.namesScalaFile(stageSite)) stageSite
          else props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(x => Option(executionSite.get(x.toLong))).getOrElse(stageSite)
        val module = Trace.moduleOf(site)
        span.work.jobs.incrementAndGet()
        span.byModule.computeIfAbsent(module, _ => new Work).jobs.incrementAndGet()
        span.sites.computeIfAbsent(site, _ => new AtomicLong).incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, (span, module)))
      }
      overheadNs.addAndGet(System.nanoTime() - t0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t0 = System.nanoTime()
      Option(stageSpan.get(e.stageId)).foreach { case (span, module) =>
        val m = e.taskMetrics
        Seq(span.work, span.byModule.computeIfAbsent(module, _ => new Work)).foreach { w =>
          w.tasks.incrementAndGet()
          w.taskMs.addAndGet(e.taskInfo.duration)
          if (m != null) {
            w.gcMs.addAndGet(m.jvmGCTime)
            w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
            w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      }
      overheadNs.addAndGet(System.nanoTime() - t0)
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`, nested under the thread's
    * innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val stack = open.get()
      val s = new Span(ids.incrementAndGet(), name, stack.headOption.map(_.id).getOrElse(0L), t0)
      spans.put(s.id, s)
      order.synchronized(order += s)
      val previous = sc.getLocalProperty(Trace.Property)
      sc.setLocalProperty(Trace.Property, s.id.toString)
      open.set(s :: stack)
      overheadNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        s.endNs = t1
        open.set(stack)
        sc.setLocalProperty(Trace.Property, previous)
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Wait until the listener bus has delivered every event posted so
    * far, so counts of finished spans are complete. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  def all: Seq[Span] = order.synchronized(order.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Self time: a span's duration minus the part of it its children
    * cover (children of one span never overlap: spans open and close on
    * one thread). */
  def selfMs(s: Span): Double = s.durationMs - children(s).map(_.durationMs).sum

  /** The Spark work of a span and everything under it. */
  def inclusive(s: Span): Work = {
    val w = new Work
    def add(x: Span): Unit = {
      val v = x.work
      w.jobs.addAndGet(v.jobs.get); w.tasks.addAndGet(v.tasks.get); w.taskMs.addAndGet(v.taskMs.get)
      w.gcMs.addAndGet(v.gcMs.get); w.shuffleWriteBytes.addAndGet(v.shuffleWriteBytes.get)
      w.inputBytes.addAndGet(v.inputBytes.get); w.spillBytes.addAndGet(v.spillBytes.get)
      children(x).foreach(add)
    }
    add(s)
    w
  }

  /** Every span, for the evidence file: times in ms from the first
    * span's start, self time, and the span's inclusive Spark work. */
  def report: Seq[Map[String, Any]] = {
    val spans = all
    val origin = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val w = inclusive(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - origin) / 1e6, "ms" -> s.durationMs, "self_ms" -> selfMs(s),
        "jobs" -> w.jobs.get, "tasks" -> w.tasks.get, "task_ms" -> w.taskMs.get, "gc_ms" -> w.gcMs.get)
    }
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Trace {
  val Property = "perfbench.span"

  private def fileOf(callSite: String): String =
    callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')

  def namesScalaFile(callSite: String): Boolean = fileOf(callSite).endsWith(".scala")

  /** The program module a job's call site belongs to: the source file
    * named in the call site, mapped to the module that owns it. Actions
    * the benchmark itself calls (a `collect` of a served answer) count as
    * `bench`; a job whose call site names no Scala file (a pool-thread
    * job outside any SQL execution) counts as `unattributed`. */
  def moduleOf(callSite: String): String =
    fileOf(callSite) match {
      case "Converter.scala" | "Inference.scala" => "convert"
      case "Pipeline.scala" | "FingerprintIndex.scala" | "TextAnalysis.scala" |
           "Curation.scala" => "curate"
      case "Retrieval.scala" => "bm25"
      case "ImageIndex.scala" | "Multimodal.scala" => "image"
      case "LshIndex.scala" => "lsh"
      case "Similarity.scala" => "pq"
      case "Sketches.scala" => "rollup"
      case "Export.scala" | "Sampling.scala" => "export"
      case "Workloads.scala" => "bench"
      case f if f.endsWith(".scala") => "other"
      case _ => "unattributed"
    }

  val Modules: Seq[String] =
    Seq("convert", "curate", "bm25", "image", "lsh", "pq", "rollup", "export", "bench", "other",
      "unattributed")
}
