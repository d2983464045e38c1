package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Bench spans wrap the benchmark's own calls into the
  * program; Spark spans (planning phases, jobs) come from Spark's public
  * listeners and hang under the bench span whose id the job carried. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Spark-side counts for one op's queries. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, schedDelayMs, shuffleWriteBytes = 0L
  /** Queries that read the store, the store files and rows they scanned. */
  var scans, files, rowsScanned = 0L
}

/** The traced run's recorder: spans in memory, Spark's public hooks
  * (`SparkListener`, `QueryExecutionListener` with `QueryExecution.tracker`
  * phases, the codegen compile counters), all written out at the end.
  *
  * Attribution: every bench span that calls into Spark sets the local
  * property [[SpanProp]] on its thread, so jobs and stages it starts carry
  * the span id; queries map to spans by time (see [[queriesWithSpan]]).
  * Spark work started by other threads (the uTP server's syncs)
  * carries no span and is counted under the root. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = epochOffsetMs + System.nanoTime() / 1e6

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  /** Time `f` as a span of `layer`; nested spans become its children. */
  def span[A](name: String, layer: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    val sc = spark.sparkContext
    stack.set(id :: parents)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowMs
    try f
    finally {
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, layer, t0, nowMs))
      stack.set(parents)
      sc.setLocalProperty(SpanProp, parents.headOption.map(_.toString).orNull)
    }
  }

  /** Spark-side records (written by the listener-bus threads). */
  private final class Job(val span: Long, val startMs: Long) {
    @volatile var endMs = -1L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val counts = new java.util.concurrent.ConcurrentHashMap[Long, SparkCounts]()
  private val queries = new ConcurrentLinkedQueue[(Map[String, (Long, Long)], Long, Long)]()
  private val events = new AtomicLong(0L)

  private def countsOf(span: Long): SparkCounts =
    counts.computeIfAbsent(span, _ => new SparkCounts)

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      jobs.put(e.jobId, new Job(span, e.time))
      countsOf(span).synchronized { countsOf(span).jobs += 1 }
      events.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      events.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, span)
      countsOf(span).synchronized { countsOf(span).stages += 1 }
      events.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, 0L)
      val c = countsOf(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
        }
      }
      events.incrementAndGet()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) }
      var files, rows = 0L
      PlanWalk.scans(qe).foreach { s =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      queries.add((phases, files, rows))
      events.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      events.incrementAndGet(): Unit
  }

  private var compileNs0, compiles0 = 0L
  private var gcMs0 = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    gcMs0 = gcMs()
  }

  /** Stop recording once the listener bus has delivered everything. */
  def stop(): Unit = {
    awaitQuiet()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  private def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 15000000000L
    var last = -1L
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val n = events.get()
      val open = jobs.values.asScala.exists(_.endMs < 0)
      if (n != last || open) { last = n; stableSince = System.nanoTime() }
      else if (System.nanoTime() - stableSince > 400000000L) return
      Thread.sleep(50)
    }
  }

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
  def compileMs: Double = (CodeGenerator.compileTime - compileNs0) / 1e6
  def gcMsDelta: Long = gcMs() - gcMs0

  def benchSpans: Seq[Span] = spans.asScala.toSeq

  /** Spark counts summed over the given spans (0: work no span started). */
  def countsFor(spanIds: Set[Long]): SparkCounts = {
    val out = new SparkCounts
    counts.asScala.foreach { case (s, c) =>
      if (spanIds(s)) c.synchronized {
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.cpuNs += c.cpuNs; out.runMs += c.runMs
        out.schedDelayMs += c.schedDelayMs; out.shuffleWriteBytes += c.shuffleWriteBytes
      }
    }
    queriesWithSpan.foreach { case (span, _, files, rows) =>
      if (spanIds(span) && files > 0) {
        out.scans += 1; out.files += files; out.rowsScanned += rows
      }
    }
    out
  }

  /** Queries carry no span property (their listener runs on the bus), so
    * each is attributed to the innermost bench span open when its
    * planning phase began; outside every span it counts under the root. */
  private def queriesWithSpan: Seq[(Long, Map[String, (Long, Long)], Long, Long)] = {
    val bench = benchSpans.sortBy(-_.startMs)
    queries.asScala.toSeq.map { case (phases, files, rows) =>
      val at = phases.get("planning").map(_._1.toDouble).getOrElse(Double.NaN)
      val span = bench.find(s => s.startMs <= at && at <= s.endMs).map(_.id).getOrElse(0L)
      (span, phases, files, rows)
    }
  }

  /** Planning-phase durations (ms) of the queries run under the given spans. */
  def phaseMs(spanIds: Set[Long], phase: String): Samples = {
    val s = new Samples
    queriesWithSpan.foreach { case (span, phases, _, _) =>
      if (spanIds(span))
        phases.get(phase).foreach { case (a, b) => s.add((b - a).toDouble) }
    }
    s
  }

  /** All spans: the bench's plus Spark's phase and job spans. */
  def allSpans: Seq[Span] = {
    val phaseSpans = queriesWithSpan.flatMap { case (parent, phases, _, _) =>
      phases.toSeq.map { case (p, (a, b)) =>
        Span(-1, parent, s"spark.$p", "spark", a.toDouble, b.toDouble)
      }
    }
    val jobSpans = jobs.values.asScala.toSeq.filter(_.endMs >= 0).map(j =>
      Span(-1, j.span, "spark.job", "spark", j.startMs.toDouble, j.endMs.toDouble))
    benchSpans ++ phaseSpans ++ jobSpans
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** `roots` and every bench span below them. */
  def subtree(spans: Seq[Span], roots: Set[Long]): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(k => walk(k.id))
    roots.toSeq.flatMap(walk).toSet
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. */
  def selfMsByLayer(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val cs = if (s.id > 0) kids.getOrElse(s.id, Nil) else Nil
      val covered = union(cs.map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      out(s.layer) += math.max(0.0, (s.endMs - s.startMs) - covered)
    }
    out.toMap
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA, curB = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Finds the store scans of a finished query, through adaptive stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if !s.relation.location.rootPaths.exists(_.toString.contains("/_tombstones")) => s
    }
}
