package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Run settings, from run.py's command line. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, work: String) {
  def windowNs: Long = seconds * 1000000000L
}

/** Entry point: one workload per JVM. Prints every metric, then the result
  * line holding exactly the metrics BENCHMARK.json names. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("cpus").toInt, kv("work"))
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(kv("spec")))
    def declared(key: String): Seq[(String, String)] =
      spec.path(key).elements().asScala.map(m =>
        m.path("name").asText() -> m.path("unit").asText()).toSeq
    val spark = GraftSession.builder(o.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"perfbench ${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} cpus=${o.cpus} spark=${spark.version}")
    val r = o.workload match {
      case "get_mix"        => GetMix.run(spark, o)
      case "publish_wire"   => PublishWire.run(spark, o)
      case "registry_slice" => Registry.run(spark, o)
    }
    r.named("fail_ratio") = Metric(r.failed.toDouble / math.max(1L, r.attempted), "1", r.attempted)
    spark.stop()
    r.print(o.trace, declared("end_to_end"), declared("per_layer"))
    System.out.flush()
  }

  /** Close set-up: `setup_s` is everything from JVM start to here. */
  def setupDone(r: Report): Unit = {
    r.endToEnd("setup_s") = Metric(sinceJvmStartS(), "s", 1)
    heapCheckpoint(r, "setup")
    stealAtSetup = cpuTicks()
  }

  /** Close the timed window, before the workload releases its store or
    * server: the heap they still hold counts. */
  def windowDone(r: Report): Unit = {
    for (a <- stealAtSetup; b <- cpuTicks())
      r.named("host_steal_pct") = Metric(100.0 * (b._1 - a._1) / math.max(1L, b._2 - a._2), "%", 1)
    heapCheckpoint(r, "window_end")
  }

  /** `heap_after_gc_peak_mb`: the largest live heap over the checkpoints
    * (end of set-up, end of window), each taken after full collections. A
    * young collection's figure would also hold old-generation garbage not
    * yet collected, which says more about GC timing than about the
    * program. */
  private def heapCheckpoint(r: Report, at: String): Unit = {
    val mb = liveHeapMb()
    r.named(s"heap_after_gc_${at}_mb") = Metric(mb, "MB", 1)
    val peak = r.endToEnd.get("heap_after_gc_peak_mb")
    r.endToEnd("heap_after_gc_peak_mb") = Metric(
      math.max(mb, peak.fold(0.0)(_.value)), "MB", peak.fold(1L)(_.samples + 1))
  }

  /** (steal, total) CPU ticks of the machine from /proc/stat, where the
    * kernel reports it: time a virtual machine's CPUs waited for the host.
    * Printed as `host_steal_pct` over the timed window, so a run
    * slowed by neighbours on the host says so. */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      if (f.length > 7) Some((f(7), f.sum)) else None
    } catch { case _: Exception => None }
  private var stealAtSetup: Option[(Long, Long)] = None

  /** Heap in use right after a full collection: the least of seven, 300 ms
    * apart. Spark releases some state on its own threads (the context
    * cleaner, the listener bus): after a burst of gets, 16 MB more stayed
    * reachable for about 1.5 s, through several full collections in a
    * row, so a run of equal readings does not mean it is done. */
  def liveHeapMb(): Double =
    (1 to 7).map { i =>
      if (i > 1) Thread.sleep(300)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Seconds since this JVM started: the end of set-up when called just
    * before the timed window opens. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

}

/** Layer metrics every traced workload reports the same way. */
object Layers {
  val SelfLayers = Seq("bench", "engine", "streaming", "model", "queries", "llm", "spark")

  /** Spark's per-op work and each layer's self time per op, over the
    * spans in `ids` (0 adds the Spark work no bench span started). */
  def spark(r: Report, t: Tracer, ids: Set[Long], ops: Int, gcMs: Long): Unit = {
    val L = r.layers
    val n = math.max(1, ops).toDouble
    val c = t.countsFor(ids)
    Seq("analysis", "optimization", "planning").foreach { p =>
      val s = t.phaseMs(ids, p)
      L(s"spark.phase.${p}_ms_p50") = Metric(s.pct(0.5), "ms", s.count)
    }
    L("spark.codegen.compiles") = Metric(t.compiles.toDouble, "count", ops)
    L("spark.codegen.compile_ms") = Metric(t.compileMs, "ms", ops)
    L("spark.jobs_per_op") = Metric(c.jobs / n, "count", ops)
    L("spark.stages_per_op") = Metric(c.stages / n, "count", ops)
    L("spark.tasks_per_op") = Metric(c.tasks / n, "count", ops)
    L("spark.executor.cpu_ms_per_op") = Metric(c.cpuNs / 1e6 / n, "ms", ops)
    L("spark.executor.run_ms_per_op") = Metric(c.runMs / n, "ms", ops)
    L("spark.scheduler_delay_ms_per_op") = Metric(c.schedDelayMs / n, "ms", ops)
    L("spark.shuffle.write_bytes_per_op") = Metric(c.shuffleWriteBytes / n, "bytes", ops)
    L("spark.gc_ms_per_op") = Metric(gcMs / n, "ms", ops)
    val self = Tracer.selfMsByLayer(t.allSpans.filter(s => ids(s.id) || ids(s.parent)))
    SelfLayers.foreach(l => L(s"self.$l.ms_per_op") = Metric(self.getOrElse(l, 0.0) / n, "ms", ops))
  }

  /** Traced ops against the plain ops interleaved with them. */
  def overhead(r: Report, traced: Samples, plain: Samples): Unit = {
    r.layers("trace.op_p50_ms") = Metric(traced.pct(0.5), "ms", traced.count)
    r.layers("trace.overhead_pct") = Metric(
      (traced.pct(0.5) / plain.pct(0.5) - 1) * 100, "%", traced.count)
  }
}
