package graft

import java.lang.management.ManagementFactory
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

/** Benchmark main — one JSON line on stdout for the driver.
  *
  * Methodology (VERDICT r1 #5): every query is materialized through the
  * `noop` sink, which evaluates all columns of every row (unlike `count()`,
  * under which Catalyst prunes columns and may drop sorts entirely), and a
  * warmup query absorbs JVM/codegen/parquet-footer first-touch cost so the
  * first measured query isn't blamed for it. Queries run in sorted-name
  * order for reproducibility, each on an empty cache.
  *
  * Output contract: the driver captures only the TAIL of stdout (observed:
  * last 2000 chars, with sbt's `[success]` epilogue inside it) and
  * json-parses lines from it. Three defenses (VERDICT r14 #4 — every round
  * through r14 recorded `"parsed": null`): (1) build.sbt sets
  * `outputStrategy := StdoutOutput` so the JSON lines arrive RAW, not
  * re-logged under sbt's `[info] ` prefix (the r6–r14 parse killer — the
  * line was complete in the tail but never valid JSON); (2) the compact
  * line is budgeted to 1400 chars — headline totals plus as many per-query
  * timings as fit, slowest first, `"queries_omitted"` counting the rest;
  * (3) the compact line prints LAST, so it and the epilogue fit the window
  * complete and the last line the driver's scanner lands on carries the
  * per-query map (at least 20 walls). The COMPLETE full-precision
  * per-query map is written to `bench_full.json` in the working directory
  * (`"detail"` field).
  *
  * Per-query annotations are plain counter reads around each timed
  * window, nothing waits or re-runs: process CPU (`cpu_q`), host steal
  * from /proc/stat (`host_steal_q`, summed in the headline `steal_sec`),
  * GC and JIT seconds (`gc_q`, `jit_q`), live heap after the query
  * (`heap_mb_q`) and codegen health (`cgfb_q`, `wsc_q`). `load1m`,
  * `cpu_sec` and `cpus` travel with the numbers: the r5 registry run
  * measured q1_agg at 23.3 s where an identical local run measures 1.4 s
  * — external load, not a regression. wall ≫ cpu_sec/cpus, or a large
  * `steal_sec`, shows contention from the artifact alone.
  *
  * `code_cache_mb` guards against the round-6 root cause of that r5
  * anomaly: whole-stage codegen emits a class per plan, a 100+-query run
  * overflows HotSpot's default 240 MB code cache, and the JVM then
  * disables the JIT for good — every later query runs interpreted
  * (measured: the same aggregation 6.4 s → 232 s within one JVM).
  * build.sbt reserves 1g; this field proves per-run headroom.
  */
object Bench {
  /** Correctness-only entries excluded from EVERY default bench run (not
    * just gate scale, unlike the `_distpath` twins): their plans contain
    * a deliberately non-scale-safe audit the default operator omits —
    * timing them at any SF would charge the bench total with exactly the
    * join the default plan exists to avoid (l63b's full-gram-domain
    * exact-intersection self-join). Explicit args still select them. */
  private val VerifyOnly = Set("l63b_kmv_exact_audit")

  /** `_distpath` twins promoted into the DEFAULT gate-scale run (VERDICT
    * r12 #6): without one timed forced-distributed rank entry in every
    * registry artifact, a future `RankGraphEdgeCap` raise could silently
    * re-gate the sf0.1 graphs and no bench number would notice until the
    * next ×100 probe. q38b re-runs the q38 pageRank plan with the driver
    * fast path forced off, so its gate-scale wall is the distributed
    * 8-round loop's floor (~3–5 s at sf0.1 — exchange + per-round wave
    * scheduling, the cost the gate exists to avoid); its value here is
    * the TREND, not the magnitude. */
  private val PromotedDistpath = Set("q38b_pagerank_distpath")

  /** The compact line's size budget: a 2000-char stdout tail must hold
    * it PLUS sbt's epilogue in full. */
  private[graft] val LineBudget = 1400
  /** Walls the compact line always carries, budget or not. */
  private[graft] val MinWalls = 20

  /** Machine-wide steal seconds (USER_HZ jiffies): CPU the hypervisor gave
    * another tenant. A query with wall ≫ its own cpu AND high steal is the
    * machine's fault; low steal means WE blocked (lock, disk, scheduler). */
  private def hostSteal(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1)
    if (f.length > 7) f(7).toDouble / 100.0 else 0.0
  } catch { case _: Throwable => -1.0 }

  /** Interpreted-path signature counters on the plan the query will execute:
    * CodegenFallback expression instances + WholeStageCodegen node coverage.
    * A silent fall-out of codegen (the documented 12–27x CPU signature for
    * md5-over-tokens HOFs) shows as a count change between runs.
    * AdaptiveSparkPlanExec hides its physical plan from TreeNode.collect
    * (it's a field, not a child), so unwrap AQE nodes explicitly — before
    * execution `executedPlan` is the initial physical plan, which carries
    * the same expression set the final one will. */
  private def codegenHealth(plan: SparkPlan): (Int, Int, Int) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def expand(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case n => Seq(n)
    }.flatten
    val nodes = expand(plan)
    val fallback = nodes.iterator.map(n =>
      n.expressions.iterator.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
    // AQE inserts WholeStageCodegenExec per-stage at execution time, so the
    // pre-execution plan has none; count codegen-CAPABLE nodes instead — a
    // node dropping out of CodegenSupport between runs is the regression
    // signature this exists to catch.
    val canCodegen = nodes.count {
      case c: CodegenSupport => c.supportCodegen
      case _ => false
    }
    (fallback, canCodegen, nodes.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // shared session configs (sort writer, no-fork FS, partitions policy)
    // live in GraftSession (VERDICT r16 #3) so Bench/Verify/PlanDump run
    // the same execution environment; stack-sample provenance for the
    // r16 fixes is documented there and in OPTIMIZATION_r16.md.
    val spark = GraftSession.builder(cpus)
      // production state-store config for the streaming gates: RocksDB
      // spills instead of holding every key on-heap and snapshots
      // incrementally (2.4x on the sf1 dedup gate, identical results —
      // parity pinned in StreamingSpec; Verify keeps the default
      // provider so the oracle gate covers that path too)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // cgHealth is collected inside the measured window (planning the
    // query's own execution is ~ms against multi-second queries and is
    // paid identically by every run, local and driver)
    val cgQ = scala.collection.mutable.LinkedHashMap[String, (Int, Int, Int)]()
    def run(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      val df = fn(spark, sfDir)
      try cgQ(name) = codegenHealth(df.queryExecution.executedPlan)
      catch { case _: Throwable => }
      df.write.format("noop").mode("overwrite").save()
    }
    // a failing warm-up is reported, never fatal: the timed pass decides
    def warmFailed(name: String): PartialFunction[Throwable, Unit] = { case e =>
      System.err.println(s"[bench] warm-up $name failed: ${Verify.causes(e)}")
    }

    // warmup: touch the big tables + exercise codegen, unmeasured. The
    // sf0.001 s1 pass additionally absorbs Structured Streaming + engine
    // write-path first-touch (checkpoint machinery, foreachBatch codegen,
    // parquet committer classes) — r4's driver run showed the tail s1/s2
    // queries paying multi-second one-time costs that belong to the JVM,
    // not the query.
    try run("warm_q1", SparkEntry.queries("q1_agg")) catch warmFailed("q1_agg")
    try run("warm_q3", SparkEntry.queries("q3_join")) catch warmFailed("q3_join")
    try SparkEntry.queries("s1_engine_roundtrip")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch warmFailed("s1_engine_roundtrip")
    // sacrificial JIT warm (VERDICT r13 #4): c11_lineage runs SECOND in
    // sorted order, so its timed window absorbed the run's C2 compilation
    // storm every round (~31 jit-s charged against 15 CPU-s of flat
    // executor work). One untimed pass compiles its hot paths; every other
    // query already gets this implicitly by running later in the sequence.
    try run("warm_c11", SparkEntry.queries("c11_lineage")) catch warmFailed("c11_lineage")
    spark.catalog.clearCache()
    cgQ.clear()

    val osBean = ManagementFactory.getOperatingSystemMXBean
    def procCpuSec: Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    // JVM-health counters, per query (r9 verdict: six queries showed
    // 2-10x CPU in one run and not another, zero steal — the artifact
    // must be able to tell real plan work from GC pressure and from
    // JIT/codegen compilation storms without a rerun)
    def gcSec: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
    val compBean = ManagementFactory.getCompilationMXBean
    def jitSec: Double =
      if (compBean != null && compBean.isCompilationTimeMonitoringSupported)
        compBean.getTotalCompilationTime / 1e3
      else -1.0
    def heapMb: Double =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    // optional args = subset of query names (local iteration; the driver
    // passes none and measures everything). *_distpath names are the
    // distributed-path oracle twins of size-gated operators — correctness
    // entries, not workloads: they re-run their siblings' plans with the
    // driver fast path forced off, so timing them on GATE-scale data
    // (sf0.1, the driver's run) measures only the round waves the gate
    // exists to avoid. On SCALE runs (any other SF dir — the ×10/×100
    // probes) they ARE included: the scale graphs are supposed to exceed
    // the caps and run distributed anyway (VERDICT r11 #7). Explicit args
    // still select anything by name.
    val gateScale = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    val wanted =
      if (args.isEmpty) SparkEntry.queries.filter { case (k, _) =>
        !VerifyOnly(k) && (!gateScale || !k.endsWith("_distpath") || PromotedDistpath(k))
      }
      else SparkEntry.queries.filter(kv => args.contains(kv._1))

    final case class QStat(wall: Double, cpu: Double, steal: Double,
      gc: Double, jit: Double, heap: Double)
    val failed = scala.collection.mutable.ListBuffer[String]()
    val cpu0 = procCpuSec
    val wall0 = System.nanoTime()
    val perQ = wanted.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (c0, s0, g0, j0) = (procCpuSec, hostSteal(), gcSec, jitSec)
      val t0 = System.nanoTime()
      // a failed query must be VISIBLE — a swallowed failure reads as a
      // fast query and quietly corrupts the trend line
      try run(name, fn) catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${Verify.causes(e)}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val s = QStat(wall, procCpuSec - c0, hostSteal() - s0, gcSec - g0,
        if (j0 >= 0) jitSec - j0 else -1.0, heapMb)
      System.err.println(f"[bench] $name wall=$wall%.2f cpu=${s.cpu}%.1f steal=${s.steal}%.1f")
      // leftover cached blocks from one query must not tax the next (the
      // clear itself is untimed bookkeeping)
      spark.catalog.clearCache()
      name -> s
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val cpuSec = if (cpu0 >= 0) procCpuSec - cpu0 else -1.0

    val total = perQ.map(_._2.wall).sum
    val stealSec = perQ.map(_._2.steal).sum
    val load1m = osBean.getSystemLoadAverage
    // if the code cache fills, HotSpot disables the compiler for the rest
    // of the JVM's life (see the class doc); this records what a run needs
    val codeCacheMb = math.round(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed / (1024.0 * 1024.0)).sum)
    val detail = "bench_full.json"
    def qmap(pick: QStat => Any) = perQ.map { case (k, s) => k -> pick(s) }.to(VectorMap)

    val full = VectorMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> qmap(_.wall), "sf" -> sfDir, "cpus" -> cpus.toInt,
      "wall_sec" -> wallSec, "cpu_sec" -> r2(cpuSec), "steal_sec" -> r2(stealSec),
      "load1m" -> load1m, "code_cache_mb" -> codeCacheMb,
      "cpu_q" -> qmap(s => r2(s.cpu)), "host_steal_q" -> qmap(s => r2(s.steal)),
      "gc_q" -> qmap(s => r2(s.gc)), "jit_q" -> qmap(s => r2(s.jit)),
      "heap_mb_q" -> qmap(s => r2(s.heap)),
      "cgfb_q" -> cgQ.map { case (k, (fb, _, _)) => k -> fb }.to(VectorMap),
      "wsc_q" -> cgQ.map { case (k, (_, in, tot)) => k -> s"$in/$tot" }.to(VectorMap),
      "failed" -> failed.toSeq)
    try {
      val w = new java.io.PrintWriter(detail, "UTF-8")
      try w.println(js(full)) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] $detail write failed: $e") }

    println(compactLine(Seq(
      "metric" -> "total", "value" -> r2(total), "unit" -> "sec", "sf" -> sfDir,
      "cpus" -> cpus.toInt, "wall_sec" -> r2(wallSec), "cpu_sec" -> r2(cpuSec),
      "steal_sec" -> r2(stealSec), "load1m" -> r2(load1m),
      "code_cache_mb" -> codeCacheMb, "detail" -> detail, "failed" -> failed.toSeq),
      perQ.map { case (k, s) => k -> s.wall }))
    spark.stop()
  }

  private def r2(v: Double): Double = math.rint(v * 100) / 100

  /** JSON for the value shapes the artifact carries: maps (in their own
    * order) as objects, other collections as arrays, strings escaped.
    * Numbers print through `toString`, never a locale-dependent format. */
  private def js(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${js(k.toString)}:${js(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case x => x.toString
  }

  /** The line parsed from the stdout tail: `head` fields in order, then
    * `queries_omitted` and a `queries` map of walls, slowest first. The
    * top [[MinWalls]] walls are unconditional; further walls join while
    * the line stays within [[LineBudget]]. */
  private[graft] def compactLine(head: Seq[(String, Any)], walls: Seq[(String, Double)]): String = {
    val fields = head.map { case (k, v) => s"${js(k)}:${js(v)}," }.mkString("{", "", "")
    val entries = walls.sortBy(-_._2).map { case (k, v) => s"${js(k)}:${js(r2(v))}" }
    // the omitted count is only known after the cut: reserve its widest form
    var used = fields.length + s""""queries_omitted":${walls.size},"queries":{}}""".length +
      entries.take(MinWalls).map(_.length + 1).sum
    val kept = entries.take(MinWalls) ++ entries.drop(MinWalls).takeWhile { e =>
      used += e.length + 1
      used <= LineBudget
    }
    s"""$fields"queries_omitted":${walls.size - kept.size},"queries":${kept.mkString("{", ",", "}")}}"""
  }
}
