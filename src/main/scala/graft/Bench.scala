package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

/** Benchmark main — one JSON line on stdout for the driver.
  *
  * Methodology (VERDICT r1 #5): every query is materialized through the
  * `noop` sink, which evaluates all columns of every row (unlike `count()`,
  * under which Catalyst prunes columns and may drop sorts entirely), and a
  * warmup query absorbs JVM/codegen/parquet-footer first-touch cost so the
  * first measured query isn't blamed for it. Queries run in sorted-name
  * order for reproducibility.
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
  * == Self-defending measurement (VERDICT r10 #1/#2) ==
  * The official driver runs of rounds 9 and 10 both showed a
  * name-order-contiguous cluster of queries with 3–27x the CPU of every
  * clean local run (l64_countmin: 360.8 CPU-s driver vs 13–30 local, steal
  * ~0, gc 0) that no local re-measure could reproduce. This artifact now
  * catches that anomaly in the act instead of asking for trust:
  *
  *  1. `bench_ref.json` (classpath resource, from a committed clean run)
  *     gives every query a reference wall time. A query whose wall exceeds
  *     max(3x ref, ref + 2 s) is immediately RE-RUN once in the same JVM;
  *     both measurements land in `rerun_q`. Fast re-run ⇒ a JVM/host
  *     *phase* hit the first attempt; slow re-run ⇒ the query itself is
  *     convicted and bisectable.
  *  2. Per-OS-thread CPU attribution: /proc/self/task/<tid>/{comm,stat}
  *     deltas, grouped by thread-name prefix, recorded for every anomalous
  *     or CPU-heavy (>10 CPU-s) query in `threads_q`. HotSpot's GC and JIT
  *     threads are OS threads with stable comm names ("C2 CompilerThre",
  *     "GC Thread#"), so a compile storm charging 300 CPU-s to one query's
  *     window is named by the artifact itself — the PrintCompilation-
  *     equivalent VERDICT r10 #1(c) asked for, with zero steady-state cost.
  *  3. Codegen health per query: `cgfb_q` counts CodegenFallback
  *     (interpreted-eval) expressions in the executed plan and `wsc_q`
  *     records WholeStageCodegen node coverage — a silent fall-out of
  *     codegen (the documented 12–27x CPU signature for md5-over-tokens
  *     HOFs) becomes visible as a count change between runs.
  *  4. After the sorted pass, the r10 suspect cluster (l63 l64 l65 l66 l9
  *     m37 m41 q20) is re-run wholesale; `second_q` carries the pairs.
  *     Name-contiguous inflation in pass 1 + a flat pass 2 proves a phase;
  *     an inflated pass 2 proves the plan and points the profiler.
  *  5. Bandwidth conviction (VERDICT r14 #1): every query's window closes
  *     with a ~0.12 s DRAM micro-sample (`bw_q`), the per-query analogue
  *     of `host_steal_q` — a DRAM-pressure phase (wall ×3–4, steal 0, cpu
  *     tripled; the r14 m4–m8 block) is machine-flagged (`bw_convicted`),
  *     the next window is protected by an untimed bandwidth storm-wait,
  *     and a convicted window re-runs under a TIGHTENED anomaly bar
  *     (2×ref / ref+0.3 s; wall ≥ 2 s on ref-less scale runs). The
  *     headline gains `value_bwnet`: convicted queries with a clean
  *     re-measure counted at the re-run wall — the solo re-measure
  *     protocol applied by the artifact instead of by hand.
  *
  * Environment telemetry (`load1m`, `cpu_sec`, `cpus`) travels with the
  * numbers: r5's driver run measured q1_agg at 23.3 s where an identical
  * local run measures 1.4 s — external load, not a regression. wall ≫
  * cpu_sec/cpus proves contention from the artifact alone.
  *
  * `code_cache_mb` guards against the round-6 root cause of that r5
  * anomaly: whole-stage codegen emits a class per plan, a 100+-query run
  * overflows HotSpot's default 240 MB code cache, and the JVM then
  * disables the JIT for good — every later query runs interpreted
  * (measured: the same aggregation 6.4 s → 232 s within one JVM).
  * build.sbt reserves 1g; this field proves per-run headroom.
  */
object Bench {
  /** r10 driver-run anomaly cluster — re-measured wholesale after the main
    * pass (VERDICT r10 #2). */
  private val Suspects = Seq("l63_kmv_setops", "l64_countmin", "l65_bloom_audit",
    "l66_lm_perplexity", "l9_embdup_lsh", "m37_incr_components",
    "m41_incr_triangles", "q20_unpivot")

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

  @volatile private var calibSink = 0L
  /** Host-calibration kernel (VERDICT r11 #3): fixed-work, allocation-free
    * splitmix64 mixing, timed at run start, middle, and end. The identical
    * instruction stream on a slower or contended host takes measurably
    * longer, so `calib` turns cross-host CPU comparisons into a measured
    * slowdown factor (driver_calib / local_calib) instead of the standing
    * ~2x ambiguity (l64's executor-CPU offset, VERDICT r11 finding #2).
    * Single-threaded on purpose: it prices PER-CORE throughput — the unit
    * executor-thread CPU attribution is denominated in — not scheduler
    * capacity; three samples bracket the run so a mid-run host phase
    * shows up as start/mid/end spread. ~0.5 s per sample. */
  private def calibKernel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) {
      x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
      x ^= x >>> 27; x *= 0x94d049bb133111ebL
      x ^= x >>> 31
      i += 1
    }
    calibSink = x // publish: the loop must survive dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Memory-BANDWIDTH calibration kernel — the blind spot of
    * [[calibKernel]]: that loop is register/cache-resident, so a
    * co-tenant saturating the DRAM bus (the r11 finding-#2 signature:
    * executor CPU inflated 2×, steal ≈ 0, calib flat) slows it not at
    * all. This kernel strides a 256 MB buffer at cache-line steps —
    * every read is a DRAM transaction — so its throughput drops by
    * roughly the same factor bandwidth contention inflates memory-bound
    * executor CPU. Reported as `calib_bw` (seconds per 1 GB touched;
    * ~0.10–0.14 s healthy on this host). The buffer is DIRECT (off-heap,
    * ADVICE r12): the r12 long[] version pinned 256 MB of HEAP for the
    * JVM's life after first use, inflating every later query's
    * `heap_mb_q` and GC pressure; a direct ByteBuffer costs the same
    * DRAM traffic but lives outside the heap and the collector's sight.
    * (heap_mb_q values from the r12 artifact carry that +256 MB bias —
    * ledgered in BENCH_SCALE.md.) Allocates ONCE at first use. */
  private var bwBuf: java.nio.ByteBuffer = null
  private def bwKernel(): Double = {
    if (bwBuf == null) {
      val b = java.nio.ByteBuffer.allocateDirect(256 << 20)
        .order(java.nio.ByteOrder.nativeOrder())
      var i = 0
      while (i < (32 << 20)) { b.putLong(i << 3, i.toLong * 0x9e3779b97f4a7c15L); i += 1 }
      bwBuf = b
    }
    val b = bwBuf
    val n = 32 << 20 // longs
    val t0 = System.nanoTime()
    var s = 0L
    var pass = 0
    while (pass < 4) { // 4 × 256 MB with a line-step stride: 1 GB+ touched
      var i = (pass * 2) % 8
      while (i < n) { s += b.getLong(i << 3); i += 8 } // 8 longs = one line
      pass += 1
    }
    calibSink = s
    (System.nanoTime() - t0) / 1e9
  }

  /** Kernel spin accounting (ADVICE r12): every calibration sample taken
    * INSIDE the measured cpu0/wall0 window accumulates its wall here and
    * its MEASURED thread-CPU (ThreadMXBean, this thread) — so `cpu_sec`
    * subtracts what the kernels actually consumed, not their wall. Under
    * host steal the two diverge exactly when it matters: a stolen kernel
    * spins less CPU than wall, and the r12 wall-based subtraction
    * over-corrected precisely in the contended runs the telemetry exists
    * to diagnose. `wall_sec` is now left RAW (r12 subtracted spin from it
    * too, breaking comparability with earlier ledgered runs); the spin
    * travels as its own `calib_spin_sec`/`calib_spin_cpu` fields. */
  private var kernelWallInWindow = 0.0
  private var kernelCpuInWindow = 0.0
  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
  private val kernelCpuSupported = threadBean.isCurrentThreadCpuTimeSupported
  private def timedKernel(k: () => Double): Double = {
    val c0 = if (kernelCpuSupported) threadBean.getCurrentThreadCpuTime else -1L
    val w = k()
    kernelWallInWindow += w
    // no thread-CPU clock ⇒ subtract NOTHING (cpu_sec then includes the
    // kernels' spin, the pre-r12 semantics — a bounded overcount), never
    // the wall: charging wall would silently reinstate the r12
    // over-correction exactly in contended runs. calib_spin_cpu reads -1
    // in the artifact so the degraded accounting is visible.
    if (c0 >= 0)
      kernelCpuInWindow += (threadBean.getCurrentThreadCpuTime - c0) / 1e9
    w
  }

  /** Per-OS-thread cumulative CPU seconds, grouped by comm-name prefix
    * (digits/# stripped: "C2 CompilerThre", "GC Thread", "Executor task
    * l"...). Includes JVM-internal threads ThreadMXBean can't see. */
  private def threadCpu(): Map[String, Double] = try {
    val hz = 100.0 // USER_HZ; Linux fixes this at 100 on all shipping kernels
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) Map.empty
    else tasks.iterator.flatMap { t =>
      try {
        val stat = {
          val src = scala.io.Source.fromFile(new java.io.File(t, "stat"))
          try src.mkString finally src.close()
        }
        // comm is parenthesised and may contain spaces: split after last ')'
        val close = stat.lastIndexOf(')')
        val comm = stat.substring(stat.indexOf('(') + 1, close)
        val f = stat.substring(close + 2).split(" ")
        // fields after comm: state=0 ... utime=11 stime=12 (0-indexed)
        val cpu = (f(11).toDouble + f(12).toDouble) / hz
        val group = comm.replaceAll("[-#]?\\d+$", "").trim
        Some(group -> cpu)
      } catch { case _: Throwable => None }
    }.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  } catch { case _: Throwable => Map.empty }

  private def topThreadDelta(before: Map[String, Double], after: Map[String, Double],
                             n: Int = 6): Seq[(String, Double)] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      .filter(_._2 > 0.05).toSeq.sortBy(-_._2).take(n)

  /** Reference wall times from the committed clean run (absent entries or a
    * missing resource simply disable the auto-rerun for those queries). */
  private def loadRef(): Map[String, Double] = try {
    val in = getClass.getResourceAsStream("/bench_ref.json")
    if (in == null) Map.empty
    else {
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  } catch { case _: Throwable => Map.empty }

  /** Machine-wide counters (USER_HZ jiffies → seconds): steal = CPU the
    * hypervisor gave another tenant; busy = all non-idle. A query with
    * wall ≫ its own cpu AND host busy/steal high is the machine's fault;
    * both low means WE blocked (lock, disk, scheduler) — distinguishable
    * per query from the artifact alone. */
  private def hostStat(): (Double, Double) = try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).map(_.toDouble)
    val idle = f(3) + (if (f.length > 4) f(4) else 0.0)
    val steal = if (f.length > 7) f(7) else 0.0
    (steal / 100.0, (f.sum - idle) / 100.0)
  } catch { case _: Throwable => (-1.0, -1.0) }

  private final case class PreflightAttempt(calib: Double, bw: Double,
    stealD: Double, pass: Boolean)

  /** Contention pre-flight gate (VERDICT r12 #1): all six r12 registry
    * attempts STARTED into contended windows (75–256 s cumulative steal;
    * the official artifact's own calib triplet ends at 1.443/0.291) and
    * the round closed without a comparable wall number. This gate takes
    * the BENCH_SCALE probe — warm calib kernel, warm bandwidth kernel,
    * /proc/stat steal across a short sleep — BEFORE the first query is
    * timed, and refuses to start while the host is visibly contended:
    * calib > 0.95 s (healthy ≈ 0.85) or calib_bw > 0.16 s (healthy
    * 0.10–0.14) or steal > 0.25 s across the ~3.5 s probe window (a run
    * that accrues steal at that rate lands ≈ 20+ s contaminated —
    * double the "total steal < 10 s" clean-run bar). On a contended
    * probe it sleeps 30 s and retries until the budget
    * (`SPARK_GRAFT_PREFLIGHT_SEC`, default 420 — bounded so the gate +
    * storm waits + a full registry stay comfortably inside any outer
    * harness timeout; an unattended run that can't start clean within
    * 7 min runs annotated rather than risking no artifact at all) is
    * spent; the full
    * attempt trail and the verdict land in the artifact either way, so
    * a run that had to start dirty SAYS so instead of asking a reader
    * to reverse-engineer it from per-query steal. */
  private def preflight(budgetSec: Double): (Boolean, Double, Seq[PreflightAttempt]) = {
    calibKernel(); bwKernel() // JIT/alloc warm, unrecorded
    val t0 = System.nanoTime()
    val attempts = scala.collection.mutable.ListBuffer[PreflightAttempt]()
    var pass = false
    var done = false
    while (!done) {
      val (s0, _) = hostStat()
      val c = calibKernel()
      val bw = bwKernel()
      Thread.sleep(2000)
      val (s1, _) = hostStat()
      val stealD = if (s0 >= 0 && s1 >= 0) s1 - s0 else 0.0
      pass = c <= 0.95 && bw <= 0.16 && stealD <= 0.25
      attempts += PreflightAttempt(c, bw, stealD, pass)
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (pass || elapsed >= budgetSec) done = true
      else {
        // clamped to the remaining budget (ADVICE r13: a fixed 30 s sleep
        // could overshoot it by up to ~30 s)
        val sleepMs = math.max(0L,
          math.min(30000L, ((budgetSec - elapsed) * 1000).toLong))
        System.err.println(f"[bench] PREFLIGHT contended: calib=$c%.3f bw=$bw%.3f stealD=$stealD%.2f — waiting ${sleepMs / 1000}%d s (${budgetSec - elapsed}%.0f s budget left)")
        Thread.sleep(sleepMs)
      }
    }
    ((pass, (System.nanoTime() - t0) / 1e9, attempts.toSeq))
  }

  /** Interpreted-path signature counters on the plan the query will execute:
    * CodegenFallback expression instances + WholeStageCodegen node coverage.
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
      case c: org.apache.spark.sql.execution.CodegenSupport => c.supportCodegen
      case _: WholeStageCodegenExec => true
      case _ => false
    }
    (fallback, canCodegen, nodes.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // full-registry runs (no args — the driver's shape) gate on the host
    // being quiet; explicit-subset local iteration skips the gate unless
    // forced. Unrecognized values fail fast (ADVICE r12: GATE_SCALE
    // silently ignored "true"), not silently default.
    val wantPreflight = sys.env.get("SPARK_GRAFT_PREFLIGHT") match {
      case Some("1") => true
      case Some("0") => false
      case None => args.isEmpty
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_PREFLIGHT=$v: expected 1 or 0")
    }
    // One shared clock for ALL untimed waiting (VERDICT r13 stretch #8):
    // without it, a 420 s preflight + its recheck + a 300 s storm budget
    // can stack to ~12 min of waiting in an unattended run. When
    // SPARK_GRAFT_QUIET_BUDGET_SEC is set, every wait pool below is
    // clamped to what remains of it; unset, the per-pool defaults stand
    // (back-compatible: the pools still bound the worst case on their
    // own, just not jointly).
    val quietBudgetTotal = sys.env.get("SPARK_GRAFT_QUIET_BUDGET_SEC").map(_.toDouble)
    var quietSpent = 0.0
    def quietClamp(poolBudget: Double): Double =
      quietBudgetTotal.map(t => math.min(poolBudget, math.max(0.0, t - quietSpent)))
        .getOrElse(poolBudget)

    val pfBudget = sys.env.getOrElse("SPARK_GRAFT_PREFLIGHT_SEC", "420").toDouble
    val (pfPass, pfWaited, pfAttempts) =
      if (wantPreflight) preflight(quietClamp(pfBudget))
      else (true, 0.0, Seq.empty[PreflightAttempt])
    quietSpent += pfWaited
    if (wantPreflight)
      System.err.println(f"[bench] preflight ${if (pfPass) "PASS" else "FAIL (budget spent — timing anyway, annotated)"} after ${pfWaited}%.0f s, ${pfAttempts.size} attempt(s)")

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
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val df = fn(spark, sfDir)
      try cgQ(name) = codegenHealth(df.queryExecution.executedPlan)
      catch { case _: Throwable => }
      df.write.format("noop").mode("overwrite").save()
    }

    // warmup: touch the big tables + exercise codegen, unmeasured. The
    // sf0.001 s1 pass additionally absorbs Structured Streaming + engine
    // write-path first-touch (checkpoint machinery, foreachBatch codegen,
    // parquet committer classes) — r4's driver run showed the tail s1/s2
    // queries paying multi-second one-time costs that belong to the JVM,
    // not the query.
    try run("warm_q1", SparkEntry.queries("q1_agg")) catch { case _: Throwable => }
    try run("warm_q3", SparkEntry.queries("q3_join")) catch { case _: Throwable => }
    try SparkEntry.queries("s1_engine_roundtrip")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // sacrificial JIT warm (VERDICT r13 #4): c11_lineage runs SECOND in
    // sorted order, so its timed window absorbed the run's C2 compilation
    // storm every round (~31 jit-s charged against 15 CPU-s of flat
    // executor work — a standing +1–3 s artifact that distorted every
    // cross-round comparison). One untimed pass compiles its hot paths the
    // way the calibration kernels warm themselves; every other query
    // already gets this implicitly by running later in the sequence.
    try run("warm_c11", SparkEntry.queries("c11_lineage")) catch { case _: Throwable => }
    spark.catalog.clearCache()
    cgQ.clear()

    // …and let the compiler DRAIN before the first timed window: C2 is
    // asynchronous, so compilation queued by the warmups otherwise spills
    // into whichever queries run first (the c11 signature above is partly
    // this spillover). Bounded poll, untimed (sits before wall0): proceed
    // once the JVM compiles < 0.2 s per 2 s sample or the budget — 60 s,
    // clamped to the shared quiet clock and charged against it — is
    // spent. Full-registry runs only (the comparable artifacts; a
    // subset iteration run shouldn't eat a mandatory 2 s+ sleep), and a
    // no-op when compilation-time monitoring is unsupported. The drained
    // wall travels as `jit_drain_sec`.
    var jitDrainSec = 0.0
    if (args.isEmpty) {
      val cb = java.lang.management.ManagementFactory.getCompilationMXBean
      if (cb != null && cb.isCompilationTimeMonitoringSupported) {
        val budget = quietClamp(60.0)
        val t0 = System.nanoTime()
        var prev = cb.getTotalCompilationTime
        var settled = false
        while (!settled && (System.nanoTime() - t0) / 1e9 < budget) {
          Thread.sleep(2000)
          val now = cb.getTotalCompilationTime
          settled = now - prev < 200
          prev = now
        }
        jitDrainSec = (System.nanoTime() - t0) / 1e9
        quietSpent += jitDrainSec
        System.err.println(f"[bench] JIT drain: ${if (settled) "settled" else "budget spent"} after $jitDrainSec%.0f s")
      }
    }

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def procCpuSec: Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    // JVM-health counters, per query (r9 verdict: six queries showed
    // 2-10x CPU in one run and not another, zero steal — the artifact
    // must be able to tell real plan work from GC pressure and from
    // JIT/codegen compilation storms without a rerun):
    //   gc    = GC pause seconds inside the query (all collectors)
    //   jit   = JIT compilation thread seconds inside the query
    //   heap  = live heap MB after the query (post-hoc growth trend)
    import scala.jdk.CollectionConverters._
    def gcSec: Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
    val compBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitSec: Double =
      if (compBean != null && compBean.isCompilationTimeMonitoringSupported)
        compBean.getTotalCompilationTime / 1e3
      else -1.0
    def heapMb: Double = java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    // bench_ref.json is calibrated at sf0.1 (the driver's scale) — at any
    // other SF the 3x test would flag ordinary data-scaling as anomalies
    // and burn the rerun budget re-measuring them (observed at sf1: seven
    // spurious reruns). Refs off ⇒ reruns off; all other telemetry stays.
    val refTimes =
      if (sfDir.replaceAll("/+$", "").endsWith("sf0.1")) loadRef()
      else Map.empty[String, Double]
    val failed = scala.collection.mutable.ListBuffer[String]()
    final case class QStat(wall: Double, cpu: Double, steal: Double,
      busy: Double, gc: Double, jit: Double, heap: Double,
      threads: Seq[(String, Double)], bwAfter: Double)

    /** One measured execution, with thread-CPU attribution kept when the
      * query is CPU-heavy (the anomaly's signature) — ~1 ms of /proc reads
      * per query, no steady-state overhead. */
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                recordFailure: Boolean): QStat = {
      val t0 = System.nanoTime()
      val qc0 = procCpuSec
      val (st0, bz0) = hostStat()
      val gc0 = gcSec
      val jit0 = jitSec
      val th0 = threadCpu()
      // a failed query must be VISIBLE — a swallowed failure reads as a
      // fast query and quietly corrupts the trend line (a killed run's
      // tail shows as a block of near-zero "stopped SparkContext" times)
      try run(name, fn) catch { case e: Throwable =>
        if (recordFailure) failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = procCpuSec - qc0
      val (st1, bz1) = hostStat()
      val th = if (cpu > 10.0 || refTimes.get(name).exists(r => dt > math.max(3 * r, r + 2.0)))
        topThreadDelta(th0, threadCpu()) else Nil
      // per-window bandwidth sample (VERDICT r14 #1): one ~0.12 s DRAM
      // micro-sample IMMEDIATELY after the window closes, so a memory-
      // pressure phase (the m4–m8 signature: wall ×3.4–4.0, steal 0, cpu
      // tripled) is convicted by the artifact — `bw_q` is the per-query
      // analogue of `host_steal_q`. Taken before clearCache so nothing
      // sits between the window and its evidence; spin accounting rides
      // timedKernel (wall in calib_spin_sec, measured CPU subtracted
      // from cpu_sec). ~20 s of untimed spin per full registry run —
      // outside every per-query wall and the headline `value`.
      val bwAfter = timedKernel(() => bwKernel())
      // one line per window close (stderr, untimed) — live progress for
      // long runs, and the injected-pressure validation protocol keys
      // its injection timing off these lines
      System.err.println(f"[bench] window $name wall=$dt%.2f cpu=$cpu%.1f steal=${st1 - st0}%.1f bw=$bwAfter%.3f")
      // leftover cached blocks from one query must not tax the next
      // (each query's own caching cost is inside its measured time;
      // the clear itself is untimed bookkeeping)
      spark.catalog.clearCache()
      QStat(dt, cpu, st1 - st0, bz1 - bz0, gcSec - gc0,
        if (jit0 >= 0) jitSec - jit0 else -1.0, heapMb, th, bwAfter)
    }

    // Preflight RE-CHECK (ADVICE r13): session bringup + warmup + the JIT
    // drain put minutes between the gate's PASS and the first timed
    // window, and the storm-wait machinery is reactive — a storm landing
    // in that gap was only caught after the first query absorbed it. One
    // more probe here, spending whatever preflight budget remains if it
    // reads contended (a spent budget still records one attempt), so the
    // verdict that travels with the artifact is taken AT the measurement
    // boundary, not minutes before it.
    val (rcPass, rcWaited, rcAttempts) =
      if (wantPreflight) preflight(quietClamp(math.max(0.0, pfBudget - pfWaited)))
      else (true, 0.0, Seq.empty[PreflightAttempt])
    quietSpent += rcWaited
    if (wantPreflight)
      System.err.println(f"[bench] preflight recheck ${if (rcPass) "PASS" else "FAIL (budget spent — timing anyway, annotated)"} after ${rcWaited}%.0f s, ${rcAttempts.size} attempt(s)")

    // calibration sample 1: JIT-warm the kernels once (unrecorded), then
    // time them — the warm samples are the comparable ones across hosts.
    // A preflighted run already ran both kernels ≥ 2× moments ago (the
    // recheck above), so the warm pass would be ~1.4 s of duplicate spin.
    if (!wantPreflight) { calibKernel(); bwKernel() }
    val calibStart = calibKernel()
    val bwStart = bwKernel()

    val cpu0 = procCpuSec
    val wall0 = System.nanoTime()

    // optional args = subset of query names (local iteration; the driver
    // passes none and measures everything). *_distpath names are the
    // distributed-path oracle twins of size-gated operators — correctness
    // entries, not workloads: they re-run their siblings' plans with the
    // driver fast path forced off, so timing them on GATE-scale data
    // (sf0.1, the driver's run) measures only the round waves the gate
    // exists to avoid. On SCALE runs (any other SF dir — the ×10/×100
    // probes) they ARE included: the scale graphs are supposed to exceed
    // the caps and run distributed anyway, so the forced twins cost ~one
    // duplicate measurement and guard against a future cap raise silently
    // re-gating the scale graphs (VERDICT r11 #7). Explicit args still
    // select anything by name.
    // SPARK_GRAFT_GATE_SCALE=1/0 overrides the default dir-name sniff —
    // a renamed/symlinked copy of the gate dataset (or a scale dir whose
    // name happens to end in "sf0.1") would otherwise silently flip which
    // queries the default run measures. Unrecognized values fail fast
    // (ADVICE r12: "true" silently fell through to the sniff the
    // variable exists to override).
    val gateScale = sys.env.get("SPARK_GRAFT_GATE_SCALE") match {
      case Some("1") => true
      case Some("0") => false
      case None => sfDir.replaceAll("/+$", "").endsWith("sf0.1")
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_GATE_SCALE=$v: expected 1 or 0")
    }
    // SPARK_GRAFT_EXCLUDE: comma-separated query names dropped from the
    // ARGLESS full-registry set (explicit args already say exactly what
    // runs). Exists for the ×1000 decade, where two documented families
    // cannot be timed meaningfully: the l2-style near-dup PAIR queries,
    // whose OUTPUT is quadratic in replica depth by construction (no
    // plan makes a (1000g choose 2)-row answer linear), and m41, whose
    // wedge workload grows ~cubically with the replica factor (priced by
    // density projection instead — BENCH_SCALE §r16). No silent caps:
    // the names land in the artifact's `excluded` field and the compact
    // line carries `excluded_n`, so a reader of bench_x1000_full.json
    // sees what was dropped without consulting the launch script.
    // Unknown names fail fast — a typo must not silently run the query
    // it meant to exclude.
    val excluded: Set[String] = sys.env.get("SPARK_GRAFT_EXCLUDE") match {
      case Some(csv) =>
        val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_EXCLUDE names not in the registry: ${unknown.mkString(",")}")
        names
      case None => Set.empty
    }
    val wanted = if (args.isEmpty)
                   SparkEntry.queries.filter(kv =>
                     !VerifyOnly.contains(kv._1) &&
                     !excluded.contains(kv._1) &&
                     (!gateScale || !kv._1.endsWith("_distpath") ||
                       PromotedDistpath.contains(kv._1)))
                 else SparkEntry.queries.filter(kv => args.contains(kv._1))
    // SPARK_GRAFT_SECOND_PASS=0 skips the r10 suspect-cluster wholesale
    // second pass (default 1 — every sf0.1/×10/×100 ledger artifact ran
    // it). At ×1000 the pass re-times m37's ~multi-hundred-second wall
    // for phase-conviction value the per-query steal/bw brackets already
    // provide — the switch records itself as `second_pass` so an
    // artifact without `second_q` entries says why. Fails fast on junk.
    val secondPass = sys.env.get("SPARK_GRAFT_SECOND_PASS") match {
      case Some("1") | None => true
      case Some("0") => false
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_SECOND_PASS=$v: expected 1 or 0")
    }
    // Mid-run storm wait: the pre-flight gate can only refuse a dirty
    // START, and 3 of this round's 7 registry attempts were contaminated
    // by storms arriving MINUTES into the run (17.9→331.6 s in-artifact
    // steal). When a query's window just absorbed real steal, the next
    // query is overwhelmingly likely to absorb more — so pause UNTIMED
    // between queries until the host quiets, up to a total budget
    // (SPARK_GRAFT_STORM_WAIT_SEC, default 300; 0 disables). The wait
    // sits outside every PER-QUERY window but inside the raw `wall_sec`
    // (which also absorbs the anomaly bw-delay sleeps below) — so the
    // artifact carries `storm_wait_sec` and a pre-subtracted
    // `wall_net_sec` (ADVICE r13), and ledger-to-ledger wall comparisons
    // read the net field instead of having to know what to subtract. A
    // quiet run is byte-identical to before; a stormy run trades bounded
    // wall for a usable artifact.
    var stormWaitBudget =
      quietClamp(sys.env.getOrElse("SPARK_GRAFT_STORM_WAIT_SEC", "300").toDouble)
    val stormBudgetTotal = stormWaitBudget
    var stormWaited = 0.0
    def stormWait(lastSteal: Double): Unit = {
      if (lastSteal < 0.5 || stormWaitBudget <= 0) return
      System.err.println(f"[bench] STORM: last query absorbed $lastSteal%.1f s steal — waiting for quiet (${stormWaitBudget}%.0f s budget)")
      var quiet = false
      while (!quiet && stormWaitBudget > 0) {
        val (s0, _) = hostStat()
        Thread.sleep(5000)
        val (s1, _) = hostStat()
        stormWaitBudget -= 5; stormWaited += 5
        if (s0 >= 0 && s1 - s0 < 0.05) quiet = true
        else { Thread.sleep(10000); stormWaitBudget -= 10; stormWaited += 10 }
      }
    }

    val perQ = scala.collection.mutable.LinkedHashMap[String, QStat]()
    // anomaly rerun record: (first, rerun, bw-kernel sample taken
    // IMMEDIATELY before the rerun). VERDICT r12 #4: `calib_bw`'s three
    // run-bracketing samples can't pin a mid-run bandwidth window (the
    // run-F 0.464 catch) to the queries it inflated the way
    // `host_steal_q` pins steal — so the ~0.12 s kernel now also fires
    // right where the evidence is needed: between a flagged first pass
    // and its in-JVM re-run. First pass slow + bw sample high + rerun
    // flat convicts a bandwidth phase from the artifact alone.
    val rerunQ = scala.collection.mutable.LinkedHashMap[String, (QStat, QStat, Double)]()
    var rerunBudget = 15 // a fully contaminated run must not double itself
    // Bandwidth conviction threshold: same bar the preflight gate holds
    // the run's START to (healthy 0.10–0.14 s/GB on this host). A query
    // whose post-window sample exceeds it lands in `bw_convicted`.
    val BwCap = 0.16
    val bwConvicted = scala.collection.mutable.ListBuffer[String]()
    // bandwidth analogue of stormWait: when a window CLOSED contended
    // (bw_q over the cap), the next query is overwhelmingly likely to
    // absorb the same DRAM phase — pause untimed, re-sampling the ~0.12 s
    // kernel, until the bus quiets or the shared storm budget is spent.
    def bwStormWait(lastBw: Double): Unit = {
      if (lastBw <= BwCap || stormWaitBudget <= 0) return
      System.err.println(f"[bench] BW PHASE: post-window sample $lastBw%.3f s/GB — waiting for quiet bus (${stormWaitBudget}%.0f s budget)")
      var bwNow = lastBw
      while (bwNow > BwCap && stormWaitBudget > 0) {
        Thread.sleep(5000); stormWaitBudget -= 5; stormWaited += 5
        bwNow = timedKernel(() => bwKernel())
      }
    }
    // input-density telemetry (VERDICT r14 #4): gates that stage a pair
    // list record its path via graft.Telemetry; after the measured window
    // the counts are computed UNTIMED — edges = pair rows, wedges =
    // Σ d(v)·(d(v)−1)/2 over the undirected degree distribution (the
    // size of the triangle maintainer's closing workload). Replicated
    // testdata densifies superlinearly by construction, so raw m37/m41
    // walls across decades are only comparable normalized by these.
    val densityQ = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    def priceDensity(name: String): Unit =
      graft.Telemetry.drainPath(name).foreach { path =>
        try {
          val e = spark.read.parquet(path)
          val Seq(a, b) = e.columns.take(2).toSeq
          val edges = e.count()
          val wedges = e.select(org.apache.spark.sql.functions.col(a).as("n"))
            .unionAll(e.select(org.apache.spark.sql.functions.col(b).as("n")))
            .groupBy("n").count()
            .agg(org.apache.spark.sql.functions.expr(
              "CAST(sum((count * (count - 1)) DIV 2) AS LONG)"))
            .head().getLong(0)
          densityQ(name) = (edges, wedges)
          System.err.println(s"[bench] $name input density: edges=$edges wedges=$wedges")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name density probe failed: ${e.getMessage}")
        }
      }
    val results = wanted.toSeq.sortBy(_._1).map { case (name, fn) =>
      val s1 = measure(name, fn, recordFailure = true)
      priceDensity(name)
      perQ(name) = s1
      val convicted = s1.bwAfter > BwCap
      if (convicted) bwConvicted += name
      stormWait(s1.steal)
      bwStormWait(s1.bwAfter)
      // VERDICT r10 #1(a) + r14 #1: catch the anomaly in the act — an
      // outlier re-runs IMMEDIATELY in this JVM. Flat re-run ⇒ phase
      // (JVM/host state); slow re-run ⇒ the plan. Three triggers:
      //   1. ref-based: wall > max(3×ref, ref+2 s) — the standing rule;
      //   2. ref-based, bw-CONVICTED window: the bar tightens to
      //      max(2×ref, ref+0.3 s). The m4–m8 block (sub-second refs
      //      inflated ×3.4–4.0 under a DRAM phase) sat under ref+2 s and
      //      was only diagnosed by hand — a convicted window plus any
      //      real inflation now triggers the solo re-measure from the
      //      artifact itself;
      //   3. no refs (scale runs): a convicted window with wall ≥ 2 s
      //      re-runs — the first ×100 cast's m4/m5/q20/q21 false
      //      outliers are exactly this shape.
      val anomalous = refTimes.get(name) match {
        case Some(ref) =>
          s1.wall > math.max(3 * ref, ref + 2.0) ||
            (convicted && s1.wall > math.max(2 * ref, ref + 0.3))
        case None => convicted && s1.wall >= 2.0
      }
      if (anomalous && rerunBudget > 0) {
        rerunBudget -= 1
        var bwNow = timedKernel(() => bwKernel())
        // a re-run fired INTO the same storm proves nothing and spends
        // the budget — when the bandwidth kernel reads contended, wait
        // (untimed, shared storm budget) for a clean sample so the
        // first-vs-rerun pair is a sharp conviction either way
        while (bwNow > BwCap && stormWaitBudget > 0) {
          System.err.println(f"[bench] ANOMALY $name: bw_now=$bwNow%.3f contended — delaying re-run (${stormWaitBudget}%.0f s budget)")
          Thread.sleep(10000); stormWaitBudget -= 10; stormWaited += 10
          bwNow = timedKernel(() => bwKernel())
        }
        System.err.println(f"[bench] ANOMALY $name wall=${s1.wall}%.2f ref=${refTimes.getOrElse(name, -1.0)}%.2f cpu=${s1.cpu}%.1f bw_window=${s1.bwAfter}%.3f bw_now=$bwNow%.3f — re-running in-JVM")
        val s2 = measure(name, fn, recordFailure = false)
        graft.Telemetry.drainPath(name) // first window priced it already
        rerunQ(name) = (s1, s2, bwNow)
      }
      name -> s1.wall
    }

    val calibMid = timedKernel(() => calibKernel())
    val bwMid = timedKernel(() => bwKernel())

    // VERDICT r10 #2: the r9/r10 suspect cluster gets a wholesale second
    // pass after the sorted order completes. Inflated pass 1 + flat pass 2
    // (same JVM, minutes apart) proves a phase effect from the artifact
    // alone; an inflated pass 2 convicts the query.
    val secondQ = scala.collection.mutable.LinkedHashMap[String, QStat]()
    if (args.isEmpty && secondPass) for (name <- Suspects; fn <- wanted.get(name)) {
      secondQ(name) = measure(name, fn, recordFailure = false)
      graft.Telemetry.drainPath(name) // first window priced it already
      stormWait(secondQ(name).steal)
      bwStormWait(secondQ(name).bwAfter)
    }

    val calibEnd = timedKernel(() => calibKernel())
    val bwEnd = timedKernel(() => bwKernel())
    val calibJson = f"""[$calibStart%.3f,$calibMid%.3f,$calibEnd%.3f]"""
    val bwJson = f"""[$bwStart%.3f,$bwMid%.3f,$bwEnd%.3f]"""

    val total = results.map(_._2).sum
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    // the mid/end (and per-rerun) calibration samples spin INSIDE the
    // cpu0/wall0 window — subtract their MEASURED thread-CPU (not wall:
    // ADVICE r12 — under steal a kernel consumes less CPU than wall, so
    // the wall-based subtraction over-corrected exactly in contended
    // runs) so cpu_sec keeps attributing to queries only. wall_sec is
    // RAW again (comparable with the pre-r12 ledger); the spin travels
    // as its own fields.
    val cpuSec =
      if (cpu0 >= 0) math.max(0.0, procCpuSec - cpu0 - kernelCpuInWindow)
      else -1.0
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val load1m = osBean.getSystemLoadAverage
    // JIT-health telemetry: if the code cache fills, HotSpot disables the
    // compiler for the rest of the JVM's life and every later query runs
    // interpreted (10-30x slower) — build.sbt reserves 1g to prevent it,
    // and this records how much a full run actually needs.
    val codeCacheMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed / (1024.0 * 1024.0)).sum

    val fullQs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def qmap(pick: QStat => Double): String =
      perQ.map { case (k, t) => f""""$k":${pick(t)}%.2f""" }.mkString("{", ",", "}")
    def statJson(s: QStat): String = {
      val th = s.threads.map { case (n, c) => f""""$n":$c%.1f""" }.mkString("{", ",", "}")
      f"""{"wall":${s.wall}%.2f,"cpu":${s.cpu}%.2f,"steal":${s.steal}%.2f,"gc":${s.gc}%.2f,"jit":${s.jit}%.2f,"bw":${s.bwAfter}%.3f,"threads":$th}"""
    }
    val rerunJson = rerunQ.map { case (k, (a, b, bw)) =>
      f""""$k":{"first":${statJson(a)},"bw_before_rerun":$bw%.3f,"rerun":${statJson(b)}}""" }.mkString("{", ",", "}")
    val secondJson = secondQ.map { case (k, s) => s""""$k":${statJson(s)}""" }.mkString("{", ",", "}")
    val threadsJson = perQ.collect { case (k, s) if s.threads.nonEmpty =>
      s""""$k":${s.threads.map { case (n, c) => f""""$n":$c%.1f""" }.mkString("{", ",", "}")}"""
    }.mkString("{", ",", "}")
    val cgfbJson = cgQ.map { case (k, (fb, _, _)) => s""""$k":$fb""" }.mkString("{", ",", "}")
    val wscJson = cgQ.map { case (k, (_, in, tot)) => s""""$k":"$in/$tot"""" }.mkString("{", ",", "}")
    val detail = "bench_full.json"
    def pfAttemptsJson(as: Seq[PreflightAttempt]): String =
      as.map(p =>
        f"""{"calib":${p.calib}%.3f,"bw":${p.bw}%.3f,"steal_d":${p.stealD}%.2f,"pass":${p.pass}}""")
        .mkString("[", ",", "]")
    val pfJson =
      f"""{"enabled":$wantPreflight,"pass":$pfPass,"waited_sec":$pfWaited%.0f,"attempts":${pfAttemptsJson(pfAttempts)},"recheck":{"pass":$rcPass,"waited_sec":$rcWaited%.0f,"attempts":${pfAttemptsJson(rcAttempts)}}}"""
    val wallNetSec = wallSec - stormWaited
    // bandwidth-conviction summary (VERDICT r14 #1): `bw_q` carries every
    // query's post-window DRAM sample, `bw_convicted` the names over
    // BwCap, and `value_bwnet` re-states the headline with each CONVICTED
    // query that earned a clean re-measure (bw clean both immediately
    // before the re-run and at its own window close) counted at the
    // re-run wall — the machine-applied version of the "solo re-measure"
    // protocol the r13/r14 ledgers applied by hand. Non-convicted
    // queries always count at their first wall, so a quiet run has
    // value_bwnet == value exactly.
    val bwQJson = perQ.map { case (k, t) => f""""$k":${t.bwAfter}%.3f""" }.mkString("{", ",", "}")
    val bwConvictedJson = bwConvicted.map(n => s""""$n"""").mkString("[", ",", "]")
    val densityJson = densityQ.map { case (k, (e, w)) =>
      s""""$k":{"edges":$e,"wedges":$w}""" }.mkString("{", ",", "}")
    val totalBwNet = perQ.iterator.map { case (k, s) =>
      rerunQ.get(k) match {
        case Some((first, rerun, bwBefore))
          if first.bwAfter > BwCap && bwBefore <= BwCap && rerun.bwAfter <= BwCap =>
          rerun.wall
        case _ => s.wall
      }
    }.sum
    val excludedJson = excluded.toSeq.sorted.map(n => s""""$n"""").mkString("[", ",", "]")
    val fullLine =
      f"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"sf":"$sfDir","cpus":$cpus,"excluded":$excludedJson,"second_pass":$secondPass,"wall_sec":$wallSec,"wall_net_sec":$wallNetSec%.1f,"cpu_sec":$cpuSec,"value_bwnet":$totalBwNet%.2f,"calib_spin_sec":$kernelWallInWindow%.2f,"calib_spin_cpu":${if (kernelCpuSupported) f"$kernelCpuInWindow%.2f" else "-1"},"storm_wait_sec":$stormWaited%.0f,"contaminated":${(stormBudgetTotal > 0 && stormWaitBudget <= 0) || rerunQ.size > 10},"jit_drain_sec":$jitDrainSec%.0f,"load1m":$load1m,"preflight":$pfJson,"calib":$calibJson,"calib_bw":$bwJson,"cpu_q":${qmap(_.cpu)},"host_steal_q":${qmap(_.steal)},"host_busy_q":${qmap(_.busy)},"bw_q":$bwQJson,"bw_convicted":$bwConvictedJson,"density_q":$densityJson,"gc_q":${qmap(_.gc)},"jit_q":${qmap(_.jit)},"heap_mb_q":${qmap(_.heap)},"code_cache_mb":${math.round(codeCacheMb)},"cgfb_q":$cgfbJson,"wsc_q":$wscJson,"threads_q":$threadsJson,"rerun_q":$rerunJson,"second_q":$secondJson,"failed":$failedJson}"""
    try {
      val w = new java.io.PrintWriter(detail, "UTF-8")
      try w.println(fullLine) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] $detail write failed: $e") }

    // compact line: budget 1400 (was 1800): the driver's 2000-char stdout
    // tail must hold this line PLUS sbt's epilogue in full, and it prints
    // LAST, so the line the driver's parser picks is this complete one
    // with its per-query map (VERDICT r14 #4 — every round through r14
    // recorded "parsed": null; through r17 the parser landed on a 5-wall
    // mini summary printed after it).
    //
    // r17 (VERDICT r16 #1): diagnostics must not starve the per-query map.
    // The r16 driver run fired 15 anomaly reruns, their rerun_q/second_q
    // entries were serialized BEFORE the query walls, and only 4 of 172
    // walls survived the budget — the round-over-round comparison went
    // blind exactly when scrutiny mattered most (PERF_r16 degraded to
    // n_common=2 and mislabeled 3 ran-and-passing queries "dropped").
    // Now: (1) the top `MinWalls` query walls are reserved FIRST and are
    // unconditional; (2) rerun_q/second_q are capped at 4 entries each
    // (slowest first attempt first) and admitted only into the budget
    // that remains; (3) leftover budget takes more walls. The complete
    // maps always live in bench_full.json. `contaminated` additionally
    // flags a run that spent its whole storm budget or needed >10 anomaly
    // reruns, so the driver can discount it mechanically instead of
    // forensically (the r16 reading required the latter).
    def fmt(v: Double) = f"$v%.2f"
    val budget = 1400
    val contaminated =
      (stormBudgetTotal > 0 && stormWaitBudget <= 0) || rerunQ.size > 10
    val rrEntries = rerunQ.toSeq.sortBy { case (_, (a, _, _)) => -a.wall }
      .take(4).map { case (k, (a, b, bw)) =>
        s""""$k":[${fmt(a.wall)},${fmt(b.wall)},${fmt(bw)}]""" }
    val spEntries = secondQ.toSeq.sortBy { case (k, _) => -perQ(k).wall }
      .take(4).map { case (k, s) =>
        s""""$k":[${fmt(perQ(k).wall)},${fmt(s.wall)}]""" }
    val pfCompact =
      f"""{"enabled":$wantPreflight,"pass":$pfPass,"waited_sec":$pfWaited%.0f,"attempts":${pfAttempts.size},"recheck_pass":$rcPass,"recheck_waited_sec":$rcWaited%.0f}"""
    val wallEntries = results.sortBy(-_._2)
      .map { case (k, v) => s""""$k":${fmt(v)}""" }
    val MinWalls = 20
    def headFor(rr: Seq[String], sp: Seq[String]): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"cpu_sec":${fmt(cpuSec)},"value_bwnet":${fmt(totalBwNet)},"storm_wait_sec":${fmt(stormWaited)},"contaminated":$contaminated,"excluded_n":${excluded.size},"load1m":${fmt(load1m)},"preflight":$pfCompact,"calib":$calibJson,"calib_bw":$bwJson,"bw_convicted":$bwConvictedJson,"code_cache_mb":${math.round(codeCacheMb)},"detail":"$detail","failed":$failedJson,"rerun_n":${rerunQ.size},"rerun_q":${rr.mkString("{", ",", "}")},"second_n":${secondQ.size},"second_q":${sp.mkString("{", ",", "}")},"queries_omitted":NNN,"queries":{"""
    // pass 1: reserve the guaranteed walls against a diagnostics-free head
    val guaranteed = wallEntries.take(MinWalls)
    var used = headFor(Nil, Nil).length + 2 + // closing "}}"
      guaranteed.map(_.length + 1).sum
    // pass 2: admit capped diagnostics entries into what remains
    def admit(es: Seq[String]): Seq[String] = es.takeWhile { e =>
      val fits = used + e.length + 1 <= budget
      if (fits) used += e.length + 1
      fits
    }
    val rrKept = admit(rrEntries)
    val spKept = admit(spEntries)
    // pass 3: leftover budget takes more walls
    val extraWalls = admit(wallEntries.drop(MinWalls))
    val keptWalls = guaranteed ++ extraWalls
    val omitted = results.size - keptWalls.size
    println(headFor(rrKept, spKept)
      .replace(""""queries_omitted":NNN""", s""""queries_omitted":$omitted""")
      + keptWalls.mkString(",") + "}}")
    spark.stop()
  }
}
