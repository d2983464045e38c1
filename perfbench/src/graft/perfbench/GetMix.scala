package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.UnitDb
import graft.model.{Entry, Message, MessageId, Query}

/** `get_mix`: one caller, closed loop, embedded `UnitDb.get` over a store
  * seeded once under a fixed store clock. Every answer is compared with an
  * in-memory model of the seeded messages. */
object GetMix {
  /** The store's fixed clock: 2025-06-01T12:00:00Z. */
  val Now = 1748779200000L
  val DayMs = 86400000L
  val Days = 7
  val Sites = 40
  val Devices = 25
  // Sized so seeding (one Spark write per sync, the first one cold) fits
  // a run's set-up; a get's cost is mostly fixed Spark work per call
  // (planning, about 3.6 jobs), not rows scanned.
  val Messages = 50000
  val Syncs = 6
  val PayloadBytes = 64
  val Contract2 = 4242L
  val Master: Long = Message.MasterContract
  /** Share of messages under the second contract, published to a stored
    * wildcard topic, carrying a TTL, and deleted. */
  val C2Share = 0.10
  val WildShare = 0.005
  val TtlShare = 0.02
  val DeleteShare = 0.01
  /** Distinct calls the loop cycles through (4 of each class). */
  val Calls = 16
  /** Warm-up calls inside set-up, outside the timed window, while the JIT
    * (C1 only, see run.py) and Spark's code paths warm up; parallel
    * callers get through them in less wall time. */
  val WarmupCalls = 48
  val WarmupThreads = 4

  final case class Msg(k: Int, topic: String, contract: Long, ts: Long,
      ttl: Option[Long], payload: Array[Byte], deleted: Boolean) {
    def expired: Boolean = ttl.exists(t => ts + t <= Now)
  }

  final case class Call(cls: String, q: Query, expect: Array[Array[Byte]])

  /** The seeded messages, from the workload seed alone. */
  def generate(seed: Long): IndexedSeq[Msg] = {
    val rnd = new scala.util.Random(seed)
    val step = Days * DayMs / Messages
    (0 until Messages).map { k =>
      val site = rnd.nextInt(Sites)
      val dev = rnd.nextInt(Devices)
      val contract = if (rnd.nextDouble() < C2Share) Contract2 else Master
      val topic =
        if (rnd.nextDouble() < WildShare)
          if (rnd.nextBoolean()) s"dev.s$site.*.temp" else s"dev.s$site.d$dev..."
        else s"dev.s$site.d$dev.temp"
      val ttl =
        if (rnd.nextDouble() < TtlShare)
          Some(if (rnd.nextBoolean()) 60000L else 30 * DayMs)
        else None
      val deleted = rnd.nextDouble() < DeleteShare
      val head = s"m$k;".getBytes(UTF_8)
      val payload = Array.tabulate[Byte](PayloadBytes)(i =>
        if (i < head.length) head(i) else ('a' + rnd.nextInt(26)).toByte)
      // distinct timestamps: newest-first order has no ties to break
      Msg(k, topic, contract, Now - Days * DayMs + k * step, ttl, payload, deleted)
    }
  }

  /** The calls the loop cycles through: four pattern classes. */
  def calls(seed: Long, msgs: IndexedSeq[Msg]): IndexedSeq[Call] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val bySite = msgs.groupBy(m => m.topic.split('.')(1))
    (0 until Calls).map { i =>
      val s = rnd.nextInt(Sites)
      val d = rnd.nextInt(Devices)
      val (cls, q) = i % 4 match {
        case 0 => ("static", Query(s"dev.s$s.d$d.temp?last=100"))
        case 1 => ("wild", Query(s"dev.s$s.*.temp", limit = 100))
        case 2 => ("multi", Query(s"dev.s$s...?last=1h"))
        case _ => ("static_c2", Query(s"dev.s$s.d$d.temp?last=100", Contract2))
      }
      Call(cls, q, Model.answer(bySite.getOrElse(s"s$s", Nil), q, Now).map(_.payload).toArray)
    }
  }

  /** Seed the store and return the calls with their expected answers.
    * The generated messages stay local to this method, so the model is
    * garbage by the time the heap is measured. */
  private def seed(db: UnitDb, seed: Long, r: Report): IndexedSeq[Call] = {
    val msgs = generate(seed)
    val seedStart = System.nanoTime()
    msgs.groupBy(_.k * Syncs / Messages).toSeq.sortBy(_._1).foreach { case (_, chunk) =>
      val run = mutable.ArrayBuffer[Entry]()
      def flushRun(): Unit = { db.putEntries(run.toSeq); run.clear() }
      chunk.foreach { m =>
        val e = Entry(m.topic, m.payload, m.contract, m.ttl, Some(m.ts))
        if (m.deleted) {
          flushRun()
          val (_, _, seq) = MessageId.decode(db.putEntry(e))
          db.delete(seq, m.topic, m.contract)
        } else run += e
      }
      flushRun()
      db.sync()
    }
    r.info("messages") = msgs.size.toString
    r.info("topics") = s"${Sites * Devices} static + " +
      s"${msgs.map(_.topic).filter(_.contains('.' + "*")).distinct.size} single-level wildcard + " +
      s"${msgs.map(_.topic).filter(_.endsWith("...")).distinct.size} multi-level wildcard"
    r.info("days") = Days.toString
    r.info("contracts") = msgs.map(_.contract).distinct.size.toString
    r.info("wildcard_published") = msgs.count(m => m.topic.contains('*') || m.topic.endsWith("...")).toString
    r.info("tombstones") = msgs.count(_.deleted).toString
    r.info("expired_rows") = msgs.count(_.expired).toString
    r.info("syncs") = Syncs.toString
    r.info("seed_s") = f"${(System.nanoTime() - seedStart) / 1e9}%.3f"
    calls(seed, msgs)
  }

  def run(spark: SparkSession, o: Opts): Report = {
    val r = new Report
    val db = UnitDb.open(spark, s"${o.work}/get_mix_store", clock = () => Now)
    val cs = seed(db, o.seed, r)
    val files = Store.files(db.path)
    r.info("store_files") = files.toString
    r.info("distinct_calls") = cs.size.toString

    def check(c: Call, got: Array[Array[Byte]]): Unit = {
      r.attempted += 1
      if (got.length != c.expect.length ||
          !got.indices.forall(i => java.util.Arrays.equals(got(i), c.expect(i))))
        r.fail(s"${c.cls} ${c.q}: got ${got.length} rows, expected ${c.expect.length}" +
          got.headOption.map(h => s", first ${new String(h, UTF_8).takeWhile(_ != ';')}").getOrElse(""))
    }

    val warmStart = System.nanoTime()
    (0 until WarmupThreads).map { t =>
      val th = new Thread(() =>
        (t until WarmupCalls by WarmupThreads).foreach(i => db.get(cs(i % cs.size).q)))
      th.start(); th
    }.foreach(_.join())
    r.info("warmup_s") = f"${(System.nanoTime() - warmStart) / 1e9}%.3f"
    Main.setupDone(r)

    // The window lasts --seconds, rounded up to a whole round of the four
    // classes so each class weighs the same; every plain call in it counts.
    // The traced run interleaves traced and plain calls, shifting by one
    // each pass, and goes on until every distinct call was traced once.
    // A traced call is the program's own `db.get`; `getFrame` is timed
    // beside it, outside the op, so its Spark work stays out of the
    // per-op counts.
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    def tracedCall(i: Int): Boolean = tracer.isDefined && (i + i / cs.size) % 2 == 1
    val plain = mutable.ArrayBuffer[(String, Double)]()
    val traced, build, collect = new Samples
    tracer.foreach(_.start())
    val t0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - t0 < o.windowNs || i % 4 != 0 ||
        (tracer.isDefined && traced.count < cs.size)) {
      val c = cs(i % cs.size)
      val a = System.nanoTime()
      val got = tracer match {
        case Some(t) if tracedCall(i) =>
          t.span("op.get", "bench")(t.span("engine.get", "engine")(db.get(c.q)))
        case _ => db.get(c.q)
      }
      val ms = (System.nanoTime() - a) / 1e6
      check(c, got)
      if (tracedCall(i)) {
        traced.add(ms)
        val b = System.nanoTime()
        tracer.get.span("engine.get_frame", "engine")(db.getFrame(c.q))
        val buildMs = (System.nanoTime() - b) / 1e6
        build.add(buildMs)
        collect.add(ms - buildMs)
      } else plain += c.cls -> ms
      i += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    Main.windowDone(r)

    def samples(xs: Iterable[(String, Double)]): Samples = {
      val s = new Samples; xs.foreach(x => s.add(x._2)); s
    }
    val m = samples(plain)
    // Gets per second of a caller whose calls take each class's median
    // time: one over the mean of the four class medians. Medians keep a
    // short stall (a GC pause, a burst of host steal) from moving it; the
    // plain rate over the window prints beside it.
    val classMedians = plain.groupBy(_._1).values.map(xs => samples(xs).pct(0.5))
    r.endToEnd("throughput_per_s") = Metric(
      classMedians.size * 1000.0 / classMedians.sum, "1/s", m.count)
    r.named("get_window_rate_per_s") = Metric(m.count / windowS, "1/s", m.count)
    r.lat(r.named, "get_p50_ms", m, 0.5)
    r.lat(r.named, "get_p75_ms", m, 0.75)
    r.lat(r.named, "get_p95_ms", m, 0.95)
    r.lat(r.named, "get_static_p50_ms", samples(plain.filter(_._1.startsWith("static"))), 0.5)
    r.lat(r.named, "get_wild_p50_ms", samples(plain.filterNot(_._1.startsWith("static"))), 0.5)

    tracer.foreach { t =>
      val gcMs = t.gcMsDelta
      t.stop()
      val ops = t.benchSpans.filter(_.name == "op.get").sortBy(_.startMs)
      val firstPass = Tracer.subtree(t.benchSpans, ops.take(cs.size).map(_.id).toSet)
      val allOps = Tracer.subtree(t.benchSpans, ops.map(_.id).toSet)
      val L = r.layers
      Layers.spark(r, t, allOps, ops.size, gcMs)
      // exact counts: over the first pass, each distinct call once
      val pc = t.countsFor(firstPass)
      val n = cs.size.toDouble
      L("spark.jobs_per_op") = Metric(pc.jobs / n, "count", cs.size)
      L("spark.stages_per_op") = Metric(pc.stages / n, "count", cs.size)
      L("spark.tasks_per_op") = Metric(pc.tasks / n, "count", cs.size)
      L("scan.files_per_get") = Metric(pc.files.toDouble / math.max(1L, pc.scans), "count", pc.scans)
      L("scan.rows_per_result") = Metric(
        pc.rowsScanned.toDouble / math.max(1L, cs.map(_.expect.length.toLong).sum), "ratio", cs.size)
      L("engine.get.build_ms_p50") = Metric(build.pct(0.5), "ms", build.count)
      L("engine.get.collect_ms_p50") = Metric(collect.pct(0.5), "ms", collect.count)
      val gl = db.varz().getLatency
      L("engine.get.ms_p50") = Metric(gl.p50Us / 1000, "ms", gl.samples)
      L("engine.store.files") = Metric(files.toDouble, "count", 1)
      L("engine.store.bytes_per_user_byte") = Metric(
        db.fileSize().toDouble / (Messages.toLong * PayloadBytes), "ratio", 1)
      Layers.overhead(r, traced, samples(plain))
    }
    db.close()
    r
  }
}

/** The reference model of `get`: an independent, in-memory statement of
  * what the store must answer. */
object Model {
  private def parse(t: String): (Array[String], Boolean) =
    if (t == "...") (Array.empty, true)
    else if (t.endsWith("...")) (t.dropRight(3).stripSuffix(".").split('.'), true)
    else (t.split('.'), false)

  /** Topic match with wildcards on either side: `*` is one level, a
    * trailing `...` any number of remaining levels. */
  def matches(topic: String, pattern: String): Boolean = {
    val (a, am) = parse(topic)
    val (b, bm) = parse(pattern)
    val n = math.min(a.length, b.length)
    (0 until n).forall(i => a(i) == b(i) || a(i) == "*" || b(i) == "*") &&
      (a.length == b.length || (a.length < b.length && am) || (b.length < a.length && bm))
  }

  /** Newest-first live matches under the query's contract, `?last=` window
    * and limit, as of `now`. */
  def answer(msgs: Seq[GetMix.Msg], q: Query, now: Long): Seq[GetMix.Msg] = {
    val (pattern, opts) = q.topic.split('?') match {
      case Array(p)    => (p, "")
      case Array(p, o) => (p, o)
    }
    val last = opts.split('&').collectFirst { case s if s.startsWith("last=") => s.drop(5) }
    val (cutoff, count) = last match {
      case Some(v) if v.endsWith("h") => (now - v.dropRight(1).toLong * 3600000L, None)
      case Some(v)                    => (Long.MinValue, Some(v.toInt))
      case None                       => (Long.MinValue, None)
    }
    val limit = count.map(math.min(_, Query.MaxLimit)).getOrElse(q.effectiveLimit)
    msgs.filter(m => m.contract == q.contract && !m.deleted && !m.expired &&
        m.ts >= cutoff && matches(m.topic, pattern))
      .sortBy(-_.ts).take(limit)
  }
}

/** Store layout probes (plain file listing). */
object Store {
  def files(path: String): Int = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try it.filter(_.toString.endsWith(".parquet")).count().toInt finally it.close()
  }
}
