package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `registry_slice`: a fixed slice of the analytics registry
  * (`SparkEntry.queries`) over TPC-H-like tables generated from the seed at
  * about sf0.01. Every rep runs each query once, after `clearCache()`, and
  * collects its result; the metric is the sum over the slice of each
  * query's median wall time. */
object Registry {
  /** (query, layer of the module that defines it). */
  val Slice = Seq(
    "q1_agg" -> "queries", "q38_pagerank" -> "queries",
    "m28_stream_rollup" -> "queries", "l64_countmin" -> "llm",
    "s1_engine_roundtrip" -> "queries")
  /** Timed reps at least, however short `--seconds` is. */
  val MinReps = 2

  final case class Answer(rows: Int, hash: Int)

  def run(spark: SparkSession, o: Opts): Report = {
    val r = new Report
    val dir = s"${o.work}/registry_data"
    val genStart = System.nanoTime()
    val d = RegistryData.write(spark, o.seed, dir)
    r.info("generate_s") = f"${(System.nanoTime() - genStart) / 1e9}%.3f"
    val warmStart = System.nanoTime()
    r.info("tables") = d.sizes.map { case (t, n) => s"$t=$n" }.mkString(" ")
    r.info("queries") = Slice.map(_._1).mkString(" ")

    val queries = SparkEntry.queries
    def exec(q: String): (Double, Array[Row]) = {
      spark.catalog.clearCache()
      val a = System.nanoTime()
      val rows = queries(q)(spark, dir).collect()
      ((System.nanoTime() - a) / 1e9, rows)
    }
    def answer(rows: Array[Row]): Answer =
      Answer(rows.length, MurmurHash3.orderedHash(rows.toSeq.map(_.toString)))

    // one untimed, cold rep inside set-up (class loading, JIT, codegen,
    // the streaming and parquet write paths); its answers are the
    // reference, each checked against what the generator knows
    val expect = Slice.map { case (q, _) =>
      val (_, rows) = exec(q)
      d.check(q, rows).foreach(why => r.fail(s"$q: $why"))
      q -> answer(rows)
    }.toMap
    r.info("warmup_s") = f"${(System.nanoTime() - warmStart) / 1e9}%.3f"
    Main.setupDone(r)

    // whole reps until --seconds have passed, at least MinReps; the traced
    // run alternates plain and traced reps
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val plain, traced = mutable.LinkedHashMap[String, Samples]()
    val firstTraced = mutable.Map[String, Long]()
    tracer.foreach(_.start())
    val t0 = System.nanoTime()
    var rep = 0
    while (rep < MinReps || System.nanoTime() - t0 < o.windowNs) {
      val tracedRep = tracer.isDefined && rep % 2 == 1
      Slice.foreach { case (q, layer) =>
        val (s, rows) = tracer match {
          case Some(t) if tracedRep =>
            val out = t.span(s"op.$q", "bench")(t.span(s"$layer.$q", layer)(exec(q)))
            firstTraced.getOrElseUpdate(q, t.benchSpans.filter(_.name == s"op.$q").map(_.id).max)
            out
          case _ => exec(q)
        }
        val ans = answer(rows)
        r.attempted += 1
        if (ans != expect(q))
          r.fail(s"$q rep $rep: ${ans.rows} rows hash ${ans.hash}, " +
            s"expected ${expect(q).rows} rows hash ${expect(q).hash}")
        (if (tracedRep) traced else plain).getOrElseUpdate(q, new Samples).add(s)
      }
      rep += 1
    }
    Main.windowDone(r)
    r.info("reps") = rep.toString

    def medianSum(m: mutable.LinkedHashMap[String, Samples]): Double =
      m.values.map(_.pct(0.5)).sum
    val sumS = medianSum(plain)
    val n = plain.values.map(_.count).sum.toLong
    r.endToEnd("throughput_per_s") = Metric(1.0 / sumS, "1/s", n)
    r.named("registry_p50_sum_s") = Metric(sumS, "s", n)
    plain.foreach { case (q, s) => r.named(s"$q.p50_s") = Metric(s.pct(0.5), "s", s.count) }

    tracer.foreach { t =>
      val gcMs = t.gcMsDelta
      t.stop()
      val L = r.layers
      val ops = t.benchSpans.filter(_.name.startsWith("op."))
      Layers.spark(r, t, Tracer.subtree(t.benchSpans, ops.map(_.id).toSet), ops.size, gcMs)
      // exact counts: each query's first traced execution
      Slice.foreach { case (q, _) =>
        val ids = Tracer.subtree(t.benchSpans, Set(firstTraced(q)))
        val c = t.countsFor(ids)
        val p = s"registry.$q"
        L(s"$p.p50_s") = Metric(plain(q).pct(0.5), "s", plain(q).count)
        L(s"$p.jobs") = Metric(c.jobs.toDouble, "count", 1)
        L(s"$p.tasks") = Metric(c.tasks.toDouble, "count", 1)
        L(s"$p.shuffle_bytes") = Metric(c.shuffleWriteBytes.toDouble, "bytes", 1)
        L(s"$p.executor_cpu_s") = Metric(c.cpuNs / 1e9, "s", 1)
        val planning = t.phaseMs(ids, "planning")
        L(s"$p.planning_ms") = Metric(planning.values.sum, "ms", planning.count)
      }
      val ts = new Samples
      val ps = new Samples
      ts.add(medianSum(traced) * 1000)
      ps.add(sumS * 1000)
      Layers.overhead(r, ts, ps)
    }
    r
  }
}

/** The tables the slice reads, shaped like the repository's TPC-H-like
  * test data (same names, columns and types) at about sf0.01, generated
  * from the seed alone. Lineitem's supplier keys span `Suppliers`. */
final class RegistryData(val sizes: Seq[(String, Int)], clicks: Int,
    lineitems: Int, events: Int, dayTypes: Int) {

  /** Checks of a query's answer against the generator's own counts, where
    * the result holds a count the generator knows. */
  def check(q: String, rows: Array[Row]): Option[String] = {
    def expect(what: String, got: Long, want: Long): Option[String] =
      if (got == want) None else Some(s"$what $got, generated $want")
    def total(col: String): Long = rows.map(_.getAs[Number](col).longValue).sum
    q match {
      case "q1_agg" => expect("count_order total", total("count_order"), lineitems)
      case "m28_stream_rollup" =>
        expect("rows", rows.length, dayTypes).orElse(expect("n total", total("n"), events))
      case "s1_engine_roundtrip" => expect("rows", rows.length, clicks)
      case _ => if (rows.nonEmpty) None else Some("no rows")
    }
  }
}

object RegistryData {
  val Nations = 25
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val Events = 10000
  val Users = 150
  val Documents = 500
  val DayMs = 86400000L
  /** 1992-01-01 and 2024-01-01, UTC. */
  val OrderEpochMs = 694224000000L
  val EventEpochMs = 1704067200000L
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  val Langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
  val Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "a", "the", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer",
    "query", "stream", "group", "filter", "index")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String, l_linestatus: String,
      l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  private def cents(rnd: scala.util.Random, max: Int): Double = rnd.nextInt(max * 100) / 100.0

  /** Write every table as one parquet file under `dir`. */
  def write(spark: SparkSession, seed: Long, dir: String): RegistryData = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

    val nations = (0 until Nations).map(i => Nation(i, s"NATION_$i", i % 5))
    val customers = (0 until Customers).map(i => Customer(i, f"Customer#$i%09d",
      rnd.nextInt(Nations), cents(rnd, 10000), pick(Segments)))
    val orders = (0 until Orders).map(i => Order(i, rnd.nextInt(Customers),
      pick(Seq("F", "O", "P")), cents(rnd, 500000),
      new Timestamp(OrderEpochMs + rnd.nextInt(2400) * DayMs), pick(Priorities)))
    val lineitems = orders.flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val ship = o.o_orderdate.getTime + (1 + rnd.nextInt(120)) * DayMs
        Lineitem(o.o_orderkey, rnd.nextInt(Parts), rnd.nextInt(Suppliers), ln,
          1 + rnd.nextInt(50), cents(rnd, 100000), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
          new Timestamp(ship))
      }
    }
    val events = (0 until Events).map { i =>
      // distinct, increasing timestamps over 30 days
      Event(i, new Timestamp(EventEpochMs + i * (30 * DayMs / Events) + rnd.nextInt(1000)),
        rnd.nextInt(Users), pick(EventTypes), cents(rnd, 100),
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val docs = (0 until Documents).map { i =>
      val text = Seq.fill(8 + rnd.nextInt(72))(pick(Words)).mkString(" ")
      Document(i, text, pick(Langs), s"src${i % 20}", text.length)
    }

    def save(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    save("nation", nations.toDF())
    save("customer", customers.toDF())
    save("orders", orders.toDF())
    save("lineitem", lineitems.toDF())
    save("events", events.toDF())
    save("documents", docs.toDF())

    new RegistryData(
      Seq("nation" -> nations.size, "customer" -> customers.size,
        "orders" -> orders.size,
        "lineitem" -> lineitems.size, "events" -> events.size, "documents" -> docs.size),
      clicks = events.count(_.event_type == "click"),
      lineitems = lineitems.size,
      events = events.size,
      dayTypes = events.map(e => (e.ts.getTime / DayMs, e.event_type)).distinct.size)
  }
}
