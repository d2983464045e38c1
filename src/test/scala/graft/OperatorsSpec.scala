package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, RangeJoin}

/** Unit coverage for the standalone relational operators — semantics
  * checked against hand-computed expectations and (for RangeJoin) a naive
  * cross-join reference. The oracle gate covers q12/q13 end-to-end; these
  * pin the corners the testdata may not exercise. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def trades = Seq(
    // (key, t, trade_id)
    ("a", 10L, 1L), ("a", 20L, 2L), ("a", 30L, 3L),
    ("b", 15L, 4L),
    ("c", 5L, 5L) // key with no quotes at all
  ).toDF("sym", "t", "trade_id")

  private def quotes = Seq(
    // (key, qt, px) — unique per (key, qt) as the contract requires
    ("a", 8L, 1.0), ("a", 20L, 2.0), ("a", 25L, 3.0),
    ("b", 99L, 9.0)
  ).toDF("sym", "qt", "px")

  test("asof backward: latest quote at-or-before each trade; none => null") {
    val out = AsOfJoin.backward(trades, quotes, Seq("sym"),
        leftTime = "t", rightTime = "qt", rightVals = Seq("px"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(out(1L) == Some(1.0)) // t=10 ← qt=8
    assert(out(2L) == Some(2.0)) // t=20 ← qt=20 (inclusive tie)
    assert(out(3L) == Some(3.0)) // t=30 ← qt=25
    assert(out(4L) == None)      // b: only quote is later (99 > 15)
    assert(out(5L) == None)      // c: no quotes
  }

  test("asof forward: earliest quote at-or-after; tolerance nulls old matches") {
    val fwd = AsOfJoin.forward(trades, quotes, Seq("sym"),
        leftTime = "t", rightTime = "qt", rightVals = Seq("px"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(fwd(1L) == Some(2.0)) // t=10 → qt=20
    assert(fwd(2L) == Some(2.0)) // inclusive at equal time
    assert(fwd(3L) == None)      // nothing after 30 for a
    assert(fwd(4L) == Some(9.0)) // b: qt=99

    val tol = AsOfJoin.backward(trades, quotes, Seq("sym"),
        leftTime = "t", rightTime = "qt", rightVals = Seq("px"),
        tolerance = Some(1L))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(tol(1L) == None)      // age 2 > tolerance 1
    assert(tol(2L) == Some(2.0)) // age 0
    assert(tol(3L) == None)      // age 5
  }

  test("asof: left row count is preserved and columns append") {
    val out = AsOfJoin.backward(trades, quotes, Seq("sym"),
      leftTime = "t", rightTime = "qt", rightVals = Seq("px"))
    assert(out.count() == trades.count())
    assert(out.columns.toSeq == Seq("sym", "t", "trade_id", "px"))
  }

  test("asof plan: one exchange on the key, no nested-loop join") {
    val p = AsOfJoin.backward(trades, quotes, Seq("sym"),
        leftTime = "t", rightTime = "qt", rightVals = Seq("px"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("range join matches a naive cross-join filter, incl. [lo,hi) bounds") {
    val pts = Seq.tabulate(50)(i => (i.toLong, i * 1.7)).toDF("pid", "v")
    // overlapping, touching, and disjoint intervals; one empty
    val ivs = Seq((0L, 0.0, 10.0), (1L, 5.0, 25.0), (2L, 25.0, 30.0),
      (3L, 80.0, 81.0), (4L, 42.5, 42.5)).toDF("iid", "lo", "hi")
    for (w <- Seq(1.0, 7.0, 100.0)) { // correctness must not depend on width
      val got = RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi", binWidth = w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = pts.crossJoin(ivs)
        .filter(col("v") >= col("lo") && col("v") < col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"binWidth=$w")
    }
  }

  test("range join honors extra equality keys") {
    val pts = Seq(("x", 5.0, 1L), ("y", 5.0, 2L)).toDF("k", "v", "pid")
    val ivs = Seq(("x", 0.0, 10.0, 10L)).toDF("k", "lo", "hi", "iid")
    val got = RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi",
        binWidth = 4.0, keys = Seq("k"))
      .select("pid").as[Long].collect().toSeq
    assert(got == Seq(1L)) // y's point matches the range but not the key
  }

  test("interval overlap matches a naive cross-join filter at any bin width") {
    // long spans (many shared bins — the duplicate hazard), touching
    // endpoints (half-open: NOT an overlap), nested, and disjoint
    val as = Seq((1L, 0.0, 100.0), (2L, 10.0, 20.0), (3L, 50.0, 50.5))
      .toDF("aid", "a_lo", "a_hi")
    val bs = Seq((1L, 5.0, 95.0), (2L, 20.0, 30.0), (3L, 200.0, 300.0),
      (4L, 0.0, 1000.0)).toDF("bid", "b_lo", "b_hi")
    for (w <- Seq(1.0, 7.0, 1000.0)) {
      val got = RangeJoin.intervalOverlap(as, "a_lo", "a_hi", bs, "b_lo", "b_hi",
          binWidth = w)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = as.crossJoin(bs)
        .filter(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      // exactly once per overlapping pair — the canonical-bin dedup
      assert(got.sorted.toSeq == want.sorted.toSeq, s"binWidth=$w")
      assert(got.length == got.toSet.size, s"duplicate pairs at binWidth=$w")
    }
  }

  test("hist quantile: estimates within one bin width above the order stat") {
    import spark.implicits._
    val bins = 128
    // group g1: 0..999 uniform; g2: a single repeated value (degenerate)
    val rows = (0 until 1000).map(i => ("g1", i.toDouble)) ++
      Seq.fill(10)(("g2", 42.0))
    val out = graft.operators.Sketches
      .histQuantile(rows.toDF("grp", "v"), "grp", "v", Seq(0.5, 0.9, 0.99), bins)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
          Seq(r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    val (n1, lo1, hi1, ests) = out("g1")
    assert(n1 == 1000 && lo1 == 0.0 && hi1 == 999.0)
    val width = (hi1 - lo1) / bins
    for ((q, est) <- Seq(0.5, 0.9, 0.99).zip(ests)) {
      // the ceil(q*n)-th order statistic lies inside the chosen bin, so
      // the reported upper boundary exceeds it by at most one bin width
      val orderStat = math.ceil(q * n1).toLong - 1 // value == its index
      assert(est >= orderStat && est <= orderStat + width + 1e-9,
        s"q=$q: est $est vs order stat $orderStat (width $width)")
    }
    val (n2, lo2, _, ests2) = out("g2")
    assert(n2 == 10 && ests2.forall(_ == lo2),
      s"degenerate group must report lo for every quantile: $ests2")
  }

  test("collocations: planted adjacent pair tops lift; frequent-independent ranks below") {
    import spark.implicits._
    // 'new york' always adjacent (30x); 'the'/'cat' frequent but paired
    // with many different neighbors → lift near 1
    val docs = (0 until 30).map { i =>
      (i.toLong, s"the cat$i sat on new york mat$i the dog$i")
    }.toDF("doc_id", "text")
    val out = graft.llm.TextStats.collocations(docs, minCount = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(6)))
    assert(out.nonEmpty)
    val top = out.minBy(_._1)
    assert(top._2 == "new" && top._3 == "york", s"top collocation: $top")
    // lift of the always-adjacent pair: c_xy=c_x=c_y=30 → lift = N/30
    val n = 30L * 8 // bigrams per doc = tokens - 1 = 8
    assert(math.abs(top._4 - n.toDouble / 30.0) < 1e-9, s"lift ${top._4}")
  }

  test("incremental agg: any batch split and merge order yields the one-shot state") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val rows = (0 until 60).map(i =>
      (i.toLong, s"g${i % 3}", (i % 7) + 0.25)).toDF("id", "k", "v")
    val keys = Seq("k")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getDouble(3), r.getDouble(4))).toSeq
    val oneShot = IncrementalAgg.delta(rows, keys, col("v"))
    // split 2 ways and 5 ways, merge left-to-right and right-to-left
    for (parts <- Seq(2, 5)) {
      val deltas = (0 until parts).map(i =>
        IncrementalAgg.delta(rows.filter(col("id") % parts === i), keys, col("v")))
      val ltr = deltas.reduceLeft(IncrementalAgg.merge(_, _, keys))
      val rtl = deltas.reduceRight(IncrementalAgg.merge(_, _, keys))
      assert(snap(ltr) == snap(oneShot), s"$parts-way LTR diverged")
      assert(snap(rtl) == snap(oneShot), s"$parts-way RTL diverged")
    }
  }

  test("delta join: any append split maintains exactly the full join, no dup pairs") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val as = (0 until 40).map(i => (i.toLong, i % 5)).toDF("aid", "k")
    val bs = (0 until 30).map(i => (100L + i, i % 5)).toDF("bid", "bk")
    def pair(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, col("k") === col("bk") && col("bid") % 3 =!= col("aid") % 3)
    val full = pair(as, bs).select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // several deterministic base/delta splits, incl. one-sided deltas
    for ((am, bm) <- Seq((2, 2), (3, 2), (1, 2), (2, 1))) {
      val aOld = as.filter(col("aid") % am === 0)
      val aNew = as.filter(col("aid") % am =!= 0)
      val bOld = bs.filter(col("bid") % bm === 0)
      val bNew = bs.filter(col("bid") % bm =!= 0)
      val v = pair(aOld, bOld).unionByName(
        IncrementalAgg.deltaJoin(aOld, aNew, bOld, bNew, pair))
      val got = v.select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == full, s"split ($am,$bm): view diverged from recompute " +
        s"(got ${got.size} pairs, expected ${full.size})")
    }
  }

  test("incremental agg maintenance: batch replay and crash-mid-write cannot double-count") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val state = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val keys = Seq("k")
    def b(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"g${i % 2}", i.toDouble)).toDF("k", "v")
    def snap() = IncrementalAgg.readState(spark, state)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSeq
    val apply_ = IncrementalAgg.maintainBatch(state, keys, col("v")) _
    apply_(b(0, 10), 0L)
    apply_(b(10, 20), 1L)
    val afterTwo = snap()
    // checkpoint replay of an already-committed batch: marker short-circuits
    apply_(b(10, 20), 1L)
    assert(snap() == afterTwo, "replay of a committed batch changed state")
    // crash mid-write: gen-2's bucket and a stale manifest exist, the
    // marker does not → replay must rewrite
    val garbage = b(20, 25).groupBy("k").count() // wrong schema even
    garbage.write.mode("overwrite").parquet(s"$state/gen-2/data/__b=0")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$state/gen-2/manifest"),
      s"v2 1\nschema ${garbage.schema.json}\n0 2 1".getBytes("UTF-8"))
    apply_(b(20, 30), 2L)
    val expect = IncrementalAgg.delta(b(0, 30), keys, col("v"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSeq
    assert(snap() == expect, "crash-replay state diverged from one-shot")
  }

  test("keyed upsert: version-argmax survives any batch split, order, and replay") {
    import spark.implicits._
    import graft.operators.KeyedUpsert
    // images: (key, version, payload, op) — key 1 is upserted then
    // deleted then upserted-at-an-OLDER-version (must stay deleted);
    // key 2 ends on a delete; key 3 is plain upserts
    val imgs = Seq(
      (1L, 10L, "a", "upsert"), (1L, 30L, "x", "delete"), (1L, 20L, "b", "upsert"),
      (2L, 11L, "c", "upsert"), (2L, 40L, "x", "delete"),
      (3L, 12L, "d", "upsert"), (3L, 25L, "e", "upsert")
    ).toDF("k", "v", "p", "op")
    def live(df: org.apache.spark.sql.DataFrame) =
      KeyedUpsert.current(df).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val oneShot = live(KeyedUpsert.delta(imgs, "k", Seq("v")))
    assert(oneShot == Seq((3L, 25L, "e")),
      s"late-but-older upsert resurrected a deleted key: $oneShot")
    // every 2-way and 3-way split, merged in both directions
    for (parts <- Seq(2, 3); flip <- Seq(false, true)) {
      val deltas0 = (0 until parts).map(i =>
        KeyedUpsert.delta(imgs.filter(col("v") % parts === i), "k", Seq("v")))
      val deltas = if (flip) deltas0.reverse else deltas0
      val merged = deltas.reduceLeft(KeyedUpsert.merge(_, _, "k", Seq("v")))
      assert(live(merged) == oneShot, s"$parts-way flip=$flip diverged")
    }
    // maintenance face: replay of a committed batch is a no-op
    val state = java.nio.file.Files.createTempDirectory("graft_ku").toString
    val apply_ = KeyedUpsert.applyBatch(state, "k", Seq("v")) _
    apply_(imgs.filter(col("v") < 20), 0L)
    apply_(imgs.filter(col("v") >= 20), 1L)
    val afterTwo = live(KeyedUpsert.readState(spark, state))
    assert(afterTwo == oneShot, "maintained state diverged from one-shot")
    apply_(imgs.filter(col("v") >= 20), 1L) // checkpoint replay
    assert(live(KeyedUpsert.readState(spark, state)) == afterTwo,
      "replay of a committed batch changed state")
  }

  test("incrementalComponents: random graphs × random splits agree with union-find (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814)
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    for (c <- 1 to 8) {
      val n = 4 + rnd.nextInt(9)
      val pairs = Seq.fill(3 + rnd.nextInt(15)) {
        val a = rnd.nextInt(n).toLong; var b = rnd.nextInt(n).toLong
        if (a == b) b = (b + 1) % n
        (math.min(a, b), math.max(a, b))
      }
      val want = unionFind(pairs)
      val nBatches = 1 + rnd.nextInt(3)
      val batches = pairs.grouped((pairs.size + nBatches - 1) / nBatches).toSeq
      val got = batches.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
        (st, b) => Some(graft.operators.Graph.incrementalComponents(
          st, b.toDF("doc_a", "doc_b")))
      }.get.as[(Long, Long)].collect().toMap
      assert(got === want, s"case $c: pairs=$pairs batches=${batches.size}")
    }
  }

  test("incrementalComponents: any batch split of the edge list lands on the one-shot labels") {
    import spark.implicits._
    // a 6-node path whose middle edges arrive LAST — the final batch must
    // glue three standing components into one (the label-graph case that
    // per-batch clustering alone can never produce)
    val all = Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 3L), (4L, 5L), (8L, 9L))
    def df(ps: Seq[(Long, Long)]) = ps.toDF("doc_a", "doc_b")
    val oneShot = graft.llm.TextDedup.dedupClusters(df(all))
      .collect().map(_.toSeq).toSeq
    val splits = Seq(
      Seq(all.take(3), all.slice(3, 5), all.drop(5)),
      Seq(all.take(1), all.slice(1, 2), all.slice(2, 4), all.drop(4)),
      Seq(all)) // single batch = the None → dedupClusters path
    for (batches <- splits) {
      val got = batches.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
        (st, b) => Some(graft.operators.Graph.incrementalComponents(st, df(b)))
      }.get
      assert(graft.operators.Graph.componentsFinalize(got)
          .collect().map(_.toSeq).toSeq === oneShot,
        s"split ${batches.map(_.size)} diverged")
    }
  }

  test("hits: hand-computed two rounds on a 2x2 bipartite graph") {
    import spark.implicits._
    // hubs {1,2}, auths {a,b}; 1→{a,b}, 2→{b}. After round 1:
    // auth a=S/2, b=S; hub 1=S, 2=(S·S)//1.5S=666666666666. Round 2:
    // auth a=(S·S)//(1+2/3)S=600000000000, b=S; hub 1=S, 2=625000000000
    val edges = Seq(("1", "a"), ("1", "b"), ("2", "b")).toDF("hub", "auth")
    val got = graft.operators.Graph.hits(edges, iters = 2)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(
      ("auth", "a") -> 600000000000L, ("auth", "b") -> 1000000000000L,
      ("hub", "1") -> 1000000000000L, ("hub", "2") -> 625000000000L))
  }

  test("hits: random bipartite graphs land exactly on a BigInt reference (seeded)") {
    import spark.implicits._
    // pins the hi/lo-split sum (r10): the distributed rounds must equal
    // straight arbitrary-precision arithmetic on any graph shape,
    // including hubs whose raw sums cross multiples of 2^20 · 10^12
    val scale = BigInt(1000000000000L)
    def reference(edges: Seq[(String, String)], iters: Int)
        : Map[(String, String), BigInt] = {
      val e = edges.distinct
      var hub = e.map(_._1).distinct.map(_ -> scale).toMap
      var auth = Map.empty[String, BigInt]
      for (_ <- 1 to iters) {
        val ar = e.groupBy(_._2).map { case (a, es) =>
          a -> es.map(x => hub(x._1)).sum }
        val amx = ar.values.max
        auth = ar.map { case (k, v) => k -> (v * scale / amx) }
        val hr = e.groupBy(_._1).map { case (h, es) =>
          h -> es.map(x => auth(x._2)).sum }
        val hmx = hr.values.max
        hub = hr.map { case (k, v) => k -> (v * scale / hmx) }
      }
      auth.map { case (k, v) => ("auth", k) -> v } ++
        hub.map { case (k, v) => ("hub", k) -> v }
    }
    val rnd = new scala.util.Random(20260814)
    for (c <- 1 to 4) {
      val nh = 3 + rnd.nextInt(5)
      val na = 2 + rnd.nextInt(4)
      val edges = Seq.fill(6 + rnd.nextInt(16))(
        (s"h${rnd.nextInt(nh)}", s"a${rnd.nextInt(na)}")).distinct
      val iters = 1 + rnd.nextInt(3)
      // BOTH execution paths against the reference: the size-gated driver
      // loop (default — these graphs are tiny) and the distributed rounds
      // (cap 0 forces them), so the gate can never let the paths drift
      val got = graft.operators.Graph.hits(edges.toDF("hub", "auth"), iters)
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> BigInt(r._3)).toMap
      assert(got === reference(edges, iters), s"case $c: $edges x$iters")
      val gotDist = graft.operators.Graph.hits(edges.toDF("hub", "auth"),
          iters, smallGraphCap = 0)
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> BigInt(r._3)).toMap
      assert(gotDist === reference(edges, iters), s"dist case $c")
    }
  }

  test("incrTriangles: random graphs × random splits agree with the one-shot counts (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    for (c <- 1 to 6) {
      val n = 5 + rnd.nextInt(6)
      // dense-ish so triangles with 2 and 3 new edges actually occur
      val pairs = Seq.fill(8 + rnd.nextInt(14)) {
        val a = rnd.nextInt(n).toLong; var b = rnd.nextInt(n).toLong
        if (a == b) b = (b + 1) % n
        (math.min(a, b), math.max(a, b))
      }
      val want = graft.operators.Graph
        .triangleCounts(pairs.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val nBatches = 1 + rnd.nextInt(3)
      val batches = pairs.grouped((pairs.size + nBatches - 1) / nBatches).toSeq
      // both paths per case: the driver wedge closure (default — these
      // graphs are under the cap) and the distributed 3-join plan
      // (cap 0) must land on the identical one-shot counts, so the gate
      // can never let them drift
      for (cap <- Seq(graft.operators.DriverGates.RankGraphEdgeCap, 0L)) {
        val st = batches.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
          (st, b) => Some(graft.operators.Graph.incrTriangles(
            st, b.toDF("doc_a", "doc_b"), smallGraphCap = cap))
        }.get
        val got = graft.operators.Graph.incrTrianglesFinalize(st)
          .as[(Long, Long)].collect().toMap
        assert(got === want, s"case $c cap $cap: pairs=$pairs batches=${batches.size}")
      }
    }
  }

  test("triangleCounts: clique, star, and wheel hand-counts") {
    import spark.implicits._
    // 4-clique {1,2,3,4}: 4 triangles, each node in C(3,2)=3; star hub 10
    // with leaves 11-13: triangle-FREE (no output rows — the star-shaped
    // dedup component q40 exists to expose); bridge 4-10 adds nothing
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L), (4L, 10L))
    // both paths (driver gate default, cap 0 = distributed node-iterator)
    for (cap <- Seq(graft.operators.DriverGates.RankGraphEdgeCap, 0L)) {
      val got = graft.operators.Graph
        .triangleCounts((clique ++ star).toDF("src", "dst"), smallGraphCap = cap)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"cap $cap")
    }
    // wheel: hub 0 + 5-ring — 5 triangles, hub in all, ring nodes in 2;
    // reversed/duplicated edges must normalize away
    val ring = (0 until 5).map(i => (i + 1L, (i + 1) % 5 + 1L))
    val spokes = (1L to 5L).map(i => (i, 0L)) // reversed direction on purpose
    val wheel = graft.operators.Graph
      .triangleCounts((ring ++ spokes ++ ring).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(wheel === Map(0L -> 5L, 1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L))
  }

  test("pageRank: hand-computed picoranks on the 3-node path a-b-c") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    // N=3, S=10^12: r0 = 333333333333 each, teleport = 15S//300 = 5*10^10
    // r1(a) = r1(c) = tp + (85*r0)//200 = 50000000000 + 141666666666
    // r1(b) = tp + 2*((85*r0)//100) = 50000000000 + 2*283333333333
    val r1 = graft.operators.Graph.pageRank(edges, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 === Map("a" -> 191666666666L, "b" -> 616666666666L,
      "c" -> 191666666666L))
  }

  test("pageRank/personalizedPageRank: assumeDistinct lands bit-identically on distinct input, both paths") {
    import spark.implicits._
    // distinct-by-construction symmetric edge list (the coPurchaseEdges
    // shape the r17 callers prove); assumeDistinct must be a pure plan
    // change — identical ranks through the gated AND distributed paths
    val edges = (for (i <- 0 until 40; j <- Seq((i + 1) % 40, (i + 7) % 40))
      yield Seq((i.toLong, j.toLong), (j.toLong, i.toLong))).flatten
      .distinct.toDF("src", "dst")
    val seeds = Seq(3L, 11L).toDF("node")
    for (cap <- Seq(graft.operators.DriverGates.RankGraphEdgeCap, 0L)) {
      val base = graft.operators.Graph.pageRank(edges, smallGraphCap = cap)
        .collect().map(_.toString).toSeq
      val fast = graft.operators.Graph.pageRank(edges, smallGraphCap = cap,
        assumeDistinct = true).collect().map(_.toString).toSeq
      assert(base == fast, s"pageRank diverged at cap $cap")
      val pbase = graft.operators.Graph.personalizedPageRank(edges, seeds,
        smallGraphCap = cap).collect().map(_.toString).toSeq
      val pfast = graft.operators.Graph.personalizedPageRank(edges, seeds,
        smallGraphCap = cap, assumeDistinct = true)
        .collect().map(_.toString).toSeq
      assert(pbase == pfast, s"personalizedPageRank diverged at cap $cap")
    }
  }

  test("weightedPageRank: hand-computed round on an asymmetric-weight path") {
    import spark.implicits._
    // a-b-c with b→c weight 3 (else 1): W(b)=4, so b sends c a 3/4 share.
    // One round from uniform r0 = S/3 (contrib base (85·r0)//100 =
    // 283333333333): r1(a) = tp + (base·1)//4 = 50e9 + 70833333333;
    // r1(b) = tp + base + base; r1(c) = tp + (base·3)//4
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 3L),
      ("c", "b", 1L)).toDF("src", "dst", "w")
    val r1 = graft.operators.Graph.weightedPageRank(edges, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 === Map("a" -> 120833333333L, "b" -> 616666666666L,
      "c" -> 262499999999L))
    // uniform weights reduce to the unweighted walk
    val uni = Seq(("a", "b", 2L), ("b", "a", 2L), ("b", "c", 2L),
      ("c", "b", 2L)).toDF("src", "dst", "w")
    val w1 = graft.operators.Graph.weightedPageRank(uni, iters = 1)
      .as[(String, Long)].collect().toMap
    val p1 = graft.operators.Graph.pageRank(
      uni.select("src", "dst"), iters = 1)
      .as[(String, Long)].collect().toMap
    assert(w1 === p1)
  }

  test("pageRank + personalizedPageRank: random symmetric graphs land exactly on a BigInt reference (seeded)") {
    import spark.implicits._
    // completes the rank family's exact-arithmetic nets (hits and
    // weightedPageRank below): the distributed rounds must equal
    // straight arbitrary-precision evaluation of the stated model
    val scale = BigInt(1000000000000L)
    def refRanks(edges: Seq[(String, String)], iters: Int,
        seeds: Option[Set[String]]): Map[String, BigInt] = {
      val e = edges.distinct
      val outdeg = e.groupBy(_._1).map { case (s0, es) => s0 -> BigInt(es.size) }
      val nodes = outdeg.keys.toSeq.sorted
      val k = seeds.map(_.size).getOrElse(nodes.size)
      val tp = BigInt(15) * scale / (BigInt(100) * k)
      def isSeed(n: String) = seeds.forall(_.contains(n))
      var r = nodes.map(n =>
        n -> (if (isSeed(n)) scale / k else BigInt(0))).toMap
      for (_ <- 1 to iters) {
        val contrib = e.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s0, _) =>
            BigInt(85) * r(s0) / (BigInt(100) * outdeg(s0)) }.sum
        }
        r = nodes.map(n => n -> (contrib.getOrElse(n, BigInt(0)) +
          (if (isSeed(n)) tp else BigInt(0)))).toMap
      }
      r
    }
    val rnd = new scala.util.Random(20260814)
    for (c <- 1 to 3) {
      val n = 4 + rnd.nextInt(5)
      val base = Seq.fill(5 + rnd.nextInt(9)) {
        val a = rnd.nextInt(n); var b = rnd.nextInt(n)
        if (a == b) b = (b + 1) % n
        (s"n$a", s"n$b")
      }
      val edges = (base ++ base.map(_.swap)).distinct
      val iters = 1 + rnd.nextInt(3)
      // both paths per case (driver gate default, cap 0 = distributed) —
      // the gate must never let them drift
      for (cap <- Seq(graft.operators.DriverGates.RankGraphEdgeCap, 0L)) {
        val got = graft.operators.Graph.pageRank(edges.toDF("src", "dst"),
            iters, smallGraphCap = cap)
          .as[(String, Long)].collect().map { case (k2, v) => k2 -> BigInt(v) }.toMap
        assert(got === refRanks(edges, iters, None), s"pageRank case $c cap $cap")
      }
      val present = edges.map(_._1).distinct
      val seedSet = rnd.shuffle(present).take(1 + rnd.nextInt(present.size)).toSet
      for (cap <- Seq(graft.operators.DriverGates.RankGraphEdgeCap, 0L)) {
        val gotP = graft.operators.Graph.personalizedPageRank(
            edges.toDF("src", "dst"), seedSet.toSeq.toDF("node"), iters,
            smallGraphCap = cap)
          .as[(String, Long)].collect().map { case (k2, v) => k2 -> BigInt(v) }.toMap
        assert(gotP === refRanks(edges, iters, Some(seedSet)), s"ppr case $c cap $cap")
      }
    }
  }

  test("weightedPageRank: random symmetric graphs land exactly on a BigInt reference (seeded)") {
    import spark.implicits._
    // pins the fused contribution order (((85·r) div 100) · w) div W(u)
    // against straight BigInt arithmetic — the inner-div-first order is
    // part of the stated model, so a refactor that reassociates it must
    // fail here even when the drift is one floor unit
    val scale = BigInt(1000000000000L)
    def reference(edges: Seq[(String, String, Long)], iters: Int)
        : Map[String, BigInt] = {
      val e = edges.groupBy(x => (x._1, x._2))
        .map { case ((s0, d), xs) => (s0, d, xs.map(_._3).sum) }.toSeq
      val wdeg = e.groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._3).sum }
      val nodes = wdeg.keys.toSeq.sorted
      val n = nodes.size
      val tp = BigInt(15) * scale / (BigInt(100) * n)
      var r = nodes.map(_ -> scale / n).toMap
      for (_ <- 1 to iters) {
        val contrib = e.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s0, _, w) =>
            (BigInt(85) * r(s0) / 100) * w / wdeg(s0) }.sum
        }
        r = nodes.map(nd => nd -> (tp + contrib.getOrElse(nd, BigInt(0)))).toMap
      }
      r
    }
    val rnd = new scala.util.Random(20260814)
    for (c <- 1 to 4) {
      val n = 3 + rnd.nextInt(5)
      // symmetric by construction (the validated contract)
      val base = Seq.fill(4 + rnd.nextInt(8)) {
        val a = rnd.nextInt(n); var b = rnd.nextInt(n)
        if (a == b) b = (b + 1) % n
        (s"n$a", s"n$b", 1L + rnd.nextInt(9))
      }
      val edges = base ++ base.map(x => (x._2, x._1, x._3))
      val iters = 1 + rnd.nextInt(3)
      for (cap <- Seq(graft.operators.DriverGates.RankGraphEdgeCap, 0L)) {
        val got = graft.operators.Graph.weightedPageRank(
            edges.toDF("src", "dst", "w"), iters, smallGraphCap = cap)
          .as[(String, Long)].collect().map { case (k, v) => k -> BigInt(v) }.toMap
        assert(got === reference(edges, iters), s"case $c cap $cap: $edges x$iters")
      }
    }
  }

  test("personalizedPageRank: seed-only teleport, disconnected components stay at zero") {
    import spark.implicits._
    // path a-b-c + isolated pair d-e; seed {a}, one round:
    // r0 = (S, 0, 0, 0, 0); r1(a) = teleport = 1.5e11 (b held 0),
    // r1(b) = (85·S)//100 = 8.5e11, r1(c) = 0; d,e never reachable → 0
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("d", "e"), ("e", "d")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r1 = graft.operators.Graph.personalizedPageRank(edges, seeds, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 === Map("a" -> 150000000000L, "b" -> 850000000000L,
      "c" -> 0L, "d" -> 0L, "e" -> 0L))
  }

  /** A rank contract failure must carry the same message from both twins:
    * cap 0 forces the distributed twin, the default cap takes the driver
    * twin on these tiny graphs. */
  private def assertRankFailure(op: String, want: String)(
      run: Long => Any): Unit = {
    val msgs = Seq(0L, graft.operators.DriverGates.RankGraphEdgeCap).map(cap =>
      intercept[IllegalArgumentException](run(cap)).getMessage)
    assert(msgs.forall(_.contains(want)), s"$op: $msgs")
    assert(msgs.distinct.size == 1, s"$op: the twins disagree: $msgs")
  }

  test("rank operators: asymmetric edge lists are rejected, not truncated") {
    import spark.implicits._
    import graft.operators.Graph
    // c has an in-edge but no out-edges — the inner-join round would
    // silently drop it after round 1; the contract check must fail fast
    val dangling = Seq(("a", "b"), ("b", "a"), ("b", "c")).toDF("src", "dst")
    assertRankFailure("pageRank", "dst-set")(cap =>
      Graph.pageRank(dangling, iters = 1, smallGraphCap = cap).collect())
    assertRankFailure("weightedPageRank", "dst-set")(cap =>
      Graph.weightedPageRank(dangling.withColumn("w",
        org.apache.spark.sql.functions.lit(1L)), iters = 1,
        smallGraphCap = cap).collect())
    assertRankFailure("personalizedPageRank", "dst-set")(cap =>
      Graph.personalizedPageRank(dangling, Seq("a").toDF("node"), iters = 1,
        smallGraphCap = cap).collect())
  }

  test("weightedPageRank: weight contract enforced (positive, <= 1e7)") {
    import spark.implicits._
    val zero = Seq(("a", "b", 0L), ("b", "a", 1L)).toDF("src", "dst", "w")
    assertRankFailure("weightedPageRank", "min=")(cap =>
      graft.operators.Graph.weightedPageRank(zero, iters = 1,
        smallGraphCap = cap).collect())
    val huge = Seq(("a", "b", 20000000L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    assertRankFailure("weightedPageRank", "max=")(cap =>
      graft.operators.Graph.weightedPageRank(huge, iters = 1,
        smallGraphCap = cap).collect())
  }

  test("rank operators: empty edges, empty seeds and iters = 0 fail alike on both twins") {
    import spark.implicits._
    import graft.operators.Graph
    val sym = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val weighted = sym.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val seeds = Seq("a").toDF("node")
    val bipartite = Seq(("h", "a")).toDF("hub", "auth")
    assertRankFailure("pageRank", "non-empty edge list")(cap =>
      Graph.pageRank(sym.filter("false"), smallGraphCap = cap).collect())
    assertRankFailure("weightedPageRank", "non-empty edge list")(cap =>
      Graph.weightedPageRank(weighted.filter("false"), smallGraphCap = cap)
        .collect())
    assertRankFailure("personalizedPageRank", "non-empty edge list")(cap =>
      Graph.personalizedPageRank(sym.filter("false"), seeds,
        smallGraphCap = cap).collect())
    assertRankFailure("personalizedPageRank", "at least one seed")(cap =>
      Graph.personalizedPageRank(sym, seeds.filter("false"),
        smallGraphCap = cap).collect())
    assertRankFailure("pageRank", "iters >= 1")(cap =>
      Graph.pageRank(sym, iters = 0, smallGraphCap = cap).collect())
    assertRankFailure("weightedPageRank", "iters >= 1")(cap =>
      Graph.weightedPageRank(weighted, iters = 0, smallGraphCap = cap)
        .collect())
    assertRankFailure("personalizedPageRank", "iters >= 1")(cap =>
      Graph.personalizedPageRank(sym, seeds, iters = 0, smallGraphCap = cap)
        .collect())
    assertRankFailure("hits", "iters >= 1")(cap =>
      Graph.hits(bipartite, iters = 0, smallGraphCap = cap).collect())
    // HITS has no symmetry contract: no edges, no scores
    for (cap <- Seq(0L, graft.operators.DriverGates.RankGraphEdgeCap))
      assert(Graph.hits(bipartite.filter("false"), smallGraphCap = cap)
        .collect().isEmpty, s"hits cap $cap")
  }

  test("pageRank: a regular symmetric ring stays uniform across rounds") {
    import spark.implicits._
    val nodes = (0 until 6).map(_.toString)
    val ring = nodes.indices.flatMap { i =>
      val j = (i + 1) % 6
      Seq((nodes(i), nodes(j)), (nodes(j), nodes(i)))
    }.toDF("src", "dst")
    // every node: outdeg 2, N=6 — rank is a fixpoint of the update, so 8
    // rounds must return exactly r0' = tp + 2*((85*(S//6))//200)
    val out = graft.operators.Graph.pageRank(ring, iters = 8)
      .as[(String, Long)].collect()
    val s6 = 1000000000000L / 6
    val expect = (15L * 1000000000000L) / 600 + 2 * ((85 * s6) / 200)
    assert(out.length === 6 && out.forall(_._2 == expect))
  }

  test("GenState: pass-forward cache evicts under LRU and falls back to parquet") {
    import spark.implicits._
    // The in-memory pass-forward (r11) is a fast path ONLY: after its
    // 8-entry LRU evicts a statePath, readState and the next applyBatch
    // must serve the identical state from the committed parquet. Ten
    // interleaved state dirs guarantee the first is evicted by the time
    // it's read back and advanced.
    val dirs = (0 until 10).map(i =>
      java.nio.file.Files.createTempDirectory(s"graft_genlru_$i").toString)
    for ((p, i) <- dirs.zipWithIndex)
      graft.operators.GenState.applyBatch(spark, p, 0, Nil) { prev =>
        assert(prev.isEmpty, s"fresh state $i must start empty")
        (Seq((i.toLong, s"v$i")).toDF("k", "v").localCheckpoint(), None)
      }
    // dirs(0) and dirs(1) left the LRU (cap 8) — parquet must answer
    val back = graft.operators.GenState.readState(spark, dirs(0))
      .as[(Long, String)].collect().toSeq
    assert(back == Seq((0L, "v0")), s"evicted state read wrong: $back")
    // and an applyBatch building on the evicted generation merges off
    // the parquet read, then re-enters the cache for the NEXT batch
    graft.operators.GenState.applyBatch(spark, dirs(0), 1, Nil) { prev =>
      assert(prev.nonEmpty, "gen-0 must be visible to batch 1")
      (prev.get.unionByName(Seq((100L, "v100")).toDF("k", "v"))
        .localCheckpoint(), None)
    }
    val merged = graft.operators.GenState.readState(spark, dirs(0))
      .as[(Long, String)].collect().toSet
    assert(merged == Set((0L, "v0"), (100L, "v100")), merged.toString)
  }
}
