package graft

/** The [[graft.operators.DriverGates]] contract: every size-gated
  * operator must land IDENTICALLY with the cap forced to 0 (distributed
  * path) and to ∞ (driver fast path) — the gate is an execution-strategy
  * choice, never a semantics choice. One random graph, all seven gated
  * operators, exact row equality. */
class DriverGatesSpec extends SparkSpec {
  import graft.operators.Graph
  import graft.llm.TextDedup

  test("every size-gated operator lands identically with caps 0 and ∞") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    val pairs = (0 until 120).map { _ =>
      val a = rnd.nextInt(40).toLong
      val b = (a + 1 + rnd.nextInt(38)) % 40
      (math.min(a, b), math.max(a, b))
    }.distinct
    val sym = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val symDf = sym.toDF("src", "dst")
    val wDf = sym.map { case (a, b) => (a, b, (a + b) % 5 + 1) }
      .toDF("src", "dst", "w")
    val seeds = Seq(0L, 1L, 2L).toDF("node")

    def cmp(name: String, f: Long => org.apache.spark.sql.DataFrame): Unit = {
      val drv = f(Long.MaxValue).collect().map(_.toSeq).toSeq
      val dist = f(0L).collect().map(_.toSeq).toSeq
      assert(drv.nonEmpty, s"$name produced nothing")
      assert(drv == dist, s"$name diverged between the gated paths")
    }

    cmp("pageRank",
      cap => Graph.pageRank(symDf, iters = 3, smallGraphCap = cap))
    cmp("weightedPageRank",
      cap => Graph.weightedPageRank(wDf, iters = 3, smallGraphCap = cap))
    cmp("personalizedPageRank", cap =>
      Graph.personalizedPageRank(symDf, seeds, iters = 3, smallGraphCap = cap))
    cmp("hits", cap =>
      Graph.hits(sym.toDF("hub", "auth"), iters = 3, smallGraphCap = cap))
    cmp("triangleCounts", cap =>
      Graph.triangleCounts(pairs.toDF("src", "dst"), smallGraphCap = cap))
    cmp("dedupClusters", cap =>
      TextDedup.dedupClusters(pairs.toDF("doc_a", "doc_b"),
        smallGraphCap = cap))
    cmp("incrTriangles", cap => {
      val (h1, h2) = pairs.splitAt(pairs.size / 2)
      val s1 = Graph.incrTriangles(None, h1.toDF("doc_a", "doc_b"),
        smallGraphCap = cap)
      Graph.incrTrianglesFinalize(Graph.incrTriangles(Some(s1),
        h2.toDF("doc_a", "doc_b"), smallGraphCap = cap))
    })

    // UnitDb.get: the driver read (cap ∞) against getFrame (cap 0)
    var now = 1700000000000L
    val db = graft.engine.UnitDb.open(spark,
      java.nio.file.Files.createTempDirectory("gates_get").toString + "/store",
      clock = () => now)
    for (i <- 0 until 60) {
      val id = db.put(s"g.t${rnd.nextInt(4)}", s"p$i".getBytes)
      if (i % 9 == 0) db.delete(id, "g.t0")
      if (i % 20 == 19) { db.put("g.*", s"w$i".getBytes); db.sync() }
      now += 3600000L
    }
    db.put("g.t1", "pending".getBytes)
    for (q <- Seq(graft.model.Query("g.t1"), graft.model.Query("g.*", limit = 7),
        graft.model.Query("g...?last=30h"), graft.model.Query("g.t2?last=3"))) {
      val drv = db.get(q, Long.MaxValue).map(new String(_)).toSeq
      val dist = db.get(q, 0L).map(new String(_)).toSeq
      assert(drv.nonEmpty, s"get $q produced nothing")
      assert(drv == dist, s"get $q diverged between the gated paths")
    }
    db.close()
  }

  test("triangle twin-contraction: a replicated (clique-dense) graph lands " +
      "exactly on the raw driver counts, one-shot and incremental") {
    import spark.implicits._
    // replicate a small random graph 6×: clone i of u is adjacent to every
    // clone of every neighbor of u AND to u's other clones — exactly the
    // pair graph a duplicated corpus produces (clone families are true
    // twins, so the contraction path must collapse them)
    val rnd = new scala.util.Random(20260816)
    val base = (0 until 40).map { _ =>
      val a = rnd.nextInt(12).toLong
      val b = (a + 1 + rnd.nextInt(10)) % 12
      (math.min(a, b), math.max(a, b))
    }.distinct.filter(p => p._1 != p._2)
    val k = 6
    def clones(n: Long) = (0 until k).map(i => n + 100L * i)
    val replicated = (base.flatMap { case (u, v) =>
      for (cu <- clones(u); cv <- clones(v)) yield (cu, cv)
    } ++ (0L until 12L).flatMap { n =>
      val cs = clones(n)
      for (i <- cs.indices; j <- i + 1 until cs.size) yield (cs(i), cs(j))
    }).map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val df = replicated.toDF("src", "dst")
    // ground truth: the raw collected driver counter (cap ∞)
    val truth = Graph.triangleCounts(df, smallGraphCap = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // distributed = the twin-contraction path (cap 0)
    val contracted = Graph.triangleCounts(df, smallGraphCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(contracted == truth, "contraction diverged from raw driver counts")
    // incremental, with the density gate FORCED into its recompute branch
    val pairsDf = replicated.map(p => (p._1, p._2))
    spark.conf.set("spark.graft.graph.wedgeRecomputeBudget", "0")
    try {
      val (h1, h2) = pairsDf.splitAt(pairsDf.size / 2)
      val s1 = Graph.incrTriangles(None, h1.toDF("doc_a", "doc_b"),
        smallGraphCap = 0)
      val fin = Graph.incrTrianglesFinalize(Graph.incrTriangles(Some(s1),
        h2.toDF("doc_a", "doc_b"), smallGraphCap = 0))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fin == truth, "recompute-branch incremental diverged")
    } finally spark.conf.unset("spark.graft.graph.wedgeRecomputeBudget")
  }
}
