package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph dataflow on plain DataFrames — the rounds-of-joins idiom
  * shared with [[graft.llm.TextDedup.dedupClusters]] (connected components):
  * a persisted, pre-partitioned edge frame, one shuffle join + one
  * partial-aggregated reduction per round, `localCheckpoint` truncating the
  * lineage so the plan never grows with iteration count. The reference has
  * no graph operators (its trie is a prefix index, not a graph —
  * `trie.go:163-188`); this module exists for the curation-pipeline side,
  * where link analysis ranks sources/hosts for crawl prioritization
  * (Page et al. 1999 — the original use case was exactly corpus curation).
  */
object Graph {

  private val Mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Iteration parallelism derived from the MEASURED edge count (~100k
    * edge rows per task): every round pays |stages|·parts task-scheduling
    * overhead × iters, so a session-wide partition count oversized for
    * the graph is pure floor — the count materializes the (persisted)
    * frame anyway, and a 1000-executor deployment's billions of edges
    * land back at the session cap. (AQE coalesces shuffle stages but not
    * a persisted frame's partitioning, which the rounds reuse.) */
  private def sizedParts(e: DataFrame): Int = {
    val sessParts = e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(sessParts, (e.count() / 100000L).toInt + 1))
  }

  /** The shared rank-iteration scaffold: distinct edges, measured-size
    * partitioning on `src`, the out-degree frame MATERIALIZED
    * (localCheckpoint) before the raw edge caches are dropped — a lazy
    * reference would silently re-run the caller's whole edge-building
    * plan after the unpersist (measured: 4x on the q38 gate before this
    * was pinned; the invariant lives HERE so the three rank operators
    * can't drift apart). `ej` carries each edge's source out-degree
    * (one join, cached — rounds never recompute it); `nNodes` is the
    * bounded driver scalar the teleport literals need. */
  private case class PreppedEdges(ej: DataFrame, deg: DataFrame, nNodes: Long,
      nEdges: Long)

  /** Edge cap for the rank family's driver fast path — the
    * [[graft.llm.TextDedup.dedupClusters]] small-graph rule applied to
    * fixed-point rank iteration: 8 rounds of join+reduce are ~16-20
    * scheduler waves, which dwarf the arithmetic whenever the edge list
    * is small (the sf0.1 co-purchase graphs: 1600 nodes, each rank query
    * spent 6-8 s on sub-millisecond math). Under the cap the SAME integer
    * recurrence runs as a driver loop over the collected edge array —
    * division order, floors and join semantics identical, property-pinned
    * against the distributed rounds AND the BigInt reference — and above
    * it nothing changes beyond one count on the already-persisted
    * distinct frame. 2M edge rows ≈ 100-200 MB transient on the 8 GiB
    * driver — bounded by design, the same order as a broadcast-join
    * build side (the sf0.1 co-purchase graph is 1.17M symmetrized edge
    * rows; the ×10 bench graph stays distributed, so BOTH paths run
    * under measurement every round). Value and bounding argument live in
    * [[DriverGates.RankGraphEdgeCap]] with the other gate budgets. */
  val RankGraphEdgeCap: Long = DriverGates.RankGraphEdgeCap

  /** The shared driver-side fixed point — index-array form (r16
    * optimization): node keys map to dense ints ONCE, then every round is
    * a primitive-array pass (the boxed HashMap[Any, Long] rounds were the
    * single largest phase of each gated rank query — 1.3 s of the q38
    * gate's 2.9 s at sf0.1, measured by phase split). The recurrence is
    * UNCHANGED: a node absent from `ranks` contributes nothing (hasRank),
    * a node receiving no contribution this round drops out of the next
    * (hasContrib — a zero-valued contribution still counts as present,
    * exactly like the old map's getOrElse+update), the teleport adds only
    * onto present nodes, and all arithmetic is the same Long floor math.
    * `contribOf(rank, edgeIdx)` is a primitive-specialized closure over
    * per-edge arrays; `init`/`teleportOf` keep the old per-key contract.
    * Exactness: integer sums are order-free, so array edge order vs map
    * iteration order cannot change a single bit. */
  private final class DriverGraph(rows: Array[org.apache.spark.sql.Row]) {
    val m = rows.length
    val nodeOf = new scala.collection.mutable.HashMap[Any, Int]()
    val srcIdx = new Array[Int](m)
    val dstIdx = new Array[Int](m)
    private def idx(k: Any): Int =
      nodeOf.getOrElseUpdate(k, nodeOf.size)
    // sources first: the source set IS the init/outdeg domain
    var e = 0
    while (e < m) { srcIdx(e) = idx(rows(e).get(0)); e += 1 }
    val nSrc = nodeOf.size
    e = 0
    while (e < m) { dstIdx(e) = idx(rows(e).get(1)); e += 1 }
    val n = nodeOf.size // sources ∪ destinations
    val keys = new Array[Any](n)
    nodeOf.foreach { case (k, i) => keys(i) = k }
    val outdeg = new Array[Long](n)
    e = 0
    while (e < m) { outdeg(srcIdx(e)) += 1L; e += 1 }
  }

  private def driverRankLoop(g: DriverGraph,
      init: Iterable[(Any, Long)], teleportOf: Any => Long, iters: Int,
      contribOf: (Long, Int) => Long)
      : scala.collection.mutable.HashMap[Any, Long] = {
    val n = g.n
    var ranks = new Array[Long](n)
    var hasRank = new Array[Boolean](n)
    init.foreach { case (k, v) =>
      val i = g.nodeOf(k); ranks(i) = v; hasRank(i) = true }
    val teleport = new Array[Long](n)
    var j = 0
    while (j < n) { teleport(j) = teleportOf(g.keys(j)); j += 1 }
    var it = 0
    while (it < iters) {
      it += 1
      val contrib = new Array[Long](n)
      val hasContrib = new Array[Boolean](n)
      var e = 0
      while (e < g.m) {
        val s = g.srcIdx(e)
        if (hasRank(s)) {
          val d = g.dstIdx(e)
          contrib(d) += contribOf(ranks(s), e)
          hasContrib(d) = true
        }
        e += 1
      }
      j = 0
      while (j < n) {
        if (hasContrib(j)) contrib(j) += teleport(j)
        j += 1
      }
      ranks = contrib; hasRank = hasContrib
    }
    val out = new scala.collection.mutable.HashMap[Any, Long]()
    j = 0
    while (j < n) { if (hasRank(j)) out.update(g.keys(j), ranks(j)); j += 1 }
    out
  }

  private def rankDf(template: DataFrame, keyCol: String,
      ranks: scala.collection.Map[Any, Long], outCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        template.schema(keyCol).dataType),
      org.apache.spark.sql.types.StructField(outCol,
        org.apache.spark.sql.types.LongType, nullable = false)))
    template.sparkSession.createDataFrame(
      ranks.toSeq.map { case (k, v) =>
        org.apache.spark.sql.Row(k, v) }.asJava, schema)
      .orderBy("node")
  }

  /** The rank operators' symmetry contract, VALIDATED (not just
    * documented): every destination must also appear as a source —
    * otherwise the inner join+groupBy round silently drops no-in-edge
    * nodes after round 1 and leaks dangling mass instead of failing.
    * One anti-join count over the (persisted) edge frame, piggybacked on
    * the materialization pass — cheap relative to `iters` rounds of
    * joins. Disable via spark.graft.graph.validateEdges=false if a
    * caller has already proven symmetry upstream. */
  private def validateSymmetry(ep: DataFrame, deg: DataFrame): Unit = {
    val conf = ep.sparkSession.conf
      .get("spark.graft.graph.validateEdges", "true")
    if (conf.toBoolean) {
      // anti-join straight on the edge frame (no distinct — that forced a
      // full dst shuffle; the planner broadcasts the checkpointed deg
      // frame when it fits and falls back to shuffle when N is huge — no
      // explicit hint, which would OOM a billion-node broadcast), and
      // limit(1): the check needs existence, not a census
      val dangling = ep.select(col("dst"))
        .join(deg.select(col("src").as("dst")), Seq("dst"), "left_anti")
        .limit(1).count()
      require(dangling == 0L,
        "rank iteration requires dst-set ⊆ src-set (symmetrize the " +
          "edge list for undirected graphs); found destination node(s) " +
          "with no out-edges — their rank would silently vanish after " +
          "round 1")
    }
  }

  /** The rank family's per-round broadcast hint, applied in ONE place
    * (pageRank, weighted, personalized, HITS): a node-count-bounded score
    * frame gets an explicit broadcast against the cached edge frame so no
    * round re-sorts/re-shuffles the edges (the ×100-probe q38/q42
    * lesson); past [[DriverGates.RankBroadcastNodeCap]] the hint drops
    * and the planner/AQE picks the shuffle join. The guard must measure
    * the SCORE frame's domain (nodes), never the edge count — see the
    * HITS note at its call site. */
  private def rankBroadcastSide(nodeCount: Long)(f: DataFrame): DataFrame =
    if (nodeCount <= DriverGates.RankBroadcastNodeCap) broadcast(f) else f

  /** Big-graph preparation over the ALREADY-distincted, persisted edge
    * frame [[collectedEdges]] hands back when the cap doesn't fire. */
  private def prepareEdges(e: DataFrame): PreppedEdges = {
    val parts = sizedParts(e)
    val ep = e.repartition(parts, col("src")).persist(Mem)
    val deg = ep.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val ej = ep.join(deg, "src")
      .repartition(parts, col("src"))
      .persist(Mem)
    val m = ej.count() // materialize before the rounds so e/ep can drop early
    validateSymmetry(ep, deg)
    e.unpersist(); ep.unpersist()
    val n = deg.count()
    require(n >= 1, "rank iteration needs a non-empty edge list")
    PreppedEdges(ej, deg, n, m)
  }

  /** The small-graph entry: distinct the edge list ONCE (the only real
    * data work — at gate scale everything else prepareEdges does is
    * machinery for rounds that won't run) and, under the cap, hand back
    * the collected rows; above it, None — the caller falls through to
    * [[prepareEdges]], whose own distinct reuses this cache. Out-degrees
    * and the symmetry contract are driver-side arithmetic on the
    * collected array (same check, same failure message, honoring the
    * same validateEdges switch).
    *
    * `assumeDistinct` (r17, guide §2.4 "a distinct on data that is
    * already unique"): a caller that can PROVE its edge list is
    * duplicate-free skips the dedup — a full-width exchange + hash
    * aggregate over the whole edge frame, the single largest phase of
    * every gated rank query (measured 1.35–1.75 s of q38b's ~3.5 s warm
    * wall at sf0.1, and a corpus-width shuffle at any scale). The
    * contract mirrors validateEdges: opt-in, default-off, and a wrong
    * claim double-counts contributions — callers must state their proof
    * at the call site. */
  private def collectedEdges(edges: DataFrame, cap: Long,
      assumeDistinct: Boolean = false)
      : (DataFrame, Option[Array[org.apache.spark.sql.Row]]) = {
    val sel = edges.select("src", "dst")
    val e = (if (assumeDistinct) sel else sel.distinct()).persist(Mem)
    val m = e.count()
    if (m <= cap) {
      val rows = e.collect()
      e.unpersist()
      (e, Some(rows))
    } else (e, None)
  }

  /** Build the indexed driver graph and apply the shared contract checks
    * (same failure messages as the distributed path). The symmetry check
    * is structural: a destination never seen as a source indexes past
    * nSrc, so `n == nSrc` IS "dst-set ⊆ src-set". */
  private def driverGraph(rows: Array[org.apache.spark.sql.Row],
      validate: Boolean): DriverGraph = {
    val g = new DriverGraph(rows)
    if (validate) require(g.n == g.nSrc,
      "rank iteration requires dst-set ⊆ src-set (symmetrize the " +
        "edge list for undirected graphs); found destination node(s) " +
        "with no out-edges — their rank would silently vanish after " +
        "round 1")
    require(g.nSrc > 0, "rank iteration needs a non-empty edge list")
    g
  }

  private def validateConf(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.graph.validateEdges", "true").toBoolean

  /** PageRank in 10⁻¹² fixed point — every rank is a BIGINT number of
    * "picoranks", so all arithmetic is integer (exact, overflow-safe:
    * ranks ≤ 10¹², ×85 ≤ 8.5·10¹³) and every aggregation is ORDER-FREE.
    * That is what makes the result engine-identical and oracle-gateable:
    * float PageRank sums contributions in partition order, so no two runs
    * — let alone two engines — agree bit-for-bit; fixed point turns the
    * whole iteration into exact integer dataflow. (Production variants
    * that want IEEE doubles lose only the gate, not the plan — same
    * joins, same reductions.) The floor in each `div` leaks ≤ 1 picorank
    * per edge per round — bounded, deterministic, identical in both
    * engines.
    *
    * Model: r₀(v) = S div N; rₜ₊₁(v) = (15·S) div (100·N) +
    * Σ_{u→v} (85·rₜ(u)) div (100·outdeg(u)), damping 0.85, S = 10¹².
    * Dangling nodes are the CALLER's contract: every node must have at
    * least one out-edge (symmetrize the edge list for undirected graphs —
    * what [[graft.queries.AnalyticsQueries]] q38 does), because a rank
    * row whose node never appears as a source would need the dangling-
    * mass redistribution term, and a node with no IN-edges would need a
    * left join; requiring out∪in symmetry keeps every round one inner
    * join + one aggregate.
    *
    * Scale shape: `edges` is persisted and pre-partitioned on `src`, so
    * each round shuffles ONLY the rank frame (N rows) into the edge
    * partitioning, then one partial-aggregated sum by `dst` — per-round
    * cost is one |edges| join + one |edges|→N reduction, the same shape
    * GraphX/Pregel lowers to. Iterations are FIXED (`iters`), not
    * converged-on-a-float-epsilon: deterministic round count is both the
    * oracle contract and the production pattern (rank deltas at 8 rounds
    * are far inside any downstream consumer's tolerance).
    *
    * Input: (src, dst) string-keyed edge list (any key type works — keys
    * are only grouped/joined). Output: (node, rank_fp) — exact BIGINT
    * picoranks, ordered by node. */
  def pageRank(edges: DataFrame, iters: Int = 8,
      smallGraphCap: Long = RankGraphEdgeCap,
      assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"pageRank needs iters >= 1, got $iters")
    val scale = 1000000000000L
    val (e, small) = collectedEdges(edges, smallGraphCap, assumeDistinct)
    small match {
      case Some(rows) =>
        val g = driverGraph(rows, validateConf(e))
        val n = g.nSrc
        val teleport = (15L * scale) / (100L * n)
        val init = (0 until g.nSrc).map(i => g.keys(i) -> scale / n)
        val ranks = driverRankLoop(g, init, _ => teleport, iters,
          (r, ei) => (85L * r) / (100L * g.outdeg(g.srcIdx(ei))))
        return rankDf(e, "src", ranks, "rank_fp")
      case None => ()
    }
    val PreppedEdges(ej, deg, n, _) = prepareEdges(e)
    val teleport = (15L * scale) / (100L * n)
    // the per-round score frame is broadcast-sized long after the edge
    // frame stops being: an explicit hint keeps every round a broadcast
    // hash join over the CACHED edges (no per-round sort/shuffle of the
    // edge frame — the ×100-probe q38 lesson, DriverGates doc)
    val rankSide: DataFrame => DataFrame = rankBroadcastSide(n)
    var ranks = deg.select(col("src").as("node"), lit(scale / n).as("r"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      i += 1
      ranks = ej.join(rankSide(ranks.withColumnRenamed("node", "src")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(85 * r) div (100 * outdeg)")).as("contrib"))
        .select(col("node"), (lit(teleport) + col("contrib")).as("r"))
      // truncate lineage every SECOND round (and before returning): a
      // 2-round plan is still bounded, and halving the eager
      // materialization jobs shaves the per-round job floor — the
      // checkpoint cadence is a floor-vs-lineage dial, not correctness
      if (i % 2 == 0 || i == iters) ranks = ranks.localCheckpoint()
    }
    ej.unpersist()
    ranks.select(col("node"), col("r").as("rank_fp")).orderBy("node")
  }

  /** Weighted PageRank — [[pageRank]] with integer edge weights: a node
    * distributes its rank mass proportionally to each out-edge's weight
    * instead of uniformly (co-purchase STRENGTH, link multiplicity,
    * citation counts — the signal the unweighted walk discards). Same
    * fixed point; the contribution is
    * (((85·r) div 100) · w) div W(u), W(u) = Σ out-weights — the inner
    * div runs FIRST so the product stays ≤ 8.5·10¹¹·w (overflow-safe for
    * any weight ≤ 10⁷; one extra floor per edge, same determinism
    * argument), and that exact evaluation order is the model both
    * engines state. Duplicate (src, dst) rows sum their weights; weights
    * must be positive integers. */
  def weightedPageRank(edges: DataFrame, iters: Int = 8,
      smallGraphCap: Long = RankGraphEdgeCap): DataFrame = {
    require(iters >= 1, s"weightedPageRank needs iters >= 1, got $iters")
    val e = edges.select(col("src"), col("dst"),
        col("w").cast("long").as("w"))
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .persist(Mem)
    val scale = 1000000000000L
    val mEdges = e.count()
    require(mEdges >= 1, "rank iteration needs a non-empty edge list")
    if (mEdges <= smallGraphCap) {
      val rows = e.collect()
      e.unpersist()
      // driver twins of the distributed path's contract checks — same
      // failure messages, same thresholds
      val ws = rows.map(_.getLong(2))
      val (wMin, wMax) = (ws.min, ws.max)
      require(wMin >= 1L && wMax <= 10000000L,
        s"weightedPageRank needs positive integer weights <= 1e7 after " +
          s"per-(src,dst) summing (overflow-safe fixed point); got " +
          s"min=$wMin max=$wMax")
      val g = driverGraph(rows, validateConf(e))
      val wdeg = new Array[Long](g.n)
      var ei = 0
      while (ei < g.m) { wdeg(g.srcIdx(ei)) += ws(ei); ei += 1 }
      val n = g.nSrc
      val teleport = (15L * scale) / (100L * n)
      val init = (0 until g.nSrc).map(i => g.keys(i) -> scale / n)
      // the stated inner-div-first order, verbatim: overflow-safe for
      // any w ≤ 1e7 (enforced above), floors identical to the SQL div
      val ranks = driverRankLoop(g, init, _ => teleport, iters,
        (r, eidx) => (((85L * r) / 100L) * ws(eidx)) / wdeg(g.srcIdx(eidx)))
      return rankDf(e, "src", ranks, "rank_fp")
    }
    val parts = sizedParts(e)
    val ep = e.repartition(parts, col("src")).persist(Mem)
    val deg = ep.groupBy("src").agg(sum(col("w")).as("wdeg"))
      .localCheckpoint() // materialized before the unpersist (the
                         // prepareEdges lesson — shared invariant)
    val ej = ep.join(deg, "src")
      .repartition(parts, col("src"))
      .persist(Mem)
    ej.count()
    // Enforce the documented weight contract instead of wrapping Long:
    // w < 1 makes the proportional model meaningless; w > 10⁷ can
    // overflow ((85·r) div 100)·w ≈ 8.5·10¹¹·w past Long.MaxValue.
    // One tiny aggregate over the persisted aggregated-edge frame.
    val wRow = e.agg(min(col("w").cast("long")).as("mn"),
      max(col("w").cast("long")).as("mx")).first()
    require(!wRow.isNullAt(0), "rank iteration needs a non-empty edge list")
    val (wMin, wMax) = (wRow.getLong(0), wRow.getLong(1))
    require(wMin >= 1L && wMax <= 10000000L,
      s"weightedPageRank needs positive integer weights <= 1e7 after " +
        s"per-(src,dst) summing (overflow-safe fixed point); got " +
        s"min=$wMin max=$wMax")
    validateSymmetry(ep, deg)
    e.unpersist(); ep.unpersist()
    val n = deg.count()
    require(n >= 1, "rank iteration needs a non-empty edge list")
    val teleport = (15L * scale) / (100L * n)
    // broadcast the round's score frame under the node cap (see pageRank)
    val rankSide: DataFrame => DataFrame = rankBroadcastSide(n)
    var ranks = deg.select(col("src").as("node"), lit(scale / n).as("r"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      i += 1
      ranks = ej.join(rankSide(ranks.withColumnRenamed("node", "src")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(((85 * r) div 100) * w) div wdeg")).as("contrib"))
        .select(col("node"), (lit(teleport) + col("contrib")).as("r"))
      if (i % 2 == 0 || i == iters) ranks = ranks.localCheckpoint()
    }
    ej.unpersist()
    ranks.select(col("node"), col("r").as("rank_fp")).orderBy("node")
  }

  /** Incremental connected components — maintain
    * [[graft.llm.TextDedup.dedupClusters]]' labels under STREAMING edge
    * arrivals without ever re-touching the standing graph. The insight is
    * label-graph contraction (the union-find view of min-label CC): a
    * converged label frame maps every node to its component's minimum id,
    * so a batch of new pairs can only merge whole COMPONENTS — project
    * each new pair (a, b) to the label edge (L(a), L(b)), run the
    * fixpoint on that label graph (≤ 2·|batch| nodes, however big the
    * corpus), and remap the standing labels through the resulting
    * label→root table. Per-batch cost: one |batch| lookup join, a
    * fixpoint over the contracted graph, and ONE remap join over the
    * labels frame — never an iteration over all edges seen so far (the
    * one-shot fixpoint re-walks the whole graph every time; at 100 TB of
    * accumulated pairs that difference is the operator).
    *
    * Exactness: components of (old graph ∪ batch) = old components glued
    * along batch pairs, which is precisely the label graph's components;
    * the min over a merged component's nodes = min over its old labels
    * (each already its component's min). So maintained ≡ one-shot on the
    * union of all batches, whatever the split — the m37 gate states that
    * with l22's oracle verbatim.
    *
    * `prev` must be a CONVERGED label frame (what this function returns —
    * the GenState invariant); nodes unseen before enter as singletons. */
  def incrementalComponents(prev: Option[DataFrame],
      pairs: DataFrame): DataFrame =
    incrementalComponentsDelta(prev, pairs)._1

  /** [[incrementalComponents]] plus the batch's CHANGED-KEY frame — the
    * rows whose (doc_id, cluster_id) differs from the previous state:
    * relabeled members of merged components plus every batch node. Feeds
    * [[GenState.applyBatch]] so each micro-batch rewrites only
    * the state buckets those rows hash into, never the standing corpus
    * frame (`None` on the first batch — everything is new). The changed
    * set is relabel-proportional, not state-proportional: only labels in
    * the non-trivial remap domain pull their members in. */
  def incrementalComponentsDelta(prev: Option[DataFrame],
      pairs: DataFrame,
      wantChanged: Boolean = true,
      batchBytesHint: Option[Long] = None): (DataFrame, Option[DataFrame]) = {
    // null-sided pairs drop HERE so both batch positions see the rule
    // dedupClusters applies (TextDedup.scala's null filter): without it
    // the first batch (dedupClusters) drops them while the incremental
    // path would explode a null doc_id into the label state — maintained
    // state would permanently diverge from the one-shot recompute oracle
    val p = pairs.select("doc_a", "doc_b")
      .filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
    prev match {
      case None => (graft.llm.TextDedup.dedupClusters(p)
        .select("doc_id", "cluster_id"), None)
      case Some(st) =>
        val stp = st.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pp = p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nodes = pp
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        // batch nodes' current labels; unseen nodes are their own label.
        // The is_new marker rides along from THIS join, so newcomers need
        // no later anti-join — an anti-join would re-shuffle the ENTIRE
        // corpus-sized state by doc_id a second time every batch, the
        // kind of per-batch full-state motion that caps 100 TB throughput.
        val lab = nodes.join(stp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("l"),
            col("cluster_id").isNull.as("is_new"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // remap-join strategy, the incrTriangles rule: small batch ⇒
        // explicit broadcast (the state NEVER shuffles for the remap),
        // huge first-batch replay ⇒ drop the hint, let the planner pick.
        // Since r17 the steady-state decision reads the CALLER's plan-
        // stats byte hint (free) instead of running a per-batch count job
        // on the gate floor; lab is batch-bounded by construction
        // (≤ 2·|batch| rows, ≥ ~16 B/pair on disk ⇒ 8 MB input bounds it
        // at ~1M rows, the row cap's own budget). Unhinted callers keep
        // the counted gate — the lazy val runs its job only on that path
        // (the persist still materializes on first action either way).
        lazy val labSmall = batchBytesHint match {
          case Some(bytes) => bytes <= DriverGates.BatchBroadcastByteCap
          case None => lab.count() <= DriverGates.BatchBroadcastRowCap
        }
        val labelEdges = pp
          .join(lab.select(col("doc_id").as("doc_a"), col("l").as("la")), "doc_a")
          .join(lab.select(col("doc_id").as("doc_b"), col("l").as("lb")), "doc_b")
          .select(col("la").as("doc_a"), col("lb").as("doc_b"))
        // fixpoint on the CONTRACTED graph only — label count is bounded
        // by 2·|batch|, so each round is batch-sized whatever the corpus.
        // localCheckpoint only when the remap feeds BOTH the state
        // rewrite and the changed-keys frame below — without it the
        // contracted fixpoint would run twice per batch. When the store
        // pre-declared a rebase (wantChanged=false, the tiny-state
        // steady state) the remap has ONE consumer and the checkpoint
        // would be a pure extra per-batch job on the gate floor.
        val remapRaw = graft.llm.TextDedup.dedupClusters(labelEdges)
          .select(col("doc_id").as("l"), col("cluster_id").as("root"))
        val remap0 = if (wantChanged) remapRaw.localCheckpoint() else remapRaw
        val remap = if (labSmall) broadcast(remap0) else remap0
        val newcomers = lab.filter(col("is_new"))
          .select(col("doc_id"), col("l").as("cluster_id"))
        val out = stp.unionByName(newcomers)
          .join(remap, col("cluster_id") === col("l"), "left")
          .select(col("doc_id"),
            coalesce(col("root"), col("cluster_id")).as("cluster_id"))
          .localCheckpoint() // materialize before dropping the caches
        // changed keys: members of components whose label is remapped
        // away (one broadcast semi-join over the cached state — the
        // remap domain is batch-bounded) plus every batch node. Checked
        // to blocks NOW, while stp/lab are still cached — the consumer
        // (the bucketed state write) runs after they unpersist. Skipped
        // wholesale when the store pre-declared it would rebase anyway
        // ([[GenState.deltaUseful]]): the frame is an extra per-batch
        // job, a visible slice of the gate-scale micro-batch floor.
        val changed =
          if (!wantChanged) None
          else {
            // same broadcast gate as the remap join above: nontrivial is
            // a subset of remap0 (label-bounded), and a huge catch-up
            // batch must not force a multi-million-row broadcast
            val nontrivial0 = remap0.filter(col("root") =!= col("l"))
              .select(col("l").as("cluster_id"))
            val nontrivial =
              if (labSmall) broadcast(nontrivial0) else nontrivial0
            Some(stp
              .join(nontrivial, Seq("cluster_id"), "left_semi")
              .select("doc_id")
              .unionByName(lab.select("doc_id"))
              .localCheckpoint())
          }
        stp.unpersist(); pp.unpersist(); lab.unpersist()
        (out, changed)
    }
  }

  /** Personalized PageRank (Haveliwala 2002): [[pageRank]] with the
    * teleport restricted to a SEED cohort — the random surfer restarts
    * only at seeds, so rank measures affinity TO that cohort (similar-
    * customer discovery, cohort-conditioned recommendations) instead of
    * global centrality. Same integer fixed point, same per-round
    * join+reduce; the only deltas are the seed-conditional teleport term
    * (one broadcast membership join per round — seed lists are
    * cohort-sized) and a zero initial rank off-seed. Seeds outside the
    * graph contribute no mass (they never receive or forward), but still
    * count in the normalization — both faces of that choice are stated
    * identically in the oracle. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 8, smallGraphCap: Long = RankGraphEdgeCap,
      assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"personalizedPageRank needs iters >= 1, got $iters")
    val seedSet = seeds.select(col("node")).distinct().localCheckpoint()
    val k = seedSet.count()
    require(k >= 1, "personalizedPageRank needs at least one seed")
    val scale = 1000000000000L
    val teleport = (15L * scale) / (100L * k)
    val (e, small) = collectedEdges(edges, smallGraphCap, assumeDistinct)
    small match {
      case Some(rows) =>
        // the seed VALUES are cohort-sized by the operator's contract
        // (their count above is already a driver scalar); under the edge
        // cap they are dwarfed by the edge collect anyway
        val seedVals = seedSet.collect().map(_.get(0)).toSet
        val g = driverGraph(rows, validateConf(e))
        val init = (0 until g.nSrc).map { i =>
          val nd = g.keys(i)
          nd -> (if (seedVals(nd)) scale / k else 0L)
        }
        val ranks = driverRankLoop(g, init,
          nd => if (seedVals(nd)) teleport else 0L, iters,
          (r, ei) => (85L * r) / (100L * g.outdeg(g.srcIdx(ei))))
        return rankDf(e, "src", ranks, "rank_fp")
      case None => ()
    }
    val PreppedEdges(ej, deg, nNodes, _) = prepareEdges(e)
    val flagged = seedSet.withColumn("__seed", lit(1))
    // broadcast the round's score frame under the node cap (see pageRank)
    val rankSide: DataFrame => DataFrame = rankBroadcastSide(nNodes)
    var ranks = deg.select(col("src").as("node"))
      .join(broadcast(flagged), Seq("node"), "left")
      .select(col("node"),
        when(col("__seed").isNotNull, lit(scale / k)).otherwise(lit(0L)).as("r"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      i += 1
      ranks = ej.join(rankSide(ranks.withColumnRenamed("node", "src")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(85 * r) div (100 * outdeg)")).as("contrib"))
        .join(broadcast(flagged), Seq("node"), "left")
        .select(col("node"), (col("contrib") +
          when(col("__seed").isNotNull, lit(teleport)).otherwise(lit(0L))).as("r"))
      if (i % 2 == 0 || i == iters) ranks = ranks.localCheckpoint()
    }
    ej.unpersist()
    ranks.select(col("node"), col("r").as("rank_fp")).orderBy("node")
  }

  /** Triangle counting by the degree-ordered node-iterator (the
    * Schank/Wagner 2005 / GraphX algorithm) — the local-density signal
    * behind clustering coefficients and web-spam scoring (a link farm is
    * triangle-dense; organic link graphs are locally sparse).
    *
    * Every undirected edge is ORIENTED from its lower-(degree, id)
    * endpoint to the higher — a DAG whose max out-degree is O(√|E|)
    * whatever the degree distribution (the hub that would generate
    * deg²-many wedges as a source instead receives most edges), which is
    * the whole scale story: the wedge self-join is Σ outdeg², bounded by
    * |E|^1.5, never the hub-degree² blow-up of a naive neighbor join.
    * Each triangle {x,y,z} with rank x<y<z appears EXACTLY once — as the
    * wedge (y,z) at apex x closed by the oriented edge y→z — so counts
    * need no de-duplication pass.
    *
    * All arithmetic is integer; the orientation tiebreak (degree, then
    * id) is a total order stated identically in the oracle's SQL, so the
    * result is engine-exact. Input: (src, dst) edge list in any
    * direction/multiplicity (normalized to distinct u<v here). Output:
    * (node, n_tri) per triangle-participating node, ordered by node. */
  def triangleCounts(edges: DataFrame,
      smallGraphCap: Long = RankGraphEdgeCap): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small-graph gate (the rank-family rule): the degree-ordered
    // node-iterator is three joins + two aggregates distributed; under
    // the cap the SAME algorithm — same (degree, id) orientation, same
    // wedge set, same once-per-triangle accounting — runs over collected
    // arrays. Long keys only; the hand-count and q40 oracle tests pin
    // both paths.
    if (smallGraphCap > 0 &&
        e.schema("u").dataType == org.apache.spark.sql.types.LongType &&
        e.count() <= smallGraphCap) {
      val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val deg = new scala.collection.mutable.HashMap[Long, Long]()
      pairs.foreach { case (u, v) =>
        deg.update(u, deg.getOrElse(u, 0L) + 1L)
        deg.update(v, deg.getOrElse(v, 0L) + 1L)
      }
      def rankLt(a: Long, b: Long): Boolean = {
        val (da, db) = (deg(a), deg(b))
        da < db || (da == db && a < b)
      }
      val out = new scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[Long]]()
      val outSet = new scala.collection.mutable.HashSet[(Long, Long)]()
      pairs.foreach { case (u, v) =>
        val (a, b) = if (rankLt(u, v)) (u, v) else (v, u)
        out.getOrElseUpdate(a,
          new scala.collection.mutable.ArrayBuffer[Long]()) += b
        outSet.add((a, b)): Unit
      }
      // second-stage gate (the incrTriangles rule): wedge volume is
      // Σ outdeg², which an edge-count cap does not bound on dense
      // near-clique graphs — over the probe budget, discard the arrays
      // and let the 32-way plan below do the closure
      val wedgeBudget = out.valuesIterator
        .map(n => n.length.toLong * n.length).sum
      if (wedgeBudget <= DriverGates.WedgeProbeBudget) {
        e.unpersist()
        val cnt = new scala.collection.mutable.HashMap[Long, Long]()
        def bump(n: Long): Unit = cnt.update(n, cnt.getOrElse(n, 0L) + 1L)
        out.foreach { case (a, nbrs) =>
          var i = 0
          while (i < nbrs.length) {
            var j = 0
            while (j < nbrs.length) {
              val (b, c) = (nbrs(i), nbrs(j))
              // each unordered out-pair once: rank(b) < rank(c)
              if (rankLt(b, c) && outSet((b, c))) { bump(a); bump(b); bump(c) }
              j += 1
            }
            i += 1
          }
        }
        import scala.jdk.CollectionConverters._
        val lt = org.apache.spark.sql.types.LongType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", lt),
          org.apache.spark.sql.types.StructField("n_tri", lt, nullable = false)))
        return edges.sparkSession.createDataFrame(
          cnt.toSeq.map { case (n, c) =>
            org.apache.spark.sql.Row(n, c) }.asJava, schema)
          .orderBy("node")
      }
    }
    // Distributed path: TRUE-TWIN CONTRACTION first (the ×100-probe
    // lesson, BENCH_SCALE r12). A replicated / heavily-duplicated corpus
    // makes the near-dup pair graph CLIQUE-dense: every clone family is
    // a clique whose wedge volume grows quadratically (measured at the
    // ×100 probe: Σdeg² = 6.5e9, 27M pairs — the raw wedge join burned
    // 4,570 CPU-s and OOM'd the executor). Nodes with identical CLOSED
    // neighborhoods ("true twins" — exactly the clone families: closed-
    // neighborhood equality implies the class is a clique and is
    // uniformly adjacent to every neighbor class) contract to one
    // weighted super-node, and per-node triangle counts expand EXACTLY:
    // for u in class U (weight wU), with S1 = Σ_{A adj U} wA,
    // S2 = Σ_{A adj U} C(wA,2), T4(U) = Σ_{A<B adj U, A adj B} wA·wB:
    //   n_tri(u) = C(wU−1,2) + (wU−1)·S1 + S2 + T4(U)
    // (the four cases: both co-members; one co-member + one neighbor;
    // two in one neighbor class; two in distinct adjacent classes). The
    // wedge enumeration runs ONLY on the contracted simple graph — the
    // unique-content graph, orders of magnitude smaller under
    // duplication — so cost is O(|E|) signatures + contracted wedges,
    // never clone² work. This is the graph-side sibling of the r3
    // dedup-collapse rule: collapse exact duplicates before any
    // quadratic step. Class identity rides a 192-bit commutative
    // signature (size, bit_xor, exact decimal sum of per-neighbor
    // xxhash64) — the same hash-keyed-grouping trust model as the md5
    // exact-dedup family.
    // open-neighborhood aggregation (duplicate-free by e's distinct — no
    // extra distinct shuffle over 2|E| rows), then the self term is ADDED
    // ANALYTICALLY to make the signature the CLOSED neighborhood — the
    // form under which twin classes are provably cliques
    val sym = e.select(explode(array(
        struct(col("u").as("n"), col("v").as("nbr")),
        struct(col("v").as("n"), col("u").as("nbr")))).as("p"))
      .select(col("p.n").as("n"), col("p.nbr").as("nbr"))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val sig = sym.groupBy("n").agg(
        count(lit(1)).as("o_deg"),
        expr("bit_xor(xxhash64(nbr))").as("o_xor"),
        sum(xxhash64(col("nbr")).cast(dec38)).as("o_sum"))
      .select(col("n"),
        (col("o_deg") + 1).as("s_deg"),
        col("o_xor").bitwiseXOR(xxhash64(col("n"))).as("s_xor"),
        (col("o_sum") + xxhash64(col("n")).cast(dec38)).as("s_sum"))
    val sigKey = Seq("s_deg", "s_xor", "s_sum")
    val classes = sig.groupBy(sigKey.map(col): _*)
      .agg(min(col("n")).as("cls"), count(lit(1)).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodeClass = sig.join(classes, sigKey)
      .select(col("n"), col("cls"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classW = classes.select(col("cls"), col("w"))
    val cE = e
      .join(nodeClass.select(col("n").as("u"), col("cls").as("cu")), "u")
      .join(nodeClass.select(col("n").as("v"), col("cls").as("cv")), "v")
      .filter(col("cu") =!= col("cv"))
      .select(least(col("cu"), col("cv")).as("u"),
        greatest(col("cu"), col("cv")).as("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // S1/S2 over the contracted adjacency
    val adjC = cE.select(explode(array(
        struct(col("u").as("c"), col("v").as("a")),
        struct(col("v").as("c"), col("u").as("a")))).as("p"))
      .select(col("p.c").as("cls"), col("p.a").as("a"))
      .join(classW.select(col("cls").as("a"), col("w").as("wa")), "a")
    val s12 = adjC.groupBy("cls").agg(
      sum(col("wa")).as("s1"),
      sum(expr("(wa * (wa - 1)) div 2")).as("s2"))
    // T4: the degree-ordered node-iterator on the CONTRACTED graph, with
    // each found triangle (a,b,c) contributing the OPPOSITE pair's
    // weight product to every corner
    val degC = cE.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val rankLt = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = cE
      .join(degC.select(col("n").as("u"), col("d").as("du")), "u")
      .join(degC.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(rankLt, col("u")).otherwise(col("v")).as("a"),
        when(rankLt, col("v")).otherwise(col("u")).as("b"),
        when(rankLt, col("dv")).otherwise(col("du")).as("db"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges at apex a: unordered pairs of out-neighbors, rank(b) < rank(c)
    val wedges = oriented.select(col("a"), col("b"), col("db"))
      .join(oriented.select(col("a"), col("b").as("c"), col("db").as("dc")), "a")
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    // a wedge closes iff the oriented edge b→c exists (rank(b) < rank(c)
    // already holds, so orientation cannot hide the closing edge)
    val closing = oriented.select(col("a").as("b"), col("b").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"))
      .join(classW.select(col("cls").as("a"), col("w").as("wa2")), "a")
      .join(classW.select(col("cls").as("b"), col("w").as("wb2")), "b")
      .join(classW.select(col("cls").as("c"), col("w").as("wc2")), "c")
    val t4 = tris.select(explode(array(
        struct(col("a").as("cls"), (col("wb2") * col("wc2")).as("t")),
        struct(col("b").as("cls"), (col("wa2") * col("wc2")).as("t")),
        struct(col("c").as("cls"), (col("wa2") * col("wb2")).as("t")))).as("p"))
      .select(col("p.cls").as("cls"), col("p.t").as("t"))
      .groupBy("cls").agg(sum(col("t")).as("t4"))
    val perClass = classW
      .join(s12, Seq("cls"), "left")
      .join(t4, Seq("cls"), "left")
      .select(col("cls"),
        (expr("((w - 1) * (w - 2)) div 2") +
          (col("w") - 1) * coalesce(col("s1"), lit(0L)) +
          coalesce(col("s2"), lit(0L)) +
          coalesce(col("t4"), lit(0L))).as("n_tri"))
    val out = nodeClass.join(perClass, Seq("cls"))
      .filter(col("n_tri") > 0)
      .select(col("n").as("node"), col("n_tri"))
      .orderBy("node")
      .localCheckpoint()
    oriented.unpersist(); cE.unpersist(); nodeClass.unpersist()
    classes.unpersist(); e.unpersist()
    out
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) — the OTHER classic link
    * analysis, and the one that fits a BIPARTITE graph natively (PageRank
    * needs symmetrization; HITS's two mutually-recursive scores ARE the
    * two node classes): authority(a) = Σ hub scores pointing at it,
    * hub(h) = Σ authority scores it points at, each vector max-normalized
    * per round.
    *
    * Integer fixed point like [[pageRank]], with one extra trick: the
    * normalization (raw · S) div max would overflow BIGINT (raw is up to
    * maxdeg·S ≈ 10²⁸ after the multiply), so the product runs in
    * DECIMAL(38,0), whose integral `div` is bit-identical to DuckDB's
    * HUGEINT `//` (pinned by the oracle). The per-round max rides a
    * broadcast 1-row frame — no driver collect in the loop, and sums are
    * order-free exact integers throughout.
    *
    * Scale shape: two join+partial-agg passes per round over the cached
    * edge frame (the pageRank shape, twice), plus two 1-row max
    * aggregates. Input: (hub, auth) directed bipartite edges. Output:
    * (kind 'auth'|'hub', node, score_fp) after `iters` full rounds,
    * max-normalized so the top score is exactly S = 10¹². */
  def hits(edges: DataFrame, iters: Int = 8,
      smallGraphCap: Long = RankGraphEdgeCap): DataFrame = {
    require(iters >= 1, s"hits needs iters >= 1, got $iters")
    val e = edges.select("hub", "auth").distinct().persist(Mem)
    val m = e.count()
    if (m <= smallGraphCap) {
      val pairs = e.collect()
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("node",
          e.schema("auth").dataType),
        org.apache.spark.sql.types.StructField("score_fp",
          org.apache.spark.sql.types.LongType, nullable = false)))
      e.unpersist()
      val sc = BigInt(1000000000000L)
      // index-array phases (r16 optimization — the rank-family rewrite
      // applied to the bipartite recurrence): hubs and auths index into
      // separate dense int domains; each phase is one primitive pass over
      // the pair arrays. Raw sums accumulate in Long via addExact — exact
      // whenever they fit (scores ≤ 10¹², so any graph under ~9.2M edges
      // per receiving node cannot wrap), with a per-phase BigInt fallback
      // that reproduces the old arithmetic verbatim if one ever does.
      // Normalization stays BigInt per NODE ((raw · S) div max, same
      // floor), so every emitted value is bit-identical to the old
      // all-BigInt phases.
      val mP = pairs.length
      val hubOf = new scala.collection.mutable.HashMap[Any, Int]()
      val authOf = new scala.collection.mutable.HashMap[Any, Int]()
      val hIdx = new Array[Int](mP)
      val aIdx = new Array[Int](mP)
      var pi = 0
      while (pi < mP) {
        hIdx(pi) = hubOf.getOrElseUpdate(pairs(pi).get(0), hubOf.size)
        aIdx(pi) = authOf.getOrElseUpdate(pairs(pi).get(1), authOf.size)
        pi += 1
      }
      val nHub = hubOf.size
      val nAuth = authOf.size
      var hubS = Array.fill(nHub)(1000000000000L)
      var hubHas = Array.fill(nHub)(true)
      var authS = new Array[Long](nAuth)
      var authHas = new Array[Boolean](nAuth)
      // one Long-exact phase: sum scoreOf over pairs into the out domain,
      // then normalize by the max. Falls back to BigInt sums on overflow.
      def phase(nOut: Int, outIdx: Array[Int], inIdx: Array[Int],
          inS: Array[Long], inHas: Array[Boolean])
          : (Array[Long], Array[Boolean]) = {
        val has = new Array[Boolean](nOut)
        val outV = new Array[Long](nOut)
        def normalize(raw: Int => BigInt): Unit = {
          var mx = BigInt(0)
          var j = 0
          while (j < nOut) {
            if (has(j) && raw(j) > mx) mx = raw(j); j += 1 }
          j = 0
          while (j < nOut) {
            if (has(j)) outV(j) = ((raw(j) * sc) / mx).toLong; j += 1 }
        }
        try {
          val rawL = new Array[Long](nOut)
          var e2 = 0
          while (e2 < mP) {
            val s = inIdx(e2)
            if (inHas(s)) {
              val d = outIdx(e2)
              rawL(d) = Math.addExact(rawL(d), inS(s))
              has(d) = true
            }
            e2 += 1
          }
          normalize(j => BigInt(rawL(j)))
        } catch { case _: ArithmeticException =>
          java.util.Arrays.fill(has, false)
          val rawB = Array.fill(nOut)(BigInt(0))
          var e2 = 0
          while (e2 < mP) {
            val s = inIdx(e2)
            if (inHas(s)) {
              val d = outIdx(e2)
              rawB(d) += inS(s)
              has(d) = true
            }
            e2 += 1
          }
          normalize(rawB)
        }
        (outV, has)
      }
      var i = 0
      while (i < iters && mP > 0) {
        i += 1
        val (a, ah) = phase(nAuth, aIdx, hIdx, hubS, hubHas)
        authS = a; authHas = ah
        val (h, hh) = phase(nHub, hIdx, aIdx, authS, authHas)
        hubS = h; hubHas = hh
      }
      import scala.jdk.CollectionConverters._
      val authKeys = new Array[Any](nAuth)
      authOf.foreach { case (k, j) => authKeys(j) = k }
      val hubKeys = new Array[Any](nHub)
      hubOf.foreach { case (k, j) => hubKeys(j) = k }
      val rows: java.util.List[org.apache.spark.sql.Row] =
        ((0 until nAuth).iterator.filter(authHas).map(j =>
          org.apache.spark.sql.Row("auth", authKeys(j), authS(j))).toSeq ++
         (0 until nHub).iterator.filter(hubHas).map(j =>
          org.apache.spark.sql.Row("hub", hubKeys(j), hubS(j))).toSeq).asJava
      return e.sparkSession.createDataFrame(rows, outSchema)
        .orderBy("kind", "node")
    }
    val parts = sizedParts(e)
    val eh = e.repartition(parts, col("hub")).persist(Mem)
    val ea = e.repartition(parts, col("auth")).persist(Mem)
    eh.count(); ea.count(); e.unpersist()
    val scale = 1000000000000L
    // broadcast each round's score frame under the node cap (see
    // pageRank) — measured on the NODE counts, not m: at the ×100 probe
    // the edge count (117M) dwarfed the cap while the score frames
    // (1.6M nodes ≈ 26 MB) were exactly the broadcast-sized side the
    // hint exists for, and an m-guard left all 16 phases as sort-merge
    // joins (q42 = 128.6 s vs q43's 64.6 with the hint firing). Two
    // one-off aggregates over the persisted edge frames buy 16 rounds
    // of broadcast hash joins.
    val nScore = math.max(eh.select(col("hub")).distinct().count(),
      ea.select(col("auth")).distinct().count())
    val scoreSide: DataFrame => DataFrame = rankBroadcastSide(nScore)
    def renorm(raw: DataFrame): DataFrame = {
      val mx = raw.agg(max(col("raw")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"), expr(
          s"CAST((CAST(raw AS DECIMAL(38,0)) * $scale) div mx AS BIGINT)")
          .as("s"))
    }
    var hub = eh.select(col("hub").as("node")).distinct()
      .select(col("node"), lit(scale).as("s"))
      .localCheckpoint()
    // Exact overflow-free sum at BIGINT speed: hits' raw sums are NOT
    // mass-conserving (unlike pageRank's, which stay ≤ the 10¹² total
    // mass), so s ≤ 10¹² summed over an in-degree above ~9.2M wraps
    // Long. A straight DECIMAL(38,0) sum is safe but pays decimal
    // arithmetic PER ROW in the hottest aggregate (measured ~25% of the
    // query). Instead split each term at 2²⁰ — both halves are < 2²⁰,
    // so their BIGINT sums only wrap past 2⁴³ rows per group (beyond
    // any graph) — and recombine in DECIMAL once PER GROUP. Identical
    // values to the oracle's HUGEINT arithmetic, Long-speed partials.
    val rawSum = (sum(expr("s div 1048576")).cast("decimal(38,0)") *
      lit(1048576L) + sum(expr("s % 1048576"))).as("raw")
    var auth: DataFrame = null
    var i = 0
    while (i < iters) {
      i += 1
      // auth is checkpointed EAGERLY each round: renorm references its
      // input twice (the broadcast max + the main lineage), so a lazy
      // auth subplan is re-evaluated under hub's renorm — measured
      // 94 → 146 CPU-s when tried lazily (exchange reuse dedupes the
      // shuffles but not the downstream aggregates/joins).
      auth = renorm(eh.join(scoreSide(hub.withColumnRenamed("node", "hub")),
          Seq("hub"))
        .groupBy(col("auth").as("node"))
        .agg(rawSum))
        .localCheckpoint()
      hub = renorm(ea.join(scoreSide(auth.withColumnRenamed("node", "auth")),
          Seq("auth"))
        .groupBy(col("hub").as("node"))
        .agg(rawSum))
        .localCheckpoint()
    }
    eh.unpersist(); ea.unpersist()
    auth.select(lit("auth").as("kind"), col("node"), col("s").as("score_fp"))
      .unionByName(hub.select(lit("hub").as("kind"), col("node"),
        col("s").as("score_fp")))
      .orderBy("kind", "node")
  }

  /** Incremental triangle maintenance — [[triangleCounts]] under
    * STREAMING edge arrivals, the triangle sibling of
    * [[incrementalComponents]]. Per batch, every NEW triangle contains at
    * least one new edge, so candidates are exactly the wedges closed over
    * new edges: ΔE ⋈ adjacency ⋈ adjacency (common neighbors of each new
    * edge's endpoints) — batch-proportional (|ΔE| · avg-degree²-ish),
    * never a re-walk of the standing graph's wedge space. A triangle with
    * 2 or 3 new edges is found once PER new edge, so each is counted only
    * at its lexicographically minimal new edge (the newness of the other
    * two sides is one broadcast membership join against the batch) —
    * exactly-once without a distinct over materialized triangles.
    *
    * State: the normalized edge set plus per-node counts, union-encoded
    * in one frame (kind = 'e' rows carry (u, v); kind = 'c' rows carry
    * (node, n_tri)) — the GenState protocol stores a single DataFrame.
    * Edges already present are anti-joined out of the batch first, so
    * replaying data into the stream cannot double-count (idempotent at
    * the edge level; GenState's markers already dedupe at the batch
    * level). Maintained ≡ one-shot [[triangleCounts]] on the union of all
    * batches — the m41 gate states that with q40's oracle verbatim, and
    * the sbt property test checks random graphs × random splits. */
  def incrTriangles(prev: Option[DataFrame], pairs: DataFrame,
      smallGraphCap: Long = RankGraphEdgeCap): DataFrame =
    incrTrianglesDelta(prev, pairs, smallGraphCap)._1

  /** [[incrTriangles]] plus the batch's CHANGED-KEY frame — (u, v, node)
    * projections of the state rows this batch adds or rewrites: the new
    * edges and the nodes whose triangle count was bumped. Feeds
    * [[GenState.applyBatch]]: both sets are batch-proportional
    * (|ΔE| and the owned-wedge endpoints), so the bucketed state write
    * never rewrites the standing edge set or untouched counts. */
  def incrTrianglesDelta(prev: Option[DataFrame], pairs: DataFrame,
      smallGraphCap: Long = RankGraphEdgeCap,
      wantChanged: Boolean = true): (DataFrame, Option[DataFrame]) = {
    val pN = pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val (eOld, cOld) = prev match {
      case Some(st) =>
        (st.filter(col("kind") === "e").select("u", "v"),
          st.filter(col("kind") === "c").select("node", "n_tri"))
      case None =>
        val sp = pairs.sparkSession
        import sp.implicits._
        (Seq.empty[(Long, Long)].toDF("u", "v"),
          Seq.empty[(Long, Long)].toDF("node", "n_tri"))
    }
    val dE = pN.join(eOld, Seq("u", "v"), "left_anti").persist(Mem)
    // Materialized here anyway (the union below needs it); the count also
    // decides the side-edge join strategy: an explicit broadcast() of the
    // batch edge set is right for the steady state (micro-batches are
    // small), but a first batch replaying a large history would blow the
    // driver/executor broadcast limit — past the threshold, drop the hint
    // and let the planner/AQE pick a shuffle join.
    val dECount = dE.count()
    // Small-graph gate (the rank-family rule): when standing edges + ΔE
    // fit the driver cap, the wedge closure runs as set intersections
    // over a collected adjacency instead of a 3-join, ~16-wave plan —
    // same candidate set, same minimal-new-edge ownership (struct
    // comparison = lexicographic pair order), same output schema, pinned
    // by the random-split property test on BOTH paths. Long keys only
    // (what every caller uses); anything else keeps the join plan.
    val longKeys = pN.schema("u").dataType ==
      org.apache.spark.sql.types.LongType
    // the incremental gate's cap is MUCH tighter than the one-shot ops':
    // here the whole standing state round-trips through the driver every
    // batch (collect + a LocalRelation rebuild whose rows re-encode into
    // the plan), so the win flips to a loss long before the collect
    // itself hurts — measured at the ×10 gate (313k state rows): the
    // driver path DOUBLED m41's wall while its wedge math stayed trivial
    val stateCap = math.min(smallGraphCap, DriverGates.IncrStateRowCap)
    // counted ONCE per batch: the standing edge state is corpus-sized, a
    // second count job is a second full scan of it
    val eOldCount = eOld.count()
    if (longKeys && smallGraphCap > 0 &&
        eOldCount + dECount <= stateCap) {
      val newE = dE.collect().map(r => (r.getLong(0), r.getLong(1)))
      val oldE = eOld.collect().map(r => (r.getLong(0), r.getLong(1)))
      val adj = new scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.HashSet[Long]]()
      def link(a: Long, b: Long): Unit =
        adj.getOrElseUpdate(a,
          new scala.collection.mutable.HashSet[Long]()).add(b): Unit
      oldE.foreach { case (u, v) => link(u, v); link(v, u) }
      newE.foreach { case (u, v) => link(u, v); link(v, u) }
      // second-stage gate: an edge-count cap does NOT bound wedge work —
      // intersections cost Σ min(deg(u), deg(v)) over ΔE, and a dense
      // near-clique graph (the replicated-corpus dedup shape) blows that
      // up quadratically while staying edge-small. Budget the actual
      // set-probe volume; over it, the collected arrays are discarded
      // and the 32-way 3-join plan below does the closure (measured: the
      // driver loop DOUBLED m41's wall on the sf1 clique-dense graphs
      // this guard exists for).
      val wedgeBudget = newE.iterator
        .map { case (u, v) => math.min(adj(u).size, adj(v).size).toLong }.sum
      if (wedgeBudget <= DriverGates.WedgeProbeBudget) {
        dE.unpersist()
        val cnt = new scala.collection.mutable.HashMap[Long, Long]()
        cOld.collect().foreach(r => cnt.update(r.getLong(0), r.getLong(1)))
        val newSet = newE.toSet
        def pairLt(a: (Long, Long), b: (Long, Long)): Boolean =
          a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
        val bumped = new scala.collection.mutable.HashSet[Long]()
        def bump(n: Long): Unit = {
          cnt.update(n, cnt.getOrElse(n, 0L) + 1L); bumped.add(n): Unit
        }
        newE.foreach { case (u, v) =>
          val (su, sv) = (adj(u), adj(v))
          val (small, big) = if (su.size <= sv.size) (su, sv) else (sv, su)
          small.foreach { w =>
            if (big.contains(w)) {
              // count each triangle only at its minimal new edge
              val e1 = (math.min(u, w), math.max(u, w))
              val e2 = (math.min(v, w), math.max(v, w))
              val owned = !(newSet(e1) && pairLt(e1, (u, v))) &&
                !(newSet(e2) && pairLt(e2, (u, v)))
              if (owned) { bump(u); bump(v); bump(w) }
            }
          }
        }
        import scala.jdk.CollectionConverters._
        val lt = org.apache.spark.sql.types.LongType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("kind",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("u", lt),
          org.apache.spark.sql.types.StructField("v", lt),
          org.apache.spark.sql.types.StructField("node", lt),
          org.apache.spark.sql.types.StructField("n_tri", lt)))
        val rows: java.util.List[org.apache.spark.sql.Row] =
          ((oldE.iterator ++ newE.iterator).map { case (u, v) =>
            org.apache.spark.sql.Row("e", u, v, null, null) } ++
           cnt.iterator.map { case (n, c) =>
            org.apache.spark.sql.Row("c", null, null, n, c) }).toSeq.asJava
        // localCheckpoint, NOT a bare LocalRelation: this frame is the
        // next batch's standing state — a LocalRelation EMBEDS its rows
        // in every downstream plan (re-serialized per job; measured 2x
        // on the ×10 gate once state crossed ~10^5 rows), while a
        // checkpointed RDD is a normal block-backed scan
        val changedSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("u", lt),
          org.apache.spark.sql.types.StructField("v", lt),
          org.apache.spark.sql.types.StructField("node", lt)))
        val changed =
          if (!wantChanged) None
          else {
            val changedRows: java.util.List[org.apache.spark.sql.Row] =
              (newE.iterator.map { case (u, v) =>
                org.apache.spark.sql.Row(u, v, null) } ++
               bumped.iterator.map(n =>
                org.apache.spark.sql.Row(null, null, n))).toSeq.asJava
            Some(pairs.sparkSession
              .createDataFrame(changedRows, changedSchema))
          }
        return (pairs.sparkSession.createDataFrame(rows, schema)
          .localCheckpoint(), changed)
      }
    }
    val broadcastBatch = dECount <= DriverGates.BatchBroadcastRowCap
    def batchSide(f: DataFrame): DataFrame =
      if (broadcastBatch) broadcast(f) else f
    val allE = eOld.unionByName(dE).persist(Mem)
    // Density gate (the ×100-probe lesson, BENCH_SCALE r12): the wedge
    // closure below enumerates Σ_{ΔE} |N(u)∩N(v)| candidate rows — on a
    // clique-dense graph (the replicated-corpus shape) that is quadratic
    // in duplication while ΔE stays linear; measured 9,065 executor
    // CPU-s / 2,197 s at the ×100 probe before this gate existed.
    // Estimated by Σ min(deg u, deg v) over ΔE (two joins on the degree
    // table, batch-proportional). Past the budget, per-new-edge
    // accounting LOSES to one O(|E|) twin-contracted recompute of the
    // whole count table ([[triangleCounts]]' contraction path), so do
    // exactly that — maintained ≡ one-shot holds trivially, and the
    // recompute is unique-content-sized, not clone²-sized.
    val allECount = eOldCount + dECount
    // default budget: the shared probe floor, or 4× the linear recompute
    // cost — whichever is larger; spark.graft.graph.wedgeRecomputeBudget
    // overrides with an absolute value (tests pin both branches with it)
    val recomputeBudget = pairs.sparkSession.conf
      .get("spark.graft.graph.wedgeRecomputeBudget",
        math.max(DriverGates.WedgeProbeBudget, 4L * allECount).toString).toLong
    // min(deg u, deg v) ≤ |E|, so dECount·allECount bounds the closure
    // from above with zero jobs — a small graph skips the estimate
    // entirely (the estimate is itself a per-batch Spark job, a visible
    // slice of the gate-scale micro-batch floor)
    val wedgeEst =
      if (allECount <= recomputeBudget / math.max(1L, dECount)) 0L
      else {
        val degAll = allE.select(explode(array(col("u"), col("v"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("d"))
          .persist(Mem)
        val est = Option(dE
          .join(degAll.select(col("n").as("u"), col("d").as("du")), "u")
          .join(degAll.select(col("n").as("v"), col("d").as("dv")), "v")
          .agg(sum(least(col("du"), col("dv"))).as("s")).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        degAll.unpersist()
        est
      }
    if (wedgeEst > recomputeBudget) {
      val cNew = triangleCounts(
        allE.select(col("u").as("src"), col("v").as("dst")),
        smallGraphCap = 0) // force the twin-contracted distributed path
        .select(col("node"), col("n_tri"))
      val out = allE
        .select(lit("e").as("kind"), col("u"), col("v"),
          lit(null).cast("long").as("node"), lit(null).cast("long").as("n_tri"))
        .unionByName(cNew.select(lit("c").as("kind"),
          lit(null).cast("long").as("u"), lit(null).cast("long").as("v"),
          col("node"), col("n_tri")))
        .localCheckpoint()
      val changed =
        if (!wantChanged) None
        else {
          val changedCounts = cNew.join(
            cOld.select(col("node"), col("n_tri").as("__old")),
            Seq("node"), "left")
            .filter(col("__old").isNull || col("__old") =!= col("n_tri"))
            .select(col("node"))
          Some(dE
            .select(col("u"), col("v"), lit(null).cast("long").as("node"))
            .unionByName(changedCounts.select(lit(null).cast("long").as("u"),
              lit(null).cast("long").as("v"), col("node")))
            .localCheckpoint())
        }
      dE.unpersist(); allE.unpersist()
      return (out, changed)
    }
    val adj = allE.select(explode(array(
        struct(col("u").as("x"), col("v").as("y")),
        struct(col("v").as("x"), col("u").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    // wedges over each new edge: w adjacent to BOTH endpoints in the
    // union graph (u < v by normalization; w is any third node)
    val cand = dE
      .join(adj.select(col("x").as("u"), col("y").as("w")), "u")
      .join(adj.select(col("x").as("v"), col("y").as("w")), Seq("v", "w"))
    // count each triangle only at its minimal new edge: a new side edge
    // that sorts before (u, v) means another instance owns this triangle
    val newFlag = dE.withColumn("__new", lit(1))
    def side(a: Column, b: Column) =
      struct(least(a, b).as("u"), greatest(a, b).as("v"))
    val owned = cand
      .withColumn("e1", side(col("u"), col("w")))
      .withColumn("e2", side(col("v"), col("w")))
      .join(batchSide(newFlag.select(struct(col("u"), col("v")).as("e1"),
        col("__new").as("n1"))), Seq("e1"), "left")
      .join(batchSide(newFlag.select(struct(col("u"), col("v")).as("e2"),
        col("__new").as("n2"))), Seq("e2"), "left")
      .filter(
        !(col("n1").isNotNull && col("e1") < struct(col("u"), col("v"))) &&
        !(col("n2").isNotNull && col("e2") < struct(col("u"), col("v"))))
    // localCheckpoint only when the per-batch count delta feeds BOTH the
    // state rewrite and the changed-keys frame — one wedge-closure
    // execution, batch-bounded blocks. With wantChanged=false (the store
    // pre-declared a rebase — tiny-state steady state) dC has a single
    // consumer and the checkpoint would be an extra per-batch job.
    val dCraw = owned
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val dC = if (wantChanged) dCraw.localCheckpoint() else dCraw
    val counts = cOld.unionByName(dC)
      .groupBy("node").agg(sum("n_tri").as("n_tri"))
    val out = allE
      .select(lit("e").as("kind"), col("u"), col("v"),
        lit(null).cast("long").as("node"), lit(null).cast("long").as("n_tri"))
      .unionByName(counts.select(lit("c").as("kind"),
        lit(null).cast("long").as("u"), lit(null).cast("long").as("v"),
        col("node"), col("n_tri")))
      .localCheckpoint()
    // changed keys — checkpointed while dE is still cached (the consumer
    // runs after the unpersist below); skipped when the store
    // pre-declared a rebase ([[GenState.deltaUseful]])
    val changed =
      if (!wantChanged) None
      else Some(dE
        .select(col("u"), col("v"), lit(null).cast("long").as("node"))
        .unionByName(dC.select(lit(null).cast("long").as("u"),
          lit(null).cast("long").as("v"), col("node")))
        .localCheckpoint())
    dE.unpersist(); allE.unpersist()
    (out, changed)
  }

  /** The q40 output face over maintained triangle state. */
  def incrTrianglesFinalize(state: DataFrame): DataFrame =
    state.filter(col("kind") === "c")
      .select(col("node"), col("n_tri"))
      .filter(col("n_tri") > 0)
      .orderBy("node")

  /** Maintain triangle counts under a streaming pair source (the m41
    * gate) — [[incrTriangles]] folded per micro-batch into generation-
    * committed state. */
  def trianglesMaintain(src: DataFrame, statePath: String,
      checkpoint: String, trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    GenState.foreachBatch(src, checkpoint, trigger) { (b, id) =>
      // skip the changed-keys job when the store will rebase anyway
      val want = GenState.deltaUseful(b.sparkSession, statePath)
      GenState.applyBatch(b.sparkSession, statePath, id,
        Seq("u", "v", "node"), GenState.batchBytes(b))(prev =>
          incrTrianglesDelta(prev, b, wantChanged = want))
    }

  /** The dedupClusters output face over a maintained label frame:
    * (doc_id, cluster_id, n_members, keep), ordered by doc_id. */
  def componentsFinalize(labels: DataFrame): DataFrame =
    labels
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_id", "n_members", "keep")
      .orderBy("doc_id")

  /** Maintain components under a streaming pair source (the m37 gate) —
    * [[incrementalComponents]] folded per micro-batch into generation-
    * committed state (the GenState idiom shared with the sketch and
    * rollup maintenance family). */
  def componentsMaintain(src: DataFrame, statePath: String,
      checkpoint: String, trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    GenState.foreachBatch(src, checkpoint, trigger) { (b, id) =>
      // skip the changed-keys job when the store will rebase anyway
      val want = GenState.deltaUseful(b.sparkSession, statePath)
      // one plan-stats read feeds both the store's tiny-path gate and
      // the delta's broadcast gate (no per-batch count job, r17)
      val hint = GenState.batchBytes(b)
      GenState.applyBatch(b.sparkSession, statePath, id,
        Seq("doc_id"), hint)(prev =>
          incrementalComponentsDelta(prev, b, wantChanged = want,
            batchBytesHint = hint))
    }
}
