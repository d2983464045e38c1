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

  /** S: every rank-family score is a BIGINT count of 1/S units. */
  private val Scale = 1000000000000L

  /** The rank kernel: pageRank, weightedPageRank, personalizedPageRank
    * and hits are one linear iteration, the GraphX/Pregel round — join
    * the score frame onto the cached edges, sum each edge's share per
    * destination, apply one per-node step. Each operator is a
    * [[RankSpec]]; [[rank]] runs it on one of two twins.
    *
    * Fixed point: scores are exact integers (S = 10¹² units), so every
    * aggregation is order-free and both twins — and the DuckDB oracles —
    * land bit-identically, where float sums depend on partition order.
    * Rounds are FIXED (`iters`), never converged on an epsilon:
    * a deterministic round count is the oracle contract and the
    * production pattern alike.
    *
    * Floors: every `div` floors, leaking at most one unit per edge per
    * round — bounded, deterministic, and stated identically in the
    * oracles. Each operator's evaluation order is part of its model.
    *
    * Symmetry contract (the PageRank family): every destination must also
    * be a source — symmetrize undirected edge lists, as q38 does. A node
    * with no out-edges would need a dangling-mass term and one with no
    * in-edges a left join; the contract keeps every round one inner join
    * + one aggregate. It is CHECKED on both twins, since the inner join
    * would otherwise drop no-out-edge nodes after round 1 and leak their
    * mass silently. HITS is bipartite and has no such contract.
    *
    * Gate: at most `smallGraphCap` edges ([[DriverGates.RankGraphEdgeCap]])
    * run the driver twin — the same recurrence over the collected edges,
    * because 8 rounds of join + reduce are 16–20 scheduler waves that
    * dwarf the arithmetic on a small graph (the sf0.1 co-purchase graphs
    * spent 6–8 s scheduling sub-millisecond math). Larger graphs run the
    * distributed twin, and the gate costs them nothing beyond the count
    * of the persisted edge frame. Both twins carry real traffic (the
    * sf0.1 graphs take the driver twin; the `_distpath` oracles and the
    * ×10 bench graphs the distributed one), and tests pin them against
    * each other and against BigInt references (cap 0 forces distributed).
    */
  private final case class RankSpec(
      /** Operator name, in contract-failure messages. */
      op: String,
      /** Edge prep: per-(src, dst) weight sums, share
        * (((85·r) div 100)·w) div W(u) with W(u) = Σ out-weights. Else
        * distinct pairs, share (85·r) div (100·outdeg(u)). */
      weighted: Boolean = false,
      /** Teleport (and initial score) only onto these nodes; else onto
        * every node. */
      seeds: Option[DataFrame] = None,
      /** HITS: share r itself, node step max-normalize to S, and two
        * phases per round, the second over reversed edges. */
      hits: Boolean = false)

  /** The driver twin's indexed edge list. Node keys map to dense ints
    * ONCE, so every phase is a primitive-array pass. Sources are indexed
    * first: they take `0 until nSrc`, the initial-score domain (HITS's
    * hubs), so `n == nSrc` IS "dst-set ⊆ src-set". */
  private final class DriverGraph(rows: Array[org.apache.spark.sql.Row],
      weighted: Boolean) {
    val m = rows.length
    private val nodeOf = new scala.collection.mutable.HashMap[Any, Int]()
    val srcIdx = new Array[Int](m)
    val dstIdx = new Array[Int](m)
    private def idx(k: Any): Int =
      nodeOf.getOrElseUpdate(k, nodeOf.size)
    var e = 0
    while (e < m) { srcIdx(e) = idx(rows(e).get(0)); e += 1 }
    val nSrc = nodeOf.size
    e = 0
    while (e < m) { dstIdx(e) = idx(rows(e).get(1)); e += 1 }
    val n = nodeOf.size // sources ∪ destinations
    val keys = new Array[Any](n)
    nodeOf.foreach { case (k, i) => keys(i) = k }
    val w: Array[Long] =
      if (weighted) rows.map(_.getLong(2)) else Array.emptyLongArray
    /** The share denominator per source: out-degree, or W(u). */
    val deg = new Array[Long](n)
    e = 0
    while (e < m) { deg(srcIdx(e)) += (if (weighted) w(e) else 1L); e += 1 }
  }

  /** The driver twin's one phase: every edge whose `from` end holds a
    * score adds its share into its `to` end, then the node step — add
    * `teleport(j)`, or (None) max-normalize to S. Exactly the distributed
    * twin's inner join + groupBy: a node that receives nothing drops out
    * of the next phase, a zero share still counts as received, and the
    * teleport lands only on receiving nodes.
    *
    * The one overflow rule: sums run in Long through `addExact` (PageRank
    * mass stays ≤ S, so its sums never leave it); a HITS sum that would
    * wrap — in-degree past ~9.2M — redoes the phase in BigInt, and the
    * normalization (raw·S) div max is BigInt per node, the distributed
    * twin's DECIMAL(38,0) arithmetic. */
  private def driverPhase(n: Int, from: Array[Int], to: Array[Int],
      in: Array[Long], inHas: Array[Boolean], share: (Long, Int) => Long,
      teleport: Option[Array[Long]]): (Array[Long], Array[Boolean]) = {
    val has = new Array[Boolean](n)
    val raw = new Array[Long](n)
    val rawB: Array[BigInt] = try {
      var e = 0
      while (e < from.length) {
        val s = from(e)
        if (inHas(s)) {
          val d = to(e)
          raw(d) = Math.addExact(raw(d), share(in(s), e))
          has(d) = true
        }
        e += 1
      }
      null
    } catch { case _: ArithmeticException =>
      val b = Array.fill(n)(BigInt(0))
      var e = 0
      while (e < from.length) {
        val s = from(e)
        if (inHas(s)) { b(to(e)) += share(in(s), e); has(to(e)) = true }
        e += 1
      }
      b
    }
    def rawAt(j: Int): BigInt = if (rawB == null) BigInt(raw(j)) else rawB(j)
    val out = new Array[Long](n)
    var j = 0
    teleport match {
      case Some(tp) =>
        while (j < n) {
          if (has(j)) out(j) =
            if (rawB == null) raw(j) + tp(j) else (rawB(j) + tp(j)).toLong
          j += 1
        }
      case None =>
        var mx = BigInt(0)
        while (j < n) { if (has(j) && rawAt(j) > mx) mx = rawAt(j); j += 1 }
        j = 0
        while (j < n) {
          if (has(j)) out(j) = (rawAt(j) * Scale / mx).toLong
          j += 1
        }
    }
    (out, has)
  }

  private def requireSymmetric(ok: Boolean): Unit =
    require(ok, "rank iteration requires dst-set ⊆ src-set (symmetrize " +
      "the edge list for undirected graphs); found destination node(s) " +
      "with no out-edges — their rank would silently vanish after round 1")

  /** The rank family's per-round broadcast hint: a node-bounded score
    * frame is broadcast against the cached edges, so no round re-sorts or
    * re-shuffles the edge frame (the ×100-probe q38/q42 lesson); past
    * [[DriverGates.RankBroadcastNodeCap]] the planner/AQE picks the join.
    * The guard measures the SCORE frame's domain (nodes), never edges: at
    * the ×100 probe q42's 117M edges dwarfed the cap while its 1.6M-node
    * score frames were exactly the side the hint exists for. */
  private def rankBroadcastSide(nodeCount: Long)(f: DataFrame): DataFrame =
    if (nodeCount <= DriverGates.RankBroadcastNodeCap) broadcast(f) else f

  /** Runs `spec`: shared contract checks and edge prep, then the gate. */
  private def rank(spec: RankSpec, edges: DataFrame, iters: Int,
      smallGraphCap: Long, assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"${spec.op} needs iters >= 1, got $iters")
    val seeds = spec.seeds.map { s =>
      val set = s.select(col("node")).distinct().localCheckpoint()
      val k = set.count()
      require(k >= 1, s"${spec.op} needs at least one seed")
      (set, k)
    }
    val e = (
      if (spec.weighted) edges.select(col("src"), col("dst"),
          col("w").cast("long").as("w"))
        .groupBy("src", "dst").agg(sum("w").as("w"))
      else {
        val pairs =
          if (spec.hits) edges.select(col("hub").as("src"), col("auth").as("dst"))
          else edges.select("src", "dst")
        if (assumeDistinct) pairs else pairs.distinct()
      }).persist(Mem)
    // weighted: the count and the weight range in one pass
    val stats = if (spec.weighted)
      Some(e.agg(count(lit(1)), min(col("w")), max(col("w"))).first())
    else None
    val m = stats.fold(e.count())(_.getLong(0))
    require(m >= 1L || spec.hits, "rank iteration needs a non-empty edge list")
    // w < 1 makes the proportional model meaningless, and w > 10⁷ could
    // overflow ((85·r) div 100)·w ≈ 8.5·10¹¹·w past Long.MaxValue
    stats.foreach(st => require(st.getLong(1) >= 1L && st.getLong(2) <= 10000000L,
      s"${spec.op} needs positive integer weights <= 1e7 after " +
        s"per-(src,dst) summing (overflow-safe fixed point); got " +
        s"min=${st.getLong(1)} max=${st.getLong(2)}"))
    if (m <= smallGraphCap) {
      val rows = e.collect()
      e.unpersist()
      driverRank(spec, e, rows, iters, seeds)
    } else distributedRank(spec, e, m, iters, seeds)
  }

  /** The teleport domain's size k (seeds) or N (nodes) fixes the initial
    * score and the per-round teleport: S div k and (15·S) div (100·k);
    * HITS starts its hubs at S and has no teleport. */
  private def startAndTeleport(spec: RankSpec, k: Long): (Long, Long) =
    if (spec.hits) (Scale, 0L) else (Scale / k, (15L * Scale) / (100L * k))

  private def driverRank(spec: RankSpec, e: DataFrame,
      rows: Array[org.apache.spark.sql.Row], iters: Int,
      seeds: Option[(DataFrame, Long)]): DataFrame = {
    val g = new DriverGraph(rows, spec.weighted)
    if (!spec.hits) requireSymmetric(g.n == g.nSrc)
    // seed VALUES are cohort-sized by the operator's contract; under the
    // edge cap they are dwarfed by the edge collect anyway
    val seedVals = seeds.map(_._1.collect().map(_.get(0)).toSet)
    val isSeed = Array.tabulate(g.n)(j => seedVals.forall(_(g.keys(j))))
    val (start, tp) = startAndTeleport(spec, seeds.fold(g.nSrc.toLong)(_._2))
    val share: (Long, Int) => Long =
      if (spec.hits) (r, _) => r
      else if (spec.weighted)
        (r, ei) => (((85L * r) / 100L) * g.w(ei)) / g.deg(g.srcIdx(ei))
      else (r, ei) => (85L * r) / (100L * g.deg(g.srcIdx(ei)))
    val teleport =
      if (spec.hits) None else Some(isSeed.map(s => if (s) tp else 0L))
    var fwd = Array.tabulate(g.n)(j =>
      if (j < g.nSrc && isSeed(j)) start else 0L)
    var fwdHas = Array.tabulate(g.n)(_ < g.nSrc)
    var rev = fwd
    var revHas = fwdHas
    var i = 0
    while (i < iters) {
      i += 1
      val (r, rh) = driverPhase(g.n, g.srcIdx, g.dstIdx, fwd, fwdHas, share,
        teleport)
      rev = r; revHas = rh
      if (spec.hits) {
        val (h, hh) = driverPhase(g.n, g.dstIdx, g.srcIdx, rev, revHas,
          share, None)
        fwd = h; fwdHas = hh
      } else { fwd = rev; fwdHas = revHas }
    }
    // rows and schema exactly as the distributed twin's final select
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def scored(s: Array[Long], has: Array[Boolean]) =
      (0 until g.n).iterator.filter(has).map(j => (g.keys(j), s(j)))
    val (schema, out, order) =
      if (spec.hits) (StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("node", e.schema("dst").dataType),
          StructField("score_fp", LongType, nullable = false))),
        scored(rev, revHas).map { case (k, v) => Row("auth", k, v) } ++
          scored(fwd, fwdHas).map { case (k, v) => Row("hub", k, v) },
        Seq("kind", "node"))
      else (StructType(Seq(StructField("node", e.schema("src").dataType),
          StructField("rank_fp", LongType, nullable = false))),
        scored(fwd, fwdHas).map { case (k, v) => Row(k, v) }, Seq("node"))
    e.sparkSession.createDataFrame(out.toSeq.asJava, schema)
      .orderBy(order.map(col): _*)
  }

  /** The distributed twin: a persisted, `src`-partitioned edge frame; each
    * phase shuffles only the score frame into it, then one
    * partial-aggregated reduction by `to`; `localCheckpoint` keeps the plan
    * from growing with the round count. */
  private def distributedRank(spec: RankSpec, e: DataFrame, m: Long,
      iters: Int, seeds: Option[(DataFrame, Long)]): DataFrame = {
    // parallelism from the measured edge count (~100k edges per task):
    // every round pays |stages|·parts of task scheduling, so a session-wide
    // partition count oversized for the graph is pure floor
    val parts = math.max(1, math.min(
      e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      (m / 100000L).toInt + 1))
    val ep = e.repartition(parts, col("src")).persist(Mem)
    // MATERIALIZED before the edge caches drop: a lazy reference would
    // re-run the caller's whole edge plan after the unpersist (measured
    // 4x on the q38 gate before this was pinned)
    val deg = ep.groupBy("src")
      .agg((if (spec.weighted) sum(col("w")) else count(lit(1))).as("deg"))
      .localCheckpoint()
    val (fwdEdges, revEdges) =
      if (spec.hits) {
        // HITS's share needs no degree; its second phase runs over the
        // edges partitioned on `dst`
        val er = e.repartition(parts, col("dst")).persist(Mem)
        er.count()
        (ep, Some(er))
      } else {
        val ej = ep.join(deg, "src").repartition(parts, col("src")).persist(Mem)
        ej.count()
        // anti-join straight on the edge frame, limit(1): the check needs
        // existence, not a census; no hint, so a billion-node deg frame
        // shuffles instead of broadcasting
        requireSymmetric(ep.select(col("dst"))
          .join(deg.select(col("src").as("dst")), Seq("dst"), "left_anti")
          .limit(1).count() == 0L)
        ep.unpersist()
        (ej, None)
      }
    e.unpersist()
    val n = deg.count()
    val side: DataFrame => DataFrame = rankBroadcastSide(revEdges.fold(n)(er =>
      math.max(n, er.select(col("dst")).distinct().count())))
    val (start, tp) = startAndTeleport(spec, seeds.fold(n)(_._2))
    // node steps over a (node, raw) frame, both yielding (node, r)
    def addTeleport(raw: DataFrame, v: Long): DataFrame = seeds match {
      case None => raw.select(col("node"), (col("raw") + lit(v)).as("r"))
      case Some((set, _)) => raw
        .join(broadcast(set.withColumn("__seed", lit(1))), Seq("node"), "left")
        .select(col("node"), (col("raw") +
          when(col("__seed").isNotNull, lit(v)).otherwise(lit(0L))).as("r"))
    }
    def normalize(raw: DataFrame): DataFrame = {
      // (raw·S) div max overflows BIGINT, so the product runs in
      // DECIMAL(38,0), whose integral div matches DuckDB's HUGEINT `//`;
      // the max rides a broadcast 1-row frame, no driver collect
      val mx = raw.agg(max(col("raw")).as("mx"))
      raw.crossJoin(broadcast(mx)).select(col("node"), expr(
        s"CAST((CAST(raw AS DECIMAL(38,0)) * $Scale) div mx AS BIGINT)").as("r"))
    }
    val share =
      if (spec.hits)
        // HITS sums are not mass-bounded: r ≤ S summed over an in-degree
        // past ~9.2M wraps Long, and a DECIMAL sum pays decimal math per
        // row (~25% of the query). Split each term at 2²⁰ — the halves'
        // BIGINT sums only wrap past 2⁴³ rows per group — and recombine
        // in DECIMAL once per group: the oracle's HUGEINT values at
        // Long speed.
        sum(expr("r div 1048576")).cast("decimal(38,0)") * lit(1048576L) +
          sum(expr("r % 1048576"))
      else sum(expr(
        if (spec.weighted) "(((85 * r) div 100) * w) div deg"
        else "(85 * r) div (100 * deg)"))
    def phase(edges: DataFrame, from: String, to: String,
        scores: DataFrame): DataFrame = {
      val raw = edges.join(side(scores.withColumnRenamed("node", from)), Seq(from))
        .groupBy(col(to).as("node")).agg(share.as("raw"))
      if (spec.hits) normalize(raw) else addTeleport(raw, tp)
    }
    var fwd = addTeleport(deg.select(col("src").as("node"), lit(0L).as("raw")),
      start).localCheckpoint()
    var rev = fwd
    var i = 0
    while (i < iters) {
      i += 1
      rev = phase(fwdEdges, "src", "dst", fwd)
      revEdges match {
        case Some(er) =>
          // HITS checkpoints every phase EAGERLY: normalize reads its input
          // twice (max + main lineage), so a lazy phase is re-evaluated
          // under the next one (measured 94 → 146 CPU-s)
          rev = rev.localCheckpoint()
          fwd = phase(er, "dst", "src", rev).localCheckpoint()
        case None =>
          // every SECOND round (and the last): a 2-round plan is still
          // bounded, and half the eager jobs shaves the per-round floor
          fwd = if (i % 2 == 0 || i == iters) rev.localCheckpoint() else rev
      }
    }
    fwdEdges.unpersist(); revEdges.foreach(_.unpersist())
    if (spec.hits)
      rev.select(lit("auth").as("kind"), col("node"), col("r").as("score_fp"))
        .unionByName(fwd.select(lit("hub").as("kind"), col("node"),
          col("r").as("score_fp")))
        .orderBy("kind", "node")
    else fwd.select(col("node"), col("r").as("rank_fp")).orderBy("node")
  }

  /** PageRank (Page et al. 1999), damping 0.85:
    * r₀(v) = S div N; rₜ₊₁(v) = (15·S) div (100·N) +
    * Σ_{u→v} (85·rₜ(u)) div (100·outdeg(u)).
    * Input: (src, dst), any key type. Output: (node, rank_fp), by node.
    * `assumeDistinct` skips the edge dedup — a full-width exchange, the
    * largest phase of a gated rank query — for callers that PROVE their
    * list duplicate-free at the call site; a wrong claim double-counts. */
  def pageRank(edges: DataFrame, iters: Int = 8,
      smallGraphCap: Long = DriverGates.RankGraphEdgeCap,
      assumeDistinct: Boolean = false): DataFrame =
    rank(RankSpec("pageRank"), edges, iters, smallGraphCap, assumeDistinct)

  /** Weighted PageRank: rank mass flows along out-edges in proportion to
    * their integer weight (co-purchase strength, link multiplicity):
    * r₀(v) = S div N; rₜ₊₁(v) = (15·S) div (100·N) +
    * Σ_{u→v} (((85·rₜ(u)) div 100)·w) div W(u),
    * W(u) = Σ out-weights. The inner div runs FIRST, keeping the product
    * ≤ 8.5·10¹¹·w. Duplicate (src, dst) rows sum their weights, which
    * must then be integers in [1, 10⁷]. Input (src, dst, w). */
  def weightedPageRank(edges: DataFrame, iters: Int = 8,
      smallGraphCap: Long = DriverGates.RankGraphEdgeCap): DataFrame =
    rank(RankSpec("weightedPageRank", weighted = true), edges, iters,
      smallGraphCap)

  /** Personalized PageRank (Haveliwala 2002): the random surfer restarts
    * only at the k distinct `seeds` (column `node`), so rank measures
    * affinity TO that cohort: r₀(v) = [v ∈ seeds]·(S div k);
    * rₜ₊₁(v) = [v ∈ seeds]·((15·S) div (100·k)) + Σ_{u→v} (85·rₜ(u)) div (100·outdeg(u)).
    * Seeds outside the graph forward no mass but still count in k. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 8, smallGraphCap: Long = DriverGates.RankGraphEdgeCap,
      assumeDistinct: Boolean = false): DataFrame =
    rank(RankSpec("personalizedPageRank", seeds = Some(seeds)), edges, iters,
      smallGraphCap, assumeDistinct)

  /** HITS hubs and authorities (Kleinberg 1999), native to a BIPARTITE
    * graph — no symmetrization, the two scores ARE the two node classes:
    * hub₀ = S; per round auth(a) = norm(Σ_{h→a} hub(h)), then
    * hub(h) = norm(Σ_{h→a} auth(a)), norm(x) = (x·S) div max x.
    * Input: (hub, auth) directed edges. Output: (kind 'auth'|'hub', node,
    * score_fp), by kind and node; an empty edge list gives no rows. */
  def hits(edges: DataFrame, iters: Int = 8,
      smallGraphCap: Long = DriverGates.RankGraphEdgeCap): DataFrame =
    rank(RankSpec("hits", hits = true), edges, iters, smallGraphCap)

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
      smallGraphCap: Long = DriverGates.RankGraphEdgeCap): DataFrame = {
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
      smallGraphCap: Long = DriverGates.RankGraphEdgeCap): DataFrame =
    incrTrianglesDelta(prev, pairs, smallGraphCap)._1

  /** [[incrTriangles]] plus the batch's CHANGED-KEY frame — (u, v, node)
    * projections of the state rows this batch adds or rewrites: the new
    * edges and the nodes whose triangle count was bumped. Feeds
    * [[GenState.applyBatch]]: both sets are batch-proportional
    * (|ΔE| and the owned-wedge endpoints), so the bucketed state write
    * never rewrites the standing edge set or untouched counts. */
  def incrTrianglesDelta(prev: Option[DataFrame], pairs: DataFrame,
      smallGraphCap: Long = DriverGates.RankGraphEdgeCap,
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
