package graft.operators

/** The one place the size-gated driver fast paths state their budgets.
  *
  * Shared policy (the ×10-bench lesson, BENCH_SCALE r11): driver work
  * must be bounded by the BYTES COLLECTED and the PROBES EXECUTED, never
  * by an edge count alone — an edge-count cap bounds neither wedge volume
  * on dense near-clique graphs nor the per-batch driver round-trip of a
  * growing state. Each constant below carries its own bounding argument;
  * they were previously magic literals duplicated across Graph.scala and
  * TextDedup.scala and will now drift together, not apart. Every gated
  * operator takes its cap as a parameter defaulting to these, so tests
  * pin BOTH paths (cap 0 forces distributed, cap ∞ forces the driver
  * side — which the wedge/probe budgets may still veto, by design).
  */
object DriverGates {

  /** Edge cap for the rank kernel's driver twin (pageRank, weighted and
    * personalized PageRank, HITS — the gate argument is in the kernel's
    * doc in [[Graph]]) and for triangleCounts' and incrTriangles' collect.
    * Bounding argument: BYTES — 2M edge rows ≈ 100–200 MB transient on an
    * 8 GiB driver, the same order as a broadcast-join build side. The sf0.1
    * co-purchase graph (1.17M symmetrized edge rows) fits; the ×10 bench
    * graph does not, so both twins run under measurement. */
  val RankGraphEdgeCap: Long = 2000000L

  /** Edge cap for dedupClusters' driver union-find. Bounding argument:
    * BYTES — 2^18 symmetrized edge structs are single-digit MB collected;
    * union-find is near-linear so work tracks bytes. Sized well past any
    * contracted-label-graph a micro-batch can produce (≤ 2·|batch|
    * nodes), well under driver-memory risk at any corpus size. */
  val SmallGraphEdgeCap: Long = 1L << 18

  /** Probe budget for driver-side wedge closures (triangleCounts and
    * incrTriangles' set-intersection loops). Bounding argument: PROBES —
    * wedge volume is Σ min(deg(u), deg(v)) (resp. Σ outdeg²), which an
    * edge cap does NOT bound on dense near-clique graphs (the
    * replicated-corpus dedup shape blows it up quadratically while
    * staying edge-small; measured DOUBLING m41's ×10 wall before this
    * budget existed). 20M hash-set probes are tens of ms of driver CPU;
    * over budget the collected arrays are discarded and the 32-way join
    * plan does the closure. */
  val WedgeProbeBudget: Long = 20000000L

  /** Node cap below which the rank family's PER-ROUND score frame gets
    * an explicit broadcast hint. Bounding argument: BYTES — 4M
    * (node, long) rows ≈ 130 MB build side, comfortably inside executor
    * memory. Catalyst's auto-broadcast stops at 10 MB, so past ~600k
    * nodes it silently switches every round to a sort-merge join that
    * RE-SORTS the full cached edge frame — measured at the ×100 probe:
    * q38's 117M-row edge frame paid 8 such sorts (18× wall for 10×
    * rows). Above the cap the planner/AQE picks freely — a billion-node
    * score frame must shuffle, not broadcast. */
  val RankBroadcastNodeCap: Long = 4000000L

  /** Row cap below which a BATCH-BOUNDED frame (a micro-batch's new
    * edges, a contracted label remap) gets an explicit broadcast hint
    * against a corpus-sized side. Bounding argument: BYTES — 1M two-long
    * rows ≈ 16–32 MB build side, safely inside executor memory and the
    * 8 GB driver's broadcast path, while big enough that the steady
    * micro-batch state (thousands of rows) always qualifies. Above it
    * (a first batch replaying a large history) the hint is dropped and
    * the planner/AQE picks a shuffle join. */
  val BatchBroadcastRowCap: Long = 1000000L

  /** Input-BYTES cap below which a micro-batch's batch-bounded derived
    * frames (the contracted label remap and its nontrivial subset) get
    * the broadcast hint from the batch's plan-stats size alone — no
    * per-batch count job. Bounding argument: BYTES — a pair row costs
    * ≥ ~16 bytes on disk (two ids + parquet framing), so 8 MB of batch
    * input bounds the derived label frame at ≈ 2·(8 MB/16 B) = 1M rows,
    * the same build-side budget as [[BatchBroadcastRowCap]], while steady
    * micro-batches (KBs) always qualify. A caller with no cheap size
    * estimate falls back to counting against the row cap — the decision
    * is a hint either way, so a conservative answer is never wrong. */
  val BatchBroadcastByteCap: Long = 8L << 20

  /** Source-row cap below which a streaming fold keeps the NARROW
    * (8-way) shuffle width ([[graft.queries.QUtil.withStreamPartsFor]]).
    * Bounding argument: FLOOR vs WIDTH — the narrow width exists to
    * shave the micro-batch scheduler floor (~32 task launches per
    * exchange round at session width on near-empty batches), but on a
    * scale run it strangles per-batch data work to a fraction of the
    * machine (the ×100-probe m41 lesson: an 8-way fold ran a 27M-row
    * per-batch recompute on a quarter of the cores). 2M source rows ≈
    * the point where per-batch data cost dominates the floor at ~500k
    * rows/batch under the 4-batch trigger split. */
  val StreamNarrowSourceRowCap: Long = 2000000L

  /** Byte cap for `UnitDb.get`'s driver read, over the candidate files
    * left after contract, `wc` and day pruning, each weighed as its length
    * plus `spark.sql.files.openCostInBytes` (Spark's own split-packing
    * weight). Bounding argument: BYTES decoded on the driver per get —
    * 128 MB is Spark's default `maxPartitionBytes`, the input Spark itself
    * packs into ONE scan task, so below it the driver read replaces at most
    * one task's decode and gives up no parallelism a job would have had
    * (its file fan-out still spreads the decode over the driver's cores).
    * At the default 4 MB open cost it admits about 32 small files; a store
    * whose hot partitions want [[graft.engine.UnitDb.compact]] falls back to
    * `getFrame`. Rows held are bounded by the limit, never by bytes. */
  val GetDriverReadBytes: Long = 128L << 20

  /** Row cap for INCREMENTAL driver state (incrTriangles' standing
    * edges + counts). Bounding argument: ROUND-TRIPS — unlike a one-shot
    * collect, maintained state crosses the driver EVERY batch (collect +
    * re-embed), so the win flips to a loss long before the collect
    * itself hurts: measured at the ×10 gate (313k state rows) the driver
    * path doubled m41's wall while its wedge math stayed trivial. 2^17
    * rows keeps the per-batch round-trip in the low-MB, low-ms range. */
  val IncrStateRowCap: Long = 1L << 17
}
