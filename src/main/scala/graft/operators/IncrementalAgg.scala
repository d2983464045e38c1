package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incrementally-maintained aggregates (materialized-view maintenance).
  *
  * At 100 TB the standing corpus is never re-aggregated per batch: the
  * rollup lives as a STATE table of mergeable statistics, and each
  * arriving batch contributes a batch-sized delta that merges in state ∪
  * delta time — the full history is touched exactly once, ever. The
  * statistics here (count, exact-decimal sum, min, max) are chosen
  * associative+commutative so merge order and batch boundaries cannot
  * change the result ([[merge]](…[[merge]](s, d₁)…, dₙ) ≡ one global
  * aggregation — the m27 gate proves it against a full-recompute oracle).
  * The same algebra is why Spark's own partial aggregation works; this
  * operator lifts it across BATCHES instead of partitions. Average and
  * friends derive from (sum, n) at read time; non-decomposable stats
  * (exact median) need the sketch path (q18) instead.
  *
  * The sum is carried as DECIMAL(38,2) — exact at any merge depth, and a
  * fixed type so state written in round N unions cleanly with deltas
  * written in round N+1 (Spark would otherwise widen the precision per
  * merge and drift the state schema).
  */
object IncrementalAgg {

  private val SumType = DecimalType(38, 2)

  /** Aggregate one batch into state rows: (keys…, n, sum_dec, min_v,
    * max_v). One partial-aggregated shuffle of the batch only. */
  def delta(batch: DataFrame, keys: Seq[String], value: Column): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(value.cast(DecimalType(18, 2))).cast(SumType).as("sum_dec"),
        min(value).as("min_v"), max(value).as("max_v"))

  /** Merge two state tables (state ∪ delta → state). Cost is bounded by
    * the GROUP cardinality, never the row history. */
  def merge(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_dec")).cast(SumType).as("sum_dec"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))

  // ---- streaming maintenance --------------------------------------------
  //
  // Persistence (generation directories + commit markers, exactly-once
  // under foreachBatch replay) is [[GenState]]'s, shared with every
  // maintainer. The rollup is key-less, group-bounded state: one bucket.

  /** The current maintained state (empty-schema error if never run). */
  def readState(spark: org.apache.spark.sql.SparkSession,
                statePath: String): DataFrame =
    GenState.readState(spark, statePath)

  /** Apply one micro-batch to the state — the foreachBatch body, public
    * so tests can drive replay/crash scenarios directly: [[delta]] folded
    * into the committed state with [[merge]] ([[GenState.fold]]). */
  def maintainBatch(statePath: String, keys: Seq[String], value: Column)
                   (batch: DataFrame, batchId: Long): Unit =
    GenState.fold(statePath, batch, batchId)(
      delta(_, keys, value), merge(_, _, keys))

  /** Incremental JOIN maintenance — the join sibling of [[merge]]:
    * maintain the materialized view V = A ⋈ B under append batches
    * (ΔA, ΔB) without ever re-pairing the standing sides. The pairs new
    * to this batch are exactly
    *
    *   ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB
    *
    * — every new pair touches at least one delta row (a pair of two old
    * rows is already in V), and no pair appears twice (the left term
    * owns every pair with a ΔA row; the right term's pairs have an old
    * A row by construction). Per-batch cost: two joins, each with one
    * DELTA-sized side — at 100 TB the standing A and B are probed
    * through the join's pruned/bucketed/broadcast access path, never
    * re-joined with each other, so maintaining the view costs
    * O(|Δ| ⋈ |standing|) instead of O(|A| ⋈ |B|) per batch.
    *
    * Append-only semantics (the store's own model): updates and
    * retractions need the keyed-upsert path ([[KeyedUpsert]], m29)
    * composed in front. `pair` supplies the actual join (keys, interval
    * condition, projection) so the algebra works for ANY inner join;
    * outer views additionally need anti-join repair of their null rows
    * — out of scope here, as in every production IVM engine's first
    * tier. The m32 gate proves delta-maintained ≡ full recompute. */
  def deltaJoin(
      aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame,
      pair: (DataFrame, DataFrame) => DataFrame): DataFrame =
    pair(aDelta, bOld.unionByName(bDelta))
      .unionByName(pair(aOld, bDelta))

  /** Wire [[maintainBatch]] under a streaming source: the continuously-
    * maintained rollup (m28 runs it AvailableNow over the file stream;
    * production leaves it running against the live ingest). */
  def maintain(src: DataFrame, keys: Seq[String], value: Column,
               statePath: String, checkpoint: String,
               trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    GenState.foreachBatch(src, checkpoint, trigger)(
      maintainBatch(statePath, keys, value))
}
