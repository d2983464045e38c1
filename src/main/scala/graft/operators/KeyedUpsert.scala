package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming CDC apply: a change-image stream maintained as a keyed
  * latest-row table (SCD-type-1 / "table mirror" semantics — the
  * continuously-running face of [[Merge.applyChanges]], which is the
  * one-shot batch form).
  *
  * The state algebra is a JOIN-SEMILATTICE, one step stronger than
  * IncrementalAgg's commutative monoid: each key keeps the image with the
  * greatest VERSION (a caller-chosen column tuple, e.g. (event_time,
  * event_id)), and `merge` = per-key version-argmax. That makes the
  * maintained table independent of batch boundaries AND of delivery
  * order — an out-of-order or replayed image can never regress the table
  * (max is idempotent), which batch-order-wins CDC cannot promise.
  * Deletes ride as tombstone images (`op = 'delete'`) RETAINED in state:
  * dropping them eagerly would let an older late upsert resurrect a
  * deleted key. The read face ([[current]]) filters them out; tombstone
  * GC below a version horizon is the caller's retention policy, same as
  * the store's vacuum.
  *
  * Scale shape: `delta` is one partial-aggregated shuffle of the BATCH
  * (max_by map-side-combines, so a hot key with a million images in one
  * batch collapses before the exchange); `merge` unions batch-delta with
  * group-cardinality-sized state and re-argmaxes — cost bounded by
  * |keys|, never by history. The 100 TB history is touched exactly once,
  * ever (the m27 argument, lifted from sums to last-writer-wins).
  */
object KeyedUpsert {

  /** Collapse one batch to its latest image per key: max_by over the
    * version tuple. `cols` is the full image column list (must include
    * `key`, the version columns, and `op`). */
  def delta(batch: DataFrame, key: String, version: Seq[String]): DataFrame = {
    val cols = batch.columns.toSeq
    batch.groupBy(col(key))
      .agg(max_by(struct(cols.map(col): _*),
        struct(version.map(col): _*)).as("img"))
      .select(col(key) +: cols.filterNot(_ == key)
        .map(c => col(s"img.$c").as(c)): _*)
  }

  /** state ∪ delta → state: the same per-key version-argmax. Associative,
    * commutative, idempotent. */
  def merge(state: DataFrame, d: DataFrame, key: String,
            version: Seq[String]): DataFrame =
    delta(state.unionByName(d), key, version)

  /** The live table: latest images minus tombstones. */
  def current(state: DataFrame, opCol: String = "op"): DataFrame =
    state.filter(col(opCol) =!= "delete")

  /** foreachBatch body (public for replay/crash tests), persisted through
    * [[GenState]] (generation + commit marker = exactly-once under
    * checkpoint replay). The state is CORPUS-sized (one row per key ever
    * seen), so it goes through the bucketed shape: the changed keys are
    * exactly the batch's keys (version-argmax leaves every other key's
    * row untouched), so each batch rewrites batch-proportional bucket
    * bytes, never the standing table — and the bucket filter on
    * hash(key) pushes through the argmax aggregate to BOTH union sides,
    * so untouched state partitions aren't even re-aggregated. */
  def applyBatch(statePath: String, key: String, version: Seq[String])
                (batch: DataFrame, batchId: Long): Unit =
    GenState.applyBatch(batch.sparkSession, statePath, batchId,
        Seq(key), GenState.batchBytes(batch)) { prev =>
      val d = delta(batch, key, version)
      prev match {
        case Some(st) => (merge(st, d, key, version), Some(batch.select(key)))
        case None     => (d, None)
      }
    }

  /** The current maintained table including tombstones; compose with
    * [[current]] for the live view. */
  def readState(spark: org.apache.spark.sql.SparkSession,
                statePath: String): DataFrame =
    GenState.readState(spark, statePath)

  /** Wire [[applyBatch]] under a change-image stream. */
  def maintain(src: DataFrame, key: String, version: Seq[String],
               statePath: String, checkpoint: String,
               trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    GenState.foreachBatch(src, checkpoint, trigger)(
      applyBatch(statePath, key, version))
}
