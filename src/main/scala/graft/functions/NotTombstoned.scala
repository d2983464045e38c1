package graft.functions

import scala.collection.mutable.LongMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.unsafe.types.UTF8String

/** Deleted `(seq, topic)` keys as a `seq → topics` hash map: one
  * primitive-keyed probe per row, then a compare against the (normally
  * single) topic deleted under that seq. Built once, never mutated. */
final class TombstoneKeys private (byseq: LongMap[Array[UTF8String]], val size: Int)
    extends Serializable {
  def contains(seq: Long, topic: UTF8String): Boolean = {
    val ts = byseq.getOrNull(seq)
    if (ts == null) return false
    var i = 0
    while (i < ts.length) {
      if (ts(i) == topic) return true
      i += 1
    }
    false
  }
}

object TombstoneKeys {
  val empty: TombstoneKeys = apply(Iterator.empty)

  /** Distinct keys of `pairs` (duplicate deletes collapse). */
  def apply(pairs: Iterator[(Long, String)]): TombstoneKeys = {
    val m = LongMap.empty[Array[UTF8String]]
    var n = 0
    pairs.foreach { case (seq, topic) =>
      val t = UTF8String.fromString(topic)
      val ts = m.getOrNull(seq)
      if (ts == null) { m.update(seq, Array(t)); n += 1 }
      else if (!ts.contains(t)) { m.update(seq, ts :+ t); n += 1 }
    }
    new TombstoneKeys(m, n)
  }
}

/** The keys one reader binds: the sidecar's, shipped as broadcast
  * variables made once per sidecar file set, plus the unsynced ones
  * (small, shipped inline with the plan). `size` is the key count shown
  * in plans. */
final class TombstoneSet(sidecar: Seq[Broadcast[TombstoneKeys]],
    unsynced: TombstoneKeys, val size: Long) extends Serializable {
  @transient private lazy val parts: Array[TombstoneKeys] =
    (sidecar.map(_.value) :+ unsynced).filter(_.size > 0).toArray

  def contains(seq: Long, topic: UTF8String): Boolean = {
    val ps = parts
    var i = 0
    while (i < ps.length) {
      if (ps(i).contains(seq, topic)) return true
      i += 1
    }
    false
  }
}

/** `not_tombstoned(seq, topic)` — the store's liveness-by-delete predicate:
  * true iff no tombstone carries this exact `(seq, topic)`. Keying on both
  * columns keeps a wrong-topic delete a no-op, as in the reference (Delete
  * validates the topic before freeing the block, db.go:392-425).
  *
  * A codegen'd filter in the scan's own stage, like [[TopicPartsMatches]]:
  * the keys are resolved on the driver before the query runs (the
  * reference likewise resolves deletes in memory before reading a block),
  * so a read needs no tombstone scan, shuffle or join. Plans print the
  * key count, never the keys.
  */
case class NotTombstoned(seq: Expression, topic: Expression, keys: TombstoneSet)
    extends BinaryExpression with Predicate {

  override def left: Expression = seq
  override def right: Expression = topic
  override def prettyName: String = "not_tombstoned"
  override def toString: String = s"$prettyName($seq, $topic, ${keys.size} keys)"
  override def sql: String = s"$prettyName(${seq.sql}, ${topic.sql}, ${keys.size} keys)"

  def isLive(s: Long, t: UTF8String): Boolean = !keys.contains(s, t)

  override protected def nullSafeEval(s: Any, t: Any): Any =
    isLive(s.asInstanceOf[Long], t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nt", this, "graft.functions.NotTombstoned")
    defineCodeGen(ctx, ev, (s, t) => s"$ref.isLive($s, $t)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NotTombstoned =
    copy(seq = newLeft, topic = newRight)
}

object NotTombstoned {
  /** Column-API form: `NotTombstoned($"seq", $"topic", keys)`. */
  def apply(seq: Column, topic: Column, keys: TombstoneSet): Column =
    GraftBridge.column(NotTombstoned(
      GraftBridge.expression(seq), GraftBridge.expression(topic), keys))
}
