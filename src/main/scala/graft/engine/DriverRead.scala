package graft.engine

import java.sql.Timestamp
import java.time.ZoneId
import java.util.concurrent.{Callable, ExecutionException, Executors, ExecutorService}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{NotTombstoned, TombstoneSet, TopicPartsMatches}
import graft.model.{Message, Topic}

/** What a `get` keeps and in what order (reference db.go:222-319), stated
  * once as Catalyst expressions over the store's named columns.
  * [[UnitDb.getFrame]] plans them as Spark filters; the driver read binds
  * the very same trees to its row layout ([[DriverRead.bind]]) and
  * evaluates them per row, so the two paths cannot drift apart.
  *
  * @param cutoff the `?last=<duration>` cutoff: epoch ms and its day in
  *               the zone that derived the stored `day` values */
private[engine] final class GetRule(contract: Long, pattern: Topic, nowMs: Long,
    cutoff: Option[(Long, String)], val limit: Int, tombs: TombstoneSet) {
  import GetRule.c

  /** One row predicate per stored-topic bucket the pattern reads. A static
    * pattern reads `wc=0` by a topic equality and `wc=1` by the
    * bidirectional match over stored parts — stored wildcard publishes
    * still answer static queries (SURVEY §2.3 rule 1); a wildcard pattern
    * reads both buckets by the match. The match runs over the stored
    * `topic_parts`/`is_multi` columns, parsed once at write.
    * `not_tombstoned` comes last, so it probes only rows the cheaper
    * conjuncts kept.
    *
    * The topic equality is pushed down, to row-group stats and blooms, only
    * on [[UnitDb.getFrame]]'s Spark scan. The driver read's parquet readers
    * are built with no filters: a reader bakes its filters in when it is
    * built, so pushing the topic would cost a reader build, and a
    * Hadoop-conf broadcast, per `get`. */
  val branches: Seq[Expression] = {
    val live = Seq(
      EqualTo(c("contract"), Literal(contract)),
      Or(IsNull(c("expires_at")),
        GreaterThan(c("expires_at"), Literal(new Timestamp(nowMs))))) ++
      cutoff.toSeq.flatMap { case (ms, day) => Seq(
        GreaterThanOrEqual(c("ts"), Literal(new Timestamp(ms))),
        GreaterThanOrEqual(c("day"), Literal(day))) } :+
      NotTombstoned(c("seq"), c("topic"), tombs)
    val matched = TopicPartsMatches(c("topic_parts"), c("is_multi"), pattern.key)
    val heads =
      if (pattern.isWildcard) Seq(Seq(matched))
      else Seq(
        Seq(EqualTo(c("wc"), Literal(0)), EqualTo(c("topic"), Literal(pattern.key))),
        Seq(EqualTo(c("wc"), Literal(1)), matched))
    heads.map(h => (h ++ live).reduceLeft(And))
  }
}

private[engine] object GetRule {
  private def c(name: String): Expression = UnresolvedAttribute.quoted(name)

  /** The result order of every newest-first read: `(ts desc, seq desc)`. */
  val newestFirst: Seq[SortOrder] =
    Seq(SortOrder(c("ts"), Descending), SortOrder(c("seq"), Descending))

  val newestFirstCols: Seq[Column] = newestFirst.map(GraftBridge.column)
}

/** One data file of a store generation with its partition values, in
  * [[DriverRead.PartSchema]] order. */
private[engine] final case class StoreFile(part: InternalRow, path: Path,
    length: Long, modTime: Long) {
  def day: String = part.getUTF8String(DriverRead.PartDayIdx).toString
}

/** A store generation as readers see it, built once per `(visEpoch,
  * dataPath)`: the relation with its `InMemoryFileIndex` listing (`raw`),
  * its decrypted form (`store`), and the listed files for the driver read.
  * Every DataFrame derived from `raw` reuses the listing. */
private[engine] final class StoreHandle(val epoch: Long, val dataPath: String,
    val raw: DataFrame, val store: DataFrame) {
  /** The listed data files, or None when the listing is not partitioned by
    * `(contract, wc, day)` (the driver read then declines). */
  lazy val files: Option[IndexedSeq[StoreFile]] =
    raw.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation
          if r.partitionSchema.map(f => (f.name, f.dataType)) ==
            DriverRead.PartSchema.map(f => (f.name, f.dataType)) =>
        r.location.listFiles(Nil, Nil).flatMap(d => d.files.map(f =>
          StoreFile(d.values.copy(), f.getPath, f.getLen, f.getModificationTime)))
          .toIndexedSeq
      }
}

/** One [[GetRule.branches]] bucket as the driver read evaluates it: the
  * data columns it reads ([[DriverRead.requiredColumns]]), the reader's
  * row layout over them, and the branch's predicate bound to that layout.
  *
  * @param read the parquet reader for a column set */
private[engine] final class BranchRead(branch: Expression,
    read: StructType => PartitionedFile => Iterator[InternalRow]) {
  import DriverRead._
  private val columns = requiredColumns(branch)
  /** The reader's output: the columns read, then the partition columns. */
  private val layout = StructType(columns ++ PartSchema)
  val pred: BasePredicate = Predicate.createInterpreted(bind(branch, layout))
  val reader: PartitionedFile => Iterator[InternalRow] = read(columns)
  private val answerOrdinals = Answer.fieldNames.map(layout.fieldIndex).toIndexedSeq
  private val fromLayout = layout.fieldNames.map(Layout.fieldIndex).toIndexedSeq

  /** A view of one of this layout's rows in the [[DriverRead.Answer]] layout. */
  def answerView(): ProjectingInternalRow = ProjectingInternalRow(Answer, answerOrdinals)

  /** A view of a [[DriverRead.Layout]] row (an unsynced message) in this
    * layout. */
  def layoutView(): ProjectingInternalRow = ProjectingInternalRow(layout, fromLayout)
}

/** A `get` answered on the driver: the candidate files of a
  * [[StoreHandle]] read by Spark's own parquet reader, built once per store
  * and column set, under the [[GetRule]] predicates, into a bounded
  * newest-first heap. */
private[engine] object DriverRead {
  private val PartNames = Seq("contract", "wc", "day")
  val PartSchema: StructType = StructType(PartNames.map(UnitDb.storeSchema(_)))
  val PartDayIdx: Int = PartSchema.fieldIndex("day")
  val DataSchema: StructType =
    StructType(UnitDb.storeSchema.filterNot(f => PartNames.contains(f.name)))
  /** Every column of a stored row, data columns then partition columns:
    * the layout unsynced rows are built in. */
  val Layout: StructType = StructType(DataSchema ++ PartSchema)
  private val DayIdx = Layout.fieldIndex("day")
  require(Layout.fieldNames.toSeq == Seq("seq", "topic", "topic_parts",
    "is_wildcard", "is_multi", "depth", "ts", "expires_at", "encrypted",
    "payload", "contract", "wc", "day"), "pendingRow's field order")
  /** The one layout of a row that passed its branch: what the order and
    * the winners' decrypt read. */
  val Answer: StructType =
    StructType(Seq("ts", "seq", "encrypted", "payload").map(UnitDb.storeSchema(_)))
  val EncryptedIdx: Int = Answer.fieldIndex("encrypted")
  val PayloadIdx: Int = Answer.fieldIndex("payload")

  /** The data columns a branch reads: those it tests, and the
    * [[Answer]]'s, in [[DataSchema]] order. */
  def requiredColumns(branch: Expression): StructType = {
    val names = branch.collect { case a: UnresolvedAttribute => a.name }.toSet ++
      Answer.fieldNames
    StructType(DataSchema.filter(f => names(f.name)))
  }

  /** Spark's parquet reader for the store layout's `columns`: rows, not
    * columnar batches, and one Hadoop-conf broadcast for its lifetime. A
    * store keeps one per column set. */
  def reader(spark: SparkSession, columns: StructType): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, DataSchema,
      PartSchema, columns, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())

  /** One file pool for every store in the JVM, one daemon thread per core:
    * driver reads, and [[DriverWriter]]'s writes. */
  private[engine] lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, { r =>
      val t = new Thread(r, "graft-driver-read"); t.setDaemon(true); t
    })

  /** Resolve named columns to ordinals of `schema`. */
  def bind(e: Expression, schema: StructType): Expression = e.transform {
    case a: UnresolvedAttribute =>
      val i = schema.fieldIndex(a.name)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
  }

  /** The conjuncts of `branch` over partition columns only, as a test of a
    * file's partition values — Spark's own partition pruning, on the
    * driver. */
  def partitionTest(branch: Expression): BasePredicate = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case o         => Seq(o)
    }
    val onParts = conjuncts(branch).filter(
      _.collect { case a: UnresolvedAttribute => a.name }.forall(PartNames.contains))
    Predicate.createInterpreted(
      bind(onParts.reduceOption(And).getOrElse(Literal.TrueLiteral), PartSchema))
  }

  /** An unsynced message as a [[Layout]] row, its partition values derived
    * as the store's writer derives them. Each field is converted only when
    * read, so a buffered row the predicate rejects on its bucket or topic
    * costs no day or topic-parts conversion. */
  def pendingRow(m: Message, zone: ZoneId): InternalRow = new BaseGenericInternalRow {
    private lazy val topic = UTF8String.fromString(m.topic)
    private lazy val parts = {
      val a = new Array[Any](m.topic_parts.length)
      var i = 0
      m.topic_parts.foreach { p => a(i) = UTF8String.fromString(p); i += 1 }
      new GenericArrayData(a)
    }
    private lazy val day = UTF8String.fromString(UnitDb.dayOf(m.ts.getTime, zone))
    // ordinals in the order Layout's `require` states
    override protected def genericGet(i: Int): Any = i match {
      case 0  => m.seq
      case 1  => topic
      case 2  => parts
      case 3  => m.is_wildcard
      case 4  => m.is_multi
      case 5  => m.depth
      case 6  => DateTimeUtils.fromJavaTimestamp(m.ts)
      case 7  => m.expires_at.map(t => DateTimeUtils.fromJavaTimestamp(t): Any).orNull
      case 8  => m.encrypted
      case 9  => m.payload
      case 10 => m.contract
      case 11 => if (m.is_wildcard) 1 else 0
      case 12 => day
    }
    override def numFields: Int = Layout.length
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
    override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
  }

  /** The unsynced rows `pending` that pass one of `branches`, each with
    * its day, copied into the [[Answer]] layout. */
  def keptPending(pending: Iterator[InternalRow], branches: Seq[BranchRead]): Seq[(String, InternalRow)] = {
    val views = branches.map(b => (b, b.layoutView()))
    val answer = ProjectingInternalRow(Answer, Answer.fieldNames.map(Layout.fieldIndex).toIndexedSeq)
    pending.filter(r => views.exists { case (b, v) => v.project(r); b.pred.eval(v) })
      .map { r => answer.project(r); (r.getUTF8String(DayIdx).toString, answerCopy(answer)) }
      .toSeq
  }

  /** An [[Answer]] row that owns its values. */
  private def answerCopy(r: InternalRow): InternalRow = new GenericInternalRow(Array[Any](
    r.getLong(0), r.getLong(1), r.getBoolean(2), if (r.isNullAt(3)) null else r.getBinary(3)))

  /** A row the heap holds, in the [[Answer]] layout; `atRest` when read
    * from a file, so its payload is still in at-rest form. */
  final case class Hit(row: InternalRow, atRest: Boolean)

  /** The first `limit` rows under `order`, as a heap whose head is the row
    * that sorts last. */
  private final class TopK(limit: Int, order: Ordering[InternalRow]) {
    private val heap = new java.util.PriorityQueue[Hit](
      math.max(1, math.min(limit, 1024)), (a: Hit, b: Hit) => order.compare(b.row, a.row))
    def size: Int = heap.size
    /** Offer a view the caller may reuse: copied only if it enters. */
    def offer(row: InternalRow, atRest: Boolean): Unit =
      if (enters(row)) add(Hit(answerCopy(row), atRest))
    def offerOwned(h: Hit): Unit = if (enters(h.row)) add(h)
    private def enters(row: InternalRow): Boolean =
      heap.size < limit || (limit > 0 && order.compare(row, heap.peek.row) < 0)
    private def add(h: Hit): Unit = {
      if (heap.size == limit) heap.poll()
      heap.add(h)
    }
    def hits: Iterator[Hit] = heap.iterator.asScala
    def sorted: Seq[Hit] =
      heap.asScala.toSeq.sortWith((a, b) => order.compare(a.row, b.row) < 0)
  }

  /** The newest-first first `limit` rows of `files` (each with its
    * bucket's [[BranchRead]]) and of the unsynced rows `kept` (already
    * tested, with their days).
    *
    * Every file is queued on [[pool]] up front, newest day first, so the
    * pool's FIFO queue reads them in that order while older days are still
    * in flight. Results merge in day order; the read stops once the heap
    * holds `limit` rows after a whole day. That stop is exact because
    * `day` is derived from `ts` in the session zone, so every row of an
    * older day sorts after every row of a newer one — the same assumption
    * as the `?last=` day pruning (ADVICE r1). The files not merged by then
    * are cancelled: the queued ones never open, the running ones stop at
    * their next row, and their results are never awaited, so an older
    * file's failure fails only a read that needs its day. How many files may be queued is bounded by the caller's byte
    * gate. `opened` counts the files read, `merged` those merged into the
    * answer. */
  def topK(files: Seq[(StoreFile, BranchRead)], kept: Seq[(String, InternalRow)],
      limit: Int, opened: AtomicLong, merged: AtomicLong): Seq[Hit] = {
    val order = new InterpretedOrdering(
      GetRule.newestFirst.map(bind(_, Answer).asInstanceOf[SortOrder]))
    val top = new TopK(limit, order)
    val stop = new AtomicBoolean(false)
    val queued = if (limit <= 0) Nil else files.sortBy(_._1.day)(Ordering[String].reverse).map {
      case (f, b) => f.day -> pool.submit(
        (() => { opened.incrementAndGet(); scan(f, b, limit, order, stop) }): Callable[TopK])
    }
    val fileDays = queued.groupBy(_._1)
    val keptDays = kept.groupBy(_._1)
    val days = (fileDays.keySet ++ keptDays.keySet).toSeq.sorted.reverseIterator
    try while (days.hasNext && top.size < limit) {
      val day = days.next()
      fileDays.getOrElse(day, Nil).foreach { case (_, fut) =>
        val local = try fut.get() catch { case e: ExecutionException => throw e.getCause }
        merged.incrementAndGet()
        local.hits.foreach(top.offerOwned)
      }
      keptDays.getOrElse(day, Nil).foreach(r => top.offerOwned(Hit(r._2, atRest = false)))
    } finally {
      stop.set(true)
      queued.foreach(_._2.cancel(false))
    }
    top.sorted
  }

  /** One file's first `limit` rows; it gives up, with a partial heap no
    * one merges, once `stop` is set. */
  private def scan(f: StoreFile, b: BranchRead, limit: Int,
      order: Ordering[InternalRow], stop: AtomicBoolean): TopK = {
    val local = new TopK(limit, order)
    val answer = b.answerView()
    val it = b.reader(PartitionedFile(f.part, SparkPath.fromPath(f.path), 0L, f.length,
      Array.empty[String], f.modTime, f.length))
    try while (!stop.get && it.hasNext) {
      val r = it.next()
      if (b.pred.eval(r)) { answer.project(r); local.offer(answer, atRest = true) }
    } finally it match {
      case c: java.io.Closeable => c.close()
      case _                    => ()
    }
    local
  }
}
