package graft.engine

import java.sql.Timestamp
import java.time.ZoneId
import java.util.concurrent.{Callable, ExecutionException, Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
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
    * pattern reads `wc=0` by a pushable topic equality (row-group stats and
    * blooms prune it) and `wc=1` by the bidirectional match over stored
    * parts — stored wildcard publishes still answer static queries (SURVEY
    * §2.3 rule 1); a wildcard pattern reads both buckets by the match. The
    * match runs over the stored `topic_parts`/`is_multi` columns, parsed
    * once at write. `not_tombstoned` comes last, so it probes only rows the
    * cheaper conjuncts kept. */
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

/** A `get` answered on the driver: the candidate files of a
  * [[StoreHandle]] read by Spark's own parquet reader, built once per store,
  * under the [[GetRule]] predicates, into a bounded newest-first heap. */
private[engine] object DriverRead {
  private val PartNames = Seq("contract", "wc", "day")
  val PartSchema: StructType = StructType(PartNames.map(UnitDb.storeSchema(_)))
  val PartDayIdx: Int = PartSchema.fieldIndex("day")
  val DataSchema: StructType =
    StructType(UnitDb.storeSchema.filterNot(f => PartNames.contains(f.name)))
  /** The rows a driver read evaluates: the reader's output layout, data
    * columns then partition columns. Unsynced rows are built in it too. */
  val Layout: StructType = StructType(DataSchema ++ PartSchema)
  private val DayIdx = Layout.fieldIndex("day")
  val PayloadIdx: Int = Layout.fieldIndex("payload")
  val EncryptedIdx: Int = Layout.fieldIndex("encrypted")
  require(Layout.fieldNames.toSeq == Seq("seq", "topic", "topic_parts",
    "is_wildcard", "is_multi", "depth", "ts", "expires_at", "encrypted",
    "payload", "contract", "wc", "day"), "pendingRow's field order")

  /** Spark's parquet reader for the store layout, one per store: rows, not
    * columnar batches, and one Hadoop-conf broadcast for its lifetime. */
  def reader(spark: SparkSession): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, DataSchema,
      PartSchema, DataSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
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

  /** A row the heap holds; `atRest` when read from a file, so its payload
    * is still in at-rest form. */
  final case class Hit(row: InternalRow, atRest: Boolean)

  /** The first `limit` rows under `order`, as a heap whose head is the row
    * that sorts last. */
  private final class TopK(limit: Int, order: Ordering[InternalRow]) {
    private val heap = new java.util.PriorityQueue[Hit](
      math.max(1, math.min(limit, 1024)), (a: Hit, b: Hit) => order.compare(b.row, a.row))
    def size: Int = heap.size
    /** Offer a row the caller may reuse: copied only if it enters. */
    def offer(row: InternalRow, atRest: Boolean): Unit =
      if (enters(row)) add(Hit(row.copy(), atRest))
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

  /** The newest-first first `rule.limit` rows of `files` (each with its
    * bucket's row predicate) and of the unsynced rows `kept` (already
    * tested). Day groups are read newest first, a group's files in
    * parallel on [[pool]]; the read stops once the heap holds `limit` rows
    * after a whole group. That stop is exact because `day` is derived from
    * `ts` in the session zone, so every row of an older group sorts after
    * every row of a newer one — the same assumption as the `?last=` day
    * pruning (ADVICE r1). `opened` counts the files read. */
  def topK(files: Seq[(StoreFile, BasePredicate)], kept: Seq[InternalRow],
      limit: Int, read: PartitionedFile => Iterator[InternalRow],
      opened: AtomicLong): Seq[Hit] = {
    val order = new InterpretedOrdering(
      GetRule.newestFirst.map(bind(_, Layout).asInstanceOf[SortOrder]))
    val top = new TopK(limit, order)
    val fileDays = files.groupBy(_._1.day)
    val keptDays = kept.groupBy(_.getUTF8String(DayIdx).toString)
    val days = (fileDays.keySet ++ keptDays.keySet).toSeq.sorted.reverseIterator
    while (days.hasNext && top.size < limit) {
      val day = days.next()
      val tasks = fileDays.getOrElse(day, Nil).map { case (f, pred) =>
        (() => { opened.incrementAndGet(); scan(f, pred, limit, order, read) }): Callable[TopK]
      }
      pool.invokeAll(tasks.asJava).asScala.foreach { fut =>
        val local = try fut.get() catch { case e: ExecutionException => throw e.getCause }
        local.hits.foreach(top.offerOwned)
      }
      keptDays.getOrElse(day, Nil).foreach(r => top.offerOwned(Hit(r, atRest = false)))
    }
    top.sorted
  }

  private def scan(f: StoreFile, pred: BasePredicate, limit: Int,
      order: Ordering[InternalRow], read: PartitionedFile => Iterator[InternalRow]): TopK = {
    val local = new TopK(limit, order)
    val it = read(PartitionedFile(f.part, SparkPath.fromPath(f.path), 0L, f.length,
      Array.empty[String], f.modTime, f.length))
    try while (it.hasNext) {
      val r = it.next()
      if (pred.eval(r)) local.offer(r, atRest = true)
    } finally it match {
      case c: java.io.Closeable => c.close()
      case _                    => ()
    }
    local
  }
}
