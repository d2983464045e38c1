package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import scala.util.control.NonFatal

/** Generation-directory state with commit markers — the shared persistence
  * protocol under the incrementally-maintained operators ([[IncrementalAgg]]
  * rollups, [[KeyedUpsert]] CDC tables, the graph maintainers).
  *
  * foreachBatch gives at-least-once batch delivery: after a crash the
  * checkpoint REPLAYS the last batch, and a bare state update would apply
  * it twice. State therefore lives as `gen-<batchId>/` directories plus
  * commit markers (the StreamIngest idiom): the generation is written
  * first (overwrite-idempotent), the marker is created only after the
  * write completes, and readers resolve the highest MARKED generation.
  * Every crash window replays into a rewrite or a skip — never a double
  * apply. Generations still referenced (see below) survive; everything
  * else older than the previous commit is pruned.
  *
  * One writer, [[applyBatch]], persists every state. A generation is
  * hash-bucketed by key into `data/__b=<k>/` sub-directories, and a
  * per-generation manifest records which generation holds each bucket.
  * That is what CORPUS-SIZED state (one row per document/edge/key ever
  * seen: m37 labels, m41 edges+counts, m29 upsert tables) needs:
  * rewriting it wholesale per micro-batch is a double scale-killer (a
  * single writer task serializes the write, and the write volume is
  * O(corpus) per batch regardless of trigger cadence). Instead each
  * batch rewrites ONLY buckets containing changed rows (parallel, one
  * task per few buckets) and carries every untouched bucket forward BY
  * REFERENCE in the manifest. Per-batch bytes written ≈ |changed rows| ·
  * bucket-fill, amortized-batch-proportional; the standing corpus is
  * rewritten only at rebase (below), amortized O(1) per row — the LSM
  * bargain.
  *
  * KEY-LESS state (`bucketCols = Nil`) is GROUP-BOUNDED — the m28
  * rollup, the m33/m34/m36 sketches: its size is fixed by group
  * cardinality or sketch width, not by corpus size, and it has no key to
  * bucket by. Such a state is one bucket by definition: every batch is
  * written as `data/__b=0` by one task, whatever the batch-size hint
  * says, under a 1-bucket manifest. [[fold]] is its entry point.
  *
  * Bucket count adapts at REBASE time (first write, manifest spread over
  * [[RebaseSourceSpread]] generations, or buckets grown past
  * 4·[[TargetBucketBytes]]): N = clamp(stateBytes / TargetBucketBytes,
  * 16, 4096), so bucket granularity tracks state growth and a touched
  * bucket stays a few MB whatever the corpus. A rebase is a full
  * (parallel) bucketed rewrite under the new N — the same amortization
  * argument as LSM compaction. The bucket function is pinned per
  * manifest (pmod(xxhash64(keys), N)), so carry-forward always uses the
  * PREVIOUS manifest's N; only a rebase may change it.
  *
  * A keyed state that fits in ONE bucket target (the gate-scale steady
  * state) sits at the ladder's bottom rung with the key-less states:
  * N = 1, one coalesce(1) write by a single task with no partitionBy,
  * the manifest still recording size and schema. wantsRebase treats
  * N = 1 as always-rebase, so a keyed state re-buckets wide the moment
  * it outgrows a target (and `deltaUseful` stays false meanwhile,
  * keeping producers from building changed-keys frames nobody reads).
  */
private[graft] object GenState {

  /** SPARK_GRAFT_TRACE=1: per-batch phase timings on stderr (delta
    * compute, state write, commit tail) — the gate-floor profiling
    * instrument; zero cost when off. The one parser of the switch: the
    * streaming gates' [[graft.queries.QUtil.tracedPhase]] and
    * [[graft.queries.QUtil.awaitTraced]] read it too. Unrecognized
    * values fail fast, the same contract as Bench's env switches (a
    * silently-ignored "true" would read as "the phases are not where the
    * time goes"). */
  private[graft] val trace = sys.env.get("SPARK_GRAFT_TRACE") match {
    case Some("1") => true
    case Some("0") | None => false
    case Some(v) => throw new IllegalArgumentException(
      s"SPARK_GRAFT_TRACE=$v: expected 1 or 0")
  }

  /** Target on-disk bytes per bucket file (override with
    * `spark.graft.state.targetBucketBytes`). Small enough that rewriting
    * the buckets a micro-batch touches is batch-proportional work; large
    * enough that parquet footer/open overhead stays negligible and a
    * 100 TB state maxes out at [[MaxBuckets]] · a-few-GB, the file-count
    * regime Delta/Hudi-style table formats run in production. */
  private val DefaultTargetBucketBytes = 4L << 20
  private def targetBucketBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.state.targetBucketBytes",
      DefaultTargetBucketBytes.toString).toLong
  private val MinBuckets = 16
  private val MaxBuckets = 4096

  /** Rebase when the manifest references more than this many distinct
    * source generations: bounds read-path path fan-out, garbage held in
    * old generation dirs, and manifest drift — the compaction trigger. */
  private val RebaseSourceSpread = 16

  /** In-memory pass-forward of the last committed state per statePath:
    * each micro-batch otherwise pays a parquet listing + footer + scan to
    * re-read what THIS process wrote moments ago (at gate scale that
    * read-back is a visible slice of every batch's wall). Entries are
    * only ever a plan that is already MATERIALIZED (a localCheckpoint —
    * LogicalRDD root), so reuse costs no recompute and chains no lineage
    * across batches; producers whose state is a live plan simply skip the
    * cache. Keyed by (statePath, generation): a replay, another writer,
    * or a fresh JVM misses and falls back to the parquet read — the
    * crash-recovery contract is untouched, this is purely a fast path.
    * A cached frame is also validated against the REQUESTING session: its
    * localCheckpoint blocks live in one SparkContext, so if that context
    * was stopped (or the caller runs on a different context reusing the
    * same statePath in this JVM) the entry is dropped and the parquet
    * fallback — which always works — serves the read.
    * LRU-capped so long sessions hold a handful of small state frames. */
  private val MaxCachedStates = 8
  private val lastState =
    new java.util.LinkedHashMap[String, (Long, DataFrame)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, DataFrame)]): Boolean =
        size > MaxCachedStates
    }
  private def cachedState(spark: SparkSession, statePath: String,
      gen: Long): Option[DataFrame] =
    lastState.synchronized(Option(lastState.get(statePath)))
      .filter(_._1 == gen)
      .map(_._2)
      .filter { df =>
        val sc = df.sparkSession.sparkContext
        val ok = !sc.isStopped && (sc eq spark.sparkContext)
        if (!ok) lastState.synchronized(lastState.remove(statePath): Unit)
        ok
      }

  private def commitsDir(statePath: String) =
    java.nio.file.Paths.get(statePath, "_commits")

  def committedGens(statePath: String): Seq[Long] = {
    val d = commitsDir(statePath)
    if (!java.nio.file.Files.isDirectory(d)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString.toLong).toSeq.sorted
      finally s.close()
    }
  }

  // ---- manifest ---------------------------------------------------------
  //
  // `gen-<b>/manifest` (text, one value per line group):
  //   v2 <numBuckets>
  //   schema <StructType.json>        (read fallback for an empty state)
  //   <bucketId> <sourceGen> <bytes>  (bucket's rows live at
  //                                    gen-<sourceGen>/data/__b=<bucketId>;
  //                                    <bytes> = its on-disk size, so the
  //                                    per-batch rebase predicate is pure
  //                                    manifest arithmetic — no Files.walk
  //                                    over thousands of bucket dirs)
  // Absent bucket ids hold no rows. Every generation this writer commits
  // has a manifest; one without is a whole-state write by an older build
  // and is read as a plain parquet dir, so such a state still opens and
  // the next write rebases it under a manifest. v1 manifests (no <bytes>
  // field) are still read; their sizes are walked once on first use, the
  // next write re-records them as v2.

  private case class BucketSrc(gen: Long, bytes: Long)
  private case class Manifest(buckets: Int,
      schemaJson: String, sources: Map[Int, BucketSrc])

  private def manifestPath(statePath: String, gen: Long) =
    java.nio.file.Paths.get(s"$statePath/gen-$gen/manifest")

  /** Parsed-manifest memo (VERDICT r12 #3): a (statePath, gen) manifest
    * is IMMUTABLE once its commit marker exists, yet every micro-batch
    * used to re-read and re-parse it at least twice (`deltaUseful` in
    * the streaming fn, then `applyBatch`; three times counting
    * the read-back) — and a v1 manifest re-ran its dirBytes migration
    * walk on EVERY read (ADVICE r12). Write-through on [[writeManifest]]
    * so the next batch's reads never touch the filesystem at all;
    * LRU-capped like the state cache. Replays/other-writer reads miss
    * and fall back to the file — correctness never depends on a hit. */
  private val MaxCachedManifests = 64
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long), Manifest](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Manifest]): Boolean =
        size > MaxCachedManifests
    }

  private def readManifest(statePath: String, gen: Long): Option[Manifest] = {
    val hit = manifestCache.synchronized(
      Option(manifestCache.get((statePath, gen))))
    if (hit.isDefined) return hit
    val p = manifestPath(statePath, gen)
    if (!java.nio.file.Files.isRegularFile(p)) None
    else {
      import scala.jdk.CollectionConverters._
      val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
      val header = lines.head.split(' ')
      require(header(0) == "v1" || header(0) == "v2",
        s"unknown manifest version in $p")
      val schemaJson = lines(1).stripPrefix("schema ")
      val sources = lines.drop(2).map { l =>
        val a = l.split(' ')
        val b = a(0).toInt
        // v1 migration: sizes walked once per JVM (memoized below); the
        // next write re-records them as v2
        val bytes = if (a.length > 2) a(2).toLong
          else dirBytes(java.nio.file.Paths.get(
            s"$statePath/gen-${a(1).toLong}/data/__b=$b"))
        b -> BucketSrc(a(1).toLong, bytes)
      }.toMap
      val m = Manifest(header(1).toInt, schemaJson, sources)
      manifestCache.synchronized(manifestCache.put((statePath, gen), m): Unit)
      Some(m)
    }
  }

  private def writeManifest(statePath: String, gen: Long,
      m: Manifest): Unit = {
    val body = (s"v2 ${m.buckets}" +:
      s"schema ${m.schemaJson}" +:
      m.sources.toSeq.sortBy(_._1).map { case (b, s) =>
        s"$b ${s.gen} ${s.bytes}" })
      .mkString("\n")
    val p = manifestPath(statePath, gen)
    // an empty batch writes no bucket files, so nothing has created the
    // generation dir yet — the manifest must not be the thing that fails
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    manifestCache.synchronized(manifestCache.put((statePath, gen), m): Unit)
  }

  private def readGen(spark: SparkSession, statePath: String,
      gen: Long): DataFrame =
    readManifest(statePath, gen) match {
      case Some(m) if m.sources.nonEmpty =>
        // leaf bucket dirs read directly: no partition discovery below
        // them, so `__b` never surfaces as a column — the frame carries
        // exactly the state schema
        val paths = m.sources.toSeq.sortBy(_._1).map { case (b, s) =>
          s"$statePath/gen-${s.gen}/data/__b=$b" }
        spark.read.parquet(paths: _*)
      case Some(m) => // committed but empty state: schema from the manifest
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      case None => spark.read.parquet(s"$statePath/gen-$gen")
    }

  /** Manifest-only rebase predicates (no filesystem walks, no Spark
    * jobs): spread past the compaction trigger, buckets grown fat, or a
    * state smaller than ONE bucket target — for the last, the
    * touched-bucket computation is itself a per-batch Spark job (collect
    * of distinct bucket ids) costing more than just rewriting the whole
    * tiny state, so full-rewrite is trivially batch-proportional there.
    * Shared verbatim between [[applyBatch]]'s decision and
    * [[deltaUseful]]'s pre-decision so the two can never drift. */
  private def wantsRebase(prevMan: Option[Manifest],
      targetBytes: Long): Boolean = {
    val prevBytes = prevMan.map(_.sources.values.map(_.bytes).sum)
    prevMan.exists(_.sources.values.map(_.gen).toSet.size >=
      RebaseSourceSpread) ||
    prevBytes.exists(b => prevMan.exists(m =>
      b / math.max(1, m.buckets) > 4L * targetBytes)) ||
    prevBytes.exists(_ <= targetBytes) ||
    // a single-bucket (tiny-ladder) state always rebases: an incremental
    // pass over one bucket IS a full rewrite, so the delta bookkeeping
    // would be pure overhead — and the rebase is what promotes the state
    // to a real bucket count once it outgrows one target
    prevMan.exists(_.buckets <= 1)
  }

  /** Will the NEXT [[applyBatch]] on this path actually consume a
    * changed-keys frame? False when the store would rebase regardless
    * (first write, spread/fat/tiny triggers) — a producer whose
    * changed-keys frame costs real per-batch work (an extra join +
    * checkpoint job) consults this BEFORE building it and passes `None`
    * instead; the store's own decision logic is unchanged (`None` always
    * means full rewrite), so a stale answer is never wrong, only
    * conservative. Manifest-read-only: costs one small file read. */
  def deltaUseful(spark: SparkSession, statePath: String): Boolean = {
    val prevMan = committedGens(statePath).lastOption
      .flatMap(readManifest(statePath, _))
    prevMan.isDefined && !wantsRebase(prevMan, targetBucketBytes(spark))
  }

  /** Cheap input-size estimate for a micro-batch frame, for
    * [[applyBatch]]'s `batchBytesHint`: the optimizer's
    * sizeInBytes (file-source batches report real file bytes — no job
    * runs). `None` when the plan can't say (the default Long.MaxValue
    * sentinel), so an unknown never masquerades as huge OR tiny. */
  def batchBytes(batch: DataFrame): Option[Long] = try {
    val s = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    if (s >= BigInt(Long.MaxValue) / 2 || s < 0) None else Some(s.toLong)
  } catch { case NonFatal(_) => None }

  /** The current committed state (error if no batch ever committed). */
  def readState(spark: SparkSession, statePath: String): DataFrame = {
    val gens = committedGens(statePath)
    require(gens.nonEmpty, s"no committed state under $statePath")
    cachedState(spark, statePath, gens.last)
      .getOrElse(readGen(spark, statePath, gens.last))
  }

  /** Apply one micro-batch — the one state writer (see the object doc).
    * Skips a batch whose marker already exists (replay after a successful
    * commit); a replay after a crash mid-write rewrites the generation.
    * `next(prev)` returns `(newState, changedKeys)`: the full new state
    * frame plus a frame of the rows whose key changed this batch,
    * projected to `bucketCols` (same names and types as in the state —
    * the bucket hash must agree).
    * Only buckets containing changed keys are written; the rest carry
    * forward by manifest reference. The caller CONTRACT making that
    * sound: newState restricted to an untouched bucket must equal the
    * previous state restricted to it — true by construction for merge
    * algebras whose per-key result changes only when the key is touched
    * (upsert argmax, rollup monoids, label remaps, count bumps), and
    * pinned by each maintainer's recompute oracle. `changedKeys = None`
    * forces a full (still parallel) rewrite — the first batch, a driver
    * fast path, or any batch where the delta is not cheaply available.
    * `bucketCols = Nil` declares a key-less state: it must pass
    * `changedKeys = None` and is always written as the single bucket 0.
    *
    * `batchBytesHint` is the producer's estimate of THIS batch's input
    * bytes (micro-batch plan stats — free). It gates the single-task
    * tiny-state path from the other side (ADVICE r12): the r12 shape
    * keyed only on the PREVIOUS state's bytes, so a large catch-up batch
    * landing on a tiny state wrote the whole new (possibly huge) state
    * through one task. With the hint, a big batch takes the parallel
    * rebase path no matter how small the prior state was; `None` (no
    * cheap estimate) tightens the proven-bytes bound instead (prior
    * state must sit at ≤ half a bucket target) — worst case ONE
    * single-task batch when an unhinted huge batch lands on a provably
    * small state, after which the recorded oversize re-promotes to the
    * wide path. A key-less state never consults the hint. */
  def applyBatch(spark: SparkSession, statePath: String,
      batchId: Long, bucketCols: Seq[String],
      batchBytesHint: Option[Long] = None)
      (next: Option[DataFrame] => (DataFrame, Option[DataFrame])): Unit = {
    import java.nio.file.Files
    val marker = commitsDir(statePath).resolve(batchId.toString)
    if (Files.exists(marker)) return
    val tT0 = System.nanoTime()
    val prev = committedGens(statePath).filter(_ < batchId)
    val prevMan = prev.lastOption.flatMap(readManifest(statePath, _))
    val (merged, changed) = next(prev.lastOption.map(g =>
      cachedState(spark, statePath, g)
        .getOrElse(readGen(spark, statePath, g))))
    val tNext = System.nanoTime()
    val keyless = bucketCols.isEmpty
    require(!keyless || changed.isEmpty,
      s"key-less state $statePath cannot carry changed keys")

    // rebase decision: no bucketed prev, manifest spread past the
    // compaction trigger, or buckets grown fat → pick a fresh N from the
    // recorded on-disk state size and rewrite everything (in parallel).
    // Sizes come from the manifest (recorded at write time), so this
    // predicate costs zero filesystem traffic per batch.
    val targetBytes = targetBucketBytes(spark)
    val prevBytes = prevMan.map(_.sources.values.map(_.bytes).sum)
    val rebase = prevMan.isEmpty || changed.isEmpty ||
      wantsRebase(prevMan, targetBytes)
    // KNOWN-tiny rebase (the gate-scale steady state): prior state fits
    // in one bucket target AND the batch brings nothing big (hint-gated,
    // see above). Such a state is written as ONE bucket, ONE task, ONE
    // file with no partitionBy — the r12 shape still paid a 16-way
    // dynamic-partition commit (16 parquet footers + 16 dir renames per
    // micro-batch) for state that a single file carries; that commit
    // overhead was most of the maintainers' r12 gate-floor regression.
    // The single-bucket manifest keeps the generation inside the
    // bucketed protocol (readGen, carry-forward, size records), and
    // wantsRebase's buckets<=1 trigger re-promotes it the moment it
    // outgrows a target.
    // the batch-size gate consults the hint; with NO hint (non-file
    // micro-batch sources, post-shuffle plans at the Long.MaxValue stats
    // sentinel) it falls back to PROVEN bytes, not estimates (ADVICE
    // r13): the tiny path then additionally requires the prior state to
    // sit at half a bucket target or less, so an unhinted batch landing
    // on a state already NEAR the target goes wide. (The merged plan's
    // own stats were considered and rejected as the fallback signal:
    // they inherit the batch's sentinel in exactly the unhinted case —
    // no information — and a join-inflated estimate over genuinely tiny
    // state would permanently defeat the tiny path, reinstating the r12
    // per-batch 16-way-commit floor this path exists to avoid.) The
    // residual: an unhinted HUGE catch-up batch onto a provably-small
    // state still serializes through one task for ONE batch — the
    // oversized single bucket records its true size in the manifest and
    // wantsRebase's buckets<=1 trigger re-promotes the very next batch.
    val batchLooksSmall = batchBytesHint.forall(_ <= 4L * targetBytes)
    val prevSmallEnough = batchBytesHint match {
      case Some(_) => prevBytes.exists(_ <= targetBytes)
      case None => prevBytes.exists(_ <= targetBytes / 2)
    }
    // a key-less state is one bucket by definition (object doc): always
    // this path, whatever the hint says
    val tiny = keyless || rebase &&
      (prevSmallEnough ||
        // a TRUE first write (no prior generation at all) is tiny only on
        // the hint's positive say-so — absent a hint it takes the wide
        // path, so a big unhinted first batch is never serialized
        (prev.isEmpty && batchBytesHint.exists(_ <= targetBytes))) &&
      batchLooksSmall
    val nBuckets =
      if (tiny) 1
      else if (rebase) {
        val sizeGuess = math.max(prevBytes.getOrElse(0L),
          batchBytesHint.getOrElse(0L))
        math.min(MaxBuckets,
          math.max(MinBuckets, (sizeGuess / targetBytes).toInt)).toInt
      } else prevMan.get.buckets
    val bucketOf = pmod(xxhash64(bucketCols.map(col): _*), lit(nBuckets))
      .cast("int")

    val touched: Seq[Int] =
      if (rebase) 0 until nBuckets
      else changed.get
        .select(bucketOf.as("__b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
    val genDir = s"$statePath/gen-$batchId"
    if (touched.isEmpty)
      // empty batch: nothing to write — but a crashed earlier attempt may
      // have left buckets here that the `written` listing must not see
      deleteTree(java.nio.file.Paths.get(genDir, "data"))
    else if (tiny) {
      // single-bucket write: clear any crashed attempt's leftover bucket
      // dirs first (the overwrite below only replaces __b=0)
      deleteTree(java.nio.file.Paths.get(genDir, "data"))
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$genDir/data/__b=0")
    } else {
      val bucketed = merged.withColumn("__b", bucketOf)
      // a rebase writes every bucket from a bounded repartition (one
      // task per few buckets, one file per (task, bucket) keeps file
      // count ~|touched|); the incremental path filters to touched
      // buckets first. A rebase's membership filter would be a no-op —
      // only the touched path filters.
      val toWrite =
        if (rebase)
          bucketed.repartition(math.min(nBuckets, 32), col("__b"))
        else bucketed.filter(col("__b").isin(touched: _*))
          .repartition(math.max(1, math.min(touched.size, 32)), col("__b"))
      toWrite.write.mode("overwrite").partitionBy("__b").parquet(s"$genDir/data")
    }

    // dynamic partition dirs exist only for non-empty buckets: a touched
    // bucket with no surviving rows simply drops out of the manifest
    val written: Set[Int] = {
      val d = java.nio.file.Paths.get(genDir, "data")
      if (!Files.isDirectory(d)) Set.empty
      else {
        import scala.jdk.CollectionConverters._
        val s = Files.list(d)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("__b=")).map(_.stripPrefix("__b=").toInt).toSet
        finally s.close()
      }
    }
    // a rebase rewrote EVERY row under the (possibly different) new N:
    // nothing carries forward — in particular, when N shrinks, the old
    // manifest's bucket ids >= N must not ride along (they would
    // duplicate every one of their rows next to the full rewrite)
    val carried: Map[Int, BucketSrc] =
      if (rebase) Map.empty
      else prevMan.map(_.sources).getOrElse(Map.empty) -- touched
    // freshly-written bucket sizes: walked now (|touched| dirs just
    // written — batch-proportional), recorded so future batches never
    // re-stat them
    val sources = carried ++ written.map(b => b -> BucketSrc(batchId,
      dirBytes(java.nio.file.Paths.get(s"$genDir/data/__b=$b"))))
    writeManifest(statePath, batchId,
      Manifest(nBuckets, merged.schema.json, sources))
    val tWrite = System.nanoTime()
    commit(spark, statePath, batchId, merged, prev,
      keepExtra = sources.values.map(_.gen).toSet ++
        prevMan.map(_.sources.values.map(_.gen).toSet).getOrElse(Set.empty))
    if (trace) System.err.println(f"[GenState] $statePath b$batchId " +
      f"tiny=$tiny touched=${touched.size}/$nBuckets " +
      f"next=${(tNext - tT0) / 1e9}%.2f write=${(tWrite - tNext) / 1e9}%.2f " +
      f"commit=${(System.nanoTime() - tWrite) / 1e9}%.2f")
  }

  /** Apply one micro-batch to a mergeable KEY-LESS state: `delta(batch)`
    * merged into the previous state (`merge(state, delta)`), or the delta
    * alone on the first batch — the foreachBatch body of the rollup and
    * sketch maintainers. Correct for any batch split because `merge` is
    * associative and commutative over the caller's algebra. */
  def fold(statePath: String, batch: DataFrame, batchId: Long)
      (delta: DataFrame => DataFrame,
       merge: (DataFrame, DataFrame) => DataFrame): Unit =
    applyBatch(batch.sparkSession, statePath, batchId, Nil) { prev =>
      val d = delta(batch)
      (prev.fold(d)(merge(_, d)), None)
    }

  /** Run `body` as the foreachBatch of a stream over `src`, checkpointed
    * at `checkpoint` — the one wiring of every state maintainer. */
  def foreachBatch(src: DataFrame, checkpoint: String, trigger: Trigger)
      (body: (DataFrame, Long) => Unit): StreamingQuery = {
    // explicit Scala function value: dodges the Scala/Java foreachBatch
    // overload ambiguity (the StreamIngest idiom)
    val fn: (Dataset[Row], Long) => Unit = (b, id) => body(b.toDF(), id)
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(fn)
      .start()
  }

  /** Shared commit tail: marker, pass-forward cache, pruning. `keepExtra`
    * holds generations still referenced by the latest (and, for in-flight
    * readers, the previous) manifest — they survive pruning with their
    * markers, which keeps `committedGens` resolution stable. */
  private def commit(spark: SparkSession, statePath: String, batchId: Long,
      merged: DataFrame, prev: Seq[Long], keepExtra: Set[Long]): Unit = {
    import java.nio.file.Files
    Files.createDirectories(commitsDir(statePath))
    Files.createFile(commitsDir(statePath).resolve(batchId.toString))
    // pass the state forward in memory ONLY when it is already
    // materialized — a localCheckpoint (LogicalRDD) or driver-built rows
    // (LocalRelation, the size-gated operators' output). Caching a live
    // plan would silently chain lineage across every batch of a
    // long-running stream.
    val materialized = merged.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
    if (materialized)
      lastState.synchronized(lastState.put(statePath, (batchId, merged)): Unit)
    else
      lastState.synchronized(lastState.remove(statePath): Unit)
    // the immediately-previous generation survives one commit for
    // in-flight readers (and anchors crash recovery); manifest-referenced
    // generations survive as long as any bucket still points at them
    val keep = keepExtra ++ prev.lastOption
    prev.filterNot(keep).foreach { g =>
      deleteTree(java.nio.file.Paths.get(s"$statePath/gen-$g"))
      Files.deleteIfExists(commitsDir(statePath).resolve(g.toString)): Unit
      manifestCache.synchronized(manifestCache.remove((statePath, g)): Unit)
    }
  }

  private def dirBytes(root: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    } finally walk.close()
  }

  private def deleteTree(root: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(root)) return
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }
}
