package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-parity helpers.
  *
  * The driver hash-compares Spark parquet output against DuckDB running the
  * same logical SQL, so floating-point aggregation must be *bit-identical*,
  * not approximately equal. The trick used throughout: cast each double term
  * to an exact DECIMAL before SUM (both engines then aggregate exactly, in
  * any order), and cast the final decimal back to DOUBLE for output (the
  * same exact decimal converts to the same double in both engines). Raw
  * stored doubles pass through untouched and compare exactly.
  *
  * Timestamps: `events.ts` is nanosecond-precision in DuckDB but truncated
  * to micros on the Spark side (see [[graft.Tables]]), so every derived
  * time value goes through second-granularity `tsec` first.
  */
object QUtil {
  type QFn = (SparkSession, String) => DataFrame

  /** Exact money: DECIMAL(18,2) term for SUM. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact product term (price * (1-discount)): DECIMAL(18,4). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Final output form of an exact decimal aggregate. */
  def asDouble(c: Column): Column = c.cast("double")

  /** Epoch seconds at second granularity (matches DuckDB
    * `epoch_us(date_trunc('second', ts)) // 1000000`). */
  def tsec(c: Column): Column = unix_timestamp(c)

  /** DuckDB-side tsec expression for an ns-precision timestamp column. */
  def duckTsec(col: String): String =
    s"epoch_us(date_trunc('second', $col)) // 1000000"

  /** Spread a narrow input across the cluster before a CPU-heavy per-row
    * kernel. A small parquet table arrives as one scan partition
    * (maxPartitionBytes ≫ file size), which serializes the kernel on one
    * task; at real scale the scan already has thousands of partitions and
    * this is a no-op — the repartition only fires when the input's
    * parallelism is below the cluster's, so the 100 TB plan never pays a
    * gratuitous corpus shuffle. */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  /** Streaming source for one testdata table, robust to `<name>.parquet`
    * being a single FILE (the driver testdata) or a DIRECTORY of part
    * files (the ScaleData sf1 set). The file stream source insists its
    * base path be a directory, so a directory table is streamed
    * directly, while a file table streams its parent filtered by name —
    * a name filter against a directory table would silently match
    * nothing and no-op the whole query (BENCH_SCALE.md #1). */
  def streamTable(s: SparkSession, schema: org.apache.spark.sql.types.StructType,
      dir: String, name: String): DataFrame = {
    val p = java.nio.file.Paths.get(dir, s"$name.parquet")
    if (java.nio.file.Files.isDirectory(p))
      s.readStream.schema(schema).parquet(p.toString)
    else
      s.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** Run a streaming gate body under `n` shuffle partitions, restoring
    * the session setting after. A stateful streaming query instantiates
    * one state-store (RocksDB in the bench) PER OPERATOR PER SHUFFLE
    * PARTITION PER BATCH — at gate scale, 32-way state means most of
    * the wall is store spin-up/commit for near-empty shards (the
    * Graph.sizedParts argument, applied to state). The partition count
    * is pinned into the query's checkpoint at its first batch, so this
    * is per-query, not per-session, tuning; a production deployment
    * sizes it to ITS key volume the same way. Restores even on throw.
    *
    * The setting is SESSION-scoped while the body runs: the registry
    * runners (Verify/Bench) execute queries sequentially, which is the
    * supported mode — two gates racing this helper on one session could
    * observe each other's value. Concurrent pipelines should pass an
    * isolated `spark.newSession()` per gate instead. */
  def withStreamParts[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** SPARK_GRAFT_TRACE=1 ([[graft.operators.GenState.trace]], the one
    * parser of the switch): streaming-gate floor itemization (VERDICT r14
    * #3) covering the phases GenState's per-batch state trace cannot see:
    * the gate's source-staging write, each micro-batch's Spark-side
    * machinery split (Structured Streaming's own durationMs ledger:
    * latestOffset/getBatch source listing, queryPlanning, walCommit +
    * commitOffsets offset/commit-log writes, addBatch = the whole
    * foreachBatch body), and the post-stream finalize read. Zero cost
    * when off.
    *
    * Wall-time one named phase of a gate to stderr when tracing. */
  def tracedPhase[A](label: String)(f: => A): A =
    if (!graft.operators.GenState.trace) f
    else {
      val t0 = System.nanoTime()
      try f finally System.err.println(
        f"[trace] $label wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  /** Await a streaming gate's fold and, when tracing, dump every
    * micro-batch's durationMs breakdown from `recentProgress` — the
    * synchronous (no listener-bus race) source of Spark's own per-batch
    * accounting. */
  def awaitTraced(label: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val t0 = System.nanoTime()
    q.awaitTermination()
    if (graft.operators.GenState.trace) {
      System.err.println(
        f"[trace] $label stream total wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
      q.recentProgress.foreach { p =>
        System.err.println(s"[trace] $label batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=${p.durationMs}")
      }
    }
  }

  /** [[withStreamParts]], applied only while the source is SMALL: the
    * narrow width exists to shave the micro-batch scheduler floor at
    * gate scale, but on a scale run it strangles per-batch data work to
    * a fraction of the machine (the ×100-probe m41 lesson: an 8-way
    * fold ran a 27M-row per-batch recompute on a quarter of the cores).
    * Past the row threshold the session keeps its own width and the
    * per-batch floor is noise by construction. */
  def withStreamPartsFor[A](s: SparkSession, n: Int, srcRows: Long)
      (body: => A): A =
    if (srcRows <= graft.operators.DriverGates.StreamNarrowSourceRowCap)
      withStreamParts(s, n)(body)
    else body
}
