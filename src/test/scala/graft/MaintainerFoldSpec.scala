package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The key-less streaming folds — the m28 rollup and the m33/m34/m36
  * sketches — run end to end: a staged 4-file corpus streamed
  * AvailableNow, one file per micro-batch, through each maintainer must
  * commit four generations and land exactly on the one-shot delta over
  * all rows (each merge is associative and commutative, so the batch
  * split cannot show in the final state). */
class MaintainerFoldSpec extends SparkSpec {
  import graft.llm.TextStats
  import graft.operators.{GenState, IncrementalAgg}

  private lazy val base = {
    val b = java.nio.file.Files.createTempDirectory("graft_fold").toString
    Tables.documents(spark, sf()).repartition(4).write.parquet(s"$b/src")
    b
  }
  private def corpus: DataFrame = spark.read.parquet(s"$base/src")

  /** Stream the staged corpus through `maintain` into a fresh state and
    * return the final committed state. */
  private def streamed(tag: String)(maintain: (DataFrame, String, String,
      Trigger) => StreamingQuery): DataFrame = {
    val src = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
    maintain(src, s"$base/$tag/state", s"$base/$tag/ckpt",
      Trigger.AvailableNow()).awaitTermination()
    assert(GenState.committedGens(s"$base/$tag/state").lastOption.contains(3L),
      s"$tag: expected four micro-batches (generations 0..3)")
    GenState.readState(spark, s"$base/$tag/state")
  }

  private def assertSame(tag: String, got: DataFrame, want: DataFrame): Unit = {
    assert(want.count() > 0, s"$tag: empty one-shot fixture")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$tag: streamed state diverged from the one-shot delta")
  }

  test("kmvMaintain streams to the one-shot kmvDelta") {
    assertSame("kmv", streamed("kmv")(TextStats.kmvMaintain(_, _, _, _)),
      TextStats.kmvDelta(corpus))
  }

  test("countMinMaintain streams to the one-shot countMinDelta") {
    assertSame("cm", streamed("cm")(TextStats.countMinMaintain(_, _, _, _)),
      TextStats.countMinDelta(corpus))
  }

  test("bloomMaintain streams to the one-shot bloomDelta") {
    assertSame("bloom", streamed("bloom")(TextStats.bloomMaintain(_, _, _, _)),
      TextStats.bloomDelta(corpus))
  }

  test("IncrementalAgg.maintain streams to the one-shot delta") {
    val keys = Seq("source")
    assertSame("agg",
      streamed("agg")(IncrementalAgg.maintain(_, keys, col("n_chars"), _, _, _)),
      IncrementalAgg.delta(corpus, keys, col("n_chars")))
  }
}
