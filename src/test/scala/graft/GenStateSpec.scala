package graft

import org.apache.spark.sql.functions._

/** The generation store's one writer ([[graft.operators.GenState
  * .applyBatch]]): correctness under replay/crash, manifest
  * carry-forward, batch-proportional (not state-proportional) write
  * volume, parallel writes, rebase compaction, the key-less single-bucket
  * rule, and reads of manifest-less generations left by older builds. */
class GenStateSpec extends SparkSpec {
  import graft.operators.GenState

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_gs_$tag").toString

  private def genBytes(statePath: String, gen: Long): Long = {
    val root = java.nio.file.Paths.get(s"$statePath/gen-$gen")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    } finally walk.close()
  }

  private def bucketDirs(statePath: String, gen: Long): Seq[String] = {
    val d = java.nio.file.Paths.get(s"$statePath/gen-$gen/data")
    if (!java.nio.file.Files.isDirectory(d)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__b=")).toSeq.sorted
      finally s.close()
    }
  }

  // k-keyed sum state, merged the IncrementalAgg way — the minimal
  // bucketable merge algebra (keys absent from the batch keep their row)
  private def sumState(prev: Option[org.apache.spark.sql.DataFrame],
      batch: org.apache.spark.sql.DataFrame) = {
    val d = batch.groupBy("k").agg(sum("v").as("s"))
    prev.fold(d)(st => st.unionByName(d).groupBy("k").agg(sum("s").as("s")))
  }
  private def applySum(statePath: String,
      batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
    GenState.applyBatch(spark, statePath, id, Seq("k")) { prev =>
      (sumState(prev, batch), prev.map(_ => batch.select("k")))
    }

  private def snap(statePath: String): Seq[(Long, Long)] =
    GenState.readState(spark, statePath)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("bucketed state: small batch against a big standing state writes " +
      "batch-proportional bytes through >1 task, carried by manifest") {
    val p = tmp("prop")
    // 16 KB bucket target so a ~MB state gets a real bucket count — the
    // same ratio a 100 TB state has against the 4 MB default
    spark.conf.set("spark.graft.state.targetBucketBytes", "16384")
    try {
      // standing state: 200k keys, hash-valued so parquet can't collapse it
      val big = spark.range(200000).select(col("id").as("k"),
        xxhash64(col("id"), lit(1)).as("v"))
      applySum(p, big, 0L) // first write: provisional MinBuckets
      // fat-bucket trigger: this rewrite re-bases at bytes/16KB buckets
      applySum(p, spark.range(1).select(col("id").as("k"),
        lit(1L).as("v")), 1L)
      val fullBytes = genBytes(p, 1L)
      val fullBuckets = bucketDirs(p, 1L)
      assert(fullBuckets.size > 16,
        s"rebase kept ${fullBuckets.size} buckets — fat-bucket trigger dead")
      // small batch: 8 keys scattered across the key space
      val small = spark.range(8).select((col("id") * 401 + 7).as("k"),
        lit(1L).as("v"))
      applySum(p, small, 2L)
      val deltaBytes = genBytes(p, 2L)
      info(s"rebased state gen: $fullBytes B in ${fullBuckets.size} buckets; " +
        s"8-key batch gen: $deltaBytes B in ${bucketDirs(p, 2L).size} buckets")
      assert(deltaBytes * 4 < fullBytes,
        s"batch write ($deltaBytes B) not clearly below state size " +
          s"($fullBytes B) — the rewrite is state-proportional")
      // the carried buckets must resolve through the manifest: every key
      // still present, touched keys updated
      val after = GenState.readState(spark, p)
      assert(after.count() == 200000L, "carry-forward lost rows")
      val touched = after.filter(col("k") === 401L + 7)
        .select((col("s") - xxhash64(col("k"), lit(1))).as("d")).head.getLong(0)
      assert(touched == 1L, s"touched key delta wrong: $touched")
      val carried = after.filter(col("k") === 400L)
        .select((col("s") - xxhash64(col("k"), lit(1))).as("d")).head.getLong(0)
      assert(carried == 0L, s"carried key delta wrong: $carried")
    } finally spark.conf.unset("spark.graft.state.targetBucketBytes")
  }

  test("bucketed state: replay of a committed batch is a no-op; crash " +
      "garbage in the gen dir is overwritten on replay") {
    import spark.implicits._
    val p = tmp("replay")
    def b(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong % 64, 1L)).toDF("k", "v")
    applySum(p, b(0, 512), 0L)
    applySum(p, b(512, 1024), 1L)
    val afterTwo = snap(p)
    applySum(p, b(512, 1024), 1L) // marker short-circuits
    assert(snap(p) == afterTwo, "replay of a committed batch changed state")
    // crash mid-write: gen-2 data exists (wrong content), no marker
    b(0, 7).groupBy("k").count().write.mode("overwrite")
      .parquet(s"$p/gen-2/data/__b=0")
    applySum(p, b(1024, 1536), 2L)
    val expect = sumState(None, b(0, 1536))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(snap(p) == expect, "crash-replay state diverged from one-shot")
  }

  test("bucketed state: manifest spread triggers rebase; referenced old " +
      "generations survive pruning until then") {
    import spark.implicits._
    val p = tmp("rebase")
    // explicit bucket target so this ~60 KB state sits ABOVE the
    // tiny-state full-rewrite trigger (state ≤ one bucket target) and
    // below the fat-bucket one — the regime where carry-forward operates
    spark.conf.set("spark.graft.state.targetBucketBytes", "16384")
    try {
    // one probe key per bucket (the store's own hash, 16 buckets at this
    // state size), so each later single-key batch owns a DISTINCT bucket
    // and the manifest spread grows by exactly one per batch
    val keyOfBucket: Map[Int, Long] = spark.range(2000)
      .select(col("id"), pmod(xxhash64(col("id")), lit(16)).cast("int").as("b"))
      .collect().groupBy(_.getInt(1)).map { case (b, rs) =>
        b -> rs.map(_.getLong(0)).min }
    assert(keyOfBucket.size == 16, s"probe missed buckets: ${keyOfBucket.size}")
    applySum(p, (0 until 4096).map(i => (i.toLong, 1L)).toDF("k", "v"), 0L)
    (1 to 10).foreach { i =>
      applySum(p, Seq((keyOfBucket(i % 16), 10L)).toDF("k", "v"), i.toLong)
    }
    // gen-0 still holds the untouched buckets → must have survived
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$p/gen-0/data")),
      "manifest-referenced generation was pruned")
    assert(snap(p).size == 4096, "carry-forward lost rows")
    // spread reaches the trigger after 15 distinct single-bucket gens
    // (+ gen-0) → a rebase collapses sources into one generation and the
    // NEXT commit prunes everything older
    (11 to 18).foreach { i =>
      applySum(p, Seq((keyOfBucket(i % 16), 10L)).toDF("k", "v"), i.toLong)
    }
    val gens = GenState.committedGens(p)
    assert(!gens.contains(0L),
      s"gen-0 alive after the rebase should have collapsed sources: $gens")
    val end = snap(p).toMap
    assert(end.size == 4096, "post-rebase state lost rows")
    val k1 = keyOfBucket(1)
    assert(end(k1) == (if (k1 < 4096) 1L else 0L) + 20L,
      s"key $k1 sum wrong: ${end(k1)}")
    } finally spark.conf.unset("spark.graft.state.targetBucketBytes")
  }

  test("bucketed state: an empty batch (zero changed keys) commits and " +
      "carries the whole state forward") {
    import spark.implicits._
    val p = tmp("empty")
    // bucket target small enough that the state sits ABOVE the tiny-state
    // rebase trigger — the regime where touched=[] writes no bucket files
    // at all and the manifest alone must carry the generation
    spark.conf.set("spark.graft.state.targetBucketBytes", "16384")
    try {
      applySum(p, (0 until 4096).map(i => (i.toLong, 1L)).toDF("k", "v"), 0L)
      applySum(p, (0 until 4096).map(i => (i.toLong, 1L)).toDF("k", "v"), 1L)
      val before = snap(p)
      // a stream readily produces this: an empty part file under
      // maxFilesPerTrigger=1 → changedKeys = Some(empty frame)
      applySum(p, Seq.empty[(Long, Long)].toDF("k", "v"), 2L)
      assert(GenState.committedGens(p).contains(2L),
        "empty batch did not commit")
      assert(snap(p) == before, "empty batch changed state")
      // and the store keeps working past it
      applySum(p, Seq((7L, 5L)).toDF("k", "v"), 3L)
      assert(snap(p).toMap.apply(7L) == 2L + 5L, "post-empty-batch update lost")
    } finally spark.conf.unset("spark.graft.state.targetBucketBytes")
  }

  test("bucketed state: a rebase that SHRINKS the bucket count does not " +
      "resurrect old-numbered buckets (no duplicated rows)") {
    import spark.implicits._
    val p = tmp("shrink")
    try {
      // tiny target → the 50k-row (~800 KB) state rebases into many
      // buckets (fat trigger: bytes/buckets > 4×target, comfortably met)
      spark.conf.set("spark.graft.state.targetBucketBytes", "4096")
      val big = spark.range(50000).select(col("id").as("k"),
        xxhash64(col("id"), lit(1)).as("v"))
      applySum(p, big, 0L)
      applySum(p, Seq((1L, 1L)).toDF("k", "v"), 1L) // fat-bucket rebase
      val wide = bucketDirs(p, 1L).size
      assert(wide > 16, s"setup: expected a wide rebase, got $wide buckets")
      // huge target → the next rebase shrinks to MinBuckets; old bucket
      // ids >= 16 must NOT carry into the new manifest next to the full
      // rewrite (every such row would appear twice). changed=None (what a
      // driver fast path passes) forces that rebase directly.
      spark.conf.set("spark.graft.state.targetBucketBytes",
        (64L << 20).toString)
      GenState.applyBatch(spark, p, 2L, Seq("k")) { prev =>
        (sumState(prev, Seq((2L, 1L)).toDF("k", "v")), None)
      }
      val st = GenState.readState(spark, p)
      assert(st.count() == 50000L,
        s"post-shrink state has ${st.count()} rows — duplicates or loss")
      assert(st.groupBy("k").count().filter(col("count") > 1).count() == 0L,
        "shrinking rebase duplicated rows")
    } finally spark.conf.unset("spark.graft.state.targetBucketBytes")
  }

  test("tiny-state rebase writes every bucket from ONE task (no " +
      "repartition exchange); deltaUseful pre-declares the store's need") {
    import spark.implicits._
    val p = tmp("tiny")
    // default 4 MB bucket target: this ~KB state is permanently tiny, so
    // every batch takes the full-rewrite path — the gate-scale floor
    assert(!GenState.deltaUseful(spark, p), "deltaUseful true with no state")
    applySum(p, (0 until 256).map(i => (i.toLong % 16, 1L)).toDF("k", "v"), 0L)
    assert(!GenState.deltaUseful(spark, p),
      "deltaUseful true for a state below one bucket target")
    applySum(p, Seq((3L, 5L)).toDF("k", "v"), 1L)
    // single-task write: every part file carries the coalesced task's
    // part-00000 prefix (a repartition would spread the id range)
    val gen1 = java.nio.file.Paths.get(s"$p/gen-1/data")
    val walk = java.nio.file.Files.walk(gen1)
    val parts = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSeq
    } finally walk.close()
    assert(parts.nonEmpty && parts.forall(_.startsWith("part-00000")),
      s"tiny-state rebase used >1 writer task: $parts")
    assert(snap(p).toMap.apply(3L) == 16L + 5L, "tiny-state update lost")
    // a properly bucketed big state flips deltaUseful on
    val p2 = tmp("tinybig")
    spark.conf.set("spark.graft.state.targetBucketBytes", "16384")
    try {
      val big = spark.range(50000).select(col("id").as("k"),
        xxhash64(col("id"), lit(1)).as("v"))
      applySum(p2, big, 0L)
      applySum(p2, Seq((1L, 1L)).toDF("k", "v"), 1L) // fat-bucket rebase
      assert(GenState.deltaUseful(spark, p2),
        "deltaUseful false for a bucketed state above one target")
    } finally spark.conf.unset("spark.graft.state.targetBucketBytes")
  }

  test("maintainer deltas honor wantChanged=false with identical state " +
      "(the store rebases; the answer cannot depend on the flag)") {
    import spark.implicits._
    val pairs1 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val pairs2 = Seq((3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    def run(want: Boolean): (Seq[(Long, Long)], Boolean) = {
      val (s1, _) = graft.operators.Graph.incrTrianglesDelta(None, pairs1)
      val (s2, ch) = graft.operators.Graph.incrTrianglesDelta(
        Some(s1), pairs2, wantChanged = want)
      (graft.operators.Graph.incrTrianglesFinalize(s2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
        ch.isDefined)
    }
    val (withDelta, chT) = run(true)
    val (without, chF) = run(false)
    assert(chT && !chF, "wantChanged flag not honored")
    assert(withDelta == without, "state diverged on wantChanged")
    val (c1, _) = graft.operators.Graph.incrementalComponentsDelta(
      None, pairs1)
    val (c2a, cchT) = graft.operators.Graph.incrementalComponentsDelta(
      Some(c1), pairs2, wantChanged = true)
    val (c2b, cchF) = graft.operators.Graph.incrementalComponentsDelta(
      Some(c1), pairs2, wantChanged = false)
    assert(cchT.isDefined && cchF.isEmpty, "components flag not honored")
    assert(c2a.orderBy("doc_id").collect().toSeq ==
      c2b.orderBy("doc_id").collect().toSeq,
      "components state diverged on wantChanged")
    // r17: the remap broadcast gate reads the caller's byte hint instead
    // of a per-batch count job — small hint (broadcast), huge hint (no
    // broadcast) and unhinted (counted) must land on identical labels
    val c2c = graft.operators.Graph.incrementalComponentsDelta(
      Some(c1), pairs2, wantChanged = true, batchBytesHint = Some(1024L))._1
    val c2d = graft.operators.Graph.incrementalComponentsDelta(
      Some(c1), pairs2, wantChanged = true,
      batchBytesHint = Some(Long.MaxValue / 4))._1
    assert(c2a.orderBy("doc_id").collect().toSeq ==
      c2c.orderBy("doc_id").collect().toSeq,
      "components state diverged on small byte hint")
    assert(c2a.orderBy("doc_id").collect().toSeq ==
      c2d.orderBy("doc_id").collect().toSeq,
      "components state diverged on huge byte hint")
  }

  test("tiny steady state writes ONE bucket as ONE file; a big " +
      "batch-bytes hint forces the parallel path off the tiny state") {
    import spark.implicits._
    val p = tmp("tinyhint")
    // default 4 MB target: this state is tiny, so after the first commit
    // every unhinted batch takes the single-bucket rung
    applySum(p, (0 until 256).map(i => (i.toLong % 16, 1L)).toDF("k", "v"), 0L)
    applySum(p, Seq((3L, 5L)).toDF("k", "v"), 1L)
    assert(bucketDirs(p, 1L) == Seq("__b=0"),
      s"tiny steady state not single-bucket: ${bucketDirs(p, 1L)}")
    // a catch-up batch DECLARED big (hint > 4× target) must not ride the
    // single-task rung no matter how small the prior state was (ADVICE
    // r12: the one-task whole-state stall) — the rebase goes wide
    GenState.applyBatch(spark, p, 2L, Seq("k"),
        batchBytesHint = Some(64L << 20)) { prev =>
      (sumState(prev, Seq((4L, 2L)).toDF("k", "v")), None)
    }
    // 16 buckets chosen; only the non-empty ones materialize as dirs —
    // any spread past one dir proves the wide path ran
    assert(bucketDirs(p, 2L).size > 1,
      s"big-hinted batch stayed on the tiny path: ${bucketDirs(p, 2L)}")
    // and a true FIRST write with a tiny hint starts on the bottom rung
    val p2 = tmp("tinyfirst")
    GenState.applyBatch(spark, p2, 0L, Seq("k"),
        batchBytesHint = Some(1024L)) { prev =>
      (sumState(prev, Seq((1L, 1L)).toDF("k", "v")), None)
    }
    assert(bucketDirs(p2, 0L) == Seq("__b=0"),
      s"tiny-hinted first write went wide: ${bucketDirs(p2, 0L)}")
    assert(snap(p).toMap.apply(3L) == 16L + 5L &&
      snap(p).toMap.apply(4L) == 16L + 2L, "tiny/wide ladder lost updates")
  }

  test("an UNHINTED rebase keeps the tiny rung only while the prior state " +
      "sits at half a bucket target or less") {
    import spark.implicits._
    spark.conf.set("spark.graft.state.targetBucketBytes", "32768")
    try {
      // build a state in (target/2, target]: small enough that a
      // small-HINTED batch still rides the single-bucket rung, big
      // enough that an UNHINTED one must go wide (the review fix: plan
      // estimates were rejected as the no-hint signal — PROVEN bytes
      // with a tightened half-target bound decide instead)
      val p = tmp("nohint")
      val rows = spark.range(2300).select(col("id").as("k"),
        xxhash64(col("id"), lit(7)).as("v"))
      GenState.applyBatch(spark, p, 0L, Seq("k"),
          batchBytesHint = Some(1024L)) { prev => (sumState(prev, rows), None) }
      assert(bucketDirs(p, 0L) == Seq("__b=0"),
        s"fixture not on the tiny rung: ${bucketDirs(p, 0L)}")
      // guard the fixture against parquet-encoding drift: the test only
      // tests the half-target band if the state actually lands in it
      val bytes = {
        import scala.jdk.CollectionConverters._
        val w = java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"$p/gen-0/data"))
        try w.iterator().asScala.filter(f =>
            f.getFileName.toString.startsWith("part-"))
          .map(java.nio.file.Files.size).sum
        finally w.close()
      }
      assert(bytes > 16384 && bytes <= 32768,
        s"fixture drifted out of (target/2, target]: state is $bytes B")
      // small HINTED batch onto that state: tiny rung (prev <= target)
      GenState.applyBatch(spark, p, 1L, Seq("k"),
          batchBytesHint = Some(1024L)) { prev =>
        (sumState(prev, Seq((1L, 1L)).toDF("k", "v")), None)
      }
      assert(bucketDirs(p, 1L) == Seq("__b=0"),
        s"small-hinted batch left the tiny rung: ${bucketDirs(p, 1L)}")
      // the SAME state, UNHINTED: nothing can vouch for the batch and
      // the state is past half a target — the rebase must go wide
      GenState.applyBatch(spark, p, 2L, Seq("k")) { prev =>
        (sumState(prev, Seq((2L, 2L)).toDF("k", "v")), None)
      }
      assert(bucketDirs(p, 2L).size > 1,
        s"unhinted rebase on a near-target state stayed single-task: ${bucketDirs(p, 2L)}")
      val m = snap(p).toMap
      assert(m(1L) == xxhash64Val(1L) + 1L && m(2L) == xxhash64Val(2L) + 2L,
        "tiny/wide ladder lost updates")
    } finally spark.conf.unset("spark.graft.state.targetBucketBytes")
  }

  /** The hash the fixture above seeds v with, evaluated driver-side. */
  private def xxhash64Val(k: Long): Long = {
    import spark.implicits._
    Seq(k).toDF("id").select(xxhash64(col("id"), lit(7))).head().getLong(0)
  }

  test("bucketed and whole-state writes interoperate on one statePath") {
    import spark.implicits._
    val p = tmp("mixed")
    def b(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong % 16, 1L))
      .toDF("k", "v")
    // a whole-state generation as older builds committed it: plain
    // parquet under gen-0/, no manifest, plus its marker
    sumState(None, b(0, 256)).coalesce(1).write.parquet(s"$p/gen-0")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p, "_commits"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_commits", "0"))
    assert(snap(p) == sumState(None, b(0, 256)).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq,
      "manifest-less generation read wrong")
    applySum(p, b(256, 512), 1L) // legacy prev → full bucketed rewrite
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$p/gen-1/manifest")),
      "write over a legacy generation committed no manifest")
    applySum(p, b(512, 768), 2L)
    applySum(p, b(768, 1024), 3L)
    val expect = sumState(None, b(0, 1024))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(snap(p) == expect, "mixed write shapes diverged from one-shot")
  }

  test("key-less state commits every generation as a 1-bucket manifest " +
      "with one part file, whatever the batch-size hint") {
    import spark.implicits._
    val p = tmp("keyless")
    // 16 KB target and a hint far above 4× it: a keyed state would take
    // the 16-bucket parallel path here; a key-less one has no key to
    // bucket by and must stay one bucket, one task, one file
    spark.conf.set("spark.graft.state.targetBucketBytes", "16384")
    try {
      val rows = spark.range(20000).select(col("id").as("k"),
        pmod(xxhash64(col("id"), lit(3)), lit(1000000L)).as("v"))
      // checked as each generation commits: pruning drops gen g-2
      for (g <- 0L to 2L) {
        GenState.applyBatch(spark, p, g, Nil,
            batchBytesHint = Some(1L << 20)) { prev =>
          (sumState(prev, rows.repartition(4)), None)
        }
        val man = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"$p/gen-$g/manifest"))
        assert(man.get(0) == "v2 1", s"gen-$g manifest header: ${man.get(0)}")
        val parts = {
          import scala.jdk.CollectionConverters._
          val w = java.nio.file.Files.walk(
            java.nio.file.Paths.get(s"$p/gen-$g/data"))
          try w.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("part-")).toSeq
          finally w.close()
        }
        assert(bucketDirs(p, g) == Seq("__b=0") && parts.size == 1,
          s"gen-$g not one bucket / one file: ${bucketDirs(p, g)} $parts")
      }
      val st = GenState.readState(spark, p)
      assert(st.count() == 20000L &&
        st.filter(col("s") =!=
          pmod(xxhash64(col("k"), lit(3)), lit(1000000L)) * 3).isEmpty,
        "key-less state diverged from three folds of the batch")
      // a key-less state has no key to report changes by
      intercept[IllegalArgumentException] {
        GenState.applyBatch(spark, p, 3L, Nil) { prev =>
          (prev.get, Some(prev.get.select("k")))
        }
      }
    } finally spark.conf.unset("spark.graft.state.targetBucketBytes")
  }

  test("batchBytes: a frame whose plan stats sit at the Long.MaxValue " +
      "sentinel yields None; a file scan yields its bytes") {
    import spark.implicits._
    val rdd = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)))
    val unknown = spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
    assert(unknown.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(Long.MaxValue), "fixture: plan stats not at the sentinel")
    assert(GenState.batchBytes(unknown).isEmpty,
      "sentinel stats read as a size")
    val p = tmp("bytes")
    Seq(1L, 2L, 3L).toDF("k").write.parquet(s"$p/src")
    assert(GenState.batchBytes(spark.read.parquet(s"$p/src")).exists(_ > 0),
      "file-scan frame reported no size")
  }
}
