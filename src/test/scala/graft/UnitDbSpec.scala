package graft

import java.nio.file.Files

import graft.engine.{ManifestCommit, UnitDb}
import graft.model.{Entry, Message, Query}

/** Engine scenarios mirroring the reference test suite (SURVEY §5):
  * TestSimple, TestBatch, TestExpiry, TestLeasing, TestWildcardTopics. */
class UnitDbSpec extends SparkSpec {

  private def freshDb(): (UnitDb, () => Unit, Long => Unit) = {
    val dir = Files.createTempDirectory("graftdb").toString + "/store"
    var now = 1700000000000L // fixed epoch for determinism
    val db = UnitDb.open(spark, dir, clock = () => now)
    (db, () => (), ms => now += ms)
  }

  test("simple: put N, query ?last=1h returns all newest-first, survives reopen") {
    val dir = Files.createTempDirectory("graftdb").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now)
    val n = 100
    for (i <- 1 to n) {
      db.putEntry(Entry("unit1.test", s"msg.$i".getBytes, ttlMillis = Some(3600000L)))
      now += 1000 // one second apart
    }
    // read-your-writes before sync (memdb analogue)
    val before = db.get(Query("unit1.test?last=1h"))
    assert(before.length == n)
    db.sync()
    val got = db.get(Query("unit1.test?last=1h")).map(new String(_))
    assert(got.length == n)
    assert(got.head == s"msg.$n" && got.last == "msg.1", "newest first")
    // limit clamp
    assert(db.get(Query("unit1.test?last=1h", limit = 10)).length == 10)
    // ?last as count
    assert(db.get(Query("unit1.test?last=5")).length == 5)
    // reopen → recovery from store
    val db2 = UnitDb.open(spark, dir, clock = () => now)
    val again = db2.get(Query("unit1.test?last=1h")).map(new String(_))
    assert(again.toSeq == got.toSeq)
    // seq counter recovered: new put gets a fresh seq ordering after reopen
    db2.put("unit1.test", "after-reopen".getBytes)
    val latest = db2.get(Query("unit1.test?last=1"))
    assert(new String(latest.head) == "after-reopen")
  }

  test("scanFrame: unclamped batch read path, same rows as get, honors ?last=N") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 20) { db.put("scan.t", s"v$i".getBytes); tick(1000) }
    db.sync()
    // same live set as the interactive path, no imposed order
    val scanned = db.scanFrame(Query("scan.t")).collect()
      .map(r => new String(r.getAs[Array[Byte]]("payload"))).toSet
    assert(scanned == (1 to 20).map(i => s"v$i").toSet)
    // the clamp exists only on the interactive path: getFrame plans a
    // limit operator, scanFrame must not (r3 verdict #4 — the sf1 bench
    // read-back silently truncated at MaxLimit)
    def hasLimit(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => l
      }.nonEmpty
    assert(hasLimit(db.getFrame(Query("scan.t"))), "getFrame keeps the clamp")
    assert(!hasLimit(db.scanFrame(Query("scan.t"))), "scanFrame must be unclamped")
    // an explicit ?last=N count is an explicit request — still honored
    assert(db.scanFrame(Query("scan.t?last=5")).count() == 5)
  }

  test("scanTyped: Dataset[Message] face agrees with get and decodes every field") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 6) {
      db.putEntry(graft.model.Entry(s"ty.a.ch$i", s"p$i".getBytes,
        ttlMillis = Some(3600000L)))
      tick(1000)
    }
    db.sync()
    val typed = db.scanTyped(Query("ty.a.*")).collect()
    assert(typed.length == 6)
    typed.foreach { m =>
      assert(m.topic_parts.take(2) == Seq("ty", "a") && m.depth == 3 &&
        !m.is_wildcard && m.expires_at.nonEmpty && !m.encrypted)
    }
    assert(typed.map(m => new String(m.payload)).sorted.toSeq ==
      (1 to 6).map(i => s"p$i"))
    // ?last=N count clamps newest-first, same as the frame faces
    val top = db.scanTyped(Query("ty.a.*?last=2")).collect()
    assert(top.map(m => new String(m.payload)).toSet == Set("p5", "p6"))
    ()
  }

  test("batch: atomic multi-put with contract + ttl, ordered read-back") {
    val (db, _, tick) = freshDb()
    val contract = 123456789L
    db.batch { b =>
      b.withContract(contract).withTtl(3600000L)
      for (i <- 1 to 50) { b.put("unit2.test", s"b.$i".getBytes); tick(10) }
    }
    val got = db.get(Query("unit2.test", contract = contract)).map(new String(_))
    assert(got.length == 50 && got.head == "b.50" && got.last == "b.1")
    // isolation: master contract sees nothing
    assert(db.get(Query("unit2.test")).isEmpty)
    // abort: failing batch writes nothing
    intercept[RuntimeException] {
      db.batch { b => b.put("unit2.test", "x".getBytes); throw new RuntimeException("boom") }
    }
    assert(db.get(Query("unit2.test", contract = contract)).length == 50)
  }

  test("batch write(): mid-batch flush survives a later abort (reference batch.Write)") {
    val (db, _, _) = freshDb()
    intercept[RuntimeException] {
      db.batch { b =>
        b.put("bw.t", "c1".getBytes)
        b.put("bw.t", "c2".getBytes)
        b.write() // persists c1, c2 inside the closure
        b.put("bw.t", "aborted".getBytes)
        throw new RuntimeException("boom")
      }
    }
    assert(db.get(Query("bw.t")).map(new String(_)).toSet == Set("c1", "c2"))
    // and a clean closure with a mid-batch write commits everything once
    db.batch { b =>
      b.put("bw.u", "d1".getBytes)
      b.write()
      b.put("bw.u", "d2".getBytes)
    }
    assert(db.get(Query("bw.u")).map(new String(_)).toSet == Set("d1", "d2"))
  }

  test("batch deletes: buffered with puts, atomic, abort discards (reference batch.Delete)") {
    val (db, _, _) = freshDb()
    val oldId = db.put("bd.t", "old".getBytes)
    db.sync()
    // one batch: delete a pre-existing message by ID, put two, delete one
    // of the batch's OWN puts by its returned ID
    db.batch { b =>
      b.delete(oldId, "bd.t")
      b.put("bd.t", "keep".getBytes)
      val inBatch = b.putEntry(Entry("bd.t", "gone".getBytes))
      b.deleteEntry(Entry("bd.t", Array.emptyByteArray, id = Some(inBatch)))
    }
    assert(db.get(Query("bd.t")).map(new String(_)).toSeq == Seq("keep"))
    // abort: neither the put nor the delete applies
    val keepId = db.put("bd.u", "survives".getBytes)
    db.sync()
    intercept[RuntimeException] {
      db.batch { b =>
        b.delete(keepId, "bd.u")
        b.put("bd.u", "aborted".getBytes)
        throw new RuntimeException("boom")
      }
    }
    assert(db.get(Query("bd.u")).map(new String(_)).toSeq == Seq("survives"))
  }

  test("Entry fluent builders mirror the reference WithX API") {
    val (db, _, tick) = freshDb()
    val e = Entry("fl.t", Array.emptyByteArray)
      .withPayload("v".getBytes).withContract(42L).withTtl("1h")
    assert(e.contract == 42L && e.ttlMillis.contains(3600000L))
    assert(e.withEncryption().encrypt) // key-gated at put, not at build
    db.putEntry(e); db.sync()
    assert(db.get(Query("fl.t", contract = 42L)).length == 1)
    tick(3600001L) // ttl elapses
    assert(db.get(Query("fl.t", contract = 42L)).isEmpty)
    intercept[IllegalArgumentException](Entry("x", null).withTtl("not-a-ttl"))
  }

  test("expiry: pre-expired entries are invisible; vacuum drops them") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 20)
      db.putEntry(Entry("unit3.test", s"e.$i".getBytes, ttlMillis = Some(1000L)))
    db.sync()
    assert(db.get(Query("unit3.test")).length == 20)
    tick(10000) // everything expires
    assert(db.get(Query("unit3.test")).isEmpty)
    assert(db.count() == 0)
    db.vacuum()
    assert(db.snapshot().count() == 0, "vacuum physically removed expired rows")
    // store still writable after compaction
    db.put("unit3.test", "fresh".getBytes)
    assert(db.get(Query("unit3.test")).length == 1)
  }

  test("delete: tombstoned entries invisible, space reclaimed by vacuum") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 10) { db.put("unit4.test", s"d.$i".getBytes); tick(1000) }
    db.sync()
    val frame = db.getFrame(Query("unit4.test")).collect()
    val target = frame.head // newest
    db.delete(target.getAs[Long]("seq"), "unit4.test")
    val after = db.get(Query("unit4.test")).map(new String(_))
    assert(after.length == 9 && !after.contains("d.10"))
    db.vacuum()
    assert(db.snapshot().count() == 9)
    assert(db.get(Query("unit4.test")).length == 9)
  }

  test("deleteMatching: wildcard sweep tombstones a subtree, count exact, vacuum reclaims") {
    val (db, _, tick) = freshDb()
    for (u <- 0 until 4; i <- 0 until 5) {
      db.put(s"sweep.u$u.ch$i", s"m.$u.$i".getBytes)
      tick(1000)
    }
    db.sync()
    // sweep one user's subtree by wildcard — 5 rows, exact count back
    assert(db.deleteMatching(Query("sweep.u2...")) == 5L)
    val after = db.get(Query("sweep...")).map(new String(_))
    assert(after.length == 15 && !after.exists(_.startsWith("m.2.")),
      s"swept subtree still visible: ${after.toSeq}")
    // idempotent: the matching set is now empty
    assert(db.deleteMatching(Query("sweep.u2...")) == 0L)
    // vacuum physically reclaims; reads identical
    db.vacuum()
    val again = db.get(Query("sweep...")).map(new String(_))
    assert(again.sorted.toSeq == after.sorted.toSeq)
    // unsynced pending puts are swept too (sync-before-scan contract)
    db.put("sweep.u2.ch9", "late".getBytes)
    assert(db.deleteMatching(Query("sweep.u2...")) == 1L)
    // a count scope is rejected loudly
    intercept[IllegalArgumentException] {
      db.deleteMatching(Query("sweep.u1...?last=2"))
    }
    ()
  }

  test("writeSaltBuckets fans a hot day across multiple files; reads unchanged") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_salt").toString + "/store"
    val now = 1700000000000L // all puts land on ONE (contract, wc, day)
    val db = UnitDb.open(spark, dir, clock = () => now, writeSaltBuckets = 4)
    for (i <- 1 to 200) db.put("salt.t", s"v$i".getBytes)
    db.sync()
    val dayDir = Paths.get(dir).toFile.listFiles
      .find(_.getName.startsWith("contract=")).get
      .listFiles.find(_.getName.startsWith("wc=")).get
      .listFiles.find(_.getName.startsWith("day=")).get
    val files = dayDir.listFiles.count(_.getName.endsWith(".parquet"))
    assert(files > 1 && files <= 4,
      s"hot day should write from up to 4 tasks, got $files files")
    // the salt is a shuffle key, not a stored column: full read-back intact
    assert(db.get(Query("salt.t")).map(new String(_)).toSet ==
      (1 to 200).map(i => s"v$i").toSet)
  }

  test("open repairs a vacuum crash between the swap moves (recover)") {
    import java.nio.file.{Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graftdb_crash").toString + "/store"
    val now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now)
    for (i <- 1 to 5) db.put("r.t", s"v$i".getBytes)
    db.sync(); db.close()
    // simulate the crash window: first ATOMIC_MOVE done (live path is
    // gone, full original in .compact.old), second never happened
    Files.move(Paths.get(dir), Paths.get(dir + ".compact.old"),
      StandardCopyOption.ATOMIC_MOVE)
    // a blind open would shadow the only copy with a fresh empty store
    val db2 = UnitDb.open(spark, dir, clock = () => now)
    assert(db2.get(Query("r.t")).length == 5, "rollback must restore the store")
    assert(!Files.exists(Paths.get(dir + ".compact.old")))
    // and the repaired store vacuums normally afterwards
    db2.delete(1L, "r.t")
    db2.vacuum()
    assert(db2.get(Query("r.t")).length == 4)
  }

  test("open garbage-collects manifest generations orphaned by a crashed commit") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_orphan").toString + "/store"
    val now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now,
      commitProtocol = ManifestCommit)
    for (i <- 1 to 5) db.put("o.t", s"v$i".getBytes)
    db.sync(); db.close()
    // a commit that crashed between pointer write and GC leaves whole
    // generations unreferenced forever — plant one
    Files.createDirectories(Paths.get(dir, "_gen", "g00000099"))
    Files.write(Paths.get(dir, "_gen", "g00000099", "stale.parquet"), "x".getBytes)
    Files.createDirectories(Paths.get(dir, "_manifest"))
    Files.write(Paths.get(dir, "_manifest", "g00000099.list"), "stale\n".getBytes)
    val db2 = UnitDb.open(spark, dir, clock = () => now,
      commitProtocol = ManifestCommit)
    assert(!Files.exists(Paths.get(dir, "_gen", "g00000099")), "orphan not swept")
    assert(!Files.exists(Paths.get(dir, "_manifest", "g00000099.list")))
    assert(db2.get(Query("o.t")).length == 5, "live generation untouched")
  }

  test("manifest commit: vacuum swaps a generation pointer, sidecars never move") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_manifest").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now,
      commitProtocol = ManifestCommit)
    for (i <- 1 to 10) { db.put("m.t", s"v$i".getBytes); now += 1000 }
    db.sync()
    // data lands under the initial generation, not the store root
    assert(Files.isDirectory(Paths.get(dir, "_gen", "g00000000")))
    // streaming sidecars live beside generations — plant some to prove
    // the commit never touches them (no copy step exists to race with)
    Files.createDirectories(Paths.get(dir, "_ingest_commits", "q"))
    Files.createFile(Paths.get(dir, "_ingest_commits", "q", "00000000000000000001"))
    Files.createDirectories(Paths.get(dir, "_rejects", "q"))
    Files.write(Paths.get(dir, "_rejects", "q", "r.parquet"), "x".getBytes)

    db.delete(1L, "m.t")
    db.vacuum()
    // pointer advanced; old generation garbage-collected; audit list written
    assert(ManifestCommit.currentGen(dir) == "g00000001")
    assert(!Files.exists(Paths.get(dir, "_gen", "g00000000")))
    assert(Files.isDirectory(Paths.get(dir, "_gen", "g00000001")))
    val list = new String(
      Files.readAllBytes(Paths.get(dir, "_manifest", "g00000001.list")))
    assert(list.linesIterator.exists(_.endsWith(".parquet")), list)
    // sidecar files survived in place; consumed tombstones are gone
    assert(Files.exists(Paths.get(dir, "_ingest_commits", "q", "00000000000000000001")))
    assert(Files.exists(Paths.get(dir, "_rejects", "q", "r.parquet")))
    assert(!Files.exists(Paths.get(dir, "_tombstones")))
    assert(db.get(Query("m.t")).map(new String(_)).toSet ==
      (2 to 10).map(i => s"v$i").toSet)

    // reopen resolves through the pointer; seq counter recovers; a second
    // vacuum advances to the next generation
    val db2 = UnitDb.open(spark, dir, clock = () => now,
      commitProtocol = ManifestCommit)
    assert(db2.get(Query("m.t")).length == 9)
    db2.put("m.t", "after-reopen".getBytes)
    db2.sync()
    db2.vacuum()
    assert(ManifestCommit.currentGen(dir) == "g00000002")
    assert(!Files.exists(Paths.get(dir, "_gen", "g00000001")))
    assert(db2.get(Query("m.t")).length == 10)
    assert(new String(db2.get(Query("m.t?last=1")).head) == "after-reopen")
  }

  test("time travel: retained generations read back as point-in-time snapshots") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_tt").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now,
      commitProtocol = ManifestCommit.retained(3))
    for (i <- 1 to 5) { db.put("tt.a", s"v$i".getBytes); now += 1000 }
    db.sync()
    db.delete(1L, "tt.a")
    db.vacuum() // -> g1: v2..v5
    for (i <- 6 to 8) { db.put("tt.a", s"v$i".getBytes); now += 1000 }
    db.sync()
    db.vacuum() // -> g2: v2..v8
    assert(db.snapshots == Seq("g00000001", "g00000002"))

    def payloads(gen: String): Set[String] =
      db.scanAsOf(gen).select("payload").collect()
        .map(r => new String(r.getAs[Array[Byte]](0))).toSet
    assert(payloads("g00000001") == (2 to 5).map(i => s"v$i").toSet)
    assert(payloads("g00000002") == (2 to 8).map(i => s"v$i").toSet)

    // appends after a commit are NOT in its snapshot — the file set is
    // the commit-time manifest, not a directory listing
    db.put("tt.a", "after".getBytes); db.sync()
    assert(db.get(Query("tt.a")).length == 8)
    assert(payloads("g00000002") == (2 to 8).map(i => s"v$i").toSet)
    db.close()
  }

  test("time travel: retention expires the oldest snapshot; swap protocol refuses") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_ttr").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now,
      commitProtocol = ManifestCommit.retained(2))
    db.put("tt.b", "one".getBytes); db.sync(); db.vacuum()   // g1
    db.put("tt.b", "two".getBytes); db.sync(); db.vacuum()   // g2
    db.put("tt.b", "three".getBytes); db.sync(); db.vacuum() // g3, g1 expires
    assert(db.snapshots == Seq("g00000002", "g00000003"))
    assert(!Files.exists(Paths.get(dir, "_gen", "g00000001")))
    intercept[IllegalArgumentException](db.scanAsOf("g00000001"))
    db.close()

    val swapDb = UnitDb.open(spark,
      Files.createTempDirectory("graftdb_tts").toString + "/store",
      clock = () => now)
    swapDb.put("tt.c", "x".getBytes); swapDb.sync()
    assert(swapDb.snapshots.isEmpty)
    intercept[IllegalArgumentException](swapDb.scanAsOf("g00000001"))
    swapDb.close()
  }

  test("minted IDs survive a reopen without colliding (ADVICE r3 seq hwm)") {
    val dir = Files.createTempDirectory("graftdb_hwm").toString + "/store"
    val now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now)
    val id = db.newID() // draws a seq backed by no stored row
    db.close()
    // recovery from max(stored seq) alone would hand the same seq to the
    // next put; the high-water-mark sidecar must prevent that
    val db2 = UnitDb.open(spark, dir, clock = () => now)
    db2.put("h.t", "fresh".getBytes)
    db2.putEntry(graft.model.Entry("h.t", "minted".getBytes, id = Some(id)))
    db2.sync()
    val rows = db2.getFrame(Query("h.t")).select("seq", "payload").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(0)).distinct.length == 2,
      s"minted and fresh seqs collided: ${rows.map(_.getLong(0)).toSeq}")
  }

  test("newID mints usable pre-assigned IDs (reference NewID + Entry.WithID)") {
    val (db, _, _) = freshDb()
    val ids = Array.fill(5)(db.newID())
    assert(ids.map(_.toSeq).distinct.length == 5, "minted IDs must be unique")
    // put with a preset ID keeps it; the returned ID is the preset one
    val returned = db.putEntry(
      graft.model.Entry("unit9.preset", "x".getBytes, id = Some(ids(2))))
    assert(returned.toSeq == ids(2).toSeq)
    db.sync()
    assert(db.get(Query("unit9.preset")).length == 1)
    // a later counter-assigned put cannot collide with the minted seqs
    db.put("unit9.other", "y".getBytes)
    db.sync()
    val seqs = db.snapshot().select("seq").collect().map(_.getLong(0))
    assert(seqs.distinct.length == seqs.length)
    // delete by the preset ID (Entry form) removes exactly that row
    db.deleteEntry(graft.model.Entry("unit9.preset", null, id = Some(ids(2))))
    assert(db.get(Query("unit9.preset")).isEmpty)
    assert(db.get(Query("unit9.other")).length == 1)
    intercept[IllegalArgumentException] {
      db.deleteEntry(graft.model.Entry("unit9.preset", null))
    }
  }

  test("delete with a non-matching topic is a no-op (reference topic validation)") {
    // the reference Delete validates the topic before freeing the block
    // (db.go:392-425); since the anti-join keys on (seq, topic), a wrong
    // topic must leave the message alive (ADVICE r2)
    val (db, _, tick) = freshDb()
    db.put("unit8.real", "survives".getBytes); tick(1000)
    db.sync()
    val seq = db.getFrame(Query("unit8.real")).collect().head.getAs[Long]("seq")
    db.delete(seq, "unit8.other") // same seq, wrong topic
    db.sync()
    assert(db.get(Query("unit8.real")).length == 1, "wrong-topic delete removed the row")
    db.delete(seq, "unit8.real") // correct topic actually deletes
    assert(db.get(Query("unit8.real")).isEmpty)
  }

  test("wildcard vectors: bidirectional matching through the engine") {
    val (db, _, tick) = freshDb()
    val pairs = Seq(
      "..." -> "unit.b.b1",
      "unit.b..." -> "unit.b.b1.b11.b111.b1111.b11111.b111111",
      "unit.*.b1.b11.*.*.b11111.*" -> "unit.b.b1.b11.b111.b1111.b11111.b111111",
      "unit.*.b1.*.*.*.b11111.*" -> "unit.b.b1.b11.b111.b1111.b11111.b111111",
      "unit.b.b1" -> "unit.b.b1")
    for (((stored, _), i) <- pairs.zipWithIndex) {
      db.put(stored, s"w.$i".getBytes); tick(1000)
    }
    db.sync()
    for ((stored, query) <- pairs) {
      assert(db.get(Query(query)).nonEmpty, s"stored $stored should answer $query")
      assert(db.get(Query(stored)).nonEmpty, s"query $stored should find itself")
    }
    // static query that matches nothing but the multi-level catch-alls
    val catchAll = db.get(Query("zzz.yyy"))
    assert(catchAll.length == 1 && new String(catchAll.head) == "w.0")
  }

  test("contract isolation") {
    val (db, _, _) = freshDb()
    db.putEntry(Entry("iso.test", "a".getBytes, contract = 111L))
    db.putEntry(Entry("iso.test", "b".getBytes, contract = 222L))
    db.sync()
    assert(db.get(Query("iso.test", contract = 111L)).map(new String(_)).toSeq == Seq("a"))
    assert(db.get(Query("iso.test", contract = 222L)).map(new String(_)).toSeq == Seq("b"))
    assert(db.get(Query("iso.test")).isEmpty)
  }

  test("static get pushes the topic equality into the parquet scan") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 20) { db.put(s"push.t${i % 4}", s"p.$i".getBytes); tick(1000) }
    db.put("push...", "wild".getBytes) // wildcard publish lands in wc=1 bucket
    db.sync()
    val plan = db.getFrame(Query("push.t1")).queryExecution.executedPlan.toString
    // the wc=0 branch must carry a *pushed* EqualTo(topic, ...) — the OR
    // shape of round 1 pushed nothing (VERDICT r1 #3)
    assert(plan.contains("EqualTo(topic,push.t1)"),
      s"expected pushed topic equality in plan:\n$plan")
    // and the wildcard publish still answers the static query
    val got = db.get(Query("push.t1")).map(new String(_))
    assert(got.contains("wild") && got.count(_.startsWith("p.")) == 5)
    // partition pruning: wc bucket filter + cutoff-day bound reach the scan
    val planLast = db.getFrame(Query("push.t1?last=1h"))
      .queryExecution.executedPlan.toString
    assert(planLast.contains("PartitionFilters") && planLast.contains("(wc"),
      s"wc partition filter missing:\n$planLast")
    assert(planLast.contains("(day"), s"day pruning missing:\n$planLast")
  }

  test("SQL view over the store with topic_matches") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 6) { db.put(s"sqlv.a${i % 2}", s"v.$i".getBytes); tick(1000) }
    db.sync()
    db.createView("msgs")
    val n = spark.sql(
      "SELECT count(*) AS n FROM msgs WHERE topic_matches(topic, 'sqlv.*')")
      .head().getLong(0)
    assert(n == 6)
    assert(spark.sql("SELECT count(*) FROM msgs WHERE topic = 'sqlv.a1'")
      .head().getLong(0) == 3)
  }

  test("delete by 16-byte ID (reference Delete(id, topic) fidelity)") {
    val (db, _, tick) = freshDb()
    val ids = (1 to 5).map { i =>
      val id = db.put("unit5.test", s"i.$i".getBytes); tick(1000); id
    }
    db.sync()
    db.delete(ids(4), "unit5.test") // newest
    val got = db.get(Query("unit5.test")).map(new String(_))
    assert(got.length == 4 && !got.contains("i.5"))
    // decode round-trips the put's (epoch, contract-low, seq)
    val (epoch, contract, seq) = graft.model.MessageId.decode(ids.head)
    assert(epoch == 1700000000L && contract == (Message.MasterContract & 0xFFFFFFFFL) && seq >= 1L)
  }

  test("tombstones live in the sidecar, not the main table; vacuum consumes them") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 10) { db.put("unit6.test", s"s.$i".getBytes); tick(1000) }
    db.sync()
    val newest = db.getFrame(Query("unit6.test")).collect().head
    db.delete(newest.getAs[Long]("seq"), "unit6.test")
    db.sync()
    // main table still holds all 10 physical rows; sidecar holds the marker
    assert(db.snapshot().count() == 10)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(db.path + "/_tombstones")))
    assert(db.get(Query("unit6.test")).length == 9)
    db.vacuum()
    assert(db.snapshot().count() == 9)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(db.path + "/_tombstones")),
      "vacuum consumed the sidecar")
    assert(db.get(Query("unit6.test")).length == 9)
  }

  test("encryption: round-trip through the store, ciphertext at rest") {
    val dir = Files.createTempDirectory("graftdb").toString + "/store"
    var now = 1700000000000L
    val key = "0123456789abcdef".getBytes // 16-byte AES key
    val db = UnitDb.open(spark, dir, clock = () => now, encryptionKey = Some(key))
    db.putEntry(Entry("enc.test", "top-secret-payload".getBytes, encrypt = true))
    db.putEntry(Entry("enc.test", "plain-payload".getBytes))
    now += 1000
    db.sync()
    // round-trip: both decrypt transparently, newest-first
    val got = db.get(Query("enc.test")).map(new String(_)).toSet
    assert(got == Set("top-secret-payload", "plain-payload"))
    // at rest: the raw parquet payload for the flagged row is NOT the plaintext
    val raw = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("encrypted"))
      .select("payload").collect()
    assert(raw.length == 1)
    assert(!java.util.Arrays.equals(
      raw.head.getAs[Array[Byte]](0), "top-secret-payload".getBytes),
      "flagged payload must be ciphertext on disk")
    // reopening with the key still reads it
    val db2 = UnitDb.open(spark, dir, clock = () => now, encryptionKey = Some(key))
    assert(new String(db2.get(Query("enc.test?last=2")).map(new String(_))
      .find(_ == "top-secret-payload").get.getBytes) == "top-secret-payload")
    // requesting encryption without a key is rejected
    val dbNoKey = UnitDb.open(spark, dir + "2", clock = () => now)
    intercept[IllegalArgumentException] {
      dbNoKey.putEntry(Entry("enc.test", "x".getBytes, encrypt = true))
    }
  }

  test("ChaCha20-Poly1305 codec: reference wire format, cross-decryptable") {
    val key = (0 until 32).map(i => (i * 7 + 3).toByte).toArray
    val payload = "the reference engine wrote this payload".getBytes
    val blob = graft.functions.ChaChaMacUtil.seal(key, payload)

    // independent reimplementation of crypto/mac.go:84-110 straight from
    // the spec, sharing no code with the codec under test — proves the
    // wire LAYOUT, not just self-roundtrip
    val snappyS = org.xerial.snappy.Snappy.compress(payload)
    // clear 4-byte header = first 4 compressed bytes
    assert(blob.slice(0, 4).sameElements(snappyS.slice(0, 4)))
    // 4-byte big-endian fnv32 signature of the whole compressed stream
    var h = 0xcc9e2d51
    for (b <- snappyS) h = (h ^ (b & 0xff)) * 0x1b873593
    val sig = Array((h >>> 24).toByte, (h >>> 16).toByte,
      (h >>> 8).toByte, h.toByte)
    assert(blob.slice(4, 8).sameElements(sig), "signature bytes")
    // open the AEAD with plain JCE using the spec's nonce construction:
    // salt = key bytes 3/7/11/15 (the Go uint8-shift quirk) ++ header
    val nonce = Array(key(3), key(7), key(11), key(15)) ++ blob.slice(0, 8)
    val c = javax.crypto.Cipher.getInstance("ChaCha20-Poly1305")
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "ChaCha20"),
      new javax.crypto.spec.IvParameterSpec(nonce))
    val tail = c.doFinal(blob.drop(8))
    val recovered = org.xerial.snappy.Snappy.uncompress(blob.slice(0, 4) ++ tail)
    assert(recovered.sameElements(payload), "independent JCE decrypt")

    // and the codec opens its own output
    assert(graft.functions.ChaChaMacUtil.open(key, blob).sameElements(payload))
    // tampering any ciphertext byte fails authentication
    val tampered = blob.clone(); tampered(blob.length - 1) =
      (tampered(blob.length - 1) ^ 0x01).toByte
    intercept[Exception] { graft.functions.ChaChaMacUtil.open(key, tampered) }
    // wrong key fails authentication
    intercept[Exception] {
      graft.functions.ChaChaMacUtil.open(new Array[Byte](32), blob)
    }
    // tiny payloads (sub-4-byte snappy streams — the range the reference
    // itself cannot write) round-trip through the documented padding
    for (p <- Seq(Array.emptyByteArray, "x".getBytes, "ab".getBytes,
        "abc".getBytes)) {
      val b = graft.functions.ChaChaMacUtil.seal(key, p)
      assert(graft.functions.ChaChaMacUtil.open(key, b).sameElements(p),
        s"tiny payload ${p.length}B")
    }
  }

  test("ChaCha20-Poly1305 store: round-trip, ciphertext at rest, key checks") {
    val dir = Files.createTempDirectory("graftdb").toString + "/store"
    var now = 1700000000000L
    val key = ("0123456789abcdef" * 2).getBytes // 32 bytes
    val db = UnitDb.open(spark, dir, clock = () => now,
      encryptionKey = Some(key), cipher = graft.engine.ChaCha20Poly1305)
    db.putEntry(Entry("ccp.test", "chacha-secret-payload".getBytes, encrypt = true))
    db.putEntry(Entry("ccp.test", "plain-payload".getBytes))
    now += 1000
    db.sync()
    val got = db.get(Query("ccp.test")).map(new String(_)).toSet
    assert(got == Set("chacha-secret-payload", "plain-payload"))
    // at rest: the flagged row is the reference envelope — the codec's
    // own `open` (the cross-decrypt face) recovers the plaintext from
    // the raw parquet bytes, outside any store read path
    val raw = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("encrypted"))
      .select("payload").collect()
    assert(raw.length == 1)
    val atRest = raw.head.getAs[Array[Byte]](0)
    assert(!java.util.Arrays.equals(atRest, "chacha-secret-payload".getBytes))
    assert(graft.functions.ChaChaMacUtil.open(key, atRest)
      .sameElements("chacha-secret-payload".getBytes))
    // reopen with the same cipher reads it back
    val db2 = UnitDb.open(spark, dir, clock = () => now,
      encryptionKey = Some(key), cipher = graft.engine.ChaCha20Poly1305)
    assert(db2.get(Query("ccp.test?last=2")).map(new String(_))
      .contains("chacha-secret-payload"))
    // a 16-byte key is rejected for the ChaCha cipher
    intercept[IllegalArgumentException] {
      UnitDb.open(spark, dir + "2", encryptionKey =
        Some("0123456789abcdef".getBytes),
        cipher = graft.engine.ChaCha20Poly1305)
    }
  }

  test("batch withEncryption applies the per-batch option") {
    val dir = Files.createTempDirectory("graftdb").toString + "/store"
    val key = "0123456789abcdef".getBytes
    val db = UnitDb.open(spark, dir, clock = () => 1700000000000L,
      encryptionKey = Some(key))
    db.batch { b =>
      b.withEncryption()
      b.put("encb.test", "batch-secret".getBytes)
    }
    assert(db.get(Query("encb.test")).map(new String(_)).toSeq == Seq("batch-secret"))
    val raw = spark.read.parquet(dir).select("encrypted").collect()
    assert(raw.forall(_.getBoolean(0)), "batch rows carry the encrypted flag")
  }

  test("leasing cycle: mass delete-by-ID, re-put, compact (db_test.go:242-286)") {
    val (db, _, tick) = freshDb()
    val ids = (1 to 100).map { i =>
      val id = db.put("unit7.test", s"a.$i".getBytes); tick(100); id
    }
    db.sync()
    ids.foreach(db.delete(_, "unit7.test"))
    assert(db.count() == 0)
    for (i <- 1 to 200) { db.put("unit7.test", s"b.$i".getBytes); tick(100) }
    db.sync()
    assert(db.count() == 200)
    // default limit clamp (1000) returns all 200, newest-first
    val got = db.get(Query("unit7.test")).map(new String(_))
    assert(got.length == 200 && got.head == "b.200" && got.last == "b.1")
    db.vacuum()
    assert(db.snapshot().count() == 200, "compaction reclaimed the deleted 100")
  }

  private def dayDirFiles(root: String): Map[String, Set[String]] = {
    val b = scala.collection.mutable.Map[String, Set[String]]()
    val walk = Files.walk(java.nio.file.Paths.get(root))
    try walk.forEach { p =>
      if (Files.isDirectory(p) && p.getFileName.toString.startsWith("day=")) {
        val fs = Option(p.toFile.listFiles).getOrElse(Array.empty)
        b += p.getFileName.toString ->
          fs.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      }
    } finally walk.close()
    b.toMap
  }

  test("compact: hot partition folds to one file, cold hardlinked, reads identical") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_compact").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now)
    // five separate syncs → five small files in one (contract, wc, day)
    for (i <- 1 to 5) { db.put("c.hot", s"h$i".getBytes); db.sync() }
    now += 86400000L // next day: a one-file partition that must NOT rewrite
    db.put("c.cold", "c1".getBytes)
    db.sync()
    val before = dayDirFiles(dir)
    assert(before.size == 2)
    val Seq(coldDay, hotDay) = before.toSeq.sortBy(_._2.size).map(_._1)
    assert(before(hotDay).size == 5 && before(coldDay).size == 1)
    val hotRows = db.get(Query("c.hot")).map(new String(_)).toSeq
    // a pending tombstone must survive compaction un-consumed
    db.delete(1L, "c.hot")
    assert(db.compact(minFiles = 3) == 1)
    val after = dayDirFiles(dir)
    assert(after(hotDay).size == 1, s"hot partition not folded: ${after(hotDay)}")
    assert(after(coldDay) == before(coldDay), "cold partition files changed")
    // reads identical (minus the tombstoned row), tombstones still pending
    assert(db.get(Query("c.hot")).map(new String(_)).toSeq ==
      hotRows.filterNot(_ == "h1"))
    assert(new String(db.get(Query("c.cold")).head) == "c1")
    assert(Files.exists(Paths.get(dir, "_tombstones")))
    // nothing left above threshold → no-op
    assert(db.compact(minFiles = 3) == 0)
    // vacuum still consumes the tombstone afterwards
    db.vacuum()
    assert(!Files.exists(Paths.get(dir, "_tombstones")))
    assert(db.get(Query("c.hot")).length == 4)
    // reopen: store healthy after the swap
    val db2 = UnitDb.open(spark, dir, clock = () => now)
    assert(db2.get(Query("c.hot")).map(new String(_)).toSeq ==
      hotRows.filterNot(_ == "h1"))
  }

  test("compact folds a salted store's fan-out files back to one per partition") {
    val dir = Files.createTempDirectory("graftdb_compact_s").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now, writeSaltBuckets = 4)
    for (i <- 1 to 3) {
      for (j <- 1 to 8) db.put("s.hot", s"v$i-$j".getBytes)
      db.sync() // salt spreads each sync across up to 4 files
    }
    val before = dayDirFiles(dir)
    assert(before.values.head.size > 3,
      s"salt should fan out the writes, got ${before.values.head.size} files")
    val rows = db.get(Query("s.hot")).map(new String(_)).toSeq
    assert(db.compact(minFiles = 2) == 1)
    val after = dayDirFiles(dir)
    assert(after.values.head.size == 1, s"not folded: ${after.values.head}")
    assert(db.get(Query("s.hot")).map(new String(_)).toSeq == rows)
  }

  test("open cleans a compact crash leftover (staged tmp, commit never ran)") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_compact_c").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now)
    for (i <- 1 to 3) { db.put("cc.t", s"v$i".getBytes); db.sync() }
    // simulate a crash after compact staged its rewrite but before
    // commitRewrite's first move: tmp exists, live store untouched
    val tmp = Paths.get(dir + ".compact.tmp")
    Files.createDirectories(tmp.resolve("contract=0"))
    Files.write(tmp.resolve("junk.parquet"), "x".getBytes)
    val db2 = UnitDb.open(spark, dir, clock = () => now)
    assert(!Files.exists(tmp), "recover must clear the stranded staging dir")
    assert(db2.get(Query("cc.t")).length == 3)
    // a fresh compaction starts clean and succeeds
    assert(db2.compact(minFiles = 2) == 1)
    assert(db2.get(Query("cc.t")).length == 3)
  }

  test("compact under the manifest protocol: generation advances, cold files carried") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graftdb_compact_m").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now,
      commitProtocol = ManifestCommit)
    for (i <- 1 to 4) { db.put("m.hot", s"h$i".getBytes); db.sync() }
    now += 86400000L
    db.put("m.cold", "c1".getBytes)
    db.sync()
    val gen0 = Paths.get(dir, "_gen", "g00000000").toString
    val before = dayDirFiles(gen0)
    val Seq(coldDay, hotDay) = before.toSeq.sortBy(_._2.size).map(_._1)
    assert(db.compact(minFiles = 3) == 1)
    assert(ManifestCommit.currentGen(dir) == "g00000001")
    assert(!Files.exists(Paths.get(gen0)))
    val after = dayDirFiles(Paths.get(dir, "_gen", "g00000001").toString)
    assert(after(hotDay).size == 1)
    assert(after(coldDay) == before(coldDay), "cold files not carried by name")
    assert(db.get(Query("m.hot")).length == 4)
    assert(new String(db.get(Query("m.cold")).head) == "c1")
  }

  test("retention vacuum drops rows beyond the horizon (maxRetention 28d)") {
    val (db, _, _) = freshDb()
    val now = 1700000000000L
    db.putEntry(Entry("ret.test", "old".getBytes,
      tsMillis = Some(now - UnitDb.DefaultRetentionMs - 86400000L)))
    db.putEntry(Entry("ret.test", "new".getBytes, tsMillis = Some(now - 1000)))
    db.sync()
    assert(db.count() == 2)
    db.vacuum(Some(UnitDb.DefaultRetentionMs))
    assert(db.snapshot().count() == 1)
    assert(db.get(Query("ret.test")).map(new String(_)).toSeq == Seq("new"))
  }

  test("newContract: fresh uint32 tenant ids isolate writes") {
    val (db, _, _) = freshDb()
    val c1 = db.newContract(); val c2 = db.newContract()
    assert(c1 > 0 && c1 <= 0xFFFFFFFFL && c1 != Message.MasterContract)
    assert(c2 != c1)
    db.putEntry(Entry("nc.test", "one".getBytes, contract = c1))
    db.sync()
    assert(db.get(Query("nc.test", contract = c1)).length == 1)
    assert(db.get(Query("nc.test", contract = c2)).isEmpty)
  }

  test("close flushes pending writes and fences further operations (O1)") {
    val dir = Files.createTempDirectory("graftdb").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now)
    db.put("close.test", "pending".getBytes)
    db.close() // must flush the unsynced row
    db.close() // idempotent
    intercept[IllegalStateException] { db.put("close.test", "late".getBytes) }
    intercept[IllegalStateException] { db.get(Query("close.test")) }
    val db2 = UnitDb.open(spark, dir, clock = () => now)
    assert(db2.get(Query("close.test")).map(new String(_)).toSeq == Seq("pending"))
  }

  test("parquet footers carry bloom filters on seq and topic (O20)") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 500) { db.put(s"bloom.t${i % 7}", s"x.$i".getBytes); tick(100) }
    db.sync()
    val files = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(db.path))
    }
    assert(files.nonEmpty)
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.getAbsolutePath), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val byName = cols.asScala.map(c => c.getPath.toDotString -> c).toMap
      // seq is high-cardinality → a real bloom must be present
      assert(byName("seq").getBloomFilterOffset >= 0, "seq bloom missing")
      // topic: parquet-mr drops the bloom when the chunk stays fully
      // dictionary-encoded (the dictionary IS an exact filter); either
      // state gives negative-lookup skipping
      val topic = byName("topic")
      assert(topic.getBloomFilterOffset >= 0 ||
        (topic.getEncodingStats != null &&
          !topic.getEncodingStats.hasNonDictionaryEncodedPages),
        "topic has neither bloom nor full dictionary encoding")
      // payload intentionally has no bloom
      assert(byName("payload").getBloomFilterOffset < 0)
    } finally reader.close()
  }

  test("autoFlush: pending buffer syncs itself at the threshold") {
    val dir = Files.createTempDirectory("graftdb").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now, autoFlushRows = 10)
    for (i <- 1 to 25) { db.put("af.test", s"f.$i".getBytes); now += 100 }
    // 2 automatic syncs at 10 and 20; 5 rows still pending — all visible
    assert(db.varz().syncs == 2)
    assert(db.get(Query("af.test")).length == 25)
    // reopen sees only the synced 20 (pending was volatile by contract)
    val db2 = UnitDb.open(spark, dir, clock = () => now)
    assert(db2.get(Query("af.test")).length == 20)
  }

  test("concurrent puts from many threads all land with unique seqs") {
    val (db, _, _) = freshDb()
    val threads = (1 to 8).map { t =>
      new Thread(() => {
        for (i <- 1 to 50) db.put(s"conc.t$t", s"$t.$i".getBytes)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    db.sync()
    assert(db.count() == 400)
    val seqs = db.snapshot().select("seq").collect().map(_.getLong(0))
    assert(seqs.distinct.length == 400, "seqs must be unique under contention")
    for (t <- 1 to 8)
      assert(db.get(Query(s"conc.t$t")).length == 50)
  }

  test("concurrent puts during sync: exactly-once rows, no loss, no dup") {
    val (db, _, tick) = freshDb()
    // writers race flushes: 4 put threads + a sync thread hammering the
    // flush path; every row must land exactly once whatever interleaving
    // of buffer-append, snapshot-to-flushing, and parquet commit occurs
    val writers = (1 to 4).map { w =>
      val t = new Thread(() => {
        for (i <- 1 to 500) db.put(s"flush.race.t$w", s"$w-$i".getBytes)
      })
      t.start(); t
    }
    val syncer = new Thread(() => for (_ <- 1 to 20) { db.sync(); Thread.sleep(1) })
    syncer.start()
    // concurrent readers: every snapshot taken mid-flush must be
    // exactly-once-consistent (never above the written total, never
    // shrinking within a thread — a row seen can't unsee)
    val readerErr = new java.util.concurrent.atomic.AtomicReference[String]()
    val readers = (1 to 2).map { _ =>
      val t = new Thread(() => {
        var prev = 0L
        for (_ <- 1 to 8) {
          val c = db.count()
          if (c > 2000L) readerErr.compareAndSet(null, s"count overshot: $c")
          if (c < prev) readerErr.compareAndSet(null, s"count shrank: $prev -> $c")
          prev = c
        }
      })
      t.start(); t
    }
    writers.foreach(_.join()); syncer.join(); readers.foreach(_.join())
    assert(readerErr.get() == null, s"reader saw: ${readerErr.get()}")
    db.sync()
    tick(1000)
    assert(db.count() == 2000L)
    val got = db.scanFrame(Query("flush.race.*"))
      .select("payload").collect().map(r => new String(r.getAs[Array[Byte]](0)))
    assert(got.length == 2000 && got.toSet.size == 2000,
      s"expected 2000 distinct payloads, got ${got.length}/${got.toSet.size}")
  }

  test("varz metrics: puts/gets/deletes/syncs/bytes counters + fileSize") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 10) { db.put("varz.test", ("v" * 10).getBytes); tick(100) }
    db.sync()
    val read = db.get(Query("varz.test"))
    db.delete(1L, "varz.test")
    val v = db.varz()
    assert(v.puts == 10 && v.deletes == 1 && v.syncs == 1)
    assert(v.gets >= 1 && v.entriesRead == read.length.toLong)
    assert(v.bytesWritten == 100L && v.bytesRead == 100L)
    assert(v.fileSize > 0L, "store has bytes on disk")
  }

  test("varz metrics: latency percentiles populate after a put/get burst") {
    val (db, _, tick) = freshDb()
    for (_ <- 1 to 20) { db.put("varz.lat", "x".getBytes); tick(10) }
    db.sync()
    for (_ <- 1 to 3) db.get(Query("varz.lat"))
    val lat = db.varz().latency
    assert(lat.samples == 24, s"20 puts + 1 sync + 3 gets, got ${lat.samples}")
    assert(lat.p50Us > 0 && lat.p99Us >= lat.p50Us && lat.maxUs >= lat.p999Us)
    assert(lat.minUs <= lat.p50Us && lat.hmeanUs > 0)
    assert(lat.long5pUs >= lat.short5pUs)
    // sub-ms puts and multi-ms Spark-job gets must not collapse into one
    // indistinguishable number — the p50 (a put) sits far below the max
    // (a get); this is the signal the percentile block exists to carry
    assert(lat.maxUs > lat.p50Us)
  }

  test("varz metrics: aborts count failed batches; recovers reports crash repair") {
    val (db, _, _) = freshDb()
    intercept[RuntimeException] {
      db.batch { b =>
        b.put("ab.t", "x".getBytes)
        throw new RuntimeException("boom")
      }
    }
    assert(db.varz().aborts == 1L && db.varz().recovers == 0L)
    // a leftover .compact.tmp staging dir is a crash window the swap
    // protocol repairs at open — the reopened store reports it
    db.put("ab.t", "y".getBytes); db.sync(); db.close()
    val staging = new java.io.File(db.path + ".compact.tmp")
    assert(staging.mkdirs())
    val db2 = UnitDb.open(spark, db.path)
    assert(db2.varz().recovers == 1L && !staging.exists())
    db2.close()
  }

  test("LatencyMeter: exact nearest-rank stats, bounded reservoir") {
    val m = new graft.engine.LatencyMeter(capacity = 8)
    // 1..8 µs in ns
    for (v <- 1 to 8) m.observe(v * 1000L)
    val s = m.snapshot()
    assert(s.samples == 8 && s.minUs == 1.0 && s.maxUs == 8.0)
    assert(s.p50Us == 4.0 && s.p75Us == 6.0 && s.p999Us == 8.0)
    assert(s.long5pUs == 8.0 && s.short5pUs == 1.0)
    // ring wraps: 8 more observations evict the first 8 entirely
    for (v <- 11 to 18) m.observe(v * 1000L)
    val s2 = m.snapshot()
    assert(m.count == 16 && s2.samples == 8)
    assert(s2.minUs == 11.0 && s2.maxUs == 18.0 && s2.p50Us == 14.0)
    // empty meter is all zeros, not NaN
    val e = new graft.engine.LatencyMeter().snapshot()
    assert(e.samples == 0 && e.p50Us == 0.0 && e.stddevUs == 0.0)
  }

  test("varz metrics: per-face put/get/sync latency blocks are independent") {
    val (db, _, tick) = freshDb()
    for (_ <- 1 to 20) { db.put("varz.face", "x".getBytes); tick(10) }
    db.sync()
    for (_ <- 1 to 3) db.get(Query("varz.face"))
    val v = db.varz()
    assert(v.putLatency.samples == 20, s"puts: ${v.putLatency.samples}")
    assert(v.syncLatency.samples == 1, s"syncs: ${v.syncLatency.samples}")
    assert(v.getLatency.samples == 3, s"gets: ${v.getLatency.samples}")
    // the combined reservoir (the reference's single TimeSeries) stays
    assert(v.latency.samples == 24)
    // a Spark-job get is orders slower than a buffer-append put — the
    // split faces expose that where the combined block necessarily
    // dilutes it (reference meters faces separately, meter.go:29-43)
    assert(v.getLatency.p50Us > v.putLatency.p50Us)
    assert(v.putLatency.maxUs <= v.latency.maxUs)
  }

  test("close: a put racing close either flushes or throws — never lost") {
    // ADVICE r9 (UnitDb.scala:594): a put landing between close()'s final
    // sync snapshot and the closed flag returned success but was never
    // flushed. The fix flips the flag under the put path's monitor BEFORE
    // the final sync, so success now implies durability. Hammer the
    // window: writers race a close; afterwards every ACCEPTED put must be
    // readable from a reopened store.
    val dir = Files.createTempDirectory("graft_close_race").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val accepted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        start.await()
        var i = 0
        var open = true
        while (open && i < 500) {
          val id = w * 1000 + i
          try {
            db.putEntry(Entry("race.close", s"p$id".getBytes))
            accepted.add(id): Unit
          } catch { case _: IllegalStateException => open = false }
          i += 1
        }
      }, s"race-writer-$w")
    }
    writers.foreach(_.start())
    start.countDown()
    Thread.sleep(20) // let the writers get going mid-stream
    db.close()
    writers.foreach(_.join(30000))
    val db2 = UnitDb.open(spark, dir)
    try {
      val stored = db2.get(Query("race.close", limit = 100000))
        .map(new String(_)).toSet
      val acceptedIds = {
        val it = accepted.iterator(); val b = Set.newBuilder[Int]
        while (it.hasNext) b += it.next(); b.result()
      }
      val lost = acceptedIds.filterNot(id => stored.contains(s"p$id"))
      assert(lost.isEmpty,
        s"${lost.size} accepted puts missing after close (e.g. ${lost.take(5)})")
    } finally db2.close()
  }

  /** Spark jobs that `f` runs, counted by a listener once the bus drained. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    org.apache.spark.graftprobe.ListenerBusWait(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.graftprobe.ListenerBusWait(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("get is one Spark job: tombstones resolve on the driver, no exchange or join") {
    val (db, _, tick) = freshDb()
    for (i <- 1 to 12) { db.put(s"one.d${i % 3}.t", s"o.$i".getBytes); tick(1000) }
    db.put("one.*.t", "wild".getBytes) // stored wildcard: both union branches run
    db.sync()
    val rows = db.scanFrame(Query("one...")).collect()
    def seqOf(p: String) = rows.find(r =>
      new String(r.getAs[Array[Byte]]("payload")) == p).get.getAs[Long]("seq")
    db.delete(seqOf("o.3"), "one.d0.t")
    db.delete(seqOf("o.6"), "one.d0.t")
    db.sync()                           // two synced tombstones
    db.delete(seqOf("o.9"), "one.d0.t") // and one pending
    val static = Query("one.d0.t")
    val wild = Query("one.*.t", limit = 100)
    // the first read after a sync re-reads the changed sidecar: one more job
    val (first, firstJobs) = jobsOf(db.get(static))
    assert(firstJobs == 2, s"sidecar refresh + scan, got $firstJobs jobs")
    assert(first.map(new String(_)).toSeq == Seq("wild", "o.12"))
    val (got, staticJobs) = jobsOf(db.get(static))
    assert(staticJobs == 1, s"static get ran $staticJobs jobs")
    assert(got.map(new String(_)).toSeq == Seq("wild", "o.12"))
    val (gotWild, wildJobs) = jobsOf(db.get(wild))
    assert(wildJobs == 1, s"wildcard get ran $wildJobs jobs")
    assert(gotWild.length == 10 && !gotWild.map(new String(_)).exists(Set("o.3", "o.6", "o.9")))

    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    for (q <- Seq(static, wild)) {
      val plan = db.getFrame(q).queryExecution.executedPlan
      val bad = helper.collectWithSubqueries(plan) {
        case e: Exchange => e.nodeName
        case j: BaseJoinExec => j.nodeName
      }
      assert(bad.isEmpty, s"$q plans ${bad.mkString(", ")}:\n$plan")
      val text = plan.toString
      assert(!text.contains("Exchange") && !text.contains("Join"), text)
      // the plan shows a key count, never the keys
      val shown = """not_tombstoned\(seq#\d+L?, topic#\d+, (\d+) keys\)""".r
        .findAllMatchIn(text).map(_.group(1).toInt).toSet
      assert(shown == Set(3), s"expected the 3-key summary in:\n$text")
    }
  }

  test("tombstone key cache follows every store change (in-memory model)") {
    import scala.collection.mutable
    val dir = Files.createTempDirectory("graftdb_model").toString + "/store"
    var now = 1700000000000L
    var db = UnitDb.open(spark, dir, clock = () => now)
    final case class M(seq: Long, topic: String, contract: Long, ts: Long,
        expires: Option[Long], payload: String, var deleted: Boolean = false) {
      def live: Boolean = !deleted && expires.forall(_ > now)
    }
    val model = mutable.ArrayBuffer[M]()
    val C2 = 77L
    var k = 0
    def put(topic: String, contract: Long = Message.MasterContract,
        ttl: Option[Long] = None): M = {
      k += 1
      val p = s"v$k"
      val id = db.putEntry(Entry(topic, p.getBytes, contract, ttl))
      val m = M(graft.model.MessageId.decode(id)._3, topic, contract, now,
        ttl.map(now + _), p)
      model += m; now += 1000; m
    }
    def matches(m: M, pattern: String) =
      if (pattern.endsWith(".*")) m.topic.startsWith(pattern.dropRight(1))
      else m.topic == pattern
    def check(step: String): Unit = {
      for (c <- Seq(Message.MasterContract, C2);
           (pattern, limit) <- Seq("mdl.a" -> 0, "mdl.b" -> 0, "mdl.*" -> 0, "mdl.*" -> 3)) {
        val want = model.filter(m => m.contract == c && matches(m, pattern) && m.live)
          .sortBy(m => (-m.ts, -m.seq)).take(if (limit > 0) limit else 1000)
          .map(_.payload).toSeq
        val got = db.get(Query(pattern, c, limit)).map(new String(_)).toSeq
        assert(got == want, s"$step: get($pattern, $c, $limit)")
      }
      assert(db.count() == model.count(_.live), s"$step: count")
    }

    for (i <- 1 to 6) put(if (i % 2 == 0) "mdl.a" else "mdl.b")
    put("mdl.a", ttl = Some(30000L))
    put("mdl.a", C2); put("mdl.b", C2)
    db.sync()
    check("synced")
    // a pending delete of a pending put, and of a synced row
    val fresh = put("mdl.a")
    db.delete(fresh.seq, "mdl.a"); fresh.deleted = true
    val old = model.head
    db.delete(old.seq, old.topic); old.deleted = true
    check("pending tombstones")
    db.sync()
    check("sidecar file set changed")
    // a wrong-topic delete is a no-op, pending and synced
    val target = model.find(m => m.topic == "mdl.a" && m.live).get
    db.delete(target.seq, "mdl.b")
    check("wrong-topic delete pending")
    db.sync()
    check("wrong-topic delete synced")
    // the second contract's keys are its own
    val c2 = model.find(m => m.contract == C2 && m.topic == "mdl.a").get
    db.delete(c2.seq, "mdl.a", C2); c2.deleted = true
    db.sync()
    check("second contract delete")
    val swept = db.deleteMatching(Query("mdl.b"))
    val sweptModel = model.filter(m => m.contract == Message.MasterContract &&
      m.topic == "mdl.b" && m.live)
    sweptModel.foreach(_.deleted = true)
    assert(swept == sweptModel.size.toLong)
    check("deleteMatching")
    now += 60000L // the TTL row expires
    check("expiry")
    for (_ <- 1 to 3) { put("mdl.a"); db.sync() }
    assert(db.compact(minFiles = 2) > 0)
    assert(Files.exists(java.nio.file.Paths.get(dir, "_tombstones")))
    check("compact keeps the sidecar")
    db.vacuum()
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_tombstones")))
    check("vacuum consumed the sidecar")
    val again = model.find(m => m.topic == "mdl.a" && m.live).get
    db.delete(again.seq, "mdl.a"); again.deleted = true
    db.sync()
    check("delete after vacuum")
    db.close()
    db = UnitDb.open(spark, dir, clock = () => now)
    check("reopened")
    put("mdl.b"); db.sync()
    check("reopened, written")
    db.close()
  }
}
