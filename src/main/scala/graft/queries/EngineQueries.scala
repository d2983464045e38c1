package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.engine.UnitDb
import graft.model.Query
import graft.queries.QUtil._
import graft.streaming.StreamIngest

/** End-to-end engine coverage through the oracle gate (VERDICT r1 #5): the
  * m1–m6 queries prove the *semantics* on the raw events table; this one
  * drives the actual store — Structured Streaming ingest (S1) of the
  * events stream into a fresh UnitDb, then the core read path (O4 get:
  * wildcard match + pruned scan + `not_tombstoned` filter + top-K) — and is
  * hash-compared against DuckDB over the same source rows.
  *
  * Determinism: payloads carry the event_id, timestamps come from the
  * source (second-truncated on output), and seqs never reach the output,
  * so the result is stable across runs/partitionings.
  */
object EngineQueries {

  val queries: Map[String, QFn] = Map(
    "s1_engine_roundtrip" -> { (s, dir) =>
      val base = Files.createTempDirectory("graft_s1").toString
      val db = UnitDb.open(s, base + "/store")
      // eventsStream adapts to the file's physical ts encoding (ns or µs
      // — see graft.Tables) and hands us a canonical µs TIMESTAMP
      val src = graft.Tables.eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(
          concat(lit("ev."), col("event_type"), lit(".u"),
            (col("user_id") % 10).cast("string")).as("topic"),
          col("event_id").cast("string").cast("binary").as("payload"),
          col("ts"))
      val q = StreamIngest.start(db, src, base + "/ckpt",
        queryName = "s1", trigger = Trigger.AvailableNow())
      q.awaitTermination()
      // scanFrame, not getFrame: the read-back must cover the FULL subset
      // at any sf — getFrame's MaxLimit clamp silently truncated the sf1
      // bench read at 100k rows (r3 VERDICT #4)
      db.scanFrame(Query("ev.click..."))
        .select(col("topic"), tsec(col("ts")).as("t"),
          col("payload").cast("string").as("eid"))
        .orderBy(desc("t"), desc("eid"))
    },

    // O21 through the oracle gate: the purchase subset is ingested with
    // encrypt=true (AES-GCM ciphertext at rest — nondeterministic IVs, so
    // the *store bytes* can't be oracle-compared), then read back through
    // the decrypting read path; the decrypted payloads must reproduce the
    // source rows bit-for-bit.
    "s2_engine_encrypted" -> { (s, dir) =>
      val base = Files.createTempDirectory("graft_s2").toString
      val db = UnitDb.open(s, base + "/store",
        encryptionKey = Some("0123456789abcdef".getBytes))
      val src = graft.Tables.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(
          concat(lit("enc.u"), (col("user_id") % 10).cast("string")).as("topic"),
          col("event_id").cast("string").cast("binary").as("payload"),
          col("ts"),
          lit(true).as("encrypt"))
      val q = StreamIngest.start(db, src, base + "/ckpt",
        queryName = "s2", trigger = Trigger.AvailableNow())
      q.awaitTermination()
      db.scanFrame(Query("enc..."))
        .select(col("topic"), tsec(col("ts")).as("t"),
          col("payload").cast("string").as("eid"))
        .orderBy(desc("t"), desc("eid"))
    },

    // O21's reference-parity twin: the same encrypted round-trip with the
    // ChaCha20-Poly1305 codec (the reference crypto/mac.go envelope,
    // wire-compatible — see ChaChaMacUtil) instead of AES-GCM. Same
    // oracle: at-rest bytes differ, decrypted reads must not.
    "s2b_engine_chacha" -> { (s, dir) =>
      val base = Files.createTempDirectory("graft_s2b").toString
      val db = UnitDb.open(s, base + "/store",
        encryptionKey = Some(("0123456789abcdef" * 2).getBytes),
        cipher = graft.engine.ChaCha20Poly1305)
      val src = graft.Tables.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(
          concat(lit("ccp.u"), (col("user_id") % 10).cast("string")).as("topic"),
          col("event_id").cast("string").cast("binary").as("payload"),
          col("ts"),
          lit(true).as("encrypt"))
      val q = StreamIngest.start(db, src, base + "/ckpt",
        queryName = "s2b", trigger = Trigger.AvailableNow())
      q.awaitTermination()
      db.scanFrame(Query("ccp..."))
        .select(col("topic"), tsec(col("ts")).as("t"),
          col("payload").cast("string").as("eid"))
        .orderBy(desc("t"), desc("eid"))
    },

    // The store and the curation pipeline as ONE system (s3): documents
    // are ingested into a fresh UnitDb as messages (topic encodes
    // source + shard, payload carries id|text), read back through the
    // wildcard scan path, and the l1 bag-of-words exact dedup runs on
    // the PAYLOADS — so the oracle (the same dedup stated over the
    // source table) re-proves payload integrity end-to-end: any byte
    // the store loses or mangles changes a fingerprint and fails the
    // hash compare. This is the reference's actual usage shape: the
    // store is where the corpus lives; the pipeline reads FROM it.
    "s3_store_curate" -> { (s, dir) =>
      val base = Files.createTempDirectory("graft_s3").toString
      val db = UnitDb.open(s, base + "/store")
      val src = graft.Tables.stream(s, dir, "documents")
        .select(
          concat(lit("doc."), col("source"), lit("."),
            (col("doc_id") % 10).cast("string")).as("topic"),
          concat(col("doc_id").cast("string"), lit("|"), col("text"))
            .cast("binary").as("payload"))
      val q = StreamIngest.start(db, src, base + "/ckpt",
        queryName = "s3", trigger = Trigger.AvailableNow())
      q.awaitTermination()
      val back = db.scanFrame(Query("doc..."))
        .select(col("payload").cast("string").as("p"))
        .select(
          substring_index(col("p"), "|", 1).cast("long").as("doc_id"),
          expr("substring(p, length(substring_index(p, '|', 1)) + 2)")
            .as("text"))
      graft.llm.TextDedup.exactDedup(back)
    },

    // The store as a streaming SOURCE (s4): the 'view' subset is ingested
    // into a fresh store, then read OUT through `UnitDb.tail` — a
    // Structured Streaming query over the store directory itself (the
    // CDC / live-relay face: a second process follows a store it does
    // not write). The oracle over the source table proves the tailed
    // stream delivers exactly the store's live content — same topic
    // match, decrypt, and payload bytes as the batch scan path.
    "s4_store_tail" -> { (s, dir) =>
      val base = Files.createTempDirectory("graft_s4").toString
      val db = UnitDb.open(s, base + "/store")
      val src = graft.Tables.eventsStream(s, dir)
        .filter(col("event_type") === "view")
        .select(
          concat(lit("tl.u"), (col("user_id") % 10).cast("string")).as("topic"),
          col("event_id").cast("string").cast("binary").as("payload"),
          col("ts"))
      val in = StreamIngest.start(db, src, base + "/ckpt_in",
        queryName = "s4in", trigger = Trigger.AvailableNow())
      in.awaitTermination()
      // parquet sink, NOT the memory sink: s4 is the one streaming gate
      // that passes raw rows through (every other memory-sink gate emits
      // gate-small aggregates), and the memory sink materializes every
      // row on the driver — at the ×1000 cast it shipped ~1 GiB of task
      // results and died on spark.driver.maxResultSize (the r16 cast's
      // second catch). The file sink keeps the tail distributed; the
      // read-back is the same rows under the same oracle.
      val out = db.tail(Query("tl..."))
        .select(col("topic"), tsec(col("ts")).as("t"),
          col("payload").cast("string").as("eid"))
        .writeStream.format("parquet")
        .option("path", base + "/tail_out")
        .outputMode("append")
        .option("checkpointLocation", base + "/ckpt_tail")
        .trigger(Trigger.AvailableNow())
        .start()
      out.awaitTermination()
      s.read.parquet(base + "/tail_out").orderBy(desc("t"), desc("eid"))
    },

    // Time travel through the oracle gate (s5): clicks are ingested and
    // vacuum() commits them as a retained manifest generation; views are
    // then appended to the LIVE generation. `scanAsOf` the committed
    // snapshot must return exactly the clicks — the file set comes from
    // the commit-time audit manifest, so the later appends are invisible
    // even though they share the generation directory. A snapshot read
    // that leaked live files would surface the views and fail the hash.
    "s5_snapshot_read" -> { (s, dir) =>
      val base = Files.createTempDirectory("graft_s5").toString
      val db = UnitDb.open(s, base + "/store",
        commitProtocol = graft.engine.ManifestCommit.retained(3))
      def ingest(kind: String, ckpt: String) = {
        val src = graft.Tables.eventsStream(s, dir)
          .filter(col("event_type") === kind)
          .select(
            concat(lit("sn."), col("event_type"), lit(".u"),
              (col("user_id") % 10).cast("string")).as("topic"),
            col("event_id").cast("string").cast("binary").as("payload"),
            col("ts"))
        StreamIngest.start(db, src, base + ckpt,
          queryName = s"s5$kind", trigger = Trigger.AvailableNow())
          .awaitTermination()
      }
      ingest("click", "/ckpt1")
      db.vacuum() // commit: the click set becomes snapshot g00000001
      ingest("view", "/ckpt2") // appended to the LIVE generation only
      val snap = db.snapshots.head
      db.scanAsOf(snap)
        .select(col("topic"), tsec(col("ts")).as("t"),
          col("payload").cast("string").as("eid"))
        .orderBy(desc("t"), desc("eid"))
    },

    // Bulk-erasure sweep through the oracle gate (s6): clicks are
    // ingested, one user bucket's whole topic subtree is tombstoned by
    // QUERY (`deleteMatching` — distributed tombstone append, no
    // driver-side seq list), vacuum physically reclaims it, and the
    // wildcard read-back must show exactly the survivors. Deleting via
    // the u3 bucket and reading via `fg...` proves the sweep is scoped
    // by pattern match, not by scan coincidence; running vacuum before
    // the read proves erasure survives the physical rewrite (the GDPR
    // requirement: data gone from storage, not just filtered).
    "s6_forget_sweep" -> { (s, dir) =>
      val base = Files.createTempDirectory("graft_s6").toString
      val db = UnitDb.open(s, base + "/store")
      val src = graft.Tables.eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(
          concat(lit("fg.u"), (col("user_id") % 10).cast("string")).as("topic"),
          col("event_id").cast("string").cast("binary").as("payload"),
          col("ts"))
      StreamIngest.start(db, src, base + "/ckpt",
        queryName = "s6", trigger = Trigger.AvailableNow())
        .awaitTermination()
      db.deleteMatching(Query("fg.u3"))
      db.vacuum()
      db.scanFrame(Query("fg..."))
        .select(col("topic"), tsec(col("ts")).as("t"),
          col("payload").cast("string").as("eid"))
        .orderBy(desc("t"), desc("eid"))
    }
  )

  val oracles: Map[String, String] = Map(
    "s1_engine_roundtrip" ->
      s"""SELECT 'ev.' || event_type || '.u' || CAST(user_id % 10 AS VARCHAR) AS topic,
        |  ${duckTsec("ts")} AS t, CAST(event_id AS VARCHAR) AS eid
        |FROM events WHERE event_type = 'click'
        |ORDER BY t DESC, eid DESC""".stripMargin,

    "s2_engine_encrypted" ->
      s"""SELECT 'enc.u' || CAST(user_id % 10 AS VARCHAR) AS topic,
        |  ${duckTsec("ts")} AS t, CAST(event_id AS VARCHAR) AS eid
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY t DESC, eid DESC""".stripMargin,

    "s2b_engine_chacha" ->
      s"""SELECT 'ccp.u' || CAST(user_id % 10 AS VARCHAR) AS topic,
        |  ${duckTsec("ts")} AS t, CAST(event_id AS VARCHAR) AS eid
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY t DESC, eid DESC""".stripMargin,

    // the l1 dedup stated over the SOURCE table: equality proves the
    // store round-trip preserved every payload byte
    "s3_store_curate" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin,

    // the tailed stream must deliver exactly the live store content
    "s4_store_tail" ->
      s"""SELECT 'tl.u' || CAST(user_id % 10 AS VARCHAR) AS topic,
        |  ${duckTsec("ts")} AS t, CAST(event_id AS VARCHAR) AS eid
        |FROM events WHERE event_type = 'view'
        |ORDER BY t DESC, eid DESC""".stripMargin,

    // the snapshot is the click commit — the views appended to the live
    // generation afterwards must NOT appear
    "s5_snapshot_read" ->
      s"""SELECT 'sn.' || event_type || '.u' || CAST(user_id % 10 AS VARCHAR)
        |    AS topic,
        |  ${duckTsec("ts")} AS t, CAST(event_id AS VARCHAR) AS eid
        |FROM events WHERE event_type = 'click'
        |ORDER BY t DESC, eid DESC""".stripMargin,

    // the erased bucket must be gone, everything else intact
    "s6_forget_sweep" ->
      s"""SELECT 'fg.u' || CAST(user_id % 10 AS VARCHAR) AS topic,
        |  ${duckTsec("ts")} AS t, CAST(event_id AS VARCHAR) AS eid
        |FROM events WHERE event_type = 'click' AND user_id % 10 <> 3
        |ORDER BY t DESC, eid DESC""".stripMargin
  )
}
