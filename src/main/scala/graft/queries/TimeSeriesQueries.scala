package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QUtil._

/** Time-series windowed aggregations over event time (BASELINE.json names
  * these; the reference's 1-second ingest "time blocks",
  * memdb/tiny_log.go:122-128, are its only window notion — tumbling /
  * sliding / session windows are the Spark-native generalization).
  *
  * The same `window()`/`session_window()` expressions run unchanged under
  * Structured Streaming with a watermark (proved by StreamingSpec); these
  * batch faces are the oracle-checked correctness gate. Window starts are
  * emitted as epoch seconds (BIGINT) so the DuckDB comparison is
  * timezone-free.
  *
  *  - m7_tumbling : 5-minute tumbling count/sum per event_type
  *  - m8_sliding  : 10-minute windows sliding every 5 (each row in exactly
  *                  2 windows — the oracle reproduces the grid with an
  *                  offset cross join)
  *  - m9_session  : 30-minute-gap sessions per user (the engine analogue
  *                  of q10's log sessionization, computed by
  *                  `session_window` instead of a lag/cumsum window)
  *  - q12_asof    : as-of join — latest prior purchase per click, via
  *                  [[graft.operators.AsOfJoin]] (DuckDB ASOF JOIN oracle)
  */
object TimeSeriesQueries {

  /** Second-granularity event time on both engines (see QUtil doc). */
  private def tsSec = timestamp_seconds(tsec(col("ts")))

  val queries: Map[String, QFn] = Map(
    "m7_tumbling" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(tsec(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    },

    "m8_sliding" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(tsec(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    },

    // session_window computes on event time directly; truncate to seconds
    // first so gap decisions agree with the second-granularity oracle.
    "m9_session" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(tsSec, "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(col("user_id"), tsec(col("w.start")).as("s_start"),
          tsec(col("w.end")).as("s_end"), col("n"), col("sum_value"))
        .orderBy("user_id", "s_start")
    },

    // As-of join (q12): each click picks up the latest prior purchase
    // value of the same user — the canonical temporal enrichment (quotes
    // to trades, config to metrics). Times are microsecond epoch longs on
    // both sides: unix_micros over the canonical ts matches DuckDB's
    // epoch_us exactly. The purchase side is pre-aggregated per (user, t)
    // because as-of semantics need a unique right row per instant (see
    // AsOfJoin contract). Plan shape pinned: one exchange on user_id, no
    // nested-loop join.
    "q12_asof" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("t", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "t")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "t").agg(max("value").as("pval"))
      graft.operators.AsOfJoin.backward(
          clicks, purchases, Seq("user_id"),
          leftTime = "t", rightTime = "t", rightVals = Seq("pval"))
        .select(col("event_id"), col("user_id"), col("t"),
          col("pval").as("last_purchase"))
        .orderBy("event_id")
    },

    // Resample + gap-fill (m11): hourly per-user value sums aligned onto
    // the dense global hour grid, gaps LOCF-filled — the TSDB
    // "resample + fill(previous)" (see [[graft.operators.Resample]] for
    // the 100 TB shape: broadcast grid, distributed series side, one
    // window per series). Sums go through exact decimals so the filled
    // doubles carry bit-identically; counts zero-fill (a silent hour has
    // n = 0, not the carried count). user_id < 20 keeps the series set
    // fixed across scale factors.
    "m11_resample" -> { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .withColumn("h", expr("unix_timestamp(ts) div 3600 * 3600"))
        .groupBy("user_id", "h")
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("v"))
      graft.operators.Resample
        .gridLocf(hourly, Seq("user_id"), "h", Seq("v"), 3600L,
          zeroCols = Seq("n"))
        .select("user_id", "h", "n", "v", "filled")
        .orderBy("user_id", "h")
    },

    // Per-series derivative (m12): monitoring rate()/delta() over the
    // (user, event_type) gauge series — change in value/time since the
    // series' previous observation and the per-second rate. Times are µs
    // epoch longs (ns div 1000, matching DuckDB epoch_us); value deltas
    // and the single IEEE multiply/divide are bit-identical engine-free
    // arithmetic. user_id < 50 bounds output while covering many series.
    "m12_rate" -> { (s, dir) =>
      val pts = Tables.events(s, dir)
        .filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("value"))
      graft.operators.Resample
        .rate(pts, Seq("user_id", "event_type"), "t", "value",
          tiebreak = "event_id")
        .select("event_id", "user_id", "event_type", "t", "dv", "dt", "rate")
        .orderBy("user_id", "event_type", "t", "event_id")
    },

    // Streaming sessionization (m13): the SAME session_window expression
    // as m9, but actually executed BY Structured Streaming — file source,
    // complete-mode state, memory sink — and hash-compared against the
    // batch oracle: the streaming engine itself goes through the
    // correctness gate, not just its batch twin. Complete mode holds all
    // sessions in state (fine for the gate; a production continuous run
    // uses append + watermark, StreamingSpec's shape). user_id < 40
    // bounds state and output across scale factors.
    // the streaming gates run under 8-way state partitioning
    // (QUtil.withStreamParts): a stateful query spins up one state
    // store per operator per shuffle partition per batch, and at gate
    // scale near-empty 32-way shards are most of the wall (measured on
    // m21: 9.6 -> 5.4 s, 59 -> 23 CPU-s)
    "m13_stream_session" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 40)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val agged = src
        .groupBy(session_window(col("tsec"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(col("user_id"), tsec(col("w.start")).as("s_start"),
          tsec(col("w.end")).as("s_end"), col("n"), col("sum_value"))
      val q = agged.writeStream.format("memory").queryName("m13_sess")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m13_sess").orderBy("user_id", "s_start")
    } },

    // STREAMING dynamic-gap sessions: m39's per-event gap expression
    // executed BY the streaming engine (the session-merge state machine
    // must track per-member ends, not one constant horizon — the state
    // shape the static m13 never exercises) and hash-compared to the
    // batch running-max-end oracle. user_id < 40 bounds state like m13.
    "m40_stream_dynamic_session" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val gap = when(col("event_type") === "purchase", "60 minutes")
        .otherwise("30 minutes")
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 40)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val agged = src
        .groupBy(session_window(col("tsec"), gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(col("user_id"), tsec(col("w.start")).as("s_start"),
          tsec(col("w.end")).as("s_end"), col("n"), col("sum_value"))
      val q = agged.writeStream.format("memory").queryName("m40_dsess")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m40_dsess").orderBy("user_id", "s_start")
    } },

    // STREAMING tumbling windows through the oracle gate: m7's windowed
    // aggregate executed BY Structured Streaming (file source →
    // complete-mode window state → memory sink, AvailableNow) and
    // hash-compared to the DuckDB batch result — completing the
    // streaming-verified family (m13 session, m14 dedup, s1/s2 ingest).
    // Complete mode is the gate face; a continuous run uses
    // append + watermark (StreamingSpec's shape).
    "m15_stream_tumbling" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val src = Tables.eventsStream(s, dir)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val agged = src
        .groupBy(window(col("tsec"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(tsec(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
      val q = agged.writeStream.format("memory").queryName("m15_tumb")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m15_tumb").orderBy("w_start", "event_type")
    } },

    // STREAMING sliding windows through the oracle gate: m8's overlapping
    // 10-minute/5-minute windows run BY the streaming engine — the state
    // shape tumbling can't exercise (every event lives in TWO window
    // states at once).
    "m16_stream_sliding" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val src = Tables.eventsStream(s, dir)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val agged = src
        .groupBy(window(col("tsec"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(tsec(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
      val q = agged.writeStream.format("memory").queryName("m16_slide")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m16_slide").orderBy("w_start", "event_type")
    } },

    // STREAM-STREAM interval join through the oracle gate: each click
    // pairs with the same user's purchases in the preceding 2 hours —
    // two live streams joined BY the streaming engine (watermarked state
    // both sides, append mode), hash-compared to the batch join. This is
    // the join state machine none of the windowed gates exercise: each
    // side buffers rows in keyed state until the other side's watermark
    // passes the interval bound. Inner joins emit on match, so results
    // are batch-split-invariant (a match never waits for eviction);
    // user_id < 30 bounds the pair volume across scale factors.
    "m17_stream_join" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 30)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("c_tsec"))
        .withWatermark("c_tsec", "4 hours")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("tsec").as("p_tsec"),
          col("value").as("purchase_value"))
        .withWatermark("p_tsec", "4 hours")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("p_tsec") >= col("c_tsec") - expr("INTERVAL 2 HOURS") &&
          col("p_tsec") <= col("c_tsec"))
        .select(col("click_id"), col("user_id"),
          tsec(col("c_tsec")).as("click_t"), col("purchase_id"),
          tsec(col("p_tsec")).as("purchase_t"), col("purchase_value"))
      val q = joined.writeStream.format("memory").queryName("m17_join")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m17_join").orderBy("click_id", "purchase_id")
    } },

    // LEFT-SEMI stream-stream join: "clicks that converted" — the
    // existence face of the join state machine, completing the family
    // (m17 inner = emit every pair, m21 outer = emit null on eviction,
    // semi = emit the LEFT ROW once on first match, then drop its
    // state). Output is click rows only — no purchase columns, no pair
    // multiplicity — so the result is the SET of converted clicks:
    // batch-split-invariant with no watermark cutoff needed (unmatched
    // clicks never emit, matched ones emit exactly once whichever batch
    // their purchase lands in). The oracle states it as EXISTS.
    "m30_stream_semi" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 30)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("c_tsec"))
        .withWatermark("c_tsec", "4 hours")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("tsec").as("p_tsec"))
        .withWatermark("p_tsec", "4 hours")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("p_tsec") >= col("c_tsec") - expr("INTERVAL 2 HOURS") &&
          col("p_tsec") <= col("c_tsec"), "left_semi")
        .select(col("click_id"), col("user_id"),
          tsec(col("c_tsec")).as("click_t"))
      val q = joined.writeStream.format("memory").queryName("m30_semi")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m30_semi").orderBy("click_id")
    } },

    // CUSTOM keyed state through the oracle gate: per-user running
    // profile (count, first/last seen, exact-decimal value sum) kept in
    // `flatMapGroupsWithState` — the arbitrary-state API every
    // reference-style stateful consumer (dedupe caches, per-key
    // counters, flow control) builds on, executed by the streaming
    // engine and hash-compared to the batch aggregate. Every fold is
    // commutative (count, min, max, exact BigDecimal sum), so the group
    // iterator's arbitrary order cannot change the answer; each batch
    // emits the running state and the batch-land max-n pick keeps the
    // final one, so the result is batch-split-invariant.
    "m18_stream_state" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      import s.implicits._
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 40)
        .select(col("user_id"), tsec(col("ts")).as("t"),
          dec2(col("value")).as("v"))
        .as[UserEvent]
      val q = userProfileStream(src).toDF().writeStream.format("memory")
        .queryName("m18_state")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      latestProfiles(s.table("m18_state")).orderBy("user_id")
    } },

    // STREAM-STATIC enrichment join through the oracle gate: the live
    // event stream joins a STATIC dimension (each user's all-time
    // purchase profile, read as a plain batch frame) — the production
    // "enrich the stream with the dim table" shape. The static side is
    // group-count-sized, so the streaming engine broadcasts it into
    // every micro-batch; no stream state at all (unlike m17), which is
    // why results are trivially batch-split-invariant. Left join keeps
    // users who never purchased (profile columns null) so the gate
    // checks the outer semantics too. user_id < 25 bounds output.
    "m19_stream_enrich" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val dim = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          asDouble(sum(dec2(col("value")))).as("purchase_total"))
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 25 && col("event_type") === "click")
        .select(col("event_id"), col("user_id"), tsec(col("ts")).as("t"))
      val enriched = src.join(broadcast(dim), Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"), col("t"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          col("purchase_total"))
      val q = enriched.writeStream.format("memory").queryName("m19_enrich")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m19_enrich").orderBy("event_id")
    } },

    // Rolling-window aggregates (m20): the TSDB moving average/min/max —
    // per (user, event_type) series, a trailing 7-observation frame.
    // Constant per-row state (the frame is row-count-bounded), ONE window
    // shuffle on the series key, zero joins (plan-pinned, the m12 shape).
    // The mean divides an exact-decimal frame sum by the frame count, so
    // the double is bit-identical on both engines even though the frame's
    // membership is position-dependent.
    "m20_moving_avg" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.events(s, dir)
        .filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("value"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("t"), col("event_id")).rowsBetween(-6, 0)
      pts
        .withColumn("mov_avg",
          asDouble(sum(dec2(col("value"))).over(w)) /
            count(lit(1)).over(w))
        .withColumn("mov_min", min("value").over(w))
        .withColumn("mov_max", max("value").over(w))
        .select("event_id", "user_id", "event_type", "t",
          "mov_avg", "mov_min", "mov_max")
        .orderBy("user_id", "event_type", "t", "event_id")
    },

    // Time-RANGE window frame (m22): trailing 10-minute count/sum per
    // user keyed by event TIME, not row position — m20's sibling for
    // irregular series where "last 7 rows" and "last 10 minutes" differ.
    // The frame is a value predicate (t ∈ [t−600, t]), so tied
    // timestamps share one well-defined frame regardless of row order —
    // RANGE is deterministic where a ROWS frame over ties would not be.
    // Same scale shape as m20: ONE window shuffle on the series key,
    // state bounded by the densest 10 minutes of one user, zero joins.
    "m22_range_frame" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), tsec(col("ts")).as("t"),
          col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("t"))
        .rangeBetween(-600, 0)
      pts
        .select(col("event_id"), col("user_id"), col("t"),
          count(lit(1)).over(w).as("n_10m"),
          asDouble(sum(dec2(col("value"))).over(w)).as("sum_10m"))
        .orderBy("user_id", "t", "event_id")
    },

    // Robust outlier detection (m23): per-series median + MAD (median
    // absolute deviation) — the monitoring face mean/stddev can't give
    // (one spike drags a mean; the median shrugs). Flags |x - med| >
    // 3 * 1.4826 * mad (the normal-consistency constant). Exactness:
    // percentile parity with quantile_cont is q7-proven only to ~1e-6
    // interpolation agreement, so BOTH engines round med/mad to 6
    // places BEFORE the threshold compare — the predicate then compares
    // bit-identical doubles and no boundary point can flip. Plan: three
    // linear partial-aggregated passes over events (med; mad given med;
    // flags given both), the type-count-sized stats broadcast onto each
    // scan — no window, no sort; exact MAD is inherently multi-pass.
    "m23_mad_outliers" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_type", "value")
      val med = ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
      // inner hint too: med's size estimate derives from the events
      // child, so an unhinted med-mad join could sort-merge at scale
      val stats = broadcast(broadcast(med).join(mad, "event_type"))
      ev.join(stats, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("med"), max(col("mad")).as("mad"),
          sum(when(abs(col("value") - col("med")) >
            lit(3) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },

    // Windowed exact distinct (m24): distinct users per hour per event
    // type — the distinct-aggregation face (Spark's two-shuffle
    // distinct-agg plan: partial on (window, type, user), then the
    // distinct count map-side-combines). l42's KMV is the approximate
    // scale path; this is the exact one, and at 100 TB the same plan
    // holds because the first shuffle key includes the user.
    "m24_window_distinct" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))
        .select(tsec(col("w.start")).as("w_start"), col("event_type"),
          col("n_users"), col("n"))
        .orderBy("w_start", "event_type")
    },

    // LEFT-OUTER stream-stream interval join through the oracle gate:
    // m17's click↔purchase pairing, but clicks with NO purchase in their
    // preceding 2 hours must ALSO emit (null purchase columns) — the
    // state-EVICTION face of the join state machine, which the inner
    // gate never exercises (inner emits on match; outer null rows emit
    // only when the watermark proves no future match can arrive and the
    // engine evicts the buffered click). Determinism: a null row for a
    // click near the end of the stream would depend on exactly where
    // the final watermark lands, so the gate keeps only clicks ≥ 12 h
    // older than the watermark source (least of the two sides' max
    // event times) — far below any eviction boundary (watermark delay
    // 4 h + join interval 2 h), so every kept click has provably
    // emitted, matched or null. The oracle mirrors the cutoff in SQL.
    "m21_stream_outer" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 30)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("c_tsec"))
        .withWatermark("c_tsec", "4 hours")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("tsec").as("p_tsec"),
          col("value").as("purchase_value"))
        .withWatermark("p_tsec", "4 hours")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("p_tsec") >= col("c_tsec") - expr("INTERVAL 2 HOURS") &&
          col("p_tsec") <= col("c_tsec"), "left_outer")
        .select(col("click_id"), col("user_id"),
          tsec(col("c_tsec")).as("click_t"), col("purchase_id"),
          tsec(col("p_tsec")).as("purchase_t"), col("purchase_value"))
      val q = joined.writeStream.format("memory").queryName("m21_outer")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // watermark-safe cutoff from the batch table (one agg row)
      val b = Tables.events(s, dir).filter(col("user_id") < 30)
        .agg(max(when(col("event_type") === "click", tsec(col("ts")))),
          max(when(col("event_type") === "purchase", tsec(col("ts")))))
        .head()
      // a one-sided corpus (no clicks or no purchases) never advances the
      // other watermark: nothing is provably emitted, and the oracle's
      // NULL cutoff keeps no rows either — return empty, don't NPE
      if (b.isNullAt(0) || b.isNullAt(1))
        s.table("m21_outer").filter(lit(false))
      else {
        val cutoff = math.min(b.getLong(0), b.getLong(1)) - 43200L
        s.table("m21_outer").filter(col("click_t") <= cutoff)
          .orderBy("click_id", "purchase_id")
      }
    } },

    // FULL-OUTER stream-stream interval join: the last member of the
    // join-state family (m17 inner / m21 left-outer / m30 left-semi) —
    // and the only one that exercises EVICTION ON BOTH STATE STORES:
    // unmatched clicks emit null-purchase rows AND unmatched purchases
    // emit null-click rows, each only when the opposite side's watermark
    // proves no match can arrive. Determinism: every row class is kept
    // only in the provably-emitted zone (each side's time ≤ 12 h below
    // the least per-side max event time — matched rows emit on match,
    // null rows emit on eviction; both far inside the cutoff). The
    // oracle mirrors the cutoff on both columns.
    "m31_stream_full_outer" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      val src = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 30)
        .withColumn("tsec", timestamp_seconds(tsec(col("ts"))))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("c_tsec"))
        .withWatermark("c_tsec", "4 hours")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("tsec").as("p_tsec"),
          col("value").as("purchase_value"))
        .withWatermark("p_tsec", "4 hours")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("p_tsec") >= col("c_tsec") - expr("INTERVAL 2 HOURS") &&
          col("p_tsec") <= col("c_tsec"), "full_outer")
        .select(col("click_id"),
          coalesce(col("user_id"), col("p_user")).as("uid"),
          tsec(col("c_tsec")).as("click_t"), col("purchase_id"),
          tsec(col("p_tsec")).as("purchase_t"), col("purchase_value"))
      val q = joined.writeStream.format("memory").queryName("m31_fo")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val b = Tables.events(s, dir).filter(col("user_id") < 30)
        .agg(max(when(col("event_type") === "click", tsec(col("ts")))),
          max(when(col("event_type") === "purchase", tsec(col("ts")))))
        .head()
      // one-sided corpus → no provable emissions (see m21's note)
      if (b.isNullAt(0) || b.isNullAt(1))
        s.table("m31_fo").filter(lit(false))
      else {
        val cutoff = math.min(b.getLong(0), b.getLong(1)) - 43200L
        s.table("m31_fo")
          .filter((col("click_t").isNull || col("click_t") <= cutoff) &&
            (col("purchase_t").isNull || col("purchase_t") <= cutoff))
          // null-free sort keys: Spark orders NULLS FIRST, DuckDB NULLS
          // LAST — a -1 sentinel (ids are >= 0) sorts identically in both
          .orderBy(coalesce(col("click_id"), lit(-1L)),
            coalesce(col("purchase_id"), lit(-1L)))
      }
    } },

    // Recursive CTE (q37, Spark 4.x WITH RECURSIVE): sessionization BY
    // RECURSION — session heads (gap > 30 min) seed the walk, each step
    // extends a walk row to its user's next event when the gap closes,
    // carrying the session_start label; the rollup must agree with the
    // lag/cumsum (q10) and session_window (m9) mechanisms. Each event has
    // exactly one predecessor path, so no row is reached twice; recursion
    // depth = max session length (Verify/Bench raise Spark's
    // cteRecursionLevelLimit to 10000 — the default 100 would cap dense
    // corpora; for truly unbounded sessions q10's cumsum and m9's
    // session_window are the constant-depth scale paths). Integer
    // times, count/min/max aggregates — no float seam.
    "q37_recursive" -> { (s, dir) =>
      Tables.events(s, dir).filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), tsec(col("ts")).as("t"))
        .createOrReplaceTempView("ev37")
      s.sql(
        """WITH RECURSIVE base AS (
          |  SELECT user_id, t,
          |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
          |    LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev_t
          |  FROM ev37),
          |walk AS (
          |  SELECT user_id, rn, t, t AS session_start
          |  FROM base WHERE prev_t IS NULL OR t - prev_t > 1800
          |  UNION ALL
          |  SELECT b.user_id, b.rn, b.t, w.session_start
          |  FROM base b JOIN walk w
          |    ON b.user_id = w.user_id AND b.rn = w.rn + 1
          |  WHERE b.t - b.prev_t <= 1800)
          |SELECT user_id, session_start, COUNT(*) AS n,
          |  MAX(t) AS session_end
          |FROM walk GROUP BY user_id, session_start
          |ORDER BY user_id, session_start""".stripMargin)
    },

    // Incremental JOIN-view maintenance (m32): m17's click↔purchase
    // interval join maintained as a materialized view under an append
    // batch — the old view plus `IncrementalAgg.deltaJoin`'s new pairs
    // (ΔA ⋈ B∪ΔB ∪ A ⋈ ΔB) must land EXACTLY on the full-recompute
    // oracle (the plain join over all rows). The split is deterministic
    // (event_id % 2); neither standing side is ever re-paired with the
    // other — the per-batch cost a 100 TB view pays is delta-sized.
    "m32_incr_join" -> { (s, dir) =>
      import graft.operators.IncrementalAgg
      val ev = Tables.events(s, dir).filter(col("user_id") < 30)
        .select(col("event_id"), col("user_id"), tsec(col("ts")).as("t"),
          col("event_type"), col("value"))
      def clicks(df: org.apache.spark.sql.DataFrame) = df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("t").as("click_t"))
      def purchases(df: org.apache.spark.sql.DataFrame) = df.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("t").as("purchase_t"),
          col("value").as("purchase_value"))
      def pair(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = a.join(b,
        col("user_id") === col("p_user") &&
        col("purchase_t") >= col("click_t") - 7200 &&
        col("purchase_t") <= col("click_t"))
      val base = ev.filter(col("event_id") % 2 === 0)
      val delta = ev.filter(col("event_id") % 2 === 1)
      val vOld = pair(clicks(base), purchases(base))
      val vNew = vOld.unionByName(IncrementalAgg.deltaJoin(
        clicks(base), clicks(delta), purchases(base), purchases(delta), pair))
      vNew.select(col("click_id"), col("user_id"), col("click_t"),
          col("purchase_id"), col("purchase_t"), col("purchase_value"))
        .orderBy("click_id", "purchase_id")
    },

    // Linear-interpolation gap fill (m25): m11's grid, but gaps take the
    // straight line between the surrounding observations instead of
    // carrying the last one — fill(linear) to m11's fill(previous).
    // Both directional windows ride ONE (user, hour) exchange; the
    // interpolation is integer bucket deltas + one IEEE divide/multiply/
    // add in fixed association, so DuckDB reproduces every bit.
    "m25_interp" -> { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .withColumn("h", expr("unix_timestamp(ts) div 3600 * 3600"))
        .groupBy("user_id", "h")
        .agg(asDouble(sum(dec2(col("value")))).as("v"))
      graft.operators.Resample
        .gridInterp(hourly, Seq("user_id"), "h", "v", 3600L)
        .select("user_id", "h", "v", "filled")
        .orderBy("user_id", "h")
    },

    // Per-series OLS trend (m26): least-squares slope of value vs time
    // per event_type, in ONE partial-aggregated shuffle — the five
    // sufficient statistics (n, Σx, Σy, Σxy, Σx²) map-side-combine, so a
    // billion-row series costs the same exchange as a count. Exactness:
    // x = whole hours since the corpus epoch, y = exact cents
    // (dec2·100), so every statistic and both slope terms
    // (n·Σxy − Σx·Σy, n·Σx² − (Σx)²) are INTEGERS — bit-identical in
    // both engines; slope itself is then one IEEE division of two
    // exactly-converted longs (< 2^53 at oracle scale), rounded at 9.
    "m26_trend" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("(unix_timestamp(ts) - 1704067200L) div 3600").as("x"),
        (dec2(col("value")) * 100).cast("long").as("y"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("var_n"))
        .withColumn("slope_cents_per_hour",
          round(col("cov_n").cast("double") / col("var_n").cast("double"), 9))
        .orderBy("event_type")
    },

    // Incremental rollup maintenance (m27): the (day, type) daily rollup
    // built as three batch-delta merges over a standing state table —
    // proving merge(merge(merge(∅,d₀),d₁),d₂) equals the oracle's one-shot
    // recompute. The batches split on event_id % 3, so each delta sees an
    // arbitrary interleaving of every group (the hostile case for any
    // order-dependent statistic).
    "m27_incr_rollup" -> { (s, dir) =>
      import graft.operators.IncrementalAgg
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("event_type"), expr("unix_timestamp(ts) div 86400").as("d"),
        col("value"))
      val keys = Seq("d", "event_type")
      val deltas = (0 until 3).map(i =>
        IncrementalAgg.delta(ev.filter(col("event_id") % 3 === i),
          keys, col("value")))
      deltas.tail.foldLeft(deltas.head)(IncrementalAgg.merge(_, _, keys))
        .select(col("d"), col("event_type"), col("n"),
          asDouble(col("sum_dec")).as("sum_value"),
          col("min_v").as("min_value"), col("max_v").as("max_value"))
        .orderBy("d", "event_type")
    },

    // m27's maintenance loop under Structured Streaming (m28): four
    // source files drive four REAL micro-batch merges (maxFilesPerTrigger
    // = 1), each committing a state generation behind a marker — the
    // crash-safe continuously-maintained rollup, read back from the
    // final committed generation and compared to the one-shot oracle.
    "m28_stream_rollup" -> { (s, dir) => QUtil.withStreamParts(s, 8) {
      import graft.operators.IncrementalAgg
      val base = stagingDir("m28")
      Tables.events(s, dir).select("event_type", "ts", "value")
        .repartition(4).write.parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
        .select(col("event_type"),
          expr("unix_timestamp(ts) div 86400").as("d"), col("value"))
      val q = IncrementalAgg.maintain(src, Seq("d", "event_type"),
        col("value"), s"$base/state", s"$base/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      IncrementalAgg.readState(s, s"$base/state")
        .select(col("d"), col("event_type"), col("n"),
          asDouble(col("sum_dec")).as("sum_value"),
          col("min_v").as("min_value"), col("max_v").as("max_value"))
        .orderBy("d", "event_type")
    } },

    // Streaming CDC apply (m29): the event stream as change images —
    // purchases are tombstones, everything else upserts — maintained as a
    // keyed latest-row table across four REAL micro-batch merges. The
    // version-argmax state algebra (KeyedUpsert doc) makes the final
    // table identical under ANY batch split, which is exactly what the
    // full-recompute oracle states.
    "m29_stream_upsert" -> { (s, dir) =>
      import graft.operators.KeyedUpsert
      val base = stagingDir("m29")
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(4).write.parquet(s"$base/src")
      val srcPq = s.read.parquet(s"$base/src")
      val schema = srcPq.schema
      // 8-way only while the change stream is gate-sized (m41's note)
      QUtil.withStreamPartsFor(s, 8, srcPq.count()) {
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
          .select(col("user_id"), tsec(col("ts")).as("t"),
            col("event_id").as("eid"), col("event_type"), col("value"),
            when(col("event_type") === "purchase", "delete")
              .otherwise("upsert").as("op"))
        val q = KeyedUpsert.maintain(src, "user_id", Seq("t", "eid"),
          s"$base/state", s"$base/ckpt",
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
      }
      KeyedUpsert.current(KeyedUpsert.readState(s, s"$base/state"))
        .select("user_id", "t", "eid", "event_type", "value")
        .orderBy("user_id")
    },

    // Seasonal profile (m38): the hour-of-day baseline next to m26's
    // trend and m23's robust outliers — per (series, hour) volume, mean,
    // and a hot-value audit. The anomaly predicate is the CROSS-MULTIPLIED
    // form value·n > 2·sum (value above twice the seasonal mean): exact
    // DECIMAL arithmetic on both sides, so no rounding seam anywhere —
    // the mean's one IEEE division exists only in the reported column.
    // One partial-aggregated shuffle on (type, hour) builds the profile
    // (24·|types| rows, broadcast back onto the scan); at 100 TB both
    // passes stay linear with map-side combine.
    // Dynamic-gap sessionization (m39): the session gap is a PER-EVENT
    // expression — purchases hold a session open 60 minutes, everything
    // else 30 (the "checkout grace period" every product-analytics stack
    // hand-rolls). Spark's session_window accepts the gap as a Column, so
    // this is still ONE partial-merged session aggregate, no self-join;
    // the session end is max(tᵢ + gapᵢ) over members, which is what the
    // oracle's running-max formulation states. Next to m9 (static gap),
    // q10 (cumsum), q37 (recursion) — four mechanisms, one semantics
    // family.
    "m39_dynamic_session" -> { (s, dir) =>
      val gap = when(col("event_type") === "purchase", "60 minutes")
        .otherwise("30 minutes")
      Tables.events(s, dir)
        .groupBy(session_window(tsSec, gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec2(col("value")))).as("sum_value"))
        .select(col("user_id"), tsec(col("w.start")).as("s_start"),
          tsec(col("w.end")).as("s_end"), col("n"), col("sum_value"))
        .orderBy("user_id", "s_start")
    },

    "m38_seasonal" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), hour(col("ts")).as("hr"),
          dec2(col("value")).as("v"))
      val prof = ev.groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      ev.join(broadcast(prof), Seq("event_type", "hr"))
        .groupBy("event_type", "hr")
        .agg(max(col("n")).as("n"),
          (asDouble(max(col("sum_v"))) / max(col("n"))).as("mean_value"),
          sum(when(col("v") * col("n") > col("sum_v") * 2, 1L).otherwise(0L))
            .as("n_hot"))
        .orderBy("event_type", "hr")
    }
  )

  /** Typed rows for the m18 custom-state gate (second-granularity time,
    * exact-decimal value so the running sum is order-free). */
  case class UserEvent(user_id: Long, t: Long, v: BigDecimal)
  case class UserProfile(user_id: Long, n: Long, min_t: Long, max_t: Long,
      sum_value: BigDecimal)

  /** The m18 fold algebra, factored so the registered gate below and
    * StreamScaleProbe's unbounded timeout variant call the SAME code —
    * the probe's scale evidence can't silently drift from the state
    * machine the oracle actually pins. */
  def emptyProfile(user: Long): UserProfile =
    UserProfile(user, 0L, Long.MaxValue, Long.MinValue, BigDecimal(0))
  def foldProfile(acc: UserProfile, t: Long, v: BigDecimal): UserProfile =
    UserProfile(acc.user_id, acc.n + 1, math.min(acc.min_t, t),
      math.max(acc.max_t, t), acc.sum_value + v)

  /** Per-user running profile in `flatMapGroupsWithState` keyed state —
    * the m18 transform, shared with StreamingSpec's cross-batch test.
    * Each invocation folds the group's new rows into the stored profile
    * (count, first/last seen, exact BigDecimal sum — all commutative, so
    * the iterator's arbitrary order cannot change the answer) and emits
    * the updated running state. */
  def userProfileStream(src: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserProfile] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val pEnc = org.apache.spark.sql.Encoders.product[UserProfile]
    src.groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[UserProfile, UserProfile](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          val prev = state.getOption.getOrElse(emptyProfile(user))
          val next = rows.foldLeft(prev)((acc, r) => foldProfile(acc, r.t, r.v))
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Collapse m18's emitted running profiles (one per user per touching
    * batch) to the final state: n grows monotonically, so max-by-n picks
    * it — the result is batch-split-invariant. */
  def latestProfiles(profiles: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    profiles
      .groupBy("user_id")
      .agg(max(struct(col("n"), col("min_t"), col("max_t"),
        col("sum_value"))).as("st"))
      .select(col("user_id"), col("st.n").as("n"),
        col("st.min_t").as("min_t"), col("st.max_t").as("max_t"),
        asDouble(col("st.sum_value")).as("sum_value"))

  private val t = duckTsec("ts")

  val oracles: Map[String, String] = Map(
    "m7_tumbling" ->
      s"""SELECT ($t) // 300 * 300 AS w_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // every event lies in the two 600s windows starting at
    // floor(t/300)*300 and floor(t/300)*300 - 300
    "m8_sliding" ->
      s"""SELECT w_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT ($t) // 300 * 300 - g.off AS w_start, event_type, value
        |  FROM events, (VALUES (0), (300)) AS g(off))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // gap-based sessionization (lag + cumsum), Spark session_window
    // semantics: start = first event, end = last event + gap
    "m9_session" ->
      s"""WITH pts AS (
        |  SELECT user_id, ($t) AS t, value FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN t - LAG(t) OVER w > 1800 OR
        |    LAG(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(t) AS s_start, MAX(t) + 1800 AS s_end,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    "q12_asof" ->
      """SELECT c.event_id, c.user_id, c.t, p.pval AS last_purchase
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS t,
        |                  MAX(value) AS pval
        |                FROM events WHERE event_type = 'purchase'
        |                GROUP BY 1, 2) p
        |  ON c.user_id = p.user_id AND p.t <= c.t
        |ORDER BY event_id""".stripMargin,

    // dense grid via generate_series; LOCF via last_value IGNORE NULLS —
    // v is the exact-decimal hourly sum, so the carried doubles are
    // bit-identical to Spark's
    "m11_resample" ->
      s"""WITH hourly AS (
        |  SELECT user_id, ($t) // 3600 * 3600 AS h, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hourly),
        |g AS (SELECT UNNEST(generate_series(lo, hi, 3600)) AS h FROM b),
        |grid AS (SELECT u.user_id, g.h
        |         FROM (SELECT DISTINCT user_id FROM hourly) u CROSS JOIN g),
        |j AS (SELECT grid.user_id, grid.h, hourly.n, hourly.v
        |      FROM grid LEFT JOIN hourly
        |        ON grid.user_id = hourly.user_id AND grid.h = hourly.h)
        |SELECT user_id, h, COALESCE(n, 0) AS n,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |    ROWS UNBOUNDED PRECEDING) AS v,
        |  (n IS NULL) AS filled
        |FROM j ORDER BY user_id, h""".stripMargin,

    "m12_rate" ->
      """WITH pts AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t, value
        |  FROM events WHERE user_id < 50)
        |SELECT event_id, user_id, event_type, t,
        |  value - LAG(value) OVER w AS dv,
        |  t - LAG(t) OVER w AS dt,
        |  CASE WHEN t - LAG(t) OVER w > 0 THEN
        |    (value - LAG(value) OVER w) * 1000000.0 / (t - LAG(t) OVER w)
        |  END AS rate
        |FROM pts
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t, event_id)
        |ORDER BY user_id, event_type, t, event_id""".stripMargin,

    // identical to m9's sessionization, restricted to user_id < 40 — what
    // changes on the Spark side is WHO executes (the streaming engine)
    "m13_stream_session" ->
      s"""WITH pts AS (
        |  SELECT user_id, ($t) AS t, value FROM events WHERE user_id < 40),
        |marked AS (
        |  SELECT *, CASE WHEN t - LAG(t) OVER w > 1800 OR
        |    LAG(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(t) AS s_start, MAX(t) + 1800 AS s_end,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    // identical to m7's oracle: the streaming engine must land on the
    // batch answer exactly
    "m15_stream_tumbling" ->
      s"""SELECT ($t) // 300 * 300 AS w_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical to m8's oracle (two overlapping windows per event)
    "m16_stream_sliding" ->
      s"""SELECT w_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT ($t) // 300 * 300 - g.off AS w_start, event_type, value
        |  FROM events, (VALUES (0), (300)) AS g(off))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the batch form of the stream-stream interval join: purchases in
    // the click's preceding 2 hours, per user (second granularity on
    // both engines; the window is sized to the synthetic data's event
    // sparsity — 10k events / 30 days at sf0.01 — so the gate carries
    // real pairs, 18 at sf0.01, not a vacuous 0-row pass)
    "m17_stream_join" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, ($t) AS t, event_type, value
        |  FROM events WHERE user_id < 30)
        |SELECT c.event_id AS click_id, c.user_id, c.t AS click_t,
        |  p.event_id AS purchase_id, p.t AS purchase_t,
        |  p.value AS purchase_value
        |FROM (SELECT * FROM ev WHERE event_type = 'click') c
        |JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND p.t >= c.t - 7200 AND p.t <= c.t
        |ORDER BY click_id, purchase_id""".stripMargin,

    // the batch form of the left-semi interval join: converted clicks
    // stated as EXISTS — emit-once semantics need no cutoff (unmatched
    // clicks never emit; matched ones emit in exactly one batch)
    "m30_stream_semi" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, ($t) AS t, event_type
        |  FROM events WHERE user_id < 30)
        |SELECT c.event_id AS click_id, c.user_id, c.t AS click_t
        |FROM ev c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM ev p
        |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |    AND p.t >= c.t - 7200 AND p.t <= c.t)
        |ORDER BY click_id""".stripMargin,

    // the batch form of the m18 per-user running profile: the custom
    // flatMapGroupsWithState fold must land on the plain aggregate
    "m18_stream_state" ->
      s"""SELECT user_id, COUNT(*) AS n, MIN($t) AS min_t, MAX($t) AS max_t,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id < 40
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the batch form of the stream-static enrichment: clicks left-join
    // the per-user purchase profile
    "m19_stream_enrich" ->
      s"""WITH dim AS (
        |  SELECT user_id, COUNT(*) AS n_purchases,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_total
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT e.event_id, e.user_id, ($t) AS t,
        |  COALESCE(dim.n_purchases, 0) AS n_purchases, dim.purchase_total
        |FROM events e LEFT JOIN dim USING (user_id)
        |WHERE e.user_id < 25 AND e.event_type = 'click'
        |ORDER BY e.event_id""".stripMargin,

    // the batch form of the left-outer interval join, restricted to the
    // watermark-safe click set (12 h below the least per-side max event
    // time — the Spark side's eviction-determinism cutoff)
    "m21_stream_outer" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, ($t) AS t, event_type, value
        |  FROM events WHERE user_id < 30),
        |cut AS (SELECT least(
        |    (SELECT max(t) FROM ev WHERE event_type = 'click'),
        |    (SELECT max(t) FROM ev WHERE event_type = 'purchase')) - 43200 AS c)
        |SELECT c.event_id AS click_id, c.user_id, c.t AS click_t,
        |  p.event_id AS purchase_id, p.t AS purchase_t,
        |  p.value AS purchase_value
        |FROM (SELECT * FROM ev WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND p.t >= c.t - 7200 AND p.t <= c.t
        |WHERE c.t <= (SELECT c FROM cut)
        |ORDER BY click_id, purchase_id""".stripMargin,

    // the batch form of the full-outer interval join, both row classes
    // restricted to the both-sides watermark-safe zone; uid coalesces
    // the two user columns exactly as the stream side does
    "m31_stream_full_outer" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, ($t) AS t, event_type, value
        |  FROM events WHERE user_id < 30),
        |cut AS (SELECT least(
        |    (SELECT max(t) FROM ev WHERE event_type = 'click'),
        |    (SELECT max(t) FROM ev WHERE event_type = 'purchase')) - 43200 AS c)
        |SELECT c.event_id AS click_id,
        |  COALESCE(c.user_id, p.user_id) AS uid, c.t AS click_t,
        |  p.event_id AS purchase_id, p.t AS purchase_t,
        |  p.value AS purchase_value
        |FROM (SELECT * FROM ev WHERE event_type = 'click') c
        |FULL OUTER JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND p.t >= c.t - 7200 AND p.t <= c.t
        |WHERE (c.t IS NULL OR c.t <= (SELECT c FROM cut))
        |  AND (p.t IS NULL OR p.t <= (SELECT c FROM cut))
        |ORDER BY COALESCE(c.event_id, -1), COALESCE(p.event_id, -1)""".stripMargin,

    // the identical recursive walk over DuckDB's own epoch conversion —
    // the one non-shared fragment is the inner t derivation
    "q37_recursive" ->
      s"""WITH RECURSIVE base AS (
        |  SELECT user_id, t,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
        |    LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev_t
        |  FROM (SELECT user_id, event_id, ($t) AS t
        |        FROM events WHERE user_id < 50)),
        |walk AS (
        |  SELECT user_id, rn, t, t AS session_start
        |  FROM base WHERE prev_t IS NULL OR t - prev_t > 1800
        |  UNION ALL
        |  SELECT b.user_id, b.rn, b.t, w.session_start
        |  FROM base b JOIN walk w
        |    ON b.user_id = w.user_id AND b.rn = w.rn + 1
        |  WHERE b.t - b.prev_t <= 1800)
        |SELECT user_id, session_start, COUNT(*) AS n,
        |  MAX(t) AS session_end
        |FROM walk GROUP BY user_id, session_start
        |ORDER BY user_id, session_start""".stripMargin,

    // the full-recompute form of the incrementally-maintained join view:
    // delta algebra must be invisible in the result (m17's join, all rows)
    "m32_incr_join" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, ($t) AS t, event_type, value
        |  FROM events WHERE user_id < 30)
        |SELECT c.event_id AS click_id, c.user_id, c.t AS click_t,
        |  p.event_id AS purchase_id, p.t AS purchase_t,
        |  p.value AS purchase_value
        |FROM (SELECT * FROM ev WHERE event_type = 'click') c
        |JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND p.t >= c.t - 7200 AND p.t <= c.t
        |ORDER BY click_id, purchase_id""".stripMargin,

    // identical value-range frame over epoch seconds
    "m22_range_frame" ->
      s"""WITH pts AS (
        |  SELECT event_id, user_id, ${duckTsec("ts")} AS t, value FROM events)
        |SELECT event_id, user_id, t,
        |  COUNT(*) OVER w AS n_10m,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
        |FROM pts
        |WINDOW w AS (PARTITION BY user_id ORDER BY t
        |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, t, event_id""".stripMargin,

    // med/mad rounded to 6 in BOTH engines before the threshold compare
    // (see the Spark-side note: q7 proved percentile parity only to the
    // rounded form, and the outlier predicate must not sit on a seam)
    "m23_mad_outliers" ->
      s"""WITH med AS (
        |  SELECT event_type,
        |    ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |    ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n,
        |  MAX(m.med) AS med, MAX(d.mad) AS mad,
        |  SUM(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
        |      THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM events e JOIN med m USING (event_type)
        |              JOIN mad d USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // dynamic sessions via the running-max-end formulation: an event
    // starts a new session iff its t exceeds the max end (tᵢ + gapᵢ) of
    // everything before it; session end = MAX(t + gap) over members —
    // exactly session_window's merge rule for per-row gaps
    "m39_dynamic_session" ->
      s"""WITH pts AS (
        |  SELECT user_id, ($t) AS t, value,
        |    CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS gap
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN MAX(t + gap) OVER
        |      (PARTITION BY user_id ORDER BY t
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR t > MAX(t + gap) OVER
        |      (PARTITION BY user_id ORDER BY t
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM pts),
        |sess AS (
        |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(t) AS s_start, MAX(t + gap) AS s_end,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    // the m39 chain bounded to the m13 user set — the streaming engine's
    // dynamic-session state machine must land on the batch formulation
    "m40_stream_dynamic_session" ->
      s"""WITH pts AS (
        |  SELECT user_id, ($t) AS t, value,
        |    CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS gap
        |  FROM events WHERE user_id < 40),
        |marked AS (
        |  SELECT *, CASE WHEN MAX(t + gap) OVER
        |      (PARTITION BY user_id ORDER BY t
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR t > MAX(t + gap) OVER
        |      (PARTITION BY user_id ORDER BY t
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM pts),
        |sess AS (
        |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(t) AS s_start, MAX(t + gap) AS s_end,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    // the anomaly predicate is the cross-multiplied decimal form — both
    // engines compare exact decimals; only the reported mean divides
    "m38_seasonal" ->
      """WITH ev AS (SELECT event_type, EXTRACT(hour FROM ts) AS hr,
        |                   CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |prof AS (SELECT event_type, hr, COUNT(*) AS n, SUM(v) AS sum_v
        |         FROM ev GROUP BY 1, 2)
        |SELECT e.event_type, e.hr, MAX(p.n) AS n,
        |  CAST(MAX(p.sum_v) AS DOUBLE) / MAX(p.n) AS mean_value,
        |  SUM(CASE WHEN e.v * p.n > p.sum_v * 2 THEN 1 ELSE 0 END)::BIGINT AS n_hot
        |FROM ev e JOIN prof p USING (event_type, hr)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // hour windows align to the epoch origin in both engines
    "m24_window_distinct" ->
      s"""SELECT ($t) // 3600 * 3600 AS w_start, event_type,
        |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical trailing frame; the mean is exact-decimal-sum / count
    "m20_moving_avg" ->
      """WITH pts AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t, value
        |  FROM events WHERE user_id < 50)
        |SELECT event_id, user_id, event_type, t,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS mov_avg,
        |  MIN(value) OVER w AS mov_min,
        |  MAX(value) OVER w AS mov_max
        |FROM pts
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t, event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_type, t, event_id""".stripMargin,

    // m11's grid skeleton + directional windows; the interpolation
    // expression matches the Spark side token-for-token
    "m25_interp" ->
      s"""WITH hourly AS (
        |  SELECT user_id, ($t) // 3600 * 3600 AS h,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hourly),
        |g AS (SELECT UNNEST(generate_series(lo, hi, 3600)) AS h FROM b),
        |grid AS (SELECT u.user_id, g.h
        |         FROM (SELECT DISTINCT user_id FROM hourly) u CROSS JOIN g),
        |j AS (SELECT grid.user_id, grid.h, hourly.v
        |      FROM grid LEFT JOIN hourly
        |        ON grid.user_id = hourly.user_id AND grid.h = hourly.h),
        |k AS (SELECT user_id, h, v,
        |        last_value(v IGNORE NULLS) OVER wp AS vp,
        |        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |          OVER wp AS hp,
        |        first_value(v IGNORE NULLS) OVER wn AS vn,
        |        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |          OVER wn AS hn
        |      FROM j
        |      WINDOW wp AS (PARTITION BY user_id ORDER BY h
        |                    ROWS UNBOUNDED PRECEDING),
        |             wn AS (PARTITION BY user_id ORDER BY h
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, h,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN vp IS NOT NULL AND vn IS NOT NULL
        |       THEN vp + (vn - vp) * (CAST(h - hp AS DOUBLE) / (hn - hp))
        |  END AS v,
        |  (v IS NULL) AS filled
        |FROM k ORDER BY user_id, h""".stripMargin,

    // integer sufficient statistics; slope = one IEEE division of two
    // exactly-double-convertible longs, rounded at 9 in both engines
    "m26_trend" ->
      s"""WITH e AS (
        |  SELECT event_type,
        |    (${duckTsec("ts")} - 1704067200) // 3600 AS x,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM events),
        |a AS (SELECT event_type, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
        |        SUM(y)::BIGINT AS sy, SUM(x*y)::BIGINT AS sxy,
        |        SUM(x*x)::BIGINT AS sxx
        |      FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  (n*sxy - sx*sy) AS cov_n, (n*sxx - sx*sx) AS var_n,
        |  ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE),
        |        9) AS slope_cents_per_hour
        |FROM a ORDER BY event_type""".stripMargin,

    // the oracle recomputes from scratch — equality IS the maintenance
    // correctness statement
    "m27_incr_rollup" ->
      s"""SELECT (${duckTsec("ts")}) // 86400 AS d, event_type,
        |  COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical recompute: the streaming maintenance must land exactly
    // where the batch fold (m27) and the one-shot aggregation do
    "m28_stream_rollup" ->
      s"""SELECT (${duckTsec("ts")}) // 86400 AS d, event_type,
        |  COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // full recompute of last-writer-wins: per user the (t, event_id)-max
    // image, surviving only if it is not a tombstone — the maintained
    // table must land here regardless of how the stream was batched
    "m29_stream_upsert" ->
      s"""WITH img AS (
        |  SELECT user_id, ($t) AS t, event_id AS eid, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ($t) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, t, eid, event_type, value
        |FROM img WHERE rn = 1 AND event_type <> 'purchase'
        |ORDER BY user_id""".stripMargin
  )
}
