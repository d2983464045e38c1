package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.GenState

/** Per-document text analysis for training-data curation: token counts,
  * lexical-diversity and quality signals, a BPE-ish subword-count estimate,
  * and a marker-word language-ID heuristic.
  *
  * Everything is a narrow map over one row — no shuffle at all (the final
  * orderBy exists only for the deterministic oracle compare; a pipeline
  * consumer would drop it). All arithmetic is integer counts plus single
  * IEEE divisions so the DuckDB oracle reproduces results bit-for-bit.
  */
object TextStats {

  /** Quality-filter stopword set (the generated corpus' function words). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and")

  /** Marker vocabularies for the language-ID heuristic, checked in fixed
    * priority order (en, de, fr, es) on ties. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "las", "y"))

  private def countIn(w: Column, words: Seq[String]): Column =
    size(filter(w, t => words.map(t === _).reduce(_ || _)))

  /** See [[graft.queries.QUtil.spread]] — conditional pre-kernel
    * repartition, a no-op at real scan parallelism. */
  private[llm] def spread(df: DataFrame): DataFrame =
    graft.queries.QUtil.spread(df)

  /** doc_id, n_tokens, n_unique, ttr, avg_token_len, stop_ratio, bpe_est. */
  def textStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("n_unique", size(array_distinct(col("w"))))
      .withColumn("ttr", col("n_unique") * lit(1.0) / col("n_tokens"))
      .withColumn("avg_token_len",
        (length(col("text")) - (col("n_tokens") - 1)) * lit(1.0) / col("n_tokens"))
      .withColumn("stop_ratio",
        countIn(col("w"), Stopwords) * lit(1.0) / col("n_tokens"))
      // BPE-ish token-count estimate: ceil(len/4) subword units per word
      .withColumn("bpe_est", aggregate(col("w"), lit(0L),
        (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long")))
      .select("doc_id", "n_tokens", "n_unique", "ttr", "avg_token_len",
        "stop_ratio", "bpe_est")
      .orderBy("doc_id")

  /** Model-based quality filtering: a fixed-weight linear scorer over
    * the [[textStats]] features — the shape of the fastText/logistic
    * quality classifiers every web-corpus pipeline runs (CCNet, GPT-3's
    * WebText similarity filter), with the model reduced to its scoring
    * arithmetic (weights are deployment inputs; these constants are the
    * documented defaults). The score stays LINEAR — no sigmoid — so both
    * engines compute bit-identical doubles left-to-right and the keep
    * threshold can never sit on a rounding seam. Zero shuffle: one
    * per-row projection over the corpus. */
  def qualityScore(docs: DataFrame, threshold: Double = 1.3): DataFrame =
    textStats(docs)
      .withColumn("score",
        lit(0.5) + lit(2.0) * col("ttr") - lit(3.0) * col("stop_ratio") +
          lit(0.15) * col("avg_token_len") -
          lit(0.002) * abs(col("n_tokens") - lit(200)))
      .withColumn("keep", (col("score") > lit(threshold)).cast("int"))
      .select("doc_id", "score", "keep")
      .orderBy("doc_id")

  /** Per-source dataset card — the one-page corpus report a training run
    * starts from: volume (docs, tokens, share of corpus), language
    * spread, cross-source exact-duplicate exposure (docs whose
    * bag-of-words fingerprint appears anywhere else in the corpus —
    * [[TextDedup.bagOfWordsFingerprint]], the ONE shared definition),
    * and aggregate stopword ratio. Ratios are integer-sums-then-one-
    * division so they hash-match across engines.
    *
    * Scale shape: one corpus scan computes tokens/stopwords/fingerprint
    * per row; the duplicate flag is one fingerprint-keyed shuffle join
    * (the l1 exact-dedup shuffle); the per-source rollup partial-
    * aggregates; the corpus total broadcasts back onto the source-count-
    * sized frame. Nothing scales worse than exact dedup itself. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("w", split(col("text"), " "))
      .select(col("source"), col("lang"),
        size(col("w")).cast("long").as("n_tok"),
        countIn(col("w"), Stopwords).cast("long").as("n_stop"),
        TextDedup.bagOfWordsFingerprintFromTokens(col("w")).as("fingerprint"))
    val fpCounts = base.groupBy("fingerprint").agg(count(lit(1)).as("nfp"))
    val per = base.join(fpCounts, "fingerprint")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("nfp") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum("n_stop").as("n_stop"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_dup_docs"),
        (col("n_stop") * lit(1.0) / col("n_tokens")).as("stop_ratio"),
        (col("n_tokens") * lit(1.0) / col("tot_tokens")).as("token_share"))
      .orderBy("source")
  }

  /** Deterministic, engine-independent train/val/test assignment: the
    * split is a pure function of the stable document key (md5 of its
    * decimal id → first 4 hex digits → mod 100), so ANY engine — Spark
    * at 100 TB, DuckDB in a notebook, a Python sanity script — derives
    * the identical split for the identical document. That is the
    * property a reproducible training mix needs, and what
    * `df.randomSplit`/`sampleBy` (partition-order-dependent RNG) cannot
    * give. Zero shuffle: one hash per row. Default 80/10/10. */
  def splitAssign(docs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs.withColumn("bucket",
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  /** Deterministic training-order shard assignment: every document gets a
    * shard and a position within it, both pure functions of the stable
    * document key — md5(decimal id) is the order key (a reproducible
    * global shuffle: uniform, engine-independent, independent of input
    * partitioning) and its leading hex picks the shard. This is the
    * write-side primitive for training output: shards can be written as
    * `partitionBy(shard)` files whose within-file order IS the training
    * order, reproducible forever — what `orderBy(rand())` (seed
    * partition-dependent) and `randomSplit` cannot give. Output:
    * (doc_id, shard, pos), pos 0-based within shard.
    *
    * Scale note: the position window partitions by shard — with few
    * shards each partition is corpus-scale, so at 100 TB the positions
    * come from range-partitioning each shard by the key and turning
    * per-range counts into offsets (the two-phase running-total trick,
    * same note as [[tokenBudget]]); the window form states the
    * semantics the oracle mirrors. */
  /** THE shard derivation — md5-of-decimal-id order key `k` plus its
    * 4-hex-digit-prefix shard. [[shardAssign]] and [[seqPack]] (and
    * through it the c5 composite) must stay bit-identical on these two
    * columns, so they share this one projection. */
  private def keyedShard(docs: DataFrame, nShards: Int): DataFrame =
    docs
      .withColumn("k", md5(col("doc_id").cast("string")))
      .withColumn("shard",
        (conv(substring(col("k"), 1, 4), 16, 10).cast("long") % nShards).cast("int"))

  def shardAssign(docs: DataFrame, nShards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("k"), col("doc_id"))
    keyedShard(docs.select("doc_id"), nShards)
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  /** Materialize [[shardAssign]]'s layout: one `shard=N/` directory per
    * shard, rows in the deterministic (k, doc_id) training order. The
    * shard-keyed repartition bounds writer state (each task streams one
    * shard — at 100 TB the shard count, not the corpus, sets task
    * memory); `partitionBy` keeps the directory layout self-describing
    * so a trainer (or the c10 gate) reads any shard without a manifest. */
  def exportShards(docs: DataFrame, nShards: Int, path: String): Unit =
    keyedShard(docs, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("k"), col("doc_id"))
      .drop("k")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Deterministic stratified sample: the k documents per stratum with
    * the smallest md5-of-id key, ranked in key order — a reproducible
    * uniform sample per stratum (language, source, quality band, k-means
    * cell for cluster-balanced selection). Same engine-independence
    * argument as [[splitAssign]]: the sample is a pure function of the
    * document keys, invariant to partitioning and engine, which
    * `df.stat.sampleBy` (partition-order RNG) cannot give.
    *
    * Scale shape: two-phase top-k (the m5/l3 tournament) — phase 1 ranks
    * per (stratum, input partition) and keeps ≤ k, phase 2 ranks only
    * the ≤ k·P survivors per stratum, so no task ever sorts a whole
    * stratum even when one stratum is most of the corpus. The global
    * per-stratum top-k is always a subset of the per-partition top-ks,
    * so results are identical row-for-row. */
  def stratifiedSample(docs: DataFrame, strataCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs
      .withColumn("__k", md5(col("doc_id").cast("string")))
      .withColumn("__pid", spark_partition_id())
    val w1 = Window.partitionBy(col(strataCol), col("__pid"))
      .orderBy(col("__k"), col("doc_id"))
    val w2 = Window.partitionBy(col(strataCol))
      .orderBy(col("__k"), col("doc_id"))
    keyed
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("rk", row_number().over(w2).cast("long")).filter(col("rk") <= k)
      .drop("__k", "__pid", "__r1")
  }

  /** Corpus-level n-gram heavy hitters — the k most frequent word n-grams
    * with exact counts (boilerplate discovery: nav bars, cookie banners,
    * license headers; the corpus-wide sibling of [[repetitionStats]]'s
    * per-document signals).
    *
    * Scale shape: counting shuffles 8-byte gram HASHES (map-side combined
    * `ngram_hashes_all`), never strings; the k-th count then thresholds a
    * STRING label pass that keeps only candidate-hash occurrences
    * (`ngram_hashes_pos` zip-aligns each gram string with its hash, so
    * strings are never re-hashed), and the final exact rank runs on that
    * bounded candidate set. Two linear text scans + one 8-byte shuffle
    * beats one corpus-wide string shuffle at any scale. Boundary ties are
    * exact: every gram at the threshold count enters the label pass and
    * the final (count desc, gram) rank matches a direct string count
    * bit-for-bit (modulo 2^-64 hash collisions, which could only perturb
    * CANDIDATE selection, never a labeled count). The driver holds only
    * the ≤ 100·k candidate hash list; a plateau wider than that throws
    * rather than silently mis-ranking. */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val w = split(col("text"), " ")
    val counts = docs
      .select(explode(graft.functions.NGramHashesAll(w, n)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kth = counts.orderBy(col("n").desc, col("h")).limit(k)
      .agg(min("n")).head().get(0)
    val threshold = // empty corpus: nothing can qualify
      if (kth == null) Long.MaxValue else kth.asInstanceOf[Long]
    val candDf = counts.filter(col("n") >= threshold).select("h")
    require(candDf.count() <= 100 * k,
      s"top-$k boundary tie plateau exceeds ${100 * k} grams — raise k or pre-filter")

    // token array materialized behind its own projection BEFORE the
    // per-position lambda: a HOF lambda body is interpreted
    // (CodegenFallback, no subexpression elimination), so inlining
    // `slice(split(text), …)` would re-split the text once PER POSITION
    // — an attribute reference splits once per ROW (measured 3x)
    val gramsW = when(size(col("w")) >= n,
      transform(sequence(lit(0), size(col("w")) - n),
        i => concat_ws(" ", slice(col("w"), i + 1, lit(n))))).otherwise(array())
    val posW = graft.functions.NGramHashesPos(col("w"), n)
    // final rank: candidate grams only (≤ 100·k rows), exact counts.
    // Membership is a BROADCAST HASH JOIN on the gram hash — an earlier
    // cut used array_contains over a collected candidate literal, which
    // is a LINEAR scan of the candidate list per gram instance: at sf1
    // that was ~7 billion comparisons (671 CPU-seconds for one query).
    // O(1) hash probes cut it ~10x; candidates stay executor-side.
    val out = docs
      .select(split(col("text"), " ").as("w"))
      .select(explode(
        zip_with(gramsW, posW, (g, h) => struct(g.as("g"), h.as("h")))).as("x"))
      .select(col("x.g").as("gram"), col("x.h").as("h"))
      .join(broadcast(candDf), "h")
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("gram"))).cast("long"))
      .filter(col("rk") <= k)
      .select("rk", "gram", "n")
      .orderBy("rk")
    // counts stays persisted until the session drops it: the returned
    // frame still reads candDf from it at broadcast time (the sibling
    // TextDedup persists share this caller-owns-lifecycle idiom)
    out
  }

  /** Token-budget corpus selection: within each language, take documents
    * in quality order (lowest stopword ratio first, doc_id ties) until
    * the cumulative token count reaches `budget` — the "best N tokens
    * per language" training-mix primitive. A document is kept iff the
    * budget was not yet exhausted when it starts (so the total may
    * overshoot by at most one document, the standard contract). Output:
    * per-language kept-doc and token totals.
    *
    * Scale note: the running sum partitions by lang — at 100 TB, with a
    * handful of languages, the cumulative pass would instead range-
    * partition each language by the quality key and convert per-range
    * partial sums into offsets (the two-phase trick every running total
    * uses); the declarative window form here states the semantics and is
    * what the oracle mirrors. */
  def tokenBudget(docs: DataFrame, budget: Long = 20000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("stop_ratio"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .withColumn("wtoks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("wtoks")).cast("long"))
      .withColumn("stop_ratio",
        countIn(col("wtoks"), Stopwords) * lit(1.0) / size(col("wtoks")))
      .withColumn("cum", sum("n_tokens").over(w))
      .filter(col("cum") - col("n_tokens") < budget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("sum_tokens"))
      .orderBy("lang")
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021 §A1.1
    * "repetition" filters, re-expressed over the word stream): the fraction
    * of the document occupied by its most frequent word bigram, and the
    * fraction of word bigrams / trigrams that repeat an earlier gram in
    * the same document (Gopher's duplicate-n-gram family; n chosen where
    * the corpus has signal). High values flag boilerplate / template /
    * generated text that per-corpus dedup cannot see.
    *
    * Scale shape: zero shuffle — both signals come from one codegen'd
    * kernel per row ([[graft.functions.NGramHashesAll]]: sorted gram
    * hashes with multiplicity) plus one linear `aggregate` fold for the
    * mode (run-length over the sorted array, O(n log n) per doc). The
    * naive per-row mode (`count each distinct gram`) is O(n·distinct) —
    * quadratic on long documents — and the explode→groupBy alternative
    * shuffles every gram of every document; this form does neither.
    * Multiplicity/mode on 64-bit gram hashes ≡ on gram strings absent
    * ~2^-64 collisions (the l2/l15 argument; the oracle counts strings). */
  /** Run-length max over the sorted-with-duplicates hash array `h2`: the
    * mode count of the document's bigrams, shuffle-free (shared by
    * [[repetitionStats]] and [[qualityFilter]]). */
  private val topRun =
    """aggregate(h2,
      |  named_struct('prev', CAST(NULL AS BIGINT), 'run', 0L, 'best', 0L),
      |  (a, x) -> named_struct(
      |    'prev', x,
      |    'run', IF(a.prev <=> x, a.run + 1L, 1L),
      |    'best', greatest(a.best, IF(a.prev <=> x, a.run + 1L, 1L))),
      |  a -> a.best)""".stripMargin

  def repetitionStats(docs: DataFrame): DataFrame = {
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("h2", graft.functions.NGramHashesAll(col("w"), 2))
      .withColumn("n_bigrams", size(col("h2")).cast("long"))
      .withColumn("top_bigram_n", expr(topRun))
      .withColumn("n_dup_bigrams",
        col("n_bigrams") - size(graft.functions.NGramHashes(col("w"), 2)))
      .withColumn("n_trigrams", greatest(size(col("w")) - 2, lit(0)).cast("long"))
      .withColumn("n_dup_trigrams",
        col("n_trigrams") - size(graft.functions.TrigramHashes(col("w"))))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("top_bigram_n"),
        when(col("n_bigrams") === 0, 0.0)
          .otherwise(col("top_bigram_n") * lit(1.0) / col("n_bigrams"))
          .as("top_bigram_frac"),
        when(col("n_bigrams") === 0, 0.0)
          .otherwise(col("n_dup_bigrams") * lit(1.0) / col("n_bigrams"))
          .as("dup_bigram_frac"),
        when(col("n_trigrams") === 0, 0.0)
          .otherwise(col("n_dup_trigrams") * lit(1.0) / col("n_trigrams"))
          .as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Per-document top-`k` TF-IDF keywords — the light-weight topic/domain
    * signal curation pipelines attach to every document (mixture
    * weighting, domain filtering, cluster labeling) without running a
    * model. Score = tf · N / df with plain counts: one exact integer
    * product and ONE IEEE division, so the DuckDB oracle reproduces it
    * bit-for-bit (a log-idf would hand the hash gate to libm). Ranking
    * by tf·N/df orders identically to tf·log(N/df) per document when
    * df < N; ties break on the term itself. Output: (doc_id, rank, word,
    * tf, df, score), `k` rows per document (fewer if the doc has fewer
    * distinct terms).
    *
    * Scale shape: tf is one (doc_id, word)-keyed partial-aggregated
    * shuffle; df reuses tf (count of docs per word — no second scan);
    * N joins in as a broadcast one-row frame (never a driver-side
    * collect); the score join shuffles on the word key, where AQE
    * broadcasts the df side if the vocabulary is small. The top-k window
    * partitions by doc_id — per-partition row counts are bounded by each
    * DOCUMENT's distinct-term count, not by corpus size, so there is no
    * single-task funnel (the reason annBrute's two-phase tournament is
    * NOT needed here). */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    tf.join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "word", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  /** Composite Gopher-style quality gate (Rae et al. 2021 §A1, the rule
    * family every pre-training corpus pass applies): token-count bounds,
    * mean-word-length bounds, a minimum stopword presence, and
    * repetition caps (top-bigram share, duplicate-trigram fraction) —
    * each rule reported per document alongside the final verdict, so a
    * pipeline can both filter on `pass` and audit WHICH rule rejected
    * what (rule-attribution is how thresholds get tuned).
    *
    * One pass, zero shuffle: every signal is a per-row expression over
    * the token array (the l5/l19 kernels), the final orderBy exists only
    * for the deterministic oracle compare. All arithmetic is integer
    * counts plus single IEEE divisions — bit-identical in the oracle. */
  def qualityFilter(
      docs: DataFrame,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minStopHits: Int = 2,
      maxTopBigram: Double = 0.2, maxDupTrigram: Double = 0.3): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("mean_word_len",
        (length(col("text")) - (col("n_tokens") - 1)) * lit(1.0) / col("n_tokens"))
      .withColumn("stop_hits", countIn(col("w"), Stopwords))
      .withColumn("h2", graft.functions.NGramHashesAll(col("w"), 2))
      .withColumn("n_bigrams", size(col("h2")).cast("long"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, 0.0)
          .otherwise(expr(topRun) * lit(1.0) / col("n_bigrams")))
      .withColumn("n_trigrams", greatest(size(col("w")) - 2, lit(0)).cast("long"))
      .withColumn("dup_trigram_frac",
        when(col("n_trigrams") === 0, 0.0)
          .otherwise((col("n_trigrams") -
            size(graft.functions.TrigramHashes(col("w")))) * lit(1.0) / col("n_trigrams")))
      .withColumn("pass",
        col("n_tokens").between(minTokens, maxTokens) &&
        col("mean_word_len").between(minMeanLen, maxMeanLen) &&
        col("stop_hits") >= minStopHits &&
        col("top_bigram_frac") <= maxTopBigram &&
        col("dup_trigram_frac") <= maxDupTrigram)
      .select("doc_id", "n_tokens", "mean_word_len", "stop_hits",
        "top_bigram_frac", "dup_trigram_frac", "pass")
      .orderBy("doc_id")

  /** Marker-word language ID: per-language hit counts + argmax prediction
    * (fixed priority on ties), with the dataset's labeled `lang` retained
    * for comparison. */
  def langId(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    val withHits = LangMarkers.foldLeft(docs.withColumn("w", w)) {
      case (df, (lang, markers)) =>
        df.withColumn(s"${lang}_hits", countIn(col("w"), markers))
    }
    val Seq(en, de, fr, es) = LangMarkers.map { case (l, _) => col(s"${l}_hits") }
    withHits
      .withColumn("predicted",
        when(en >= de && en >= fr && en >= es, "en")
          .when(de >= fr && de >= es, "de")
          .when(fr >= es, "fr")
          .otherwise("es"))
      .select("doc_id", "lang", "en_hits", "de_hits", "fr_hits", "es_hits", "predicted")
      .orderBy("doc_id")
  }

  /** Temperature-based source mixing weights (the multilingual/multi-source
    * sampling scheme of GPT-3 / XLM-R style training: sample source s with
    * probability ∝ tokens(s)^α, α < 1 upsampling the tail). α is fixed at
    * 0.5 so the power is `sqrt` — correctly rounded IEEE in every engine,
    * where a general `pow` would tie results to one libm. Weights are
    * reported relative to the LARGEST source (max is order-free; a
    * sum-normalization would order-depend on the float adds): a sampler
    * multiplies by any normalizer it likes. `boost` = rel_weight /
    * rel_share is the tail-upsampling factor α buys each source.
    *
    * One partial-aggregated shuffle over (source) — group count is the
    * source cardinality (dozens), trivially broadcastable downstream. */
  def sourceMixWeights(docs: DataFrame): DataFrame = {
    val bySource = docs
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val mx = bySource.agg(max("n_tokens").as("max_tokens"))
    bySource.crossJoin(broadcast(mx))
      .withColumn("rel_weight",
        sqrt(col("n_tokens").cast("double")) / sqrt(col("max_tokens").cast("double")))
      .withColumn("rel_share",
        col("n_tokens").cast("double") / col("max_tokens"))
      .withColumn("boost", col("rel_weight") / col("rel_share"))
      .select("source", "n_docs", "n_tokens", "rel_weight", "boost")
      .orderBy("source")
  }

  /** Per-document corpus-frequency profile of its word bigrams — the
    * novelty/commonness signal (a doc whose bigrams are all corpus-unique
    * is novel prose; one whose bigrams are corpus-wide heavy hitters is
    * boilerplate): mean corpus frequency of the doc's bigrams and the
    * fraction unique to this doc.
    *
    * Scale shape: both the counting aggregate and the lookup join move
    * 8-byte gram HASHES (the l29 principle — never a corpus-wide string
    * shuffle); counts are integer-exact so the two output ratios are
    * single IEEE divisions. Docs with < 2 tokens have no bigrams and no
    * output row (inner-join semantics, mirrored by the oracle). */
  def bigramNovelty(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.NGramHashesAll(split(col("text"), " "), 2)).as("g"))
    val counts = grams.groupBy("g").agg(count(lit(1)).as("cf"))
    grams.join(counts, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("cf").as("sum_cf"),
        sum(when(col("cf") === 1, 1L).otherwise(0L)).as("n_uniq"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_cf").cast("double") / col("n_bigrams")).as("mean_cf"),
        (col("n_uniq").cast("double") / col("n_bigrams")).as("uniq_frac"))
      .orderBy("doc_id")
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones, the Okapi weighting
    * every lexical search index ships): top-k documents per query term,
    * scored tf·idf with saturation (k1) and length normalization (b). The
    * idf factor is the raw odds ratio (N − df + 0.5)/(df + 0.5) rather
    * than its log: log is monotone, so rankings are identical, and the
    * ratio keeps every operation a single IEEE divide — bit-reproducible
    * in any engine, where `ln` would tie the result to one libm's
    * rounding (the l24 exact-arithmetic principle).
    *
    * Scale shape: tf explodes only rows matching the (tiny, broadcast-
    * literal) term set — the corpus scan stays a filter-then-count, never
    * a corpus-wide string shuffle; df aggregates the per-doc tf rows; the
    * per-term top-k is the two-phase tournament (a term matching half the
    * corpus never sorts in one task — same argument as [[stratifiedSample]]).
    * Constants (2.2 = k1+1, 0.25 = 1−b, 0.75 = b) are written literally
    * so both engines parse the identical double. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val dls = toks.select(col("doc_id"), size(col("w")).as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val tf = toks
      .select(col("doc_id"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val denom = col("tf") + lit(1.2) *
      (lit(0.25) + lit(0.75) * (col("dl") / avgdl))
    val scored = tf
      .join(broadcast(dfs), "term")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score", idf * (col("tf") * lit(2.2)) / denom)
      .withColumn("__pid", spark_partition_id())
    val w1 = Window.partitionBy("term", "__pid").orderBy(col("score").desc, col("doc_id"))
    val w2 = Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long")).filter(col("rank") <= k)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"), col("df"),
        col("dl").cast("long").as("dl"), col("score"))
      .orderBy("term", "rank")
  }

  /** Simpson lexical diversity — the integer-exact substitute for token
    * entropy (entropy needs `log`, whose last-bit rounding ties results to
    * one libm — the l24/l31 principle): the probability two tokens drawn
    * without replacement are equal, Σ cᵢ(cᵢ−1) / (N(N−1)). 0 = every
    * token unique, 1 = one token repeated wall-to-wall; quality gates
    * threshold high values exactly like a high entropy-based repetition
    * score. Output: (doc_id, n_tokens, n_unique, repeat_pairs, simpson).
    *
    * Scale shape: zero shuffle — the per-token counts never materialize;
    * Σ cᵢ(cᵢ−1) folds over the row's own sorted token array (adding a
    * token to a run of r raises the sum by 2r), the l19 run-length
    * pattern. One IEEE division at the end. */
  def simpsonDiversity(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_unique", size(array_distinct(col("w"))).cast("long"))
      .withColumn("repeat_pairs", expr(
        """aggregate(sort_array(w),
          |  struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS acc),
          |  (s, x) -> IF(x <=> s.prev,
          |    struct(x AS prev, s.run + 1L AS run, s.acc + 2L * s.run AS acc),
          |    struct(x AS prev, 1L AS run, s.acc AS acc)),
          |  s -> s.acc)""".stripMargin))
      .withColumn("simpson",
        when(col("n_tokens") < 2, lit(0.0))
          .otherwise(col("repeat_pairs") * lit(1.0) /
            (col("n_tokens") * (col("n_tokens") - 1))))
      .select("doc_id", "n_tokens", "n_unique", "repeat_pairs", "simpson")
      .orderBy("doc_id")

  /** GPT-style sequence-packing manifest: documents are laid end-to-end in
    * the reproducible [[shardAssign]] training order and cut into fixed
    * `seqLen`-token training sequences; each document's row says exactly
    * which sequences its tokens landed in (first_seq..last_seq, the offset
    * of its first token inside first_seq, and how many sequence boundaries
    * cross it). This is the manifest a packing export writes next to its
    * token files — byte-stable forever because every input (shard, order
    * key, token count) is a pure function of the document.
    *
    * Scale shape: one shuffle onto (shard); per shard the running token
    * total is a window with constant state (same note as [[shardAssign]]:
    * at 100 TB positions come from per-range counts turned into offsets —
    * the window form states the semantics the oracle mirrors). All outputs
    * are integers — bit-exact in any engine. */
  def seqPack(docs: DataFrame, seqLen: Int = 512, nShards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("k"), col("doc_id"))
    keyedShard(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok")), nShards)
      .withColumn("start_tok", sum("n_tok").over(w) - col("n_tok"))
      .withColumn("first_seq", expr(s"start_tok div $seqLen"))
      .withColumn("last_seq", expr(s"(start_tok + n_tok - 1) div $seqLen"))
      .select(col("doc_id"), col("shard"), col("n_tok"), col("start_tok"),
        col("first_seq"), col("last_seq"),
        (col("start_tok") % seqLen).as("seq_offset"),
        (col("last_seq") - col("first_seq") + 1).as("n_seqs_spanned"))
      .orderBy("doc_id")
  }

  /** Sliding context-window chunking (the RAG/embedding-prep cut): each
    * document becomes overlapping `win`-token windows on a `stride`-token
    * grid (overlap = win − stride), the tail window truncated, every doc
    * emitting at least one window. Output rows carry the window's token
    * span and an md5 of its text — the chunk table an embedding pass or
    * retrieval index consumes.
    *
    * Scale shape: a pure per-row projection + explode — zero shuffle, no
    * state; the chunk count is data-bounded (≈ n_tok/stride per doc).
    * Integers + md5 strings only → bit-exact in any engine. */
  def chunkWindows(docs: DataFrame, win: Int = 64, stride: Int = 48): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_tok", size(col("w")))
      .withColumn("n_win",
        when(col("n_tok") <= win, lit(1))
          .otherwise(expr(s"1 + (n_tok - $win + $stride - 1) div $stride")))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, n_win - 1)")).as("win_id"))
      .withColumn("chunk", expr(s"slice(w, win_id * $stride + 1, $win)"))
      .select(col("doc_id"), col("win_id").cast("long").as("win_id"),
        (col("win_id").cast("long") * stride).as("start_tok"),
        size(col("chunk")).cast("long").as("n_win_tok"),
        md5(encode(concat_ws(" ", col("chunk")), "UTF-8")).as("win_md5"))
      .orderBy("doc_id", "win_id")
  }

  /** Materialize the [[sourceMixWeights]] temperature mix as an actual
    * corpus sample: each document keeps iff its engine-invariant uniform
    * key (md5 of the decimal id → first 8 hex digits / 2^32) falls under
    * its source's relative weight — deterministic Bernoulli thinning whose
    * acceptance is a pure function of the document, so any engine (and any
    * re-run, at any partitioning) materializes the identical sampled
    * corpus. Output: per-source kept/total counts with the weight and the
    * exact expected count for drift auditing.
    *
    * Scale shape: the weights frame is source-cardinality-sized and
    * broadcast; the corpus side is one hash + compare per row feeding a
    * partial-aggregated (source) shuffle. The uniform key divides by 2^32
    * (exact in IEEE — the mantissa just shifts), sqrt is correctly rounded
    * everywhere (the l32 argument), so keep decisions are bit-identical
    * across engines. */
  def weightedSample(docs: DataFrame): DataFrame =
    weightedKeep(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        min(col("rel_weight")).as("rel_weight"))
      .withColumn("expected", col("n_docs") * col("rel_weight"))
      .select("source", "n_docs", "n_kept", "rel_weight", "expected")
      .orderBy("source")

  /** The per-document keep decision behind [[weightedSample]] —
    * (doc_id, source, rel_weight, keep) — for pipelines that materialize
    * the sampled corpus rather than audit it. */
  def weightedKeep(docs: DataFrame): DataFrame = {
    val wts = sourceMixWeights(docs).select("source", "rel_weight")
    docs
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").cast("double") / lit(4294967296.0)).as("u"))
      .join(broadcast(wts), "source")
      .select(col("doc_id"), col("source"), col("rel_weight"),
        (col("u") < col("rel_weight")).as("keep"))
  }

  /** KMV (K-Minimum-Values) distinct-count sketch — per-source distinct
    * word-trigram cardinality, estimated from the k smallest md5 values of
    * the gram set (Bar-Yossef et al. 2002): with hashes uniform in [0,1),
    * E[distinct] ≈ (k−1)/u_k where u_k is the k-th minimum. Alongside the
    * estimate the exact count is emitted, so the output itself audits the
    * sketch's error (~1/√k ≈ 6 % at k = 256).
    *
    * Why this sketch and not HLL: `approx_count_distinct`'s HLL++ and
    * DuckDB's HLL differ in hash and bias tables, so no oracle can gate
    * them; KMV over md5 is a pure deterministic function of the data — the
    * same property every sampling operator here leans on — and every
    * arithmetic step ((k−1)·2⁶⁰ exact in a double mantissa, one IEEE
    * division) is engine-identical.
    *
    * Scale shape (r16): the k-smallest selection is the set-semantic
    * [[graft.functions.KmvMinima]] aggregate — partial aggregation bounds
    * every task's contribution at k hashes per source and nothing ever
    * sorts, so no task touches a source's whole gram set. The sketch is
    * MERGEABLE: the k smallest of a union is a subset of the per-partition
    * k-smallest sets, which is exactly what the final aggregate merges —
    * 1000 executors each contribute ≤ k hashes per source. The exact count
    * audits the sketch at gate scale; a 100 TB deployment keeps only the
    * sketch side (drop the count — the one corpus-sized aggregate here,
    * and with it the distinct exchange, which the set-semantic aggregate
    * does not need). */
  /** Distinct (source, md5(word-trigram)) pairs — the shared sketch domain
    * of l42 (per-source cardinality), l63 (cross-source set algebra) and
    * m33 (streaming delta + exact audit). The hash must stay md5 (the
    * oracles derive the estimates from the k-th md5), so unlike l43's
    * XXH64 postings it can't ride the rolling-hash kernel — instead
    * [[graft.functions.WordTrigramMd5]] digests each gram's byte span in
    * place (one codegen call per row, no per-position HOF lambda, no gram
    * string allocation — the HOF plan this replaces was the query's CPU
    * driver: 90-111 CPU-s on l63/m33 at sf1). */
  private[llm] def sourceGramHashesRaw(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("source"),
        explode(graft.functions.WordTrigramMd5(col("text"))).as("h"))

  private[llm] def sourceGramHashes(docs: DataFrame): DataFrame =
    sourceGramHashesRaw(docs).distinct()

  /** (k−1)·2⁶⁰ / u_k with u_k read from the kth md5's first 15 hex chars.
    * Both numerator factors are double-exact ((k−1) ≤ 2¹¹, 2⁶⁰ a power of
    * two), so the one division is the only rounding — engine-identical. */
  private def kmvEst(k: Int, kthH: Column): Column =
    lit((k - 1).toDouble) * lit(1152921504606846976.0) /
      conv(substring(kthH, 1, 15), 16, 10).cast("long").cast("double")

  /** Per-source k smallest DISTINCT hashes — the shared sketch kernel of
    * all KMV faces (l42 cardinality, l63 set algebra, m33 streaming
    * delta), so a kernel fix can never leave the faces divergent.
    *
    * Implementation (r16 optimization): the set-semantic mergeable
    * [[graft.functions.KmvMinima]] aggregate (bounded sorted insert +
    * bounded sorted set-union — SketchExprSpec pins it equal to the old
    * two-phase window tournament). The aggregate partial-aggregates
    * map-side, so each task ships ≤ k hashes per source through the
    * exchange and NOTHING is sorted — where the window tournament
    * re-shuffled and sorted the ENTIRE gram frame (plus WindowExec's
    * per-task evaluator-factory codegen, the measured CPU driver of the
    * sketch family at gate scale: 54/60 runnable executor stack samples
    * inside windowFrameExpressionFactoryPairs). Input need not be
    * distinct: `reduce` drops duplicates, which also lets one-shot
    * callers skip their corpus-wide DISTINCT exchange entirely. */
  private def kMinima(hashes: DataFrame, k: Int): DataFrame =
    hashes.groupBy("source")
      .agg(graft.functions.KmvMinima.minima(col("h"), k).as("__m"))
      .select(col("source"), explode(col("__m")).as("h"))

  def kmvDistinct(docs: DataFrame, k: Int = 256): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    // one pass over the distinct gram frame: the exact count and the
    // k-minima sketch ride the SAME ObjectHashAggregate (the distinct
    // exchange stays — n_exact needs it — but the window tournament and
    // its second full-width exchange+sort are gone; same output).
    val kth = sourceGramHashes(docs).groupBy("source")
      .agg(count(lit(1)).as("n_exact"),
        graft.functions.KmvMinima.minima(col("h"), k).as("__m"))
      .select(col("source"), col("n_exact"),
        when(size(col("__m")) === k, element_at(col("__m"), k)).as("kth_h"))
    kth
      .select(col("source"), col("n_exact"),
        when(col("kth_h").isNull, col("n_exact").cast("double"))
          .otherwise(kmvEst(k, col("kth_h"))).as("kmv_est"))
      .orderBy("source")
  }

  /** KMV set-operation algebra (Beyer et al., SIGMOD 2007) — the MERGE face
    * of the l42 sketch: cross-source union cardinality, Jaccard, and
    * intersection estimates computed purely from the per-source k-minima
    * lists. The k smallest hashes of A ∪ B are a subset of
    * minima(A) ∪ minima(B) (the union's k-th minimum can only be ≤ either
    * side's), so every pairwise statistic below touches k·|sources| rows —
    * the per-source sketches are what 1000 executors would ship to one
    * reducer, never the gram sets themselves.
    *
    * Per source pair: merge the two minima lists (set-union on hash),
    * keep the k smallest (k_used = min(k, |merged|)); then
    *   union_est = (k−1)/u_k     (exact |A∪B| when both lists were
    *                              complete, i.e. |merged| < k),
    *   jacc_est  = |{top-k hashes present in BOTH lists}| / k_used,
    *   inter_est = jacc_est · union_est.
    * Membership in a side's minima list is exact for every merged-top-k
    * hash: such a hash h ∈ A satisfies h ≤ u_k(A∪B) ≤ u_k(A), so h is in
    * minima(A) — no false negatives, the estimator is well-defined.
    *
    * With `exactAudit = true` the exact distinct-gram intersection rides
    * along as an audit column (the l42/l62 pattern: the output itself
    * measures the sketch's error, ~1/√k on jaccard) — but that audit is
    * the one full-gram-domain self-join in the operator, so it is OFF by
    * default: the DEFAULT plan is the 100 TB plan (sketch-only, every
    * join k·|sources|²-bounded), and the audited form survives as the
    * verify-only l63b twin.
    *
    * All arithmetic is engine-identical: integer counts, the one-rounding
    * kmvEst division, one integer-ratio division for jacc, and a single
    * double product for inter_est. */
  def kmvSetOps(docs: DataFrame, k: Int = 256,
      exactAudit: Boolean = false): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    // default (100 TB) plan: the set-semantic k-minima aggregate reads the
    // RAW gram stream — the corpus-wide DISTINCT exchange the tournament
    // needed is redundant (duplicates die map-side inside the aggregate),
    // so the only full-width work left is the scan+hash itself. The audit
    // twin (l63b, verify-only) still builds the distinct frame: its exact
    // intersection is defined on the distinct gram domain.
    lazy val dist = sourceGramHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r17: the pair algebra runs directly on the per-source minima ARRAYS
    // (sorted, ≤ k elements — the aggregate's output before any explode).
    // The r16 shape exploded the arrays back to rows and recomputed facts
    // that are pure array arithmetic on two k-bounded sorted lists: it
    // paid a (pair, h) exchange, a row_number window whose subtree the
    // planner DUPLICATED (it fed both the per-pair sizes aggregate and
    // the top-k filter, each a full copy — the 2 surviving Window nodes
    // of the r16 plan), and a SortMergeJoin to re-attach k_used. Every
    // per-pair statistic below is a per-ROW expression over the two
    // arrays; the only exchange left on the sketch path is the k-bounded
    // partial-aggregate one. Estimator unchanged (Beyer et al. 2007):
    //   merged   = set-union of the two minima lists (sorted),
    //   n_m      = |merged|, k_used = min(k, n_m),
    //   top-k    = the k_used smallest of merged (= slice(merged, 1, k)),
    //   shared   = |{h in top-k present in BOTH lists}|,
    //   kth_h    = merged[k_used].
    val minima = (if (exactAudit) dist else sourceGramHashesRaw(docs))
      .groupBy("source")
      .agg(graft.functions.KmvMinima.minima(col("h"), k).as("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcs = minima.select(col("source")) // group keys: already distinct
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val withArrs = pairs
      .join(minima.select(col("source").as("source_a"), col("__m").as("__ma")),
        Seq("source_a"))
      .join(minima.select(col("source").as("source_b"), col("__m").as("__mb")),
        Seq("source_b"))
      // KmvMinima arrays are sorted; array_union keeps first-then-appended
      // order, so one sort_array restores ascending-hash order (binary
      // UTF8 comparison — the same ordering the window's ORDER BY h used)
      .withColumn("__u", sort_array(array_union(col("__ma"), col("__mb"))))
      .withColumn("n_m", size(col("__u")).cast("long"))
      .withColumn("k_used", least(lit(k.toLong), col("n_m")))
      // slice(_, 1, k) of an n_m < k array returns all n_m = k_used
      // elements, so this IS the top-k_used prefix in both regimes
      .withColumn("__topk", slice(col("__u"), 1, k))
    val stats = withArrs.select(
      col("source_a"), col("source_b"), col("n_m"), col("k_used"),
      // membership in a side's minima list is exact for every merged-top-k
      // hash (h ≤ u_k(A∪B) ≤ u_k(A) ⇒ h ∈ minima(A)), so intersecting the
      // prefix with both arrays counts exactly the old in_a·in_b rows
      size(array_intersect(array_intersect(col("__topk"), col("__ma")),
        col("__mb"))).cast("long").as("shared_minima"),
      expr("element_at(__u, cast(k_used as int))").as("kth_h"))
    val unionEst = when(col("n_m") < k, col("n_m").cast("double"))
      .otherwise(kmvEst(k, col("kth_h")))
    val jaccEst = col("shared_minima").cast("double") / col("k_used").cast("double")
    val sketch = stats
      .select(col("source_a"), col("source_b"), col("k_used"),
        col("shared_minima"),
        unionEst.as("kmv_union_est"),
        jaccEst.as("kmv_jacc_est"),
        (jaccEst * unionEst).as("kmv_inter_est"))
    if (!exactAudit) return sketch.orderBy("source_a", "source_b")
    // exact audit: distinct-gram intersection per pair — the full-domain
    // self-join the default plan deliberately omits
    val exact = dist.as("da").join(dist.as("db"),
        col("da.h") === col("db.h") && col("da.source") < col("db.source"))
      .groupBy(col("da.source").as("source_a"), col("db.source").as("source_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    sketch
      .join(exact, Seq("source_a", "source_b"), "left")
      .withColumn("n_exact_inter", coalesce(col("n_exact_inter"), lit(0L)))
      .orderBy("source_a", "source_b")
  }

  /** Collocation mining — the top-k bigrams by LIFT, the log-free PMI:
    * lift(x,y) = P(xy) / (P(x·)·P(·y)) = c_xy·N / (c_x·c_y), where c_x /
    * c_y count x as a bigram head / y as a tail and N is the corpus bigram
    * total. Lift ≫ 1 marks words that co-occur far above chance — the
    * phrase-mining primitive behind tokenizer-vocabulary construction and
    * multi-word-entity discovery (Manning & Schütze ch. 5). Log-free for
    * the same reason as BM25's odds-ratio idf (l31): identical top-k,
    * engine-exact IEEE arithmetic. `minCount` suppresses the
    * one-observation noise that dominates raw lift rankings.
    *
    * Scale shape: counting shuffles 8-byte word-hash PAIRS (the l29
    * principle — never a corpus-wide string shuffle; r6 shipped raw
    * bigram strings through the exchange and paid 80 s at sf0.1 for it);
    * the marginals c_x, c_y and the total N all derive from that
    * already-aggregated vocab²-bounded table and broadcast back onto it.
    * The lift threshold then picks the top-k PLATEAU (every bigram tied
    * at the k-th lift enters, bounded by 100·k as in l29), and a second
    * string pass labels only candidate-hash occurrences via a broadcast
    * hash join — exact final ranking on the bounded labeled set, so the
    * result matches a direct string count bit-for-bit (modulo 2^-64
    * hash collisions, which could only perturb candidate selection).
    * The ratio is computed double ÷ double ÷ double × double — no integer
    * product that could overflow at corpus scale — and the final top-k is
    * a TakeOrderedAndProject, never a global sort. The hash-count table
    * persists MEMORY_AND_DISK (read by the marginals, the total, and the
    * join base) — see [[TextDedup]]'s cache-lifecycle note. */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = split(col("text"), " ")
    // hash each token ONCE, then pair adjacent hashes — half the hash
    // kernel work of hashing every token as head and again as tail
    val hs = transform(w, t => xxhash64(t))
    val hashPairs = when(size(w) >= 2,
      zip_with(slice(hs, lit(1), size(w) - 1), slice(hs, lit(2), size(w) - 1),
        (a, b) => struct(a.as("h1"), b.as("h2"))))
      .otherwise(array())
    val counts = spread(docs)
      .select(explode(hashPairs).as("p"))
      .groupBy(col("p.h1").as("h1"), col("p.h2").as("h2"))
      .agg(count(lit(1)).as("c_xy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cx = counts.groupBy("h1").agg(sum("c_xy").as("c_x"))
    val cy = counts.groupBy("h2").agg(sum("c_xy").as("c_y"))
    val n = counts.agg(sum("c_xy").as("nb"))
    val scored = counts.filter(col("c_xy") >= minCount)
      .join(broadcast(cx), "h1")
      .join(broadcast(cy), "h2")
      .crossJoin(broadcast(n))
      .withColumn("lift",
        col("c_xy").cast("double") / col("c_x").cast("double") /
          col("c_y").cast("double") * col("nb").cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // k-th lift threshold; ALL boundary-tied bigrams enter the label pass
    val kthRow = scored.orderBy(col("lift").desc).limit(k)
      .agg(min("lift")).head().get(0)
    val cand =
      if (kthRow == null) scored.limit(0)
      else scored.filter(col("lift") >= kthRow.asInstanceOf[Double])
    require(cand.count() <= 100 * k,
      s"top-$k lift boundary plateau exceeds ${100 * k} bigrams — raise k or minCount")
    // label pass: zip each candidate occurrence's strings with its hash
    // pair; broadcast-join membership, collapse to one row per bigram
    // type via a map-side-combined min (hash pair determines the pair)
    val wh = zip_with(w, hs, (t, h) => struct(t.as("t"), h.as("h")))
    val labeled = when(size(w) >= 2,
      zip_with(slice(wh, lit(1), size(w) - 1), slice(wh, lit(2), size(w) - 1),
        (a, b) => struct(a.getField("t").as("w1"), b.getField("t").as("w2"),
          a.getField("h").as("h1"), b.getField("h").as("h2"))))
      .otherwise(array())
    val labels = spread(docs)
      .select(explode(labeled).as("b"))
      .select(col("b.h1").as("h1"), col("b.h2").as("h2"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(broadcast(cand.select("h1", "h2")), Seq("h1", "h2"))
      .groupBy("h1", "h2")
      .agg(min(struct(col("w1"), col("w2"))).as("s"))
      .select(col("h1"), col("h2"), col("s.w1").as("w1"), col("s.w2").as("w2"))
    val ord = Seq(col("lift").desc, col("w1"), col("w2"))
    cand.join(labels, Seq("h1", "h2"))
      .orderBy(ord: _*).limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("rk", "w1", "w2", "c_xy", "c_x", "c_y", "lift")
      .orderBy("rk")
  }

  /** Token-rarity profile — the LOG-FREE surprisal family: per document,
    * how rare are its distinct tokens in the corpus? Perplexity-style
    * quality scoring (a KenLM pass in CCNet/RedPajama) needs log
    * probabilities, whose libm dependence would tie results to one math
    * library; document frequency is the same monotone signal stated in
    * integers — mean df (low = specialized/rare vocabulary, high =
    * boilerplate), the rarest token's df, and the hapax count (tokens
    * appearing in no other document: high hapax marks OCR noise and
    * gibberish, the classic junk signal). Everything is integer-exact
    * except one final IEEE division (the QUtil contract).
    *
    * Scale shape: the distinct (doc, token) explode is one
    * partial-aggregated shuffle; the df table derives from it (no second
    * corpus scan) and joins back on the token key, where AQE broadcasts
    * it when the vocabulary is small; the per-doc rollup is the second
    * and last corpus-sized shuffle. No window, no funnel — per-task work
    * is bounded by token frequency, not corpus size. */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
    val df = toks.groupBy("word").agg(count(lit(1)).as("df"))
    toks.join(df, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        sum("df").as("sum_df"),
        min("df").as("min_df"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("mean_df", col("sum_df").cast("double") / col("n_distinct"))
      .select("doc_id", "n_distinct", "sum_df", "min_df", "n_hapax", "mean_df")
      .orderBy("doc_id")
  }

  /** Per-source distribution drift: total-variation distance between each
    * source's unigram distribution and the whole corpus — the monitoring
    * signal behind "did this crawl batch / provider shift under us?"
    * (KL/JS need per-term logs whose libm rounding differs across
    * engines; TV = ½·Σ|p_s − p| carries the same alarm and stays exact).
    *
    * Integer-exact core: with c_sw = count of word w in source s, T_s =
    * source tokens, c_w/T corpus-wide,
    *   TV(s) = [ Σ_{w∈V_s} |c_sw·T − c_w·T_s|  +  (T − Σ_{w∈V_s} c_w)·T_s ]
    *           / (2·T_s·T)
    * — the second term folds every word ABSENT from the source without
    * materializing the source×vocab cross product. The numerator
    * aggregates as DECIMAL(38,0) (HUGEINT on the oracle side), the
    * denominator is two exact-integer→double casts and one division.
    *
    * Scale shape: one (source, word) count shuffle over the token scan;
    * the word-total re-aggregation and the word-keyed join reuse that
    * frame (word-keyed shuffle, AQE broadcasts the vocab side when
    * small); per-source totals and the corpus total ride as broadcast
    * one-row frames. Work is linear in distinct (source, word) pairs —
    * never quadratic, no window. */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val tok = docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
    val csw = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cw  = csw.groupBy("w").agg(sum("c_sw").as("c_w"))
    val ts  = csw.groupBy("source")
      .agg(sum("c_sw").as("t_s"), count(lit(1)).as("n_distinct"))
    val tot = cw.agg(sum("c_w").as("t_all"))
    csw.join(cw, "w")
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(
        sum(abs(col("c_sw").cast(dec38) * col("t_all") -
          col("c_w").cast(dec38) * col("t_s"))).as("a_num"),
        sum("c_w").as("b_cov"),
        max("t_s").as("n_tokens"),
        max("n_distinct").as("n_distinct"),
        max("t_all").as("t_all"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        ((col("a_num") + (col("t_all") - col("b_cov")).cast(dec38) * col("n_tokens"))
          .cast("double") /
          (lit(2) * col("n_tokens").cast("double") * col("t_all").cast("double")))
          .as("tv_dist"))
      .orderBy("source")
  }

  /** Default blocklist for [[blocklistScore]]: (term, weight). */
  val Blocklist: Seq[(String, Int)] = Seq("slow" -> 4, "dup" -> 7, "big" -> 2)

  /** Weighted term-blocklist gate (the wordlist-filtering face of corpus
    * safety/quality screens, RefinedWeb §3.1-style): per document, the
    * weight-summed count of blocklisted terms and a density flag
    * (score·25 ≥ tokens ⇔ weighted density ≥ 4 %). Integer arithmetic
    * only; one zero-shuffle projection over the token split — the list
    * compiles into the scan as a CASE chain, so screening 100 TB costs
    * exactly one read of it. */
  def blocklistScore(docs: DataFrame,
      terms: Seq[(String, Int)] = Blocklist): DataFrame = {
    val cases = terms.map { case (t, wt) =>
      s"WHEN '${t.replace("'", "''")}' THEN ${wt}L" }.mkString(" ")
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        expr(s"aggregate(w, 0L, (acc, x) -> acc + CASE x $cases ELSE 0L END)")
          .as("block_score"))
      .withColumn("flagged", col("block_score") * 25 >= col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Out-of-vocabulary rate vs the corpus' own top-`k` token vocabulary —
    * the tokenizer-coverage audit run before committing a vocab size
    * (pairs with the l51/l56 BPE path: how much of the corpus would fall
    * outside a k-entry vocabulary?). The vocabulary is deterministic
    * (count desc, token asc) and k-bounded, so the driver collect is
    * vocab-sized (the BPE-merges/IVF-centroids idiom) and the per-doc
    * pass compiles it into the scan as a literal array — one count
    * shuffle to build the vocab, then a zero-shuffle projection. */
  def oovRate(docs: DataFrame, k: Int = 25): DataFrame = {
    val counts = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val vocab = counts.orderBy(desc("n"), col("w")).limit(k)
      .collect().map(_.getString(0))
    val vocabLit = array(vocab.map(lit(_)).toIndexedSeq: _*)
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(filter(col("w"), x => !array_contains(vocabLit, x)))
          .cast("long").as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  /** One batch's contribution to the streaming KMV sketch: the per-source
    * k smallest distinct gram hashes of THIS batch (the l42 two-phase
    * tournament). ≤ k·|sources| rows whatever the batch size. */
  def kmvDelta(docs: DataFrame, k: Int = 256): DataFrame =
    kMinima(sourceGramHashesRaw(docs), k) // set-semantic agg: no distinct

  /** Merge two KMV states: per-source k smallest of the set union. Exact
    * by the subset property (the union's k-th minimum can only come from
    * one side's k-minima), associative and commutative — so ANY batch
    * split and merge order lands on the one-shot sketch, which is the
    * mergeability that lets 1000 executors (or 1000 micro-batches — m33)
    * each contribute ≤ k rows per source. State is k·|sources|-bounded:
    * a plain per-source rank, no tournament needed. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame =
    kMinima(a.unionByName(b), k) // set-union semantics live in the agg

  /** Read the sketch: per-source estimate from the k-th minimum — the
    * exact l42 arithmetic. A state holding fewer than k hashes for a
    * source IS that source's full distinct set (nothing was ever
    * dropped), so the sub-k path returns the exact count. */
  def kmvEstimate(state: DataFrame, k: Int = 256): DataFrame =
    // state rows are distinct by construction (kmvMerge is a set union);
    // the sub-k "exact" branch reads the DEDUPLICATING aggregate's size,
    // not a raw row count (ADVICE r16 #2), so out-of-contract duplicate
    // state rows can't inflate it — identical output on contract inputs,
    // and one aggregate expression instead of two
    state
      .groupBy("source")
      .agg(graft.functions.KmvMinima.minima(col("h"), k).as("__m"))
      .select(col("source"),
        when(size(col("__m")) === k, element_at(col("__m"), k)).as("kth_h"),
        size(col("__m")).cast("long").as("n_state"))
      .select(col("source"),
        when(col("kth_h").isNull, col("n_state").cast("double"))
          .otherwise(kmvEst(k, col("kth_h"))).as("kmv_est"))

  /** Maintain the KMV sketch under a streaming source (the m33 gate):
    * each micro-batch folds [[kmvDelta]] into generation-committed state
    * with [[kmvMerge]] through [[GenState.fold]]
    * (replay-safe, crash-safe — the m28 idiom; the sketch is key-less,
    * k·|sources|-bounded state, so it is one bucket). The full history is
    * never rescanned: per batch the cost is batch-scan + a
    * k·|sources|-row merge. */
  def kmvMaintain(src: DataFrame, statePath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger, k: Int = 256)
      : org.apache.spark.sql.streaming.StreamingQuery =
    GenState.foreachBatch(src, checkpoint, trigger) { (b, id) =>
      GenState.fold(statePath, b, id)(kmvDelta(_, k), kmvMerge(_, _, k))
    }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over corpus token
    * frequencies, audited against the exact counts — the FREQUENCY member
    * of the mergeable-sketch family (l42 KMV = cardinality, l65 bloom =
    * membership, q18 histogram = quantiles). depth×width md5-derived
    * cells; every estimate is min over depth rows, so the error is
    * one-sided (est ≥ exact, overcount ≤ ~2N/width w.h.p. per row).
    *
    * Scale shape: the sketch aggregate's key space is FIXED at
    * depth·width cells whatever the corpus size — the partial aggregate
    * collapses each input partition to ≤ depth·width rows before the
    * exchange, which is exactly the sketch's mergeability (1000 executors
    * each ship one 4096-cell array; summing cell-wise IS the merge). The
    * exact per-token count table exists here only as the audit side and
    * is what a 100 TB deployment drops; the deterministic top-k probe set
    * (count desc, token asc — the l61 vocabulary rule) keeps the output
    * gate-sized.
    *
    * Engine-invariance: cells are md5-derived (the l42 contract), counts
    * and the min fold are integers — no float anywhere. */
  /** (r, cell) struct list for a token — the shared md5 cell derivation
    * of every count-min face (l64 one-shot, m34 streaming). Since r17 it
    * is the [[graft.functions.CmCells]] library kernel: one codegen call
    * and one digest pass per token, replacing depth separate
    * md5+substring+conv+pmod expression trees (each building a concat'd
    * string, a 32-char hex string and conv's radix string round-trip per
    * token) in per-query generated code. Byte-equality to the composed
    * plan is pinned in SketchExprSpec. */
  private def cmCells(tok: Column, depth: Int, width: Int): Column =
    explode(graft.functions.CmCells(tok, depth, width))

  /** One batch's count-min cells: (r, cell, c) — ≤ depth·width rows
    * whatever the batch size (the partial aggregate IS the sketch). */
  def countMinDelta(docs: DataFrame, depth: Int = 4,
      width: Int = 1024): DataFrame =
    spread(docs).select(explode(split(col("text"), " ")).as("tok"))
      .select(cmCells(col("tok"), depth, width).as("p"))
      .select(col("p.r").as("r"), col("p.cell").as("cell"))
      .groupBy("r", "cell").agg(count(lit(1)).as("c"))

  /** Merge two count-min states: cell-wise sum — exactly additive, so any
    * batch split and merge order lands bit-identically on the one-shot
    * sketch (the m34 gate reuses l64's oracle verbatim). */
  def countMinMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("r", "cell").agg(sum(col("c")).as("c"))

  /** Estimate counts for a (token, n_exact) probe frame from a sketch
    * state: min over the depth rows, one-sided error. */
  def countMinEstimate(sketch: DataFrame, probes: DataFrame,
      depth: Int = 4, width: Int = 1024): DataFrame =
    probes
      .select(col("tok"), col("n_exact"), cmCells(col("tok"), depth, width).as("p"))
      .select(col("tok").as("token"), col("n_exact"),
        col("p.r").as("r"), col("p.cell").as("cell"))
      .join(broadcast(sketch), Seq("r", "cell"))
      .groupBy("token", "n_exact")
      .agg(min(col("c")).as("n_est"))
      .select(col("token"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
      .orderBy(desc("n_exact"), col("token"))

  /** Maintain the count-min sketch under a streaming source (the m34
    * gate) — [[countMinDelta]] folded per micro-batch into generation-
    * committed state with [[countMinMerge]] through
    * [[GenState.fold]] (the m33/m28 idiom: key-less,
    * one bucket); per-batch merge cost is depth·width-bounded forever. */
  def countMinMaintain(src: DataFrame, statePath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      depth: Int = 4, width: Int = 1024)
      : org.apache.spark.sql.streaming.StreamingQuery =
    GenState.foreachBatch(src, checkpoint, trigger) { (b, id) =>
      GenState.fold(statePath, b, id)(
        countMinDelta(_, depth, width), countMinMerge)
    }

  def countMinTokens(docs: DataFrame, depth: Int = 4, width: Int = 1024,
      k: Int = 20): DataFrame = {
    val toks = spread(docs).select(explode(split(col("text"), " ")).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sketch = toks
      .select(cmCells(col("tok"), depth, width).as("p"))
      .select(col("p.r").as("r"), col("p.cell").as("cell"))
      .groupBy("r", "cell").agg(count(lit(1)).as("c"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), col("tok")).limit(k)
    countMinEstimate(sketch, top, depth, width)
  }

  /** Bloom-filter membership audit — the reference's negative-lookup
    * structure (filter.go / O20, realized at rest via parquet bloom
    * config) given an analytic face: build an m-bit / nh-hash bloom over
    * the fingerprints of the even-doc_id half of the corpus, probe EVERY
    * document, and emit the bloom verdict next to exact membership. The
    * defining contract — no false negatives, bounded false positives —
    * becomes visible output (bloom_hit ≥ is_member row-wise; the fp rate
    * is the is_member=false ∧ bloom_hit=true share).
    *
    * Scale shape: the filter itself is the ≤ m-row set-bit table — built
    * by a fixed-key-space partial aggregate (distinct on bit position)
    * and BROADCAST to the probe scan, so probing a 100 TB corpus is one
    * map-side join, no corpus shuffle. The exact-membership column is the
    * audit side (a fingerprint equi-join) that a deployment would drop —
    * or keep only behind bloom_hit=true rows, which is precisely the
    * reference's read-path short-circuit (consult the bloom, touch the
    * store only on a hit). md5-derived everything, boolean output —
    * engine-exact. */
  /** md5-derived bit positions for fingerprint `fp` — the shared cell
    * derivation of every bloom face (l65 one-shot, m36 streaming). Since
    * r17 the [[graft.functions.BloomPositions]] kernel: one codegen call
    * and one reused digest per fingerprint instead of nh separate
    * md5+substring+conv+pmod trees (the cm_cells pattern; bit parity with
    * the composed plan pinned in SketchExprSpec). */
  private def bloomPositions(fp: Column, bits: Int, nh: Int): Column =
    explode(graft.functions.BloomPositions(fp, nh, bits))

  /** The l65 membership rule: the even-doc_id half of the corpus is the
    * indexed set, every document is a probe. */
  private def bloomMemberFps(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("fp")).distinct()

  def bloomAudit(docs: DataFrame, bits: Int = 4096, nh: Int = 3): DataFrame = {
    val probes = spread(docs).select(col("doc_id"), md5(col("text")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = probes.filter(col("doc_id") % 2 === 0)
      .select(col("fp")).distinct()
    val setBits = members
      .select(bloomPositions(col("fp"), bits, nh).as("pos")).distinct()
    bloomAuditAgainst(probes, members, setBits, bits, nh)
  }

  /** The probe+audit half shared by the one-shot and streaming faces:
    * bloom verdict (all nh positions set) next to exact membership. */
  private def bloomAuditAgainst(probes: DataFrame, members: DataFrame,
      setBits: DataFrame, bits: Int, nh: Int): DataFrame = {
    val bloomHit = probes
      .select(col("doc_id"), bloomPositions(col("fp"), bits, nh).as("pos"))
      .join(broadcast(setBits.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy("doc_id")
      .agg((count(col("hit")) === nh).as("bloom_hit"))
    val isMember = probes
      .join(members.withColumn("m", lit(1)), Seq("fp"), "left")
      .select(col("doc_id"), col("m").isNotNull.as("is_member"))
    bloomHit.join(isMember, Seq("doc_id"))
      .select(col("doc_id"), col("bloom_hit"), col("is_member"))
      .orderBy("doc_id")
  }

  /** One batch's bloom delta: the distinct set-bit positions its member
    * rows light up — ≤ `bits` rows whatever the batch size (the partial
    * distinct IS the sketch; a bit array is the degenerate mergeable
    * sketch whose merge is set union). */
  def bloomDelta(docs: DataFrame, bits: Int = 4096, nh: Int = 3): DataFrame =
    bloomMemberFps(spread(docs))
      .select(bloomPositions(col("fp"), bits, nh).as("pos")).distinct()

  /** Merge two bloom states: bit-set union — idempotent AND commutative
    * (OR of bits), so any batch split, merge order, or even double-applied
    * delta lands bit-identically on the one-shot filter. The strongest
    * mergeability in the sketch family (count-min needs exactly-once
    * addition; bloom tolerates replay by construction — GenState's commit
    * markers are belt-and-braces here). */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()

  /** Maintain the bloom filter under a streaming source (the m36 gate) —
    * [[bloomDelta]] folded per micro-batch into generation-committed
    * state with [[bloomMerge]] through [[GenState.fold]]
    * (key-less, one bucket); per-batch merge cost is `bits`-bounded
    * forever. */
  def bloomMaintain(src: DataFrame, statePath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      bits: Int = 4096, nh: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    GenState.foreachBatch(src, checkpoint, trigger) { (b, id) =>
      GenState.fold(statePath, b, id)(bloomDelta(_, bits, nh), bloomMerge)
    }

  /** l65's audit read off a MAINTAINED set-bit state instead of the
    * one-shot build: probes and the exact-membership audit come from a
    * batch read of the same corpus the stream ingested, so the output —
    * and the oracle — are l65's verbatim. */
  def bloomAuditFromState(state: DataFrame, docs: DataFrame,
      bits: Int = 4096, nh: Int = 3): DataFrame = {
    val probes = spread(docs).select(col("doc_id"), md5(col("text")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact-membership side derived from the CACHED probe fingerprints
    // (the l65 shape) — not a second corpus scan + md5 pass
    val members = probes.filter(col("doc_id") % 2 === 0)
      .select(col("fp")).distinct()
    bloomAuditAgainst(probes, members, state, bits, nh)
  }

  /** The CCNet head/middle/tail split (Wenzek et al., LREC 2020 §4.3):
    * per-language perplexity terciles over [[lmPerplexity]]'s scores —
    * the head (lowest-perplexity third) is what CCNet-style pipelines
    * keep for LM pretraining, the tail is dropped or down-weighted.
    * Output per (lang, bucket): doc count, token volume, and the
    * tercile boundaries the bucket was cut at.
    *
    * Determinism: buckets compare the ROUNDED ppl (engine-identical per
    * the l66 argument) against ROUNDED percentile boundaries computed
    * from those same rounded values — identical multisets in, identical
    * interpolation out, one more round(…,6) over the m23 seam. Boundary
    * ties bucket identically because both operands are bit-equal.
    *
    * Scale shape: l66's chain + one per-language exact percentile (the
    * q7 shape — fine at gate scale; a 100 TB run swaps in q18's
    * histogram sketch for the boundaries, same output contract) + one
    * broadcast of the |langs|-row boundary table onto the scored scan. */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = lmPerplexity(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok")), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = scored.groupBy("lang")
      .agg(round(expr("percentile(ppl, CAST(1 AS DOUBLE) / 3)"), 6).as("b1"),
        round(expr("percentile(ppl, CAST(2 AS DOUBLE) / 3)"), 6).as("b2"))
    scored.join(broadcast(bounds), "lang")
      .withColumn("bucket",
        when(col("ppl") <= col("b1"), "head")
          .when(col("ppl") <= col("b2"), "middle")
          .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        max(col("b1")).as("b1"), max(col("b2")).as("b2"))
      .orderBy("lang", "bucket")
  }

  /** Bigram language-model quality scoring — the CCNet/KenLM perplexity
    * filter (Wenzek et al., LREC 2020) that every web-scale curation
    * pipeline runs: score each document by how predictable its text is
    * under an n-gram LM, then drop/bucket the high-perplexity (noisy) and
    * suspiciously low-perplexity (boilerplate) tails. Here the LM is
    * trained on the corpus itself (self-perplexity — the in-distribution
    * variant; a production pipeline would persist the count tables from a
    * clean reference corpus and join them in, which is the SAME plan with
    * the count frames read instead of computed).
    *
    * Model: add-one smoothed bigram conditional
    * P(w2 | w1) = (c2(w1 w2) + 1) / (c1(w1) + V), with c1 = corpus
    * occurrences of w1, c2 = corpus occurrences of the bigram, V = corpus
    * vocabulary size. Per doc: avg_logp = mean ln P over its bigrams and
    * ppl = exp(−avg_logp). Docs with < 2 tokens have no bigrams and no row
    * (inner-join semantics, mirrored by the oracle).
    *
    * Determinism note — the ONE operator family where `ln` is semantic
    * (perplexity is DEFINED in log space; the l24/l31 log-free monotone
    * trick only preserves rankings, not the reported score), so this
    * deviates from the log-free principle deliberately: per-term libm
    * disagreement is ≤ 2 ulp (≈ 1e−15 relative), a doc contributes ≤ 10⁴
    * terms, so avg_logp is engine-identical to ~1e−12 — nine orders under
    * the round(…, 6) quantum (the m23 seam-rounding pattern). ppl is
    * exp of the ROUNDED avg (identical input in both engines) rounded
    * again, so the gate compares both columns exactly.
    *
    * Scale shape: both count aggregates and both lookup joins move 8-byte
    * position-gram HASHES from the codegen'd [[graft.functions.NGramHashesPos]]
    * kernel (the l29/l33 principle — no corpus-wide string shuffle; a
    * 64-bit collision would need ~2³² distinct grams). The unigram and
    * bigram count tables are gram-vocabulary-bounded — orders of magnitude
    * smaller than the token stream — and AQE broadcasts them when small;
    * at 100 TB they become shuffle joins on the same 8-byte keys. V and
    * the two count frames are the only aggregates; the per-doc mean is
    * partial-aggregated. */
  def lmPerplexity(docs: DataFrame): DataFrame = {
    import graft.functions.NGramHashesPos
    val toks = spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      // materialize the token array behind its own projection before any
      // per-position work (the round-8 HOF-lambda lesson)
      .select(col("doc_id"), col("w"),
        NGramHashesPos(col("w"), 2).as("h2s"),
        NGramHashesPos(col("w"), 1).as("h1s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one row per bigram position: bigram hash + its context (first word)
    // hash — h1s[i] is the hash of w(i), aligned with h2s[i] = w(i) w(i+1)
    val inst = toks
      .select(col("doc_id"), col("h2s"),
        slice(col("h1s"), lit(1), size(col("h2s"))).as("h1c"))
      .select(col("doc_id"), explode(arrays_zip(col("h2s"), col("h1c"))).as("z"))
      .select(col("doc_id"), col("z.h2s").as("h2"), col("z.h1c").as("h1"))
    val uni = toks.select(explode(col("h1s")).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bi = inst.groupBy("h2").agg(count(lit(1)).as("c2"))
    // V is by construction uni's cardinality — one count over the (tiny,
    // cached) aggregate, not a second token-stream distinct pass
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    val logp = log((col("c2") + lit(1)).cast("double") /
      (col("c1") + col("vocab")).cast("double"))
    // the persist is read by inst/uni/bi/vocab inside the returned plan's
    // lineage — callers own the cache lifecycle (see [[TextDedup]]'s note)
    inst
      .join(bi, "h2")
      .join(uni, "h1")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(logp), 6).as("avg_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
        round(exp(-col("avg_logp")), 6).as("ppl"))
      .orderBy("doc_id")
  }
}
