package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QUtil._

/** Driver-contract entries for the LLM-data-pipeline module (dedup,
  * similarity search, text analysis, multimodal metadata) over the
  * `documents` and `embeddings` testdata tables.
  *
  * Every oracle reproduces the Spark result bit-for-bit: outputs are
  * integer counts/ids plus single IEEE divisions, and the LSH bucket
  * constants are embedded verbatim in the SQL (see [[Similarity]]).
  * The oracles verify *semantics* with straightforward (sometimes
  * all-pairs) SQL at sf0.01; the Spark side is the scale path — banded
  * LSH shuffles, broadcast probes, never an N×N product.
  */
/** The c3 curation pipeline's DuckDB CTE chain (quality gate -> shingle
  * Jaccard pairs -> recursive-CTE connected components -> drops), shared
  * verbatim by the c3 composite and the c11 lineage audit so both gates
  * verify the SAME dataflow. */
private[llm] object CurateSql {
  val ctes: String =
    """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, text, w,
        |        CASE WHEN len(w) >= 2 THEN list_transform(range(len(w) - 1),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |          ELSE CAST([] AS VARCHAR[]) END AS big,
        |        greatest(len(w) - 2, 0) AS n3,
        |        CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(range(len(w) - 2),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))))
        |          ELSE 0 END AS d3
        |      FROM toks),
        |bg AS (SELECT doc_id, unnest(big) AS g FROM b),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |mx AS (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY 1),
        |m AS (SELECT b.doc_id,
        |        (len(b.w) BETWEEN 50 AND 100000
        |         AND (length(b.text) - (len(b.w) - 1)) * 1.0 / len(b.w) BETWEEN 3.0 AND 10.0
        |         AND len(list_filter(b.w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) >= 2
        |         AND (CASE WHEN len(b.big) = 0 THEN 0.0
        |              ELSE COALESCE(mx.top, 0) * 1.0 / len(b.big) END) <= 0.2
        |         AND (CASE WHEN b.n3 = 0 THEN 0.0
        |              ELSE (b.n3 - b.d3) * 1.0 / b.n3 END) <= 0.3) AS pass
        |      FROM b LEFT JOIN mx USING (doc_id)),
        |p AS (SELECT t.doc_id, t.lang, t.w FROM toks t JOIN m USING (doc_id) WHERE m.pass),
        |pos AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM p),
        |sh AS (SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS s
        |       FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |                  JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pr AS (SELECT a_id AS doc_a, b_id AS doc_b
        |       FROM inter
        |       JOIN sz sa ON sa.doc_id = a_id
        |       JOIN sz sb ON sb.doc_id = b_id
        |       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pr
        |          UNION ALL SELECT doc_b, doc_a FROM pr),
        |reach(v, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, re.r FROM edges e JOIN reach re ON re.v = e.d),
        |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        |drops AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)""".stripMargin
}

object LlmQueries {

  /** The c3 curation dataflow's two stage frames, shared by the pipeline
    * composite (c3) and its lineage audit (c11): (quality-passed docs,
    * near-dup cluster non-representatives to drop). */
  private def curateStages(docs: DataFrame): (DataFrame, DataFrame) = {
    val passed = docs
      .join(TextStats.qualityFilter(docs).select("doc_id", "pass"), "doc_id")
      .filter(col("pass"))
      .select("doc_id", "lang", "text")
    val pairs = TextDedup.minhashNearDup(passed).select("doc_a", "doc_b")
    val drops = TextDedup.dedupClusters(pairs)
      .filter(!col("keep")).select(col("doc_id"))
    (passed, drops)
  }

  /** Stage the documents corpus for the four-micro-batch sketch gates
    * (m33/m33b/m34/m36) and return (source row count, files per trigger).
    *
    * The gates deliberately stage exactly four source files and read one
    * per trigger — four REAL micro-batches, the smallest count that
    * exercises cross-batch sketch mergeability. But one file per trigger
    * is also ONE scan task per batch: at gate scale that shaves the
    * micro-batch scheduler floor, while at the ×1000 decade it ran each
    * batch's ~1G-row token explode / gram distinct essentially
    * single-threaded with 30 cores idle (measured: m34 875 s at 1.3
    * cores, m33 285 s at 2 — the r16 full-registry cast's catch). Past
    * [[graft.operators.DriverGates.StreamNarrowSourceRowCap]] the staging
    * therefore writes 4·8 files and each trigger reads 8 — STILL exactly
    * four micro-batches (sketch deltas are merge-associative/commutative,
    * so the final state is batch-split invariant, and the oracle reads
    * only final state), but each batch's scan runs 8-wide; the fold runs
    * at session width via [[graft.queries.QUtil.withStreamPartsFor]]
    * (the m37/m41 gate). Below the cap the layout is byte-identical to
    * the r15 shape (4 files, fpb=1, 8-way fold). */
  private def stageSketchSrc(
      s: org.apache.spark.sql.SparkSession, dir: String, base: String,
      label: String): (Long, Int) = {
    val docs = Tables.documents(s, dir)
    val srcRows = docs.count()
    val (nFiles, fpb) =
      if (srcRows > graft.operators.DriverGates.StreamNarrowSourceRowCap) (32, 8)
      else (4, 1)
    graft.queries.QUtil.tracedPhase(s"$label stage-src") {
      docs.repartition(nFiles).write.parquet(s"$base/src") }
    (srcRows, fpb)
  }

  /** The shared scaffold of the streaming sketch gates (m33, m33b, m34,
    * m36): stage the corpus ([[stageSketchSrc]]), stream it back as four
    * micro-batches into `maintain(src, statePath, checkpoint, trigger)`,
    * await the fold, then build the gate's output with `finish(base)` —
    * the committed state lives at `$base/state`, the staged corpus at
    * `$base/src`. `finish` runs in the same
    * [[graft.queries.QUtil.withStreamPartsFor]] scope as the fold. */
  private def sketchGate(s: org.apache.spark.sql.SparkSession, dir: String,
      label: String)(
      maintain: (DataFrame, String, String,
        org.apache.spark.sql.streaming.Trigger) =>
        org.apache.spark.sql.streaming.StreamingQuery)(
      finish: String => DataFrame): DataFrame = {
    val base = stagingDir(label)
    val (srcRows, fpb) = stageSketchSrc(s, dir, base, label)
    withStreamPartsFor(s, 8, srcRows) {
      val schema = s.read.parquet(s"$base/src").schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", fpb).parquet(s"$base/src")
      awaitTraced(label, maintain(src, s"$base/state", s"$base/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      finish(base)
    }
  }

  val queries: Map[String, QFn] = Map(
    "l1_exact_dedup" -> { (s, dir) =>
      TextDedup.exactDedup(Tables.documents(s, dir)) },

    "l2_neardup_minhash" -> { (s, dir) =>
      TextDedup.minhashNearDup(Tables.documents(s, dir)) },

    "l3_ann_brute" -> { (s, dir) =>
      Similarity.annBrute(Tables.embeddings(s, dir)) },

    "l4_ann_lsh" -> { (s, dir) =>
      Similarity.annLsh(Tables.embeddings(s, dir)) },

    "l5_textstats" -> { (s, dir) =>
      TextStats.textStats(Tables.documents(s, dir)) },

    "l6_langid" -> { (s, dir) =>
      TextStats.langId(Tables.documents(s, dir)) },

    "l7_simhash_neardup" -> { (s, dir) =>
      TextDedup.simhashNearDup(Tables.documents(s, dir)) },

    // Binary-column (multimodal) metadata extraction: payload as opaque
    // bytes; size, magic prefix, content hash — all without decoding.
    "l8_multimodal_meta" -> { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        expr("octet_length(encode(text, 'UTF-8'))").as("n_bytes"),
        hex(encode(substring(col("text"), 1, 4), "UTF-8")).as("magic"),
        md5(encode(col("text"), "UTF-8")).as("content_md5"))
        .orderBy("doc_id") },

    "l9_embdup_lsh" -> { (s, dir) =>
      Similarity.embeddingNearDup(Tables.embeddings(s, dir)) },

    // n-gram-Jaccard dedup family: character 5-grams, banded-LSH blocked.
    "l12_ngram_jaccard" -> { (s, dir) =>
      TextDedup.ngramJaccardNearDup(Tables.documents(s, dir)) },

    // benchmark decontamination: docs 0..19 stand in for an eval suite;
    // flag training docs sharing any word 8-gram with them
    "l15_decontam" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      TextDedup.decontaminate(
        d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20)) },

    // incremental dedup: docs < 250 are the standing corpus, the rest a
    // new crawl batch deduped against it (and within itself)
    "l18_incr_dedup" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      TextDedup.exactDedupAgainst(
        d.filter(col("doc_id") < 250), d.filter(col("doc_id") >= 250)) },

    // engine-independent md5-keyed train/val/test split, per-lang counts
    "l16_split" -> { (s, dir) =>
      TextStats.splitAssign(Tables.documents(s, dir))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split") },

    // best-tokens-per-language budget selection
    "l17_token_budget" -> { (s, dir) =>
      TextStats.tokenBudget(Tables.documents(s, dir)) },

    // Gopher-style repetition quality signals: top-bigram share + repeated
    // 5-gram fraction, zero-shuffle per-row kernels
    "l19_repetition" -> { (s, dir) =>
      TextStats.repetitionStats(Tables.documents(s, dir)) },

    // MOSS-style copy detection: winnowing-fingerprint overlap pairs
    "l20_winnow_overlap" -> { (s, dir) =>
      TextDedup.winnowOverlapPairs(Tables.documents(s, dir)) },

    // pair list → retention decisions: connected components over the
    // minhash near-dup graph, one kept representative per component —
    // fused at REPRESENTATIVE granularity (r16): the member-pair
    // expansion that dedupClusters(minhashNearDup(..)) immediately
    // re-collapses is the chain's only replica-depth-quadratic term, so
    // the fused path clusters rep pairs and remaps members once
    // (bit-identical output; spec-proven on a replicated corpus)
    "l22_dedup_clusters" -> { (s, dir) =>
      TextDedup.minhashClusters(Tables.documents(s, dir)) },

    // distributed-path oracle twin (see the q38b note): forces the
    // min-label fixpoint past the small-graph union-find gate so the
    // DuckDB oracle pins BOTH dedupClusters paths every round
    // (verify-only — Bench's default run skips *_distpath names)
    "l22b_clusters_distpath" -> { (s, dir) =>
      TextDedup.minhashClusters(Tables.documents(s, dir), smallGraphCap = 0) },

    // SemDeDup: within-k-means-cluster semantic near-dup pruning
    "l21_semdedup" -> { (s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir)) },

    // exact-substring-style dedup at chunk granularity: per-doc count
    // and fraction of 20-token chunks appearing verbatim in another doc
    "l23_chunk_dedup" -> { (s, dir) =>
      TextDedup.chunkDedup(Tables.documents(s, dir)) },

    // per-doc top-3 TF-IDF keywords (exact-arithmetic score)
    "l24_tfidf_keywords" -> { (s, dir) =>
      TextStats.tfidfKeywords(Tables.documents(s, dir)) },

    // reproducible global shuffle: md5-keyed shard + within-shard order
    "l25_shard_assign" -> { (s, dir) =>
      TextStats.shardAssign(Tables.documents(s, dir)) },

    // k-means cell sizes + tightness: the QC view behind semdedup /
    // cluster-balanced sampling decisions
    "l26_cluster_profile" -> { (s, dir) =>
      Similarity.clusterProfile(Tables.embeddings(s, dir)) },

    // deterministic per-stratum sample (two-phase top-k on the md5 key)
    "l27_stratified_sample" -> { (s, dir) =>
      TextStats.stratifiedSample(Tables.documents(s, dir), "lang", k = 20)
        .select("lang", "rk", "doc_id")
        .orderBy("lang", "rk") },

    // corpus-wide n-gram heavy hitters: hash-count shuffle + thresholded
    // string label pass (boilerplate discovery)
    "l29_top_ngrams" -> { (s, dir) =>
      TextStats.topNgrams(Tables.documents(s, dir), n = 2, k = 20) },

    // int8 scalar quantization of the embedding column + reconstruction
    // audit (the compression step before indexing a 100 TB vector corpus)
    "l30_vec_quantize" -> { (s, dir) =>
      Similarity.scalarQuantize(Tables.embeddings(s, dir)) },

    // BM25 keyword retrieval: top-5 docs per query term (log-free odds-
    // ratio idf — identical ranking, engine-exact arithmetic)
    "l31_bm25" -> { (s, dir) =>
      TextStats.bm25(Tables.documents(s, dir),
        Seq("join", "filter", "vector")) },

    // temperature (α=0.5) source-mixing weights for training-data sampling
    "l32_source_mix" -> { (s, dir) =>
      TextStats.sourceMixWeights(Tables.documents(s, dir)) },

    // per-doc corpus-frequency profile of its bigrams (novelty vs
    // boilerplate signal; hash-keyed count + lookup, the l29 shape)
    "l33_bigram_novelty" -> { (s, dir) =>
      TextStats.bigramNovelty(Tables.documents(s, dir)) },

    // the REWRITE face of chunk dedup: duplicated 20-token chunks cut
    // out, doc reassembled, rewritten-text md5 verified end to end
    "l34_dup_span_removal" -> { (s, dir) =>
      TextDedup.dupSpanRemoval(Tables.documents(s, dir)) },

    // sequence-packing manifest: docs laid end-to-end in l25's shard
    // order, cut into 512-token training sequences
    "l35_seq_pack" -> { (s, dir) =>
      TextStats.seqPack(Tables.documents(s, dir)) },

    // sliding context-window chunking (RAG prep): 64-token windows on a
    // 48-token stride, md5 receipt per window
    "l36_chunk_windows" -> { (s, dir) =>
      TextStats.chunkWindows(Tables.documents(s, dir)) },

    // materialize l32's temperature mix: deterministic md5-uniform
    // Bernoulli thinning per source, kept/expected audit counts
    "l37_weighted_sample" -> { (s, dir) =>
      TextStats.weightedSample(Tables.documents(s, dir)) },

    // cluster-balanced sampling: k per k-means cell by md5 key (the
    // diversity-preserving selection face of the l26 cells)
    "l38_cluster_sample" -> { (s, dir) =>
      Similarity.clusterSample(Tables.embeddings(s, dir)) },

    // kNN label vote over the l3 neighbors: majority label, tie → lowest
    "l39_knn_label" -> { (s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir)) },

    // integer-exact lexical diversity (the log-free entropy substitute):
    // repeat probability over the doc's tokens, zero-shuffle fold
    "l41_simpson_diversity" -> { (s, dir) =>
      TextStats.simpsonDiversity(Tables.documents(s, dir)) },

    // KMV distinct-count sketch: per-source distinct trigram cardinality
    // estimated from the k smallest md5 values, exact count alongside
    "l42_kmv_distinct" -> { (s, dir) =>
      TextStats.kmvDistinct(Tables.documents(s, dir)) },

    // asymmetric containment pairs: quote/boilerplate-inclusion geometry
    // (high containment, low jaccard) the symmetric families can't see
    "l43_containment" -> { (s, dir) =>
      TextDedup.containmentPairs(Tables.documents(s, dir)) },

    // collocation mining: top bigrams by lift (log-free PMI) — phrase
    // discovery for tokenizer vocab / multi-word entities
    "l44_collocations" -> { (s, dir) =>
      TextStats.collocations(Tables.documents(s, dir)) },

    // product quantization: per-subspace k-means codebooks, 4-byte codes,
    // reconstruction audit — the faiss-PQ compression face next to l30's
    // SQ8 (the codebook training is the l10 bit-reproducible Lloyd's,
    // once per subspace)
    "l45_pq_quantize" -> { (s, dir) =>
      Similarity.pqQuantize(Tables.embeddings(s, dir)) },

    // ADC search over the PQ codes: probe-side lookup tables, corpus
    // comparisons are 4 array lookups + a sum — PQ as a SEARCH path
    "l46_ann_pq" -> { (s, dir) =>
      Similarity.annPq(Tables.embeddings(s, dir)) },

    // IVFADC (faiss IndexIVFPQ): the l10 coarse quantizer composed with
    // the l46 ADC scan — nprobe inverted lists, 4-byte codes inside them
    "l47_ann_ivfpq" -> { (s, dir) =>
      Similarity.annIvfPq(Tables.embeddings(s, dir)) },

    // Matryoshka truncation audit: per-probe top-k overlap between
    // full-dim and first-16-dim cosine rankings — the is-a-cheaper-
    // index-good-enough measurement
    "l48_trunc_recall" -> { (s, dir) =>
      Similarity.truncationRecall(Tables.embeddings(s, dir)) },

    // token-rarity profile: the log-free surprisal quality signal —
    // per-doc mean/min corpus df + hapax count over distinct tokens
    "l49_token_rarity" -> { (s, dir) =>
      TextStats.tokenRarity(Tables.documents(s, dir)) },

    // content-defined chunking dedup: boundaries picked by content
    // (md5 mask), robust to insertions where l23's fixed grid is not
    "l50_cdc_chunks" -> { (s, dir) =>
      TextDedup.cdcChunks(Tables.documents(s, dir)) },

    // BPE merge induction: first-4 tokenizer merges — one corpus pass
    // for word counts, then vocab-sized rounds (see llm/Bpe.scala)
    "l51_bpe_merges" -> { (s, dir) =>
      Bpe.bpeMerges(Tables.documents(s, dir)) },

    // BPE application: encode the corpus with the learned merges —
    // driver-literal merge table, one zero-shuffle projection pass
    "l56_bpe_encode" -> { (s, dir) =>
      Bpe.bpeEncode(Tables.documents(s, dir)) },

    // multimodal near-dup: Hamming-banded pairs over 60-bit media
    // fingerprints (collapse → pigeonhole band join → verify → expand).
    // The gate's corpus is the sha fingerprints of every asset PLUS a
    // planted single-bit-flipped "re-encode variant" per 50th asset —
    // sha maps distinct payloads to far-apart fingerprints, so without
    // the variants a 0-row result would prove nothing about the
    // Hamming path (a perceptual fp, where near payloads give near
    // bits, is the production provider behind the same column).
    "l57_media_neardup" -> { (s, dir) =>
      val fps = Multimodal.assetsFromDocuments(s, Tables.documents(s, dir))
        .toDF()
        .select(col("asset_id"),
          Multimodal.mediaFingerprint(col("media_bytes")).as("fp"))
      val variants = fps.filter(col("asset_id") % 50 === 0)
        .select((col("asset_id") + 1000000L).as("asset_id"),
          col("fp").bitwiseXOR(
            expr("shiftleft(cast(1 as bigint), cast(asset_id % 60 as int))")).as("fp"))
      Multimodal.fingerprintNearDup(fps.unionByName(variants)) },

    // Unicode-canonical dedup: the corpus is ASCII, so the gate plants a
    // composed-form ("café", U+00E9) and a decomposed-form ("cafe" +
    // U+0301) copy of every 100th document — byte-distinct, one document
    // after NFC. Exercises the codegen'd nfc_normalize end to end (the
    // oracle's nfc_normalize() must agree with java.text.Normalizer).
    "l58_nfc_canon" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val seed = docs.filter(col("doc_id") % 100 === 0)
      val composed = seed.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" caf\u00e9")).as("text"))
      val decomposed = seed.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" cafe\u0301")).as("text"))
      TextDedup.canonDedup(
        docs.unionByName(composed).unionByName(decomposed)) },

    // ANN recall audit: exact top-3 (brute) vs what LSH and IVF actually
    // returned, per probe — the measured-recall gate an index build ships
    // with (all three rankings already hash-proven individually; the
    // audit verifies their COMPOSITION)
    "l62_ann_recall" -> { (s, dir) =>
      Similarity.annRecallAudit(Tables.embeddings(s, dir)) },

    // semantic benchmark decontamination: the embedding-space sibling of
    // l15 — flag corpus vectors within cosine tau of ANY eval vector
    // (paraphrase/translation contamination lexical 8-grams can't see);
    // eval side broadcast, corpus-linear map-side max
    "l68_semantic_decontam" -> { (s, dir) =>
      Similarity.semanticDecontam(Tables.embeddings(s, dir)) },

    // KMV set algebra: cross-source union/jaccard/intersection estimates
    // from merged per-source k-minima — the sketch-MERGE face of l42
    // (what 1000 executors ship to one reducer), exact-intersection audit
    // default plan = the 100 TB plan: sketch-only set algebra, every join
    // k·|sources|²-bounded; the exact-intersection audit (the one
    // full-gram-domain self-join) lives behind the verify-only l63b twin
    "l63_kmv_setops" -> { (s, dir) =>
      TextStats.kmvSetOps(Tables.documents(s, dir)) },
    "l63b_kmv_exact_audit" -> { (s, dir) =>
      TextStats.kmvSetOps(Tables.documents(s, dir), exactAudit = true) },

    // STREAMING KMV maintenance through the oracle gate: four REAL
    // micro-batches each fold their per-source k-minima into generation-
    // committed state (kmvDelta/kmvMerge — associative set-union top-k),
    // and the final sketch must land EXACTLY on l42's one-shot chain
    // (same oracle SQL): sketch mergeability across batches is what's
    // being graded, not the batch twin. n_exact rides from a batch read
    // of the same staged corpus as the audit column.
    "m33_stream_kmv" -> { (s, dir) =>
      sketchGate(s, dir, "m33")(TextStats.kmvMaintain(_, _, _, _)) { base =>
        val est = TextStats.kmvEstimate(
          graft.operators.GenState.readState(s, s"$base/state"))
        val exact = TextStats.sourceGramHashes(s.read.parquet(s"$base/src"))
          .groupBy("source").agg(count(lit(1)).as("n_exact"))
        exact.join(est, Seq("source"), "left")
          .select(col("source"), col("n_exact"),
            coalesce(col("kmv_est"), col("n_exact").cast("double"))
              .as("kmv_est"))
          .orderBy("source")
      }
    },

    // m33's PRODUCTION shape (VERDICT r15 #6): identical staged corpus,
    // identical four-micro-batch KMV maintenance, but the output is read
    // from the merged sketch ALONE — no exact-audit column, so the full
    // distinct-gram pass (the ~1.3 s itemized in m33's per-batch floor,
    // which exists only because the GATE audits the sketch against exact
    // truth) is gone from both the plan and the contract. The ledger
    // carries both: m33 = what the audit gate costs, m33b = what a
    // deployment pays. The sub-k branch needs no exact side (a state
    // holding < k minima IS the full distinct set — kmvEstimate's
    // documented contract), so the oracle's n_exact appears only inside
    // the oracle's own CASE arithmetic.
    "m33b_stream_kmv_noaudit" -> { (s, dir) =>
      sketchGate(s, dir, "m33b")(TextStats.kmvMaintain(_, _, _, _)) { base =>
        TextStats.kmvEstimate(
          graft.operators.GenState.readState(s, s"$base/state"))
          .orderBy("source")
      }
    },

    // count-min sketch: token-frequency estimation in fixed 4x1024 cells
    // (the FREQUENCY sketch next to l42's cardinality), one-sided error
    // audited against exact counts on the deterministic top-20
    "l64_countmin" -> { (s, dir) =>
      TextStats.countMinTokens(Tables.documents(s, dir)) },

    // STREAMING count-min maintenance: four real micro-batches fold
    // cell deltas into generation-committed state (cell-wise sums are
    // exactly additive), and the estimates read off the merged sketch
    // must land bit-identically on l64's one-shot oracle
    "m34_stream_countmin" -> { (s, dir) =>
      sketchGate(s, dir, "m34")(TextStats.countMinMaintain(_, _, _, _)) { base =>
        val sketch = graft.operators.GenState.readState(s, s"$base/state")
        val top = s.read.parquet(s"$base/src")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n_exact"))
          .orderBy(desc("n_exact"), col("tok")).limit(20)
        TextStats.countMinEstimate(sketch, top)
      }
    },

    // bloom-filter membership audit: the reference's negative-lookup
    // contract (O20) as visible output — no false negatives, bounded
    // false positives, probe = one broadcast map-side join
    "l65_bloom_audit" -> { (s, dir) =>
      TextStats.bloomAudit(Tables.documents(s, dir)) },

    // STREAMING bloom maintenance: four real micro-batches fold set-bit
    // deltas into generation-committed state (bit-set union — idempotent
    // AND commutative, the strongest mergeability in the sketch family),
    // and the audit read off the merged filter must land bit-identically
    // on l65's one-shot oracle. Completes the streaming faces of the
    // mergeable-sketch matrix (m33 KMV, m34 count-min; q18's histogram
    // grid is data-derived min/max — two-pass by construction, so its
    // streaming variant would need a pre-declared grid, not a gate twin).
    // Triangle counting (q40): per-node triangle participation over the
    // minhash near-dup pair graph — the CLIQUISHNESS audit of l22's
    // retention policy (keep-one-per-component assumes components are
    // near-cliques; a star-shaped component — hub similar to tails that
    // aren't similar to each other — has ZERO triangles, and this
    // measures exactly that). Degree-ordered node-iterator in
    // operators/Graph: wedge volume bounded |E|^1.5, never hub-degree².
    "q40_triangles" -> { (s, dir) =>
      graft.operators.Graph.triangleCounts(
        TextDedup.minhashNearDup(Tables.documents(s, dir))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))) },

    // distributed-path oracle twin (verify-only, the q38b convention)
    "q40b_triangles_distpath" -> { (s, dir) =>
      graft.operators.Graph.triangleCounts(
        TextDedup.minhashNearDup(Tables.documents(s, dir))
          .select(col("doc_a").as("src"), col("doc_b").as("dst")),
        smallGraphCap = 0) },

    // STREAMING triangle maintenance: the same pair stream as m37, but
    // maintaining q40's per-node triangle counts — every new triangle
    // contains a new edge, so per-batch work is wedges closed over ΔE
    // against the standing adjacency (batch-proportional, never a
    // re-walk), each triangle counted once at its minimal new edge.
    // Final counts answer q40's oracle verbatim.
    "m41_incr_triangles" -> { (s, dir) =>
      val base = stagingDir("m41")
      TextDedup.minhashNearDup(Tables.documents(s, dir))
        .select("doc_a", "doc_b")
        .repartition(4).write.parquet(s"$base/src")
      val srcPq = s.read.parquet(s"$base/src")
      val schema = srcPq.schema
      // only the streaming fold runs at 8-way partitioning — the LSH
      // pair-list prep above wants the session's full width, and a
      // SCALE-sized pair list keeps it too (withStreamPartsFor doc)
      graft.queries.QUtil.withStreamPartsFor(s, 8, srcPq.count()) {
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
        graft.queries.QUtil.awaitTraced("m41",
          graft.operators.Graph.trianglesMaintain(
            src, s"$base/state", s"$base/ckpt",
            org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      }
      graft.operators.Graph.incrTrianglesFinalize(
        graft.operators.GenState.readState(s, s"$base/state"))
    },

    // STREAMING connected-components maintenance: the l2 minhash pair
    // list arrives as four real micro-batches of EDGES; each batch glues
    // standing components via label-graph contraction (fixpoint on the
    // ≤ 2·|batch|-node contracted graph + ONE remap join — never a
    // re-walk of all pairs seen), and the final labels must land
    // bit-identically on l22's one-shot oracle.
    "m37_incr_components" -> { (s, dir) =>
      val base = stagingDir("m37")
      TextDedup.minhashNearDup(Tables.documents(s, dir))
        .select("doc_a", "doc_b")
        .repartition(4).write.parquet(s"$base/src")
      val srcPq = s.read.parquet(s"$base/src")
      val schema = srcPq.schema
      // streaming fold at 8-way partitioning when small (see m41's note)
      graft.queries.QUtil.withStreamPartsFor(s, 8, srcPq.count()) {
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
        graft.queries.QUtil.awaitTraced("m37",
          graft.operators.Graph.componentsMaintain(
            src, s"$base/state", s"$base/ckpt",
            org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      }
      graft.operators.Graph.componentsFinalize(
        graft.operators.GenState.readState(s, s"$base/state"))
    },

    "m36_stream_bloom" -> { (s, dir) =>
      sketchGate(s, dir, "m36")(TextStats.bloomMaintain(_, _, _, _)) { base =>
        TextStats.bloomAuditFromState(
          graft.operators.GenState.readState(s, s"$base/state"),
          s.read.parquet(s"$base/src"))
      }
    },

    // bigram-LM perplexity scoring (the CCNet quality filter): add-one
    // smoothed P(w2|w1) from corpus counts, per-doc mean log-prob +
    // perplexity — the one operator family where ln is semantic (see
    // the Scaladoc's determinism note); counts move as 8-byte hashes
    "l66_lm_perplexity" -> { (s, dir) =>
      TextStats.lmPerplexity(Tables.documents(s, dir)) },

    // the CCNet head/middle/tail split: per-language perplexity terciles
    // over l66's scores — head is what the pipeline keeps; boundaries
    // ride in the output so the cut is auditable
    "l67_ppl_buckets" -> { (s, dir) =>
      TextStats.pplBuckets(Tables.documents(s, dir)) },

    // per-source distribution drift: integer-exact total-variation
    // distance vs the corpus unigram distribution (the log-free stand-in
    // for KL/JS monitoring — same alarm, engine-exact arithmetic)
    "l59_source_tvd" -> { (s, dir) =>
      TextStats.sourceDrift(Tables.documents(s, dir)) },

    // weighted term-blocklist gate: the wordlist-screening face of
    // corpus safety filtering, compiled into the scan as a CASE chain
    "l60_blocklist" -> { (s, dir) =>
      TextStats.blocklistScore(Tables.documents(s, dir)) },

    // tokenizer-coverage audit: OOV fraction vs the corpus' own top-25
    // vocabulary (vocab-bounded driver collect, the BPE-merges idiom)
    "l61_oov_rate" -> { (s, dir) =>
      TextStats.oovRate(Tables.documents(s, dir)) },

    // dataset card: the per-source corpus report (volume, language
    // spread, cross-source duplicate exposure, stopword ratio, token
    // share) — the capstone composite over the shared fingerprint
    "c8_dataset_card" -> { (s, dir) =>
      TextStats.datasetCard(Tables.documents(s, dir)) },

    // data-expectation audit (c9): the pre-training admission checklist —
    // domain, completeness, range, metadata-consistency, and referential
    // checks across all six ingest tables, one report row per check.
    // Scale shape: every predicate check is a single partial-aggregated
    // scan of its table; the two referential checks are key anti-joins
    // (the parent side broadcasts while it fits, AQE picks the shuffle
    // form when both sides are fact-sized — no driver-side sets).
    "c9_expectations" -> { (s, dir) =>
      def chk(name: String, df: DataFrame, bad: Column): DataFrame =
        df.agg(count(lit(1)).as("n_checked"),
          coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_checked"),
            col("n_violations"))
      def refChk(name: String, child: DataFrame, childKey: String,
                 parent: DataFrame, parentKey: String): DataFrame =
        child.agg(count(lit(1)).as("n_checked")).crossJoin(
          child.join(parent.select(col(parentKey).as(childKey)),
              Seq(childKey), "left_anti")
            .agg(count(lit(1)).as("n_violations")))
          .select(lit(name).as("check_name"), col("n_checked"),
            col("n_violations"))
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val ev = Tables.events(s, dir)
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      Seq(
        chk("customer_mktsegment_domain", cust,
          !col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")),
        chk("documents_nchars_consistent", docs,
          col("n_chars") =!= length(col("text"))),
        chk("documents_nonempty", docs, length(col("text")) === 0),
        chk("embeddings_dim_64", emb, size(col("embedding")) =!= 64),
        chk("events_amount_completeness", ev,
          !col("props").contains("\"amount\"")),
        chk("events_ts_in_range", ev,
          tsec(col("ts")) < 1704067200L || tsec(col("ts")) >= 1706745600L),
        chk("events_value_nonneg", ev, col("value") < 0),
        refChk("lineitem_orderkey_resolves", li, "l_orderkey",
          ord, "o_orderkey"),
        chk("lineitem_qty_positive", li, col("l_quantity") <= 0),
        refChk("orders_custkey_resolves", ord, "o_custkey",
          cust, "c_custkey")
      ).reduce(_ unionByName _).orderBy("check_name") },

    // physical shard export round-trip (c10): l25 assigns, this WRITES —
    // shard=N/ directories in deterministic training order — and the
    // gate re-reads the exported layout and accounts it against an
    // oracle that derives the same partition from the md5 key alone
    // (proving the filesystem round-trip preserved rows, shard
    // membership, and nothing else crept in)
    "c10_export_shards" -> { (s, dir) =>
      val base = stagingDir("c10")
      TextStats.exportShards(Tables.documents(s, dir), 8, s"$base/shards")
      s.read.parquet(s"$base/shards")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard") },

    // model-based quality filtering: fixed-weight linear scorer over the
    // l5 features (no sigmoid — both engines compute identical doubles)
    "l53_quality_score" -> { (s, dir) =>
      TextStats.qualityScore(Tables.documents(s, dir)) },

    // keep-longest dedup policy: partial-aggregable struct-max argmax,
    // no window — a million-copy group map-side-combines
    "l54_keep_longest" -> { (s, dir) =>
      TextDedup.dedupKeepLongest(Tables.documents(s, dir)) },

    // hard-negative mining: top-k most-similar DIFFERENT-label vectors
    // per probe — the contrastive-training pair miner (annBrute shape)
    "l52_hard_negatives" -> { (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir)) },

    // cross-source duplication matrix (c6): which sources copy from
    // which — the l2 near-dup pairs rolled up by (source, source),
    // order-normalized so the matrix is one triangle. The view that
    // decides which crawl to drop when two overlap heavily. The pair
    // list is tiny next to the corpus, so both source lookups are
    // pair-side joins the optimizer broadcasts.
    "c6_source_overlap" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = TextDedup.minhashNearDup(docs).select("doc_a", "doc_b")
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .groupBy("source_x", "source_y").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_x", "source_y") },

    // paraphrase mining: embedding near-dup pairs (l9) whose TOKEN sets
    // barely overlap — semantically-duplicate-but-textually-different
    // (translations, paraphrases, templated rewrites): the duplication
    // class lexical dedup (l1/l2/l7/l12) is structurally blind to.
    // Scale shape: the l9 pair list is tiny next to the corpus, so the
    // two text lookups are pair-side joins the optimizer can broadcast;
    // jaccard is computed locally on each joined row (distinct token
    // arrays, integer intersect + one IEEE division — the l2 pattern).
    "l40_paraphrase_pairs" -> { (s, dir) =>
      val pairs = Similarity.embeddingNearDup(Tables.embeddings(s, dir))
        .select("vec_a", "vec_b")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("w"))
      pairs
        .join(toks.select(col("doc_id").as("vec_a"), col("w").as("wa")), "vec_a")
        .join(toks.select(col("doc_id").as("vec_b"), col("w").as("wb")), "vec_b")
        .withColumn("i", size(array_intersect(col("wa"), col("wb"))))
        .withColumn("jaccard",
          col("i") * lit(1.0) / (size(col("wa")) + size(col("wb")) - col("i")))
        .filter(col("jaccard") < 0.6)
        .select(col("vec_a"), col("vec_b"),
          col("i").cast("long").as("n_shared_tokens"), col("jaccard"))
        .orderBy("vec_a", "vec_b") },

    // sampled-pack composite: l37's keep decision materializes the mix,
    // l35 packs the survivors, per-shard export manifest
    "c5_sampled_pack" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val kept = docs
        .join(TextStats.weightedKeep(docs).select("doc_id", "keep"), "doc_id")
        .filter(col("keep")).select("doc_id", "text")
      TextStats.seqPack(kept)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          sum(when(col("n_seqs_spanned") > 1, 1L).otherwise(0L)).as("n_spanning"))
        .withColumn("n_seqs", expr("(n_tokens + 511) div 512"))
        .select("shard", "n_docs", "n_tokens", "n_seqs", "n_spanning")
        .orderBy("shard") },

    // STREAMING exact dedup through the oracle gate: the continuous-crawl
    // face (dedupStream: watermarked fingerprint state) run by the real
    // streaming engine over a file source; the surviving fingerprint set
    // must equal the corpus's distinct fingerprints exactly — one row too
    // few (over-drop) or too many (under-drop) and the hash gate fails.
    // The survivor's doc_id is arrival-order-dependent and deliberately
    // NOT in the output; the fingerprint set is partition-order-free.
    // 8-way state partitioning for the stateful gate — see the
    // TimeSeriesQueries streaming-family note (measured on m21)
    "m14_stream_dedup" -> { (s, dir) => graft.queries.QUtil.withStreamParts(s, 8) {
      val src = Tables.stream(s, dir, "documents")
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      val survivors = TextDedup.dedupStream(src, tsCol = "ts")
      val q = survivors.select("fingerprint")
        .writeStream.format("memory").queryName("m14_dedup")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("m14_dedup").orderBy("fingerprint")
    } },

    // PII scrub: the synthetic corpus carries no PII, so each doc gets a
    // deterministic doc_id-derived email/phone/IP tail appended IN THE
    // QUERY (both engines build the identical string) — the oracle then
    // genuinely verifies detection counts and the redacted text, not a
    // no-op pass. Real pipelines call PiiScrub.scrub on the raw text.
    "l28_pii_scrub" -> { (s, dir) =>
      val withPii = Tables.documents(s, dir).withColumn("text", concat(
        col("text"),
        lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 5).cast("string"),
        lit(".com ph 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")))
      PiiScrub.scrub(withPii)
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), md5(col("redacted")).as("red_md5"))
        .orderBy("doc_id") },

    // Rolling-hash document fingerprinting (winnowing): one codegen'd
    // per-row kernel, zero shuffle; output digests the selected-hash set.
    "l13_winnow_fp" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.WinnowFingerprint(split(col("text"), " ")).as("fp"))
        .select(col("doc_id"),
          size(col("fp")).cast("long").as("n_fp"),
          md5(encode(concat_ws(",",
            transform(col("fp"), x => x.cast("string"))), "UTF-8")).as("fp_md5"))
        .orderBy("doc_id") },

    "l10_ann_ivf" -> { (s, dir) =>
      Similarity.annIvf(Tables.embeddings(s, dir)) },

    // the persisted-index face of l10: build the partitioned inverted
    // lists + stored centroids, then answer probes from the index alone
    // (only probed cell partitions are read — DPP, plan-pinned). Same
    // oracle as l10: identical semantics by construction. The index path
    // is a STABLE function of the source dir (not a fresh temp dir):
    // buildIvfIndex overwrites in place, so repeated bench/verify runs
    // reuse one location instead of accumulating a full table copy per
    // invocation in /tmp.
    "l14_ann_ivf_indexed" -> { (s, dir) =>
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivf_${Integer.toHexString(dir.hashCode)}/idx").toString
      Similarity.buildIvfIndex(Tables.embeddings(s, dir), idx)
      Similarity.annIvfIndexed(s, idx) },

    // Multimodal feature extraction through the oracle gate: the
    // mapPartitions pipeline runs for real; the stub decoder is
    // SHA-derived, so DuckDB reproduces metadata AND the first feature
    // element exactly ((k-128)/128 is exact in both float and double).
    "l11_media_features" -> { (s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.assetsFromDocuments(s, Tables.documents(s, dir)))
        .toDF()
        .select(col("asset_id"), col("modality"), col("n_bytes"),
          col("content_sha"),
          element_at(col("feature"), 1).cast("double").as("f0"))
        .orderBy("asset_id")
    },

    // Gopher-rule quality gate with per-rule attribution (c2): the
    // filter every pre-training pass applies, zero shuffle
    "c2_quality_filter" -> { (s, dir) =>
      TextStats.qualityFilter(Tables.documents(s, dir)) },

    // The full curation pipeline, composed end-to-end from the proven
    // operators (c3): Gopher quality gate (c2) → banded-MinHash near-dup
    // pairs on the SURVIVORS (l2) → connected-components retention (l22)
    // → drop non-representatives → per-language corpus report. The
    // near-dup stage sees only quality-passed documents — the order
    // every production pipeline uses (dedup work scales with the corpus
    // you keep, not the garbage you dropped).
    "c3_curate_full" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (passed, drops) = curateStages(docs)
      passed
        .join(drops, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"))
        .orderBy("lang") },

    // Pipeline lineage (c11): the c3 dataflow reported as per-stage
    // in/out/dropped counts — the provenance record a curation run ships
    // with its dataset (what was cut, and at which gate). The counts are
    // three driver longs (a justified collect — the report IS
    // driver-sized), taken off ONE execution of the chain: `passed` is
    // persisted so the quality gate computes once and the near-dup stage
    // reads it from cache, instead of the r6 shape where every
    // `unionByName` consumer re-ran the whole quality+LSH chain
    // (119.9 s vs c3's 10.5 s for the same work done once).
    "c11_lineage" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val (passed, drops) = curateStages(docs)
      val passedP = passed.persist()
      try {
        val nPass = passedP.count()
        val nKept = passedP.join(drops, Seq("doc_id"), "left_anti").count()
        val nRaw = docs.count()
        Seq(("00_ingest", nRaw, nRaw), ("01_quality", nRaw, nPass),
            ("02_neardup", nPass, nKept))
          .toDF("stage", "rows_in", "rows_out")
          .withColumn("rows_dropped", col("rows_in") - col("rows_out"))
          .orderBy("stage")
      } finally { passedP.unpersist(): Unit } },

    // Incremental admission composite (c7) — the accounting view a
    // CONTINUOUS ingestion service emits per crawl batch: arrivals run
    // the staged gauntlet (exact-dup vs the standing corpus AND within
    // the batch → benchmark decontamination → Gopher quality rules) and
    // the per-source report says where each document fell out. Composes
    // three verified fragments (l18's fingerprint anti-join, l15's
    // 8-gram benchmark hits, c2's rule chain) — the c3/c4 principle:
    // the COMPOSITION is the verified object, so a drift in any staged
    // decision breaks this gate even if each piece stays green. Scale
    // shape: the flag frames are batch-sized or smaller (AQE broadcasts
    // them), quality is the zero-shuffle projection, and the report is
    // one partial-aggregated shuffle on source.
    // Corpus snapshot diff (c12): dataset versioning — given two corpus
    // snapshots, the row-level change set (added / removed / modified by
    // content fingerprint) every reproducible-training setup audits
    // before a re-run. The two "versions" are carved deterministically
    // from the one test table (v1 drops doc_id ≡ 0 mod 7; v2 drops
    // ≡ 3 mod 11 and revises the text of ≡ 0 mod 5) so the oracle can
    // state the identical construction. Scale shape: ONE co-partitioned
    // full-outer join on the key — the standard snapshot-diff plan; md5
    // content fingerprints compare 16 bytes instead of document bodies,
    // so the shuffle carries keys + fingerprints only. Unchanged rows
    // drop before output (the diff is change-sized, not corpus-sized).
    "c12_snapshot_diff" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val v1 = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("fp1"))
      val v2 = d.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), md5(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text"))).as("fp2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("fp1").isNull, "added")
            .when(col("fp2").isNull, "removed")
            .when(col("fp1") =!= col("fp2"), "modified"))
        .filter(col("status").isNotNull)
        .select("doc_id", "status")
        .orderBy("doc_id")
    },

    "c7_incremental_admit" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val corpus = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250)
      val fresh = TextDedup.exactDedupAgainst(corpus, batch)
        .select(col("doc_id"), lit(true).as("fresh"))
      // benchmark = docs < 50 (wider than l15's < 20: the batch must
      // contain REAL contamination hits — 5 at sf0.01 — so this stage of
      // the gate is never vacuously zero)
      val contam = TextDedup
        .decontaminate(batch, d.filter(col("doc_id") < 50))
        .select(col("doc_id"), lit(true).as("contam"))
      val quality = TextStats.qualityFilter(batch).select("doc_id", "pass")
      batch.select(col("doc_id"), col("source"))
        .join(fresh, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .join(quality, Seq("doc_id"))
        .withColumn("fresh", coalesce(col("fresh"), lit(false)))
        .withColumn("contam", coalesce(col("contam"), lit(false)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_arrived"),
          sum(when(!col("fresh"), 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("fresh") && col("contam"), 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(when(col("fresh") && !col("contam") && !col("pass"), 1L)
            .otherwise(0L)).as("n_quality_fail"),
          sum(when(col("fresh") && !col("contam") && col("pass"), 1L)
            .otherwise(0L)).as("n_admitted"))
        .orderBy("source") },

    // Export manifest (c4) — the WRITE tail of the pipeline c3 stops
    // short of: quality gate → deterministic train/val/test split (l16)
    // → reproducible shard + training-order assignment (l25) → the
    // per-(split, shard) manifest a 100 TB export job writes alongside
    // its `partitionBy(shard)` output (doc/token counts + the position
    // range proving each shard's order is gap-free from 0). Every
    // assignment is a pure md5-of-key function — the manifest is
    // engine- and partitioning-invariant, byte-stable forever.
    "c4_export_manifest" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val passed = docs
        .join(TextStats.qualityFilter(docs).select("doc_id", "pass"), "doc_id")
        .filter(col("pass"))
        .select("doc_id", "text")
      val withSplit = TextStats.splitAssign(passed)
        .select(col("doc_id"), col("split"), col("text"))
      val sharded = TextStats.shardAssign(passed.select("doc_id"))
      withSplit.join(sharded, "doc_id")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .groupBy("split", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          min("pos").as("min_pos"), max("pos").as("max_pos"))
        .orderBy("split", "shard") },

    // Composite curation pipeline — the actual training-data use case,
    // end to end: quality-score → filter → exact-dedup (keep lowest
    // doc_id per fingerprint) → per-language corpus stats. The text is
    // scanned ONCE: a single partial-aggregated shuffle onto
    // (fingerprint, lang) collapses the data to near-group cardinality,
    // and everything after operates on that tiny frame.
    "c1_curate" -> { (s, dir) =>
      val passed = Tables.documents(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tokens", size(col("w")))
        .withColumn("stop_ratio",
          size(filter(col("w"),
            t => TextStats.Stopwords.map(t === _).reduce(_ || _))) * lit(1.0)
            / col("n_tokens"))
        .filter(col("n_tokens") >= 30 && col("stop_ratio") <= 0.15)
        .withColumn("fingerprint",
          TextDedup.bagOfWordsFingerprintFromTokens(col("w")))
      // one shuffle: per (fingerprint, lang) — count + that lang's min doc
      val perFpLang = passed.groupBy("fingerprint", "lang").agg(
        count(lit(1)).as("c"),
        min("doc_id").as("min_doc"),
        min_by(col("n_tokens"), col("doc_id")).as("min_tok"))
      // the kept doc per fingerprint = global min doc across its langs
      val kept = perFpLang.groupBy("fingerprint").agg(
        min_by(col("lang"), col("min_doc")).as("lang"),
        min_by(col("min_tok"), col("min_doc")).as("n_tokens"))
      perFpLang.groupBy("lang").agg(sum("c").as("n_pass"))
        .join(kept.groupBy("lang").agg(
          count(lit(1)).as("n_kept"),
          sum("n_tokens").as("sum_tokens")), Seq("lang"))
        .orderBy("lang")
    }
  )

  /** Shared oracle fragment: doc_id → distinct word-trigram shingles. */
  private val shingleCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pos AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM toks),
      |sh AS (SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS s
      |       FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |                  JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2)""".stripMargin

  /** Shared oracle fragment: embeddings as double vectors + norm + the
    * 4-hyperplane LSH bucket (constants from [[Similarity.hyperplanes]]). */
  private def embCte: String = {
    val dots = (0 until Similarity.NumPlanes).map { p =>
      s"""list_reduce(list_transform(list_zip(v, ${Similarity.hyperplaneSql(p)}),
         |      z -> z[1] * z[2]), (a, b) -> a + b)""".stripMargin
    }
    val bucket = dots.zipWithIndex
      .map { case (d, p) => s"(CASE WHEN $d >= 0 THEN ${1 << p} ELSE 0 END)" }
      .mkString(" + ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nv,
       |        $bucket AS bucket
       |      FROM e)""".stripMargin
  }

  private val duckCosine =
    "list_reduce(list_transform(list_zip(%s, %s), z -> z[1] * z[2]), (a, b) -> a + b) / (%s * %s)"

  /** CTE chain for l45: per-subspace Lloyd's training (the cellChainCtes
    * template, once per subspace on the sliced sample), code assignment
    * for every vector, and the reconstruction-error folds — ending in
    * `m<i>err(vec_id, code<i>, sq<i>, mx<i>)` per subspace. Testdata
    * embeddings are 64-dim (TESTDATA.md), so each of the PqM=4 subspaces
    * is a 16-dim slice. */
  private lazy val pqCtes: String = {
    val d2 = "list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b)" +
      " - 2.0 * list_reduce(list_transform(list_zip(%s, cv), z -> z[1] * z[2]), (a, b) -> a + b)"
    val sub = 64 / Similarity.PqM
    val chains = (0 until Similarity.PqM).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      val iters = (1 to Similarity.IvfIters).map { i =>
        val prev = s"m${m}cent${i - 1}"
        s"""m${m}sc$i AS (SELECT s.vec_id, s.v, c.cid, ${d2.format("s.v")} AS d
           |       FROM m${m}samp s, $prev c),
           |m${m}asg$i AS (SELECT vec_id, v, cid FROM (
           |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
           |         FROM m${m}sc$i) WHERE rn = 1),
           |m${m}agg$i AS (SELECT cid, list(v ORDER BY vec_id) AS vs, COUNT(*) AS cnt
           |        FROM m${m}asg$i GROUP BY cid),
           |m${m}cent$i AS (SELECT c.cid, COALESCE(list_transform(
           |           list_reduce(a.vs, (x, y) -> list_transform(list_zip(x, y), z -> z[1] + z[2])),
           |           x -> x / a.cnt), c.cv) AS cv
           |         FROM $prev c LEFT JOIN m${m}agg$i a ON a.cid = c.cid)""".stripMargin
      }.mkString(",\n")
      val centF = s"m${m}cent${Similarity.IvfIters}"
      s"""m${m}samp AS (SELECT vec_id, v[$lo:$hi] AS v FROM pe
         |        WHERE vec_id < ${Similarity.IvfTrainSample}),
         |m${m}cent0 AS (SELECT vec_id AS cid, v AS cv FROM m${m}samp
         |        WHERE vec_id < ${Similarity.PqK}),
         |$iters,
         |m${m}sub AS (SELECT vec_id, v[$lo:$hi] AS v FROM pe),
         |m${m}scf AS (SELECT s.vec_id, s.v, c.cid, c.cv, ${d2.format("s.v")} AS d
         |       FROM m${m}sub s, $centF c),
         |m${m}pick AS (SELECT vec_id, CAST(cid AS INTEGER) AS code$m,
         |         list_transform(list_zip(v, cv), z -> abs(z[1] - z[2])) AS ev
         |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |             FROM m${m}scf) WHERE rn = 1),
         |m${m}err AS (SELECT vec_id, code$m,
         |         list_reduce(list_transform(ev, x -> x * x), (a, b) -> a + b) AS sq$m,
         |         list_max(ev) AS mx$m
         |       FROM m${m}pick)""".stripMargin
    }.mkString(",\n")
    s"""pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$chains""".stripMargin
  }

  /** CTE chain ending in `w(source, rel_weight)` + `k(doc_id, source,
    * text, u)` — the l32 temperature-weight derivation plus the
    * md5-uniform keep key, shared by l37 (the audit face) and c5 (the
    * materializing composite) so a formula tweak can never diverge them. */
  private val weightCtes: String =
    """s AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |m AS (SELECT MAX(n_tokens) AS max_tokens FROM s),
      |w AS (SELECT source, sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(max_tokens AS DOUBLE)) AS rel_weight
      |      FROM s, m),
      |k AS (SELECT d.doc_id, d.source, d.text,
      |        CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS u
      |      FROM documents d)""".stripMargin

  /** CTE chain ending in `c(doc_id, mk, n_tok, shard, start_tok)` — the
    * l25-shard-order sequence-packing layout over `src`, shared by l35
    * (whole corpus) and c5 (the sampled survivors). */
  private def packCtes(src: String): String =
    s"""b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS mk,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM $src),
      |sh AS (SELECT doc_id, mk, n_tok,
      |        CAST(CAST(('0x' || substring(mk, 1, 4)) AS BIGINT) % 8 AS INTEGER) AS shard
      |      FROM b),
      |c AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY mk, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_tok
      |      FROM sh)""".stripMargin

  /** CTE chain ending in `epr(vec_a, vec_b)` — the exact SQL mirror of
    * [[Similarity.embeddingNearDup]]'s banded LSH + cosine verify, shared
    * by l9 (the pair list itself) and l40 (paraphrase mining over it). */
  private lazy val embPairCtes: String = {
    val bands = (0 until Similarity.NumBands).map { b =>
      val bits = (0 until Similarity.BandPlanes).map { p =>
        val d = s"""list_reduce(list_transform(list_zip(v, ${
          Similarity.hyperplaneSql(b * Similarity.BandPlanes + p)}),
             |          z -> z[1] * z[2]), (a, b) -> a + b)""".stripMargin
        s"(CASE WHEN $d >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"$bits AS band$b"
    }.mkString(",\n        ")
    val anyBand = (0 until Similarity.NumBands)
      .map(b => s"a.band$b = b.band$b").mkString(" OR ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nv,
      |        $bands
      |      FROM e),
      |epr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |        FROM n a JOIN n b ON a.vec_id < b.vec_id AND ($anyBand)
      |        WHERE ${duckCosine.format("a.v", "b.v", "a.nv", "b.nv")} >= 0.4)""".stripMargin
  }

  /** CTE chain ending in `cell(vec_id, v, nv, cell)` (+ `ranked` for probe
    * cell lists) — the k-means training + assignment shared by l10/l14
    * (IVF ANN) and l21 (SemDeDup). */
  private lazy val cellChainCtes: String = {
    val d2 = "list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b)" +
      " - 2.0 * list_reduce(list_transform(list_zip(%s, cv), z -> z[1] * z[2]), (a, b) -> a + b)"
    // Lloyd's k-means on the vec_id < IvfTrainSample prefix, IvfIters
    // fixed iterations — the exact CTE mirror of Similarity.lloyd: same
    // |c|²−2·v·c argmin (ties → lowest cid), means summed in vec_id
    // order via sequential list_reduce folds, one IEEE division, empty
    // cells keep the previous centroid. Bit-identical to the Spark side.
    val iters = (1 to Similarity.IvfIters).map { i =>
      val prev = s"cent${i - 1}"
      s"""sc$i AS (SELECT s.vec_id, s.v, c.cid, ${d2.format("s.v")} AS d
         |       FROM samp s, $prev c),
         |asg$i AS (SELECT vec_id, v, cid FROM (
         |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |         FROM sc$i) WHERE rn = 1),
         |agg$i AS (SELECT cid, list(v ORDER BY vec_id) AS vs, COUNT(*) AS cnt
         |        FROM asg$i GROUP BY cid),
         |cent$i AS (SELECT c.cid, COALESCE(list_transform(
         |           list_reduce(a.vs, (x, y) -> list_transform(list_zip(x, y), z -> z[1] + z[2])),
         |           x -> x / a.cnt), c.cv) AS cv
         |         FROM $prev c LEFT JOIN agg$i a ON a.cid = c.cid)""".stripMargin
    }.mkString(",\n")
    val cent = s"cent${Similarity.IvfIters}"
    s"""$embCte,
      |samp AS (SELECT vec_id, v FROM n WHERE vec_id < ${Similarity.IvfTrainSample}),
      |cent0 AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < ${Similarity.IvfCells}),
      |$iters,
      |sc AS (SELECT n.vec_id, n.v, n.nv, $cent.cid, ${d2.format("n.v")} AS d
      |       FROM n, $cent),
      |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM sc),
      |cell AS (SELECT vec_id, v, nv, cid AS cell FROM ranked WHERE rn = 1)""".stripMargin
  }

  /** Brute-force exact top-k oracle — l3 at k=5, the l62 ground truth
    * at k=3 (same CTE chain, one rank bound). */
  private def bruteOracleSql(k: Int): String =
    s"""WITH $embCte,
      |p AS (SELECT vec_id AS query_id, v AS q, nv AS nq FROM n WHERE vec_id < 20),
      |s AS (SELECT p.query_id, n.vec_id,
      |        ${duckCosine.format("n.v", "p.q", "n.nv", "p.nq")} AS cosine
      |      FROM n, p WHERE n.vec_id <> p.query_id),
      |r AS (SELECT query_id, vec_id,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, vec_id AS neighbor_id FROM r
      |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Shared by l4 and the l62 recall audit. */
  private lazy val lshOracleSql: String =
    s"""WITH $embCte,
      |p AS (SELECT vec_id AS query_id, v AS q, nv AS nq, bucket FROM n WHERE vec_id < 20),
      |s AS (SELECT p.query_id, n.vec_id,
      |        ${duckCosine.format("n.v", "p.q", "n.nv", "p.nq")} AS cosine
      |      FROM n JOIN p ON n.bucket = p.bucket AND n.vec_id <> p.query_id),
      |r AS (SELECT query_id, vec_id,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, vec_id AS neighbor_id FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Shared by l10 (inline IVF) and l14 (persisted index) — identical
    * semantics, one oracle. */
  private lazy val ivfOracleSql: String = {
    s"""WITH $cellChainCtes,
      |pcells AS (SELECT vec_id AS query_id, cid AS cell FROM ranked
      |           WHERE vec_id < 20 AND rn <= ${Similarity.IvfProbes}),
      |p AS (SELECT vec_id AS query_id, v AS q, nv AS nq FROM cell WHERE vec_id < 20),
      |cand AS (SELECT p.query_id, cell.vec_id,
      |           ${duckCosine.format("cell.v", "p.q", "cell.nv", "p.nq")} AS cosine
      |         FROM pcells JOIN p ON p.query_id = pcells.query_id
      |                     JOIN cell ON cell.cell = pcells.cell
      |         WHERE cell.vec_id <> p.query_id),
      |r AS (SELECT query_id, vec_id,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |      FROM cand)
      |SELECT query_id, rank, vec_id AS neighbor_id FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** The l22 connected-components chain — shared verbatim by the
    * streaming gate (m37): label-graph contraction across batches must be
    * invisible here. */
  private val dedupClustersOracleSql: String =
    s"""WITH RECURSIVE $shingleCte,
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pr AS (SELECT a_id AS doc_a, b_id AS doc_b
      |       FROM inter
      |       JOIN sz sa ON sa.doc_id = a_id
      |       JOIN sz sb ON sb.doc_id = b_id
      |       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT doc_a AS s, doc_b AS d FROM pr
      |          UNION ALL SELECT doc_b, doc_a FROM pr),
      |reach(v, r) AS (
      |  SELECT s, s FROM edges
      |  UNION
      |  SELECT e.s, re.r FROM edges e JOIN reach re ON re.v = e.d),
      |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
      |SELECT doc_id, cluster_id,
      |       COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
      |       doc_id = cluster_id AS keep
      |FROM cl ORDER BY doc_id""".stripMargin

  /** The l66 bigram-LM chain (CTEs through per-doc `sc`), shared by the
    * l67 bucket oracle so the two can never diverge. */
  private val lmChainCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |uni AS (SELECT unnest(w) AS tok FROM toks),
      |c1 AS (SELECT tok, COUNT(*) AS c1 FROM uni GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM uni),
      |bg AS (SELECT doc_id,
      |    unnest(list_transform(range(len(w) - 1),
      |      i -> struct_pack(
      |        w1 := w[CAST(i + 1 AS INTEGER)],
      |        b  := array_to_string(
      |                w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)],
      |                ' ')))) AS g
      |  FROM toks),
      |bgx AS (SELECT doc_id, g.w1 AS w1, g.b AS b FROM bg),
      |c2 AS (SELECT b, COUNT(*) AS c2 FROM bgx GROUP BY 1),
      |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |    ROUND(AVG(ln((c2.c2 + 1.0) / (c1.c1 + v.vocab))), 6) AS avg_logp
      |  FROM bgx JOIN c2 USING (b) JOIN c1 ON bgx.w1 = c1.tok, v
      |  GROUP BY doc_id)""".stripMargin

  /** The q40 triangle chain — shared verbatim by the streaming gate
    * (m41): minimal-new-edge accounting across batches must be invisible
    * here. */
  private val trianglesOracleSql: String =
    s"""WITH RECURSIVE $shingleCte,
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pr AS (SELECT a_id AS u, b_id AS v
      |       FROM inter
      |       JOIN sz sa ON sa.doc_id = a_id
      |       JOIN sz sb ON sb.doc_id = b_id
      |       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
      |deg AS (SELECT n, COUNT(*) AS d
      |        FROM (SELECT u AS n FROM pr UNION ALL SELECT v FROM pr)
      |        GROUP BY 1),
      |ed AS (SELECT pr.u, pr.v, d1.d AS du, d2.d AS dv
      |       FROM pr JOIN deg d1 ON d1.n = pr.u JOIN deg d2 ON d2.n = pr.v),
      |o AS (SELECT
      |        CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
      |        CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b,
      |        CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS db
      |      FROM ed),
      |w AS (SELECT o1.a AS a, o1.b AS b, o2.b AS c, o1.db AS db, o2.db AS dc
      |      FROM o o1 JOIN o o2 ON o1.a = o2.a
      |      WHERE o1.db < o2.db OR (o1.db = o2.db AND o1.b < o2.b)),
      |t AS (SELECT w.a, w.b, w.c
      |      FROM w JOIN o ON o.a = w.b AND o.b = w.c),
      |x AS (SELECT unnest([a, b, c]) AS node FROM t)
      |SELECT node, COUNT(*) AS n_tri FROM x GROUP BY node ORDER BY node""".stripMargin

  /** The l65 bloom chain — shared verbatim by the streaming gate (m36):
    * bit-set-union mergeability must be invisible here. */
  private val bloomOracleSql: String =
    """WITH p AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |members AS (SELECT DISTINCT fp FROM p WHERE doc_id % 2 = 0),
      |setbits AS (
      |  SELECT DISTINCT CAST(('0x' || substring(
      |      md5(CAST(i AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT)
      |    % 4096 AS pos
      |  FROM members, range(0, 3) t(i)),
      |probepos AS (
      |  SELECT doc_id, CAST(('0x' || substring(
      |      md5(CAST(i AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT)
      |    % 4096 AS pos
      |  FROM p, range(0, 3) t(i)),
      |hits AS (
      |  SELECT doc_id, COUNT(s.pos) = 3 AS bloom_hit
      |  FROM probepos LEFT JOIN setbits s ON probepos.pos = s.pos
      |  GROUP BY doc_id),
      |mem AS (
      |  SELECT p.doc_id, m.fp IS NOT NULL AS is_member
      |  FROM p LEFT JOIN members m ON p.fp = m.fp)
      |SELECT doc_id, bloom_hit, is_member
      |FROM hits JOIN mem USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** The l64 count-min chain — shared verbatim by the streaming gate
    * (m34): cell-wise-sum mergeability must be invisible here. */
  private val countMinOracleSql: String =
    """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |cells AS (
        |  SELECT r, CAST(('0x' || substring(
        |      md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT)
        |    % 1024 AS cell
        |  FROM tok, range(0, 4) t(r)),
        |sketch AS (SELECT r, cell, COUNT(*) AS c FROM cells GROUP BY 1, 2),
        |exact AS (SELECT tok, COUNT(*) AS n_exact FROM tok GROUP BY 1),
        |top AS (SELECT * FROM exact ORDER BY n_exact DESC, tok LIMIT 20),
        |probe AS (
        |  SELECT tok, n_exact, r, CAST(('0x' || substring(
        |      md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT)
        |    % 1024 AS cell
        |  FROM top, range(0, 4) t(r))
        |SELECT tok AS token, n_exact, MIN(c) AS n_est,
        |  MIN(c) - n_exact AS overcount
        |FROM probe JOIN sketch USING (r, cell)
        |GROUP BY tok, n_exact
        |ORDER BY n_exact DESC, token""".stripMargin

  /** The l42 KMV chain — shared verbatim by the streaming sketch gate
    * (m33): batch-vs-streaming mergeability must be invisible here. */
  /** l63/l63b oracle: the sketch algebra is shared verbatim; only l63b
    * appends the full-gram-domain exact-intersection audit (the join the
    * default plan deliberately omits). */
  private def kmvSetopsOracleSql(exactAudit: Boolean): String = {
    val exCte = if (!exactAudit) "" else """,
      |ex AS (SELECT a.source AS source_a, b.source AS source_b,
      |         COUNT(*) AS n_exact_inter
      |       FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
      |       GROUP BY 1, 2)""".stripMargin
    val exCol = if (!exactAudit) ""
      else ",\n  COALESCE(n_exact_inter, 0) AS n_exact_inter"
    val exJoin = if (!exactAudit) ""
      else " LEFT JOIN ex USING (source_a, source_b)"
    s"""WITH sh3 AS (
      |  SELECT source, [s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |                  for i in range(1, len(s) - 1)] AS g
      |  FROM (SELECT source, string_split(text, ' ') AS s FROM documents)
      |  WHERE len(s) >= 3),
      |d AS (SELECT DISTINCT source, md5(gram) AS h
      |      FROM (SELECT source, unnest(g) AS gram FROM sh3)),
      |mins AS (SELECT source, h FROM
      |         (SELECT source, h,
      |            ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
      |          FROM d) WHERE rk <= 256),
      |srcs AS (SELECT DISTINCT source FROM mins),
      |pairs AS (SELECT a.source AS source_a, b.source AS source_b
      |          FROM srcs a JOIN srcs b ON a.source < b.source),
      |ph AS (
      |  SELECT source_a, source_b, h, 1 AS side_a
      |  FROM pairs JOIN mins m ON m.source = pairs.source_a
      |  UNION ALL
      |  SELECT source_a, source_b, h, 0 AS side_a
      |  FROM pairs JOIN mins m ON m.source = pairs.source_b),
      |mh AS (SELECT source_a, source_b, h,
      |         MAX(side_a) AS in_a, MAX(1 - side_a) AS in_b
      |       FROM ph GROUP BY 1, 2, 3),
      |r AS (SELECT *, ROW_NUMBER() OVER
      |        (PARTITION BY source_a, source_b ORDER BY h) AS rn FROM mh),
      |sz AS (SELECT source_a, source_b, COUNT(*) AS n_m,
      |         LEAST(CAST(256 AS BIGINT), COUNT(*)) AS k_used
      |       FROM r GROUP BY 1, 2),
      |st AS (SELECT source_a, source_b, n_m, k_used,
      |         CAST(SUM(in_a * in_b) AS BIGINT) AS shared_minima,
      |         MAX(CASE WHEN rn = k_used THEN h END) AS kth_h
      |       FROM r JOIN sz USING (source_a, source_b)
      |       WHERE rn <= k_used GROUP BY 1, 2, 3, 4)$exCte
      |SELECT st.source_a, st.source_b, k_used, shared_minima,
      |  CASE WHEN n_m < 256 THEN CAST(n_m AS DOUBLE)
      |       ELSE 255.0 * 1152921504606846976.0 /
      |         CAST(CAST(('0x' || substring(kth_h, 1, 15)) AS BIGINT) AS DOUBLE)
      |  END AS kmv_union_est,
      |  shared_minima * 1.0 / k_used AS kmv_jacc_est,
      |  (shared_minima * 1.0 / k_used) *
      |  (CASE WHEN n_m < 256 THEN CAST(n_m AS DOUBLE)
      |        ELSE 255.0 * 1152921504606846976.0 /
      |          CAST(CAST(('0x' || substring(kth_h, 1, 15)) AS BIGINT) AS DOUBLE)
      |   END) AS kmv_inter_est$exCol
      |FROM st$exJoin
      |ORDER BY source_a, source_b""".stripMargin
  }

  private val kmvOracleSql: String =
    """WITH sh3 AS (
      |  SELECT source, [s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |                  for i in range(1, len(s) - 1)] AS g
      |  FROM (SELECT source, string_split(text, ' ') AS s FROM documents)
      |  WHERE len(s) >= 3),
      |d AS (SELECT DISTINCT source, md5(gram) AS h
      |      FROM (SELECT source, unnest(g) AS gram FROM sh3)),
      |ex AS (SELECT source, COUNT(*) AS n_exact FROM d GROUP BY 1),
      |r AS (SELECT source, h,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
      |      FROM d),
      |kth AS (SELECT source, h AS kth_h FROM r WHERE rk = 256)
      |SELECT ex.source, ex.n_exact,
      |  CASE WHEN kth_h IS NULL THEN CAST(n_exact AS DOUBLE)
      |       ELSE 255.0 * 1152921504606846976.0 /
      |            CAST(CAST(('0x' || substring(kth_h, 1, 15)) AS BIGINT) AS DOUBLE)
      |  END AS kmv_est
      |FROM ex LEFT JOIN kth ON ex.source = kth.source
      |ORDER BY ex.source""".stripMargin

  val oracles: Map[String, String] = Map(
    "l1_exact_dedup" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin,

    "l2_neardup_minhash" ->
      s"""WITH $shingleCte,
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT a_id AS doc_a, b_id AS doc_b,
        |       i * 1.0 / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    "l3_ann_brute" -> bruteOracleSql(5),

    // cosines are the bit-exact fold chain, so the tau cut and the
    // argmax tiebreak (smallest bench_id) are seam-free; the bench slice
    // carries the same fixed id ceiling as the engine (EvalIdBound — a
    // no-op at every driver SF, where all ids sit below it)
    "l68_semantic_decontam" ->
      s"""WITH $embCte,
        |b AS (SELECT vec_id AS bench_id, v AS bv, nv AS bnv FROM n
        |      WHERE vec_id % 50 = 0 AND vec_id < ${Similarity.EvalIdBound}
        |        AND nv > 0),
        |c AS (SELECT vec_id, v, nv FROM n
        |      WHERE NOT (vec_id % 50 = 0 AND vec_id < ${Similarity.EvalIdBound})
        |        AND nv > 0),
        |s AS (SELECT c.vec_id, b.bench_id,
        |        ${duckCosine.format("c.v", "b.bv", "c.nv", "b.bnv")} AS cosine
        |      FROM c, b),
        |r AS (SELECT vec_id, cosine, bench_id,
        |        ROW_NUMBER() OVER (PARTITION BY vec_id
        |          ORDER BY cosine DESC, bench_id) AS rn FROM s),
        |best AS (SELECT vec_id, cosine AS max_cos, bench_id FROM r WHERE rn = 1)
        |SELECT e.vec_id,
        |  COALESCE(max_cos >= 0.4, false) AS contaminated, max_cos, bench_id
        |FROM (SELECT vec_id FROM embeddings
        |      WHERE NOT (vec_id % 50 = 0 AND vec_id < ${Similarity.EvalIdBound})) e
        |LEFT JOIN best USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin,

    "l4_ann_lsh" -> lshOracleSql,

    "l5_textstats" ->
      """SELECT doc_id,
        |  len(w) AS n_tokens,
        |  len(list_distinct(w)) AS n_unique,
        |  len(list_distinct(w)) * 1.0 / len(w) AS ttr,
        |  (length(text) - (len(w) - 1)) * 1.0 / len(w) AS avg_token_len,
        |  len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) * 1.0 / len(w) AS stop_ratio,
        |  CAST(list_sum(list_transform(w, t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_est
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "l6_langid" ->
      """SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |       WHEN fr_hits >= es_hits THEN 'fr'
        |       ELSE 'es' END AS predicted
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'and' OR t = 'of')) AS en_hits,
        |    len(list_filter(w, t -> t = 'der' OR t = 'die' OR t = 'das' OR t = 'und')) AS de_hits,
        |    len(list_filter(w, t -> t = 'le' OR t = 'la' OR t = 'les' OR t = 'et')) AS fr_hits,
        |    len(list_filter(w, t -> t = 'el' OR t = 'los' OR t = 'las' OR t = 'y')) AS es_hits
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "l7_simhash_neardup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), th AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
        |), bits AS (
        |  SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        |  FROM th, range(0, ${TextDedup.SimhashBits}) r(i) GROUP BY doc_id, i
        |), fp AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN sgn > 0 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS f
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.f, b.f)) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= ${TextDedup.SimhashMaxHamming}
        |ORDER BY doc_a, doc_b""".stripMargin,

    "l8_multimodal_meta" ->
      """SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS modality,
        |  octet_length(encode(text)) AS n_bytes,
        |  hex(encode(substring(text, 1, 4))) AS magic,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // mirrors Similarity.embeddingNearDup's banded LSH exactly: a pair is
    // a candidate iff ANY of the NumBands 8-plane sign signatures matches
    // (the bucket cap is not mirrored — it is a mass-duplication guard
    // that never fires on organic data; both folds are sequential, so
    // the sign decisions are bit-identical across engines)
    "l9_embdup_lsh" ->
      s"""WITH $embPairCtes
        |SELECT vec_a, vec_b FROM epr ORDER BY vec_a, vec_b""".stripMargin,

    // the l2 pair chain rolled up by order-normalized source pair
    "c6_source_overlap" ->
      s"""WITH $shingleCte,
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pr AS (SELECT a_id, b_id
        |       FROM inter
        |       JOIN sz sa ON sa.doc_id = a_id
        |       JOIN sz sb ON sb.doc_id = b_id
        |       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8)
        |SELECT least(da.source, db.source) AS source_x,
        |  greatest(da.source, db.source) AS source_y,
        |  COUNT(*) AS n_pairs
        |FROM pr JOIN documents da ON da.doc_id = pr.a_id
        |        JOIN documents db ON db.doc_id = pr.b_id
        |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin,

    // the oracle counts tokens the straightforward way (explode +
    // group); the Spark side's run-length fold must land on identical
    // integers (the l19 decomposition argument), then one IEEE division
    "l41_simpson_diversity" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        COUNT(*) AS n_unique,
        |        CAST(SUM(c * (c - 1)) AS BIGINT) AS repeat_pairs
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_unique, repeat_pairs,
        |  CASE WHEN n_tokens < 2 THEN 0.0
        |       ELSE repeat_pairs * 1.0 / (n_tokens * (n_tokens - 1)) END AS simpson
        |FROM a ORDER BY doc_id""".stripMargin,

    // KMV sketch mirror: distinct (source, md5(trigram)), k-th smallest
    // per source by plain window rank (the oracle has no scale problem),
    // and the same double-exact (k-1)·2^60 numerator / one IEEE division
    "l42_kmv_distinct" -> kmvOracleSql,

    // the streaming sketch must land exactly on the one-shot chain —
    // the SAME oracle as l42 (mergeability is invisible in the result)
    "m33_stream_kmv" -> kmvOracleSql,
    // m33 minus the audit COLUMN: same sketch arithmetic, estimate only
    // (n_exact survives inside the CASE — the sub-k branch of a KMV
    // sketch IS the exact count, but it's derived from state, not from a
    // separate audit pass)
    "m33b_stream_kmv_noaudit" ->
      """WITH sh3 AS (
        |  SELECT source, [s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                  for i in range(1, len(s) - 1)] AS g
        |  FROM (SELECT source, string_split(text, ' ') AS s FROM documents)
        |  WHERE len(s) >= 3),
        |d AS (SELECT DISTINCT source, md5(gram) AS h
        |      FROM (SELECT source, unnest(g) AS gram FROM sh3)),
        |ex AS (SELECT source, COUNT(*) AS n_exact FROM d GROUP BY 1),
        |r AS (SELECT source, h,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        |      FROM d),
        |kth AS (SELECT source, h AS kth_h FROM r WHERE rk = 256)
        |SELECT ex.source,
        |  CASE WHEN kth_h IS NULL THEN CAST(n_exact AS DOUBLE)
        |       ELSE 255.0 * 1152921504606846976.0 /
        |            CAST(CAST(('0x' || substring(kth_h, 1, 15)) AS BIGINT) AS DOUBLE)
        |  END AS kmv_est
        |FROM ex LEFT JOIN kth ON ex.source = kth.source
        |ORDER BY ex.source""".stripMargin,

    // containment mirror: df-capped posting self-join, full-set
    // denominators, both containment directions. The oracle pairs on gram
    // STRINGS where Spark pairs on the codegen'd XXH64 gram hashes —
    // identical modulo 2^-64 collisions (the l29 caveat)
    "l43_containment" ->
      s"""WITH $shingleCte,
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |dfok AS (SELECT s FROM sh GROUP BY s
        |         HAVING COUNT(*) <= ${TextDedup.ContainmentDfCap}),
        |ce AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfok USING (s)),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         COUNT(*) AS shared
        |       FROM ce a JOIN ce b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT doc_a, doc_b, shared, sa.n AS n_a, sb.n AS n_b,
        |  shared * 1.0 / sa.n AS cont_a, shared * 1.0 / sb.n AS cont_b,
        |  shared * 1.0 / (sa.n + sb.n - shared) AS jaccard
        |FROM pr JOIN sz sa ON doc_a = sa.doc_id
        |        JOIN sz sb ON doc_b = sb.doc_id
        |WHERE greatest(shared * 1.0 / sa.n, shared * 1.0 / sb.n) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin,

    // collocation mirror: bigram counts, marginals from the aggregated
    // table, the identical double-division chain, deterministic total
    // order (lift desc, w1, w2) so the top-k has no tie ambiguity
    "l44_collocations" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(w) AS word,
        |          generate_subscripts(w, 1) AS i FROM toks),
        |bg AS (SELECT a.word AS w1, b.word AS w2
        |       FROM pos a JOIN pos b
        |         ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |c AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
        |cx AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM c GROUP BY 1),
        |cy AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM c GROUP BY 1),
        |nt AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS nb FROM c),
        |l AS (SELECT c.w1, c.w2, c_xy, c_x, c_y,
        |        CAST(c_xy AS DOUBLE) / CAST(c_x AS DOUBLE) /
        |          CAST(c_y AS DOUBLE) * CAST(nb AS DOUBLE) AS lift
        |      FROM c JOIN cx USING (w1) JOIN cy USING (w2), nt
        |      WHERE c_xy >= 5)
        |SELECT * FROM (
        |  SELECT CAST(ROW_NUMBER() OVER
        |      (ORDER BY lift DESC, w1, w2) AS BIGINT) AS rk,
        |    w1, w2, c_xy, c_x, c_y, lift
        |  FROM l)
        |WHERE rk <= 20 ORDER BY rk""".stripMargin,

    // per-subspace Lloyd's mirror + code assignment + error folds; the
    // fixed-order subspace sum and greatest() match the Spark side
    "l45_pq_quantize" ->
      s"""WITH $pqCtes
        |SELECT pe.vec_id, m0err.code0, m1err.code1, m2err.code2, m3err.code3,
        |  ((m0err.sq0 + m1err.sq1) + m2err.sq2) + m3err.sq3 AS sq_err,
        |  greatest(m0err.mx0, m1err.mx1, m2err.mx2, m3err.mx3) AS max_err
        |FROM pe
        |JOIN m0err ON pe.vec_id = m0err.vec_id
        |JOIN m1err ON pe.vec_id = m1err.vec_id
        |JOIN m2err ON pe.vec_id = m2err.vec_id
        |JOIN m3err ON pe.vec_id = m3err.vec_id
        |ORDER BY pe.vec_id""".stripMargin,

    // ADC mirror: per-(query, centroid) subspace distances join the code
    // table; the probe-minus-centroid fold and the fixed-order subspace
    // sum match the Spark side
    "l46_ann_pq" -> {
      val it = Similarity.IvfIters
      val sub = 64 / Similarity.PqM
      val dms = (0 until Similarity.PqM).map { m =>
        val lo = m * sub + 1
        val hi = (m + 1) * sub
        s"""d$m AS (SELECT p.query_id, c.cid,
           |        list_reduce(list_transform(list_zip(p.v[$lo:$hi], c.cv),
           |          z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) AS dm
           |      FROM p, m${m}cent$it c)""".stripMargin
      }.mkString(",\n")
      s"""WITH $pqCtes,
        |codes AS (SELECT pe.vec_id, m0err.code0, m1err.code1, m2err.code2, m3err.code3
        |          FROM pe
        |          JOIN m0err ON pe.vec_id = m0err.vec_id
        |          JOIN m1err ON pe.vec_id = m1err.vec_id
        |          JOIN m2err ON pe.vec_id = m2err.vec_id
        |          JOIN m3err ON pe.vec_id = m3err.vec_id),
        |p AS (SELECT vec_id AS query_id, v FROM pe WHERE vec_id < 20),
        |$dms,
        |adc AS (SELECT d0.query_id, x.vec_id,
        |          (((d0.dm + d1.dm) + d2.dm) + d3.dm) AS dist
        |        FROM codes x
        |        JOIN d0 ON d0.cid = x.code0
        |        JOIN d1 ON d1.query_id = d0.query_id AND d1.cid = x.code1
        |        JOIN d2 ON d2.query_id = d0.query_id AND d2.cid = x.code2
        |        JOIN d3 ON d3.query_id = d0.query_id AND d3.cid = x.code3
        |        WHERE x.vec_id <> d0.query_id),
        |r AS (SELECT query_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, vec_id AS neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // IVFADC mirror: the l10 cell chain restricts candidates to each
    // probe's nprobe cells; inside them the l46 ADC join scores 4-byte
    // codes. Same fixed-order subspace sum, same (dist, vec_id) ties.
    "l47_ann_ivfpq" -> {
      val it = Similarity.IvfIters
      val sub = 64 / Similarity.PqM
      val dms = (0 until Similarity.PqM).map { m =>
        val lo = m * sub + 1
        val hi = (m + 1) * sub
        s"""d$m AS (SELECT p.query_id, c.cid,
           |        list_reduce(list_transform(list_zip(p.v[$lo:$hi], c.cv),
           |          z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) AS dm
           |      FROM p, m${m}cent$it c)""".stripMargin
      }.mkString(",\n")
      s"""WITH $cellChainCtes,
        |$pqCtes,
        |codes AS (SELECT m0err.vec_id, m0err.code0, m1err.code1, m2err.code2, m3err.code3
        |          FROM m0err
        |          JOIN m1err ON m0err.vec_id = m1err.vec_id
        |          JOIN m2err ON m0err.vec_id = m2err.vec_id
        |          JOIN m3err ON m0err.vec_id = m3err.vec_id),
        |xc AS (SELECT cell.vec_id, cell.cell, codes.code0, codes.code1,
        |         codes.code2, codes.code3
        |       FROM cell JOIN codes ON cell.vec_id = codes.vec_id),
        |pcells AS (SELECT vec_id AS query_id, cid AS cell FROM ranked
        |           WHERE vec_id < 20 AND rn <= ${Similarity.IvfProbes}),
        |p AS (SELECT vec_id AS query_id, v FROM pe WHERE vec_id < 20),
        |$dms,
        |adc AS (SELECT pc.query_id, x.vec_id,
        |          (((d0.dm + d1.dm) + d2.dm) + d3.dm) AS dist
        |        FROM pcells pc
        |        JOIN xc x ON x.cell = pc.cell
        |        JOIN d0 ON d0.query_id = pc.query_id AND d0.cid = x.code0
        |        JOIN d1 ON d1.query_id = pc.query_id AND d1.cid = x.code1
        |        JOIN d2 ON d2.query_id = pc.query_id AND d2.cid = x.code2
        |        JOIN d3 ON d3.query_id = pc.query_id AND d3.cid = x.code3
        |        WHERE x.vec_id <> pc.query_id),
        |r AS (SELECT query_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, vec_id AS neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // truncation-audit mirror: the l3 rank chain twice (full v and
    // v[1:16]), per-probe list intersection, one IEEE division
    "l48_trunc_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nv,
        |        v[1:16] AS vt,
        |        sqrt(list_reduce(list_transform(v[1:16], x -> x * x), (a, b) -> a + b)) AS nvt
        |      FROM e),
        |p AS (SELECT vec_id AS query_id, v AS q, nv AS nq, vt AS qt, nvt AS nqt
        |      FROM n WHERE vec_id < 20),
        |sf AS (SELECT p.query_id, n.vec_id,
        |        ${duckCosine.format("n.v", "p.q", "n.nv", "p.nq")} AS cosine
        |      FROM n, p WHERE n.vec_id <> p.query_id),
        |rf AS (SELECT query_id, vec_id FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cosine DESC, vec_id) AS rank FROM sf)
        |      WHERE rank <= 5),
        |st AS (SELECT p.query_id, n.vec_id,
        |        ${duckCosine.format("n.vt", "p.qt", "n.nvt", "p.nqt")} AS cosine
        |      FROM n, p WHERE n.vec_id <> p.query_id AND n.nvt > 0 AND p.nqt > 0),
        |rt AS (SELECT query_id, vec_id FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cosine DESC, vec_id) AS rank FROM st)
        |      WHERE rank <= 5),
        |ff AS (SELECT query_id, list(vec_id) AS nf FROM rf GROUP BY 1),
        |tt AS (SELECT query_id, list(vec_id) AS nt FROM rt GROUP BY 1)
        |SELECT ff.query_id,
        |  CAST(len(list_filter(ff.nf, x -> list_contains(tt.nt, x))) AS BIGINT) AS n_overlap,
        |  len(list_filter(ff.nf, x -> list_contains(tt.nt, x))) / 5.0 AS recall
        |FROM ff JOIN tt ON ff.query_id = tt.query_id
        |ORDER BY ff.query_id""".stripMargin,

    // distinct (doc, token) explode → df table → per-doc integer rollup;
    // the mean is the single IEEE division
    "l49_token_rarity" ->
      """WITH toks AS (SELECT DISTINCT doc_id,
        |    unnest(string_split(text, ' ')) AS word FROM documents),
        |df AS (SELECT word, COUNT(*) AS df FROM toks GROUP BY 1)
        |SELECT doc_id,
        |  COUNT(*) AS n_distinct,
        |  CAST(SUM(df) AS BIGINT) AS sum_df,
        |  MIN(df) AS min_df,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_df
        |FROM toks JOIN df USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical boundary rule (md5-of-window mask), chunk strings, and
    // fingerprints — DuckDB picks the same cuts because the hash is md5
    "l50_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, w, n,
        |    CASE WHEN n >= 2 THEN list_filter(range(1, n),
        |      j -> md5(array_to_string(list_slice(w, greatest(j - 3, 1), j), ' '))[1:1] = '0')
        |    ELSE [] END AS cuts FROM t),
        |b AS (SELECT doc_id, w,
        |    list_prepend(1, list_transform(cuts, j -> j + 1)) AS starts,
        |    list_append(cuts, n) AS ends FROM c),
        |ch AS (SELECT doc_id, unnest(list_transform(range(1, len(starts) + 1),
        |    k -> md5(array_to_string(list_slice(w, starts[k], ends[k]), ' ')))) AS fp
        |  FROM b),
        |share AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
        |SELECT ch.doc_id,
        |  COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    AS shared_ratio
        |FROM ch JOIN share USING (fp)
        |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,

    // same fingerprint fragment as l1/c1; ratios are integer sums with
    // one trailing division (the l5 idiom)
    // the exported layout must equal the md5-derived assignment
    "c10_export_shards" ->
      """WITH b AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
        |    CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS BIGINT) % 8 AS INTEGER) AS shard
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // each check restated as scalar subqueries; the referential checks
    // use LEFT JOIN … IS NULL to match anti-join null semantics exactly
    "c9_expectations" ->
      s"""WITH checks AS (
        |  SELECT 'customer_mktsegment_domain' AS check_name,
        |    (SELECT COUNT(*) FROM customer)::BIGINT AS n_checked,
        |    (SELECT COUNT(*) FROM customer WHERE c_mktsegment NOT IN
        |      ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
        |    )::BIGINT AS n_violations
        |  UNION ALL SELECT 'documents_nchars_consistent',
        |    (SELECT COUNT(*) FROM documents)::BIGINT,
        |    (SELECT COUNT(*) FROM documents
        |     WHERE n_chars != length(text))::BIGINT
        |  UNION ALL SELECT 'documents_nonempty',
        |    (SELECT COUNT(*) FROM documents)::BIGINT,
        |    (SELECT COUNT(*) FROM documents WHERE length(text) = 0)::BIGINT
        |  UNION ALL SELECT 'embeddings_dim_64',
        |    (SELECT COUNT(*) FROM embeddings)::BIGINT,
        |    (SELECT COUNT(*) FROM embeddings WHERE len(embedding) != 64)::BIGINT
        |  UNION ALL SELECT 'events_amount_completeness',
        |    (SELECT COUNT(*) FROM events)::BIGINT,
        |    (SELECT COUNT(*) FROM events
        |     WHERE props NOT LIKE '%"amount"%')::BIGINT
        |  UNION ALL SELECT 'events_ts_in_range',
        |    (SELECT COUNT(*) FROM events)::BIGINT,
        |    (SELECT COUNT(*) FROM events
        |     WHERE (${duckTsec("ts")}) < 1704067200
        |        OR (${duckTsec("ts")}) >= 1706745600)::BIGINT
        |  UNION ALL SELECT 'events_value_nonneg',
        |    (SELECT COUNT(*) FROM events)::BIGINT,
        |    (SELECT COUNT(*) FROM events WHERE value < 0)::BIGINT
        |  UNION ALL SELECT 'lineitem_orderkey_resolves',
        |    (SELECT COUNT(*) FROM lineitem)::BIGINT,
        |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
        |     ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderkey IS NULL)::BIGINT
        |  UNION ALL SELECT 'lineitem_qty_positive',
        |    (SELECT COUNT(*) FROM lineitem)::BIGINT,
        |    (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)::BIGINT
        |  UNION ALL SELECT 'orders_custkey_resolves',
        |    (SELECT COUNT(*) FROM orders)::BIGINT,
        |    (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
        |     ON o.o_custkey = c.c_custkey
        |     WHERE c.c_custkey IS NULL)::BIGINT)
        |SELECT check_name, n_checked, n_violations
        |FROM checks ORDER BY check_name""".stripMargin,

    "c8_dataset_card" ->
      """WITH base AS (
        |  SELECT source, lang, len(w)::BIGINT AS n_tok,
        |    len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and'))::BIGINT AS n_stop,
        |    md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
        |  FROM (SELECT source, lang, string_split(text, ' ') AS w FROM documents) t),
        |fp AS (SELECT fingerprint, COUNT(*) AS nfp FROM base GROUP BY 1),
        |per AS (
        |  SELECT source, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    SUM(CASE WHEN nfp > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
        |    SUM(n_stop)::BIGINT AS n_stop
        |  FROM base JOIN fp USING (fingerprint) GROUP BY 1),
        |tot AS (SELECT SUM(n_tokens) AS tot_tokens FROM per)
        |SELECT source, n_docs, n_tokens, n_langs, n_dup_docs,
        |  n_stop * 1.0 / n_tokens AS stop_ratio,
        |  n_tokens * 1.0 / tot_tokens AS token_share
        |FROM per, tot ORDER BY source""".stripMargin,

    // identical l5 feature expressions; the linear combo is written in
    // the same left-to-right order so every double matches bit-for-bit
    "l53_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(w)::BIGINT AS n_tokens,
        |    len(list_distinct(w)) * 1.0 / len(w) AS ttr,
        |    (length(text) - (len(w) - 1)) * 1.0 / len(w) AS avg_token_len,
        |    len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) * 1.0 / len(w) AS stop_ratio
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) t)
        |SELECT doc_id,
        |  0.5 + 2.0 * ttr - 3.0 * stop_ratio + 0.15 * avg_token_len
        |    - 0.002 * CAST(abs(n_tokens - 200) AS DOUBLE) AS score,
        |  CASE WHEN 0.5 + 2.0 * ttr - 3.0 * stop_ratio + 0.15 * avg_token_len
        |    - 0.002 * CAST(abs(n_tokens - 200) AS DOUBLE) > 1.3 THEN 1 ELSE 0 END AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // lexicographic struct max = the same argmax in both engines
    "l54_keep_longest" ->
      """WITH base AS (
        |  SELECT doc_id, len(w)::BIGINT AS n_tok,
        |    md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
        |g AS (
        |  SELECT fingerprint, COUNT(*) AS n_copies,
        |    max({'nt': n_tok, 'nid': -doc_id}) AS st,
        |    SUM(n_tok)::BIGINT AS tot_tok
        |  FROM base GROUP BY 1)
        |SELECT fingerprint, n_copies, st.nt AS keep_n_tok, -st.nid AS keep_id,
        |  tot_tok - st.nt AS n_tok_dropped
        |FROM g WHERE n_copies > 1 ORDER BY fingerprint""".stripMargin,

    // the same 4 BPE rounds as a CTE chain; replace() shares Spark's
    // greedy non-overlapping left-to-right semantics, so every round's
    // merge choice and application reproduce bit-for-bit
    "l51_bpe_merges" -> Bpe.bpeMergesSql(),
    "l56_bpe_encode" -> Bpe.bpeEncodeSql(),

    // all-pairs statement of the banded plan (the l7 oracle idiom):
    // Hamming over the same 60-bit sha-prefix fingerprint, with the
    // same planted single-bit variants
    "l57_media_neardup" ->
      s"""WITH base AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(('0x' || substr(sha256(text), 1, ${Multimodal.MediaFpHex})) AS BIGINT) AS fp
        |  FROM documents),
        |fp AS (
        |  SELECT asset_id, fp FROM base
        |  UNION ALL
        |  SELECT asset_id + 1000000, xor(fp, 1::BIGINT << CAST(asset_id % 60 AS INTEGER))
        |  FROM base WHERE asset_id % 50 = 0)
        |SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
        |       bit_count(xor(a.fp, b.fp)) AS hamming
        |FROM fp a JOIN fp b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= ${Multimodal.MediaMaxHamming}
        |ORDER BY asset_a, asset_b""".stripMargin,

    // DuckDB's nfc_normalize (utf8proc) against the engine's
    // java.text.Normalizer — same canonical composition by spec; the
    // planted chr(233) composed / chr(769) combining-acute pairs only
    // group if both engines agree
    "l58_nfc_canon" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' caf' || chr(233)
        |  FROM documents WHERE doc_id % 100 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' cafe' || chr(769)
        |  FROM documents WHERE doc_id % 100 = 0),
        |c AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(nfc_normalize(text)),
        |        '\s+', ' ', 'g'))) AS cfp
        |  FROM aug),
        |g AS (SELECT cfp, MIN(doc_id) AS rep_doc, COUNT(*) AS n_members
        |      FROM c GROUP BY 1 HAVING COUNT(*) > 1)
        |SELECT c.doc_id, g.rep_doc, g.n_members
        |FROM c JOIN g USING (cfp) ORDER BY c.doc_id""".stripMargin,

    // the TV identity with HUGEINT exact arithmetic (the Spark side
    // carries DECIMAL(38,0) — both are exact integers, so the single
    // final division is the only float op on either engine)
    // KMV set-ops mirror: the same per-source k-minima (row_number over
    // the full distinct sets — identical lists by the subset property),
    // merged per pair, ranked, and fed through the identical estimator
    // arithmetic. l63 = the default sketch-only plan; l63b adds the
    // exact intersection from the full gram sets as audit
    "l63_kmv_setops" -> kmvSetopsOracleSql(exactAudit = false),
    "l63b_kmv_exact_audit" -> kmvSetopsOracleSql(exactAudit = true),

    // count-min mirror: identical md5 cell derivation, integer counts,
    // min fold over the depth rows — no float anywhere
    "l64_countmin" -> countMinOracleSql,

    // the streaming sketch must land exactly on the one-shot chain
    "m34_stream_countmin" -> countMinOracleSql,


    // bloom mirror: same md5 positions, set-bit distinct, all-positions-
    // present verdict vs exact fingerprint membership
    "l65_bloom_audit" -> bloomOracleSql,

    // the m36 gate: mergeability across batches must be INVISIBLE — the
    // maintained filter answers with l65's one-shot oracle verbatim
    "m36_stream_bloom" -> bloomOracleSql,

    // counts by bigram/unigram STRINGS where Spark counts by the 64-bit
    // gram-hash keys (the l33 parity argument); AVG-order float drift and
    // libm ln disagreement both land far under the shared round(…,6)
    "l66_lm_perplexity" ->
      s"""WITH $lmChainCtes
        |SELECT doc_id, n_bigrams, avg_logp, ROUND(exp(-avg_logp), 6) AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,

    // l66's chain + per-language tercile cut; the boundaries compare the
    // SAME rounded ppl values in both engines (the m23 seam argument)
    "l67_ppl_buckets" ->
      s"""WITH $lmChainCtes,
        |scored AS (
        |  SELECT s.doc_id, ROUND(exp(-s.avg_logp), 6) AS ppl, d.lang,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
        |  FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
        |bounds AS (
        |  SELECT lang,
        |    ROUND(quantile_cont(ppl, CAST(1 AS DOUBLE) / 3), 6) AS b1,
        |    ROUND(quantile_cont(ppl, CAST(2 AS DOUBLE) / 3), 6) AS b2
        |  FROM scored GROUP BY 1)
        |SELECT s.lang,
        |  CASE WHEN ppl <= b1 THEN 'head'
        |       WHEN ppl <= b2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MAX(b1) AS b1, MAX(b2) AS b2
        |FROM scored s JOIN bounds USING (lang)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "l59_source_tvd" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |csw AS (SELECT source, w, COUNT(*) AS c_sw FROM tok GROUP BY 1, 2),
        |cw  AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY 1),
        |ts  AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS t_s,
        |               COUNT(*) AS n_distinct FROM csw GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS t_all FROM cw),
        |agg AS (
        |  SELECT source,
        |    SUM(ABS(CAST(c_sw AS HUGEINT) * t_all - CAST(c_w AS HUGEINT) * t_s))
        |      AS a_num,
        |    CAST(SUM(c_w) AS BIGINT) AS b_cov,
        |    MAX(t_s) AS n_tokens, MAX(n_distinct) AS n_distinct,
        |    MAX(t_all) AS t_all
        |  FROM csw JOIN cw USING (w) JOIN ts USING (source), tot
        |  GROUP BY source)
        |SELECT source, n_tokens, n_distinct,
        |  CAST(a_num + CAST(t_all - b_cov AS HUGEINT) * n_tokens AS DOUBLE) /
        |    (2 * CAST(n_tokens AS DOUBLE) * CAST(t_all AS DOUBLE)) AS tv_dist
        |FROM agg ORDER BY source""".stripMargin,

    // the same CASE chain folded over the token list (l30's
    // list_prepend-seeded list_reduce idiom for possibly-empty lists)
    "l60_blocklist" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      x -> CAST(CASE x WHEN 'slow' THEN 4 WHEN 'dup' THEN 7
        |                       WHEN 'big' THEN 2 ELSE 0 END AS BIGINT))),
        |    (a, b) -> a + b) AS block_score,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      x -> CAST(CASE x WHEN 'slow' THEN 4 WHEN 'dup' THEN 7
        |                       WHEN 'big' THEN 2 ELSE 0 END AS BIGINT))),
        |    (a, b) -> a + b) * 25 >= len(string_split(text, ' ')) AS flagged
        |FROM documents ORDER BY doc_id""".stripMargin,

    // vocabulary = deterministic top-25 (count desc, token asc); the
    // per-doc pass is membership against that 25-entry list
    "l61_oov_rate" ->
      """WITH c AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT list(w) AS vocab FROM (
        |        SELECT w, COUNT(*) AS n FROM c GROUP BY 1
        |        ORDER BY n DESC, w LIMIT 25)),
        |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, len(w) AS n_tokens,
        |  len(list_filter(w, x -> NOT list_contains(vocab, x))) AS n_oov,
        |  CAST(len(list_filter(w, x -> NOT list_contains(vocab, x))) AS DOUBLE)
        |    / len(w) AS oov_rate
        |FROM d, v ORDER BY doc_id""".stripMargin,

    // the three rankings are this file's own proven chains (brute at
    // k=3, the l4 LSH chain, the l10 IVF chain), composed as scoped
    // subqueries; the audit tail is integer hit counts + one division
    "l62_ann_recall" ->
      s"""WITH gt AS (SELECT query_id, neighbor_id FROM (${bruteOracleSql(3)})),
        |ap AS (
        |  SELECT 'lsh' AS method, query_id, neighbor_id FROM ($lshOracleSql)
        |  UNION ALL
        |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ($ivfOracleSql)),
        |q AS (SELECT DISTINCT query_id FROM gt),
        |m AS (SELECT 'lsh' AS method UNION ALL SELECT 'ivf'),
        |hits AS (SELECT g.query_id, ap.method, COUNT(*) AS n_hits
        |         FROM gt g JOIN ap ON ap.query_id = g.query_id
        |                          AND ap.neighbor_id = g.neighbor_id
        |         GROUP BY 1, 2)
        |SELECT q.query_id, m.method,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3.0 AS recall
        |FROM q CROSS JOIN m
        |LEFT JOIN hits h ON h.query_id = q.query_id AND h.method = m.method
        |ORDER BY m.method, q.query_id""".stripMargin,

    // l3's brute-force CTE with a label inequality instead of the
    // self-exclusion (a probe shares its own label, so self is out)
    "l52_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nv
        |      FROM e),
        |p AS (SELECT vec_id AS query_id, label AS qlabel, v AS q, nv AS nq
        |      FROM n WHERE vec_id < 20),
        |s AS (SELECT p.query_id, n.vec_id, n.label,
        |        list_reduce(list_transform(list_zip(n.v, p.q), z -> z[1] * z[2]),
        |          (a, b) -> a + b) / (n.nv * p.nq) AS cosine
        |      FROM n, p WHERE n.label <> p.qlabel),
        |r AS (SELECT query_id, vec_id, label,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, vec_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, vec_id AS neighbor_id, label AS neighbor_label
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the l9 pair chain joined to the texts: paraphrase candidates are
    // embedding near-dups whose token sets barely overlap — integer
    // intersections + one IEEE division (the l2 jaccard pattern)
    "l40_paraphrase_pairs" ->
      s"""WITH $embPairCtes,
        |t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
        |j AS (SELECT epr.vec_a, epr.vec_b,
        |        len(list_filter(ta.w, x -> list_contains(tb.w, x))) AS i,
        |        len(ta.w) AS na, len(tb.w) AS nb
        |      FROM epr JOIN t ta ON ta.doc_id = epr.vec_a
        |               JOIN t tb ON tb.doc_id = epr.vec_b)
        |SELECT vec_a, vec_b, CAST(i AS BIGINT) AS n_shared_tokens,
        |  i * 1.0 / (na + nb - i) AS jaccard
        |FROM j WHERE i * 1.0 / (na + nb - i) < 0.6
        |ORDER BY vec_a, vec_b""".stripMargin,

    // straightforward all-pairs n-gram Jaccard at oracle scale; the Spark
    // side is the banded-LSH scale path (recall argument as l2).
    // ORACLE-EXACTNESS CONTRACT (r3 VERDICT #5): the ≥3-band vote misses
    // a pair at exactly Jaccard 0.7 with p ≈ 0.9 % (TextDedup
    // .NgramMinBandMatches); hash-equality with this all-pairs oracle
    // therefore requires the corpus's pair similarities to avoid a narrow
    // band around the threshold (the shipped testdata has no pairs in
    // (0.3, 0.9)). A testdata refresh that lands a pair at ~0.70 can
    // deterministically miss it — documented LSH behavior, not a Spark
    // bug; LlmSpec's seeded near-threshold corpus pins the contract.
    "l12_ngram_jaccard" ->
      """WITH g AS (SELECT doc_id,
        |             unnest(list_distinct(list_transform(range(greatest(length(text) - 4, 0)),
        |               i -> substring(text, CAST(i + 1 AS INTEGER), 5)))) AS s
        |           FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |          FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT a_id AS doc_a, b_id AS doc_b,
        |       i * 1.0 / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,

    // string 8-grams via list slicing; hash-set equality on the Spark
    // side ≡ string equality absent ~2^-64 collisions (the l2 argument)
    "l15_decontam" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(range(len(w) - 7),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 8 AS INTEGER)], ' ')))) AS s
        |      FROM toks WHERE len(w) >= 8),
        |bench AS (SELECT DISTINCT s FROM g WHERE doc_id < 20)
        |SELECT t.doc_id, COUNT(*) AS n_hits
        |FROM g t JOIN bench b ON t.s = b.s
        |WHERE t.doc_id >= 20
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "l18_incr_dedup" ->
      """WITH fp AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |  FROM documents)
        |SELECT MIN(i.doc_id) AS doc_id, i.fingerprint
        |FROM fp i
        |WHERE i.doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM fp c
        |                  WHERE c.doc_id < 250 AND c.fingerprint = i.fingerprint)
        |GROUP BY i.fingerprint
        |ORDER BY doc_id""".stripMargin,

    // the split is a pure function of md5(decimal doc_id) — identical in
    // any engine, which is the whole point of the operator
    "l16_split" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    // mode and multiplicities over gram STRINGS — the Spark side counts
    // 64-bit gram hashes (identical counts absent ~2^-64 collisions);
    // integer counts + one IEEE division each → bit-identical fractions
    "l19_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 2 THEN list_transform(range(len(w) - 1),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |          ELSE CAST([] AS VARCHAR[]) END AS big,
        |        greatest(len(w) - 2, 0) AS n3,
        |        CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(range(len(w) - 2),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))))
        |          ELSE 0 END AS d3
        |      FROM toks),
        |bg AS (SELECT doc_id, unnest(big) AS g FROM b),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |mx AS (SELECT doc_id, MAX(c) AS top, COUNT(*) AS dist FROM cnt GROUP BY 1)
        |SELECT b.doc_id,
        |  CAST(len(big) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(mx.top, 0) AS BIGINT) AS top_bigram_n,
        |  CASE WHEN len(big) = 0 THEN 0.0
        |       ELSE COALESCE(mx.top, 0) * 1.0 / len(big) END AS top_bigram_frac,
        |  CASE WHEN len(big) = 0 THEN 0.0
        |       ELSE (len(big) - COALESCE(mx.dist, 0)) * 1.0 / len(big) END AS dup_bigram_frac,
        |  CASE WHEN n3 = 0 THEN 0.0
        |       ELSE (n3 - d3) * 1.0 / n3 END AS dup_trigram_frac
        |FROM b LEFT JOIN mx USING (doc_id) ORDER BY b.doc_id""".stripMargin,

    "l17_token_budget" ->
      """WITH sc AS (
        |  SELECT doc_id, lang, len(w) AS n_tokens,
        |    len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) * 1.0 / len(w) AS stop_ratio
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)),
        |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY lang
        |        ORDER BY stop_ratio, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM sc)
        |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c WHERE cum - n_tokens < 20000
        |GROUP BY 1 ORDER BY lang""".stripMargin,

    // the exact SQL mirror of functions/WinnowFingerprint: 32-bit md5
    // token hash (the l7 parity trick), k-gram rolling hash
    // (t0*4 XOR t1*2 XOR t2 — exact int64), min per 4-window (tail
    // truncated), distinct ascending, digested
    "l13_winnow_fp" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS i FROM toks),
        |th AS (SELECT doc_id, i, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h FROM pos),
        |kg AS (SELECT a.doc_id, a.i, xor(xor(a.h * 4, b.h * 2), c.h) AS h
        |       FROM th a JOIN th b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |                 JOIN th c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |win AS (SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel FROM kg),
        |fp AS (SELECT doc_id, COUNT(DISTINCT sel) AS n_fp,
        |         md5(array_to_string(list_sort(list_distinct(list(sel))), ',')) AS fp_md5
        |       FROM win GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_fp, 0) AS n_fp,
        |       COALESCE(fp.fp_md5, md5('')) AS fp_md5
        |FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the l13 winnowing chain (same selection contract), then MOSS pairing:
    // drop fingerprints in > WinnowHashCap docs (mirrored cap), count
    // shared fingerprints per pair, containment overlap vs the smaller
    // set. Pairing is exact (equi-join on fingerprints, no banding), so
    // there is no threshold-gap caveat here.
    "l20_winnow_overlap" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS i FROM toks),
        |th AS (SELECT doc_id, i, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h FROM pos),
        |kg AS (SELECT a.doc_id, a.i, xor(xor(a.h * 4, b.h * 2), c.h) AS h
        |       FROM th a JOIN th b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |                 JOIN th c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |win AS (SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel FROM kg),
        |fp AS (SELECT DISTINCT doc_id, sel FROM win),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY 1),
        |hot AS (SELECT sel FROM fp GROUP BY sel
        |        HAVING COUNT(*) > ${TextDedup.WinnowHashCap}),
        |f2 AS (SELECT * FROM fp WHERE sel NOT IN (SELECT sel FROM hot)),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |          FROM f2 a JOIN f2 b ON a.sel = b.sel AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT a_id AS doc_a, b_id AS doc_b, i AS n_shared,
        |       i * 1.0 / least(sa.n, sb.n) AS overlap
        |FROM inter
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE i * 1.0 / least(sa.n, sb.n) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the l2 pair chain, then transitive closure by recursive CTE:
    // cluster_id = min doc_id reachable in the undirected pair graph —
    // the declarative mirror of Spark's min-label propagation fixpoint
    "l22_dedup_clusters" -> dedupClustersOracleSql,
    "l22b_clusters_distpath" -> dedupClustersOracleSql,

    // the m37 gate: label-graph contraction across batches must be
    // INVISIBLE — the maintained labels answer with l22's oracle verbatim
    "m37_incr_components" -> dedupClustersOracleSql,

    // the l22 pair chain + the degree-ordered orientation stated in SQL —
    // the (degree, id) tiebreak is a total order, so both engines close
    // identical wedge sets
    "q40_triangles" -> trianglesOracleSql,
    "q40b_triangles_distpath" -> trianglesOracleSql,

    // the m41 gate: minimal-new-edge triangle accounting across batches
    // must be INVISIBLE — maintained counts answer q40's oracle verbatim
    "m41_incr_triangles" -> trianglesOracleSql,

    // the same k-means cell chain as l10, then the SemDeDup rule: pruned
    // iff a lower-id same-cell neighbor reaches cosine 0.4 (zero-norm
    // vectors excluded structurally — NaN never reaches the comparison)
    "l21_semdedup" ->
      s"""WITH $cellChainCtes,
        |pr AS (SELECT DISTINCT x.vec_id
        |       FROM cell x JOIN cell y
        |         ON y.cell = x.cell AND y.vec_id < x.vec_id
        |            AND x.nv > 0 AND y.nv > 0
        |       WHERE ${duckCosine.format("x.v", "y.v", "x.nv", "y.nv")} >= 0.4)
        |SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
        |       (pr.vec_id IS NOT NULL) AS pruned
        |FROM cell c LEFT JOIN pr ON pr.vec_id = c.vec_id
        |ORDER BY c.vec_id""".stripMargin,

    // chunk strings where Spark compares chunk hashes (the l2 argument);
    // duplicated ⇔ the chunk appears in > 1 DISTINCT documents
    "l23_chunk_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id,
        |         unnest(list_transform(range(len(w) // ${TextDedup.ChunkTokens}),
        |           i -> array_to_string(w[CAST(i * ${TextDedup.ChunkTokens} + 1 AS INTEGER):CAST(i * ${TextDedup.ChunkTokens} + ${TextDedup.ChunkTokens} AS INTEGER)], ' '))) AS c
        |       FROM toks WHERE len(w) >= ${TextDedup.ChunkTokens}),
        |dd AS (SELECT c FROM ch GROUP BY c HAVING COUNT(DISTINCT doc_id) > 1),
        |dup AS (SELECT doc_id, COUNT(*) AS n_dup FROM ch JOIN dd USING (c) GROUP BY doc_id)
        |SELECT t.doc_id,
        |  len(t.w) // ${TextDedup.ChunkTokens} AS n_chunks,
        |  COALESCE(dup.n_dup, 0) AS n_dup_chunks,
        |  CASE WHEN len(t.w) // ${TextDedup.ChunkTokens} = 0 THEN 0.0
        |       ELSE COALESCE(dup.n_dup, 0) * 1.0 / (len(t.w) // ${TextDedup.ChunkTokens}) END AS dup_chunk_frac
        |FROM toks t LEFT JOIN dup USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // the shard and order key are pure md5 functions of the doc id —
    // identical in any engine (the l16 principle, extended to ordering)
    "l25_shard_assign" ->
      """WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |s AS (SELECT doc_id, k,
        |        CAST(CAST(('0x' || substring(k, 1, 4)) AS BIGINT) % 8 AS INTEGER) AS shard
        |      FROM b)
        |SELECT doc_id, shard,
        |       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    // score = tf * N / df: integer product then one IEEE division —
    // bit-identical across engines; ties break on the word
    "l24_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nd FROM documents),
        |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |        CAST(tf.tf * n.nd AS DOUBLE) / df.df AS score
        |      FROM tf JOIN df USING (word), n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, word) AS rank FROM s)
        |SELECT doc_id, rank, word, tf, df, score FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // the sample is a pure function of the md5 document keys — identical
    // in any engine (the l16/l25 principle, applied to per-stratum top-k)
    "l27_stratified_sample" ->
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    // the oracle counts gram STRINGS directly — the Spark side's
    // hash-count + label-pass decomposition must land on identical
    // (gram, count, rank) rows
    "l29_top_ngrams" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT unnest(CASE WHEN len(w) >= 2
        |        THEN list_transform(range(len(w) - 1),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |        ELSE CAST([] AS VARCHAR[]) END) AS gram
        |      FROM toks),
        |c AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY 1)
        |SELECT CAST(rk AS BIGINT) AS rk, gram, n FROM (
        |  SELECT gram, n, ROW_NUMBER() OVER (ORDER BY n DESC, gram) AS rk FROM c)
        |WHERE rk <= 20 ORDER BY rk""".stripMargin,

    // quantize → reconstruct → audit, every step the exact IEEE mirror of
    // Similarity.scalarQuantize: floor(x+0.5) codes (no half-even
    // ambiguity), order-free max, sequential index-order folds
    "l30_vec_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax,
        |        (list_max(v) - list_min(v)) / 255.0 AS scale FROM e),
        |c AS (SELECT *, list_transform(v, x -> CAST(
        |        CASE WHEN scale = 0 THEN 0.0
        |             ELSE floor((x - vmin) / scale + 0.5) END AS BIGINT)) AS codes
        |      FROM q),
        |r AS (SELECT *, list_transform(codes, cd -> vmin + CAST(cd AS DOUBLE) * scale) AS recon
        |      FROM c),
        |err AS (SELECT vec_id, vmin, vmax, codes,
        |          list_transform(list_zip(v, recon), z -> abs(z[1] - z[2])) AS ev
        |        FROM r)
        |SELECT vec_id, vmin, vmax,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes), (a, b) -> a + b) AS code_sum,
        |  list_max(ev) AS max_err,
        |  list_reduce(list_prepend(0.0, list_transform(ev, x -> x * x)),
        |    (a, b) -> a + b) AS sq_err
        |FROM err ORDER BY vec_id""".stripMargin,

    // sqrt is correctly-rounded IEEE in both engines; max-normalization
    // keeps every weight a pure function of (n_tokens, max) — no
    // order-dependent float sum
    "l32_source_mix" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |m AS (SELECT MAX(n_tokens) AS max_tokens FROM s)
        |SELECT source, n_docs, n_tokens,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(max_tokens AS DOUBLE)) AS rel_weight,
        |  (sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(max_tokens AS DOUBLE))) /
        |    (CAST(n_tokens AS DOUBLE) / max_tokens) AS boost
        |FROM s, m ORDER BY source""".stripMargin,

    // chunk strings where Spark compares chunk hashes (the l23 argument);
    // the rewrite itself re-slices each doc's own token array in both
    // engines, so the kept-text md5 is a byte-level end-to-end receipt
    "l34_dup_span_removal" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |cs AS (SELECT doc_id, w, len(w) // 20 AS nc,
        |         list_transform(range(len(w) // 20),
        |           i -> array_to_string(w[CAST(i * 20 + 1 AS INTEGER):CAST(i * 20 + 20 AS INTEGER)], ' ')) AS chunks
        |       FROM toks),
        |ch AS (SELECT doc_id, unnest(chunks) AS c, generate_subscripts(chunks, 1) - 1 AS i FROM cs),
        |dup AS (SELECT c FROM ch GROUP BY c HAVING COUNT(DISTINCT doc_id) > 1),
        |drops AS (SELECT doc_id, list_sort(list(i)) AS drop_is
        |          FROM ch WHERE c IN (SELECT c FROM dup) GROUP BY doc_id),
        |r AS (SELECT cs.doc_id, cs.w, cs.nc, COALESCE(d.drop_is, CAST([] AS BIGINT[])) AS drop_is
        |      FROM cs LEFT JOIN drops d USING (doc_id))
        |SELECT doc_id, CAST(nc AS BIGINT) AS n_chunks,
        |  CAST(len(drop_is) AS BIGINT) AS n_dropped,
        |  CAST(len(w) - len(drop_is) * 20 AS BIGINT) AS n_tok_after,
        |  md5(COALESCE(array_to_string(list_concat(
        |    flatten(list_transform(
        |      list_filter(range(nc), i -> NOT list_contains(drop_is, i)),
        |      i -> w[CAST(i * 20 + 1 AS INTEGER):CAST(i * 20 + 20 AS INTEGER)])),
        |    w[CAST(nc * 20 + 1 AS INTEGER):len(w)]), ' '), '')) AS kept_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    // every packing input (shard, order key, token count) is a pure
    // function of the document (the l16/l25 principle) and every output
    // an integer — the manifest is engine-invariant by construction
    "l35_seq_pack" ->
      s"""WITH ${packCtes("documents")}
        |SELECT doc_id, shard, n_tok, start_tok,
        |  start_tok // 512 AS first_seq,
        |  (start_tok + n_tok - 1) // 512 AS last_seq,
        |  start_tok % 512 AS seq_offset,
        |  (start_tok + n_tok - 1) // 512 - start_tok // 512 + 1 AS n_seqs_spanned
        |FROM c ORDER BY doc_id""".stripMargin,

    // window spans are integer grid arithmetic; the md5 digests the
    // window text byte-for-byte in both engines
    "l36_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |x AS (SELECT doc_id, w,
        |        CASE WHEN len(w) <= 64 THEN 1
        |             ELSE 1 + (len(w) - 64 + 47) // 48 END AS n_win
        |      FROM t),
        |e AS (SELECT doc_id, w, unnest(range(n_win)) AS win_id FROM x)
        |SELECT doc_id, win_id, win_id * 48 AS start_tok,
        |  CAST(len(w[CAST(win_id * 48 + 1 AS INTEGER):CAST(win_id * 48 + 64 AS INTEGER)]) AS BIGINT) AS n_win_tok,
        |  md5(array_to_string(w[CAST(win_id * 48 + 1 AS INTEGER):CAST(win_id * 48 + 64 AS INTEGER)], ' ')) AS win_md5
        |FROM e ORDER BY doc_id, win_id""".stripMargin,

    // the l32 weight chain verbatim (shared weightCtes), then the
    // md5-uniform keep decision: u = hex/2^32 is exact in IEEE (mantissa
    // shift), sqrt is correctly rounded in both engines, so every
    // comparison lands identically
    "l37_weighted_sample" ->
      s"""WITH $weightCtes
        |SELECT k.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN k.u < w.rel_weight THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  w.rel_weight,
        |  COUNT(*) * w.rel_weight AS expected
        |FROM k JOIN w ON w.source = k.source
        |GROUP BY k.source, w.rel_weight
        |ORDER BY k.source""".stripMargin,

    // the shared k-means cell chain, then per-cell md5 top-k — the sample
    // is a pure function of ids given the (bit-identical) trained cells
    "l38_cluster_sample" ->
      s"""WITH $cellChainCtes,
        |r AS (SELECT CAST(cell AS INTEGER) AS cell, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY cell
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |      FROM cell)
        |SELECT cell, rk, vec_id FROM r WHERE rk <= 10 ORDER BY cell, rk""".stripMargin,

    // the l3 neighbor chain, then majority label (tie → lowest label);
    // votes are integer counts — nothing to drift
    "l39_knn_label" ->
      s"""WITH $embCte,
        |p AS (SELECT vec_id AS query_id, v AS q, nv AS nq FROM n WHERE vec_id < 20),
        |s AS (SELECT p.query_id, n.vec_id,
        |        ${duckCosine.format("n.v", "p.q", "n.nv", "p.nq")} AS cosine
        |      FROM n, p WHERE n.vec_id <> p.query_id),
        |r AS (SELECT query_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |      FROM s),
        |nb AS (SELECT query_id, vec_id FROM r WHERE rank <= 5),
        |v AS (SELECT nb.query_id, e.label, COUNT(*) AS votes
        |      FROM nb JOIN embeddings e ON e.vec_id = nb.vec_id GROUP BY 1, 2),
        |pr AS (SELECT query_id, label, votes,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
        |      FROM v)
        |SELECT pr.query_id, t.label AS true_label, pr.label AS predicted, pr.votes
        |FROM pr JOIN embeddings t ON t.vec_id = pr.query_id
        |WHERE pr.rn = 1 ORDER BY pr.query_id""".stripMargin,

    // l37's keep chain (shared weightCtes) feeding l35's pack chain
    // (shared packCtes) rolled up per shard — the composition is what's
    // verified (c3/c4 principle), and sharing the fragments means a
    // formula tweak to either stage cannot silently diverge the composite
    "c5_sampled_pack" ->
      s"""WITH $weightCtes,
        |kept AS (SELECT k.doc_id, k.text FROM k JOIN w ON w.source = k.source
        |         WHERE k.u < w.rel_weight),
        |${packCtes("kept")},
        |x AS (SELECT shard, n_tok,
        |        (start_tok + n_tok - 1) // 512 - start_tok // 512 + 1 AS span FROM c)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  (CAST(SUM(n_tok) AS BIGINT) + 511) // 512 AS n_seqs,
        |  CAST(SUM(CASE WHEN span > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
        |FROM x GROUP BY shard ORDER BY shard""".stripMargin,

    // the oracle counts gram STRINGS (hash equality ≡ string equality
    // absent 2^-64 collisions — the l2/l29 argument); ratios are integer
    // counts + one IEEE division
    "l33_bigram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |        THEN list_transform(range(len(w) - 1),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |        ELSE CAST([] AS VARCHAR[]) END) AS gram
        |      FROM toks),
        |c AS (SELECT gram, COUNT(*) AS cf FROM g GROUP BY 1),
        |j AS (SELECT g.doc_id, c.cf FROM g JOIN c USING (gram))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(cf) AS DOUBLE) / COUNT(*) AS mean_cf,
        |  CAST(COUNT(CASE WHEN cf = 1 THEN 1 END) AS DOUBLE) / COUNT(*) AS uniq_frac
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // what streaming dedup must converge to: the corpus's distinct
    // fingerprint set (same definition as l1's)
    "m14_stream_dedup" ->
      """SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY fingerprint""".stripMargin,

    // BM25 with the odds-ratio idf; expression tree written identically
    // to TextStats.bm25 so every double is bit-equal
    "l31_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dls AS (SELECT doc_id, len(w) AS dl FROM toks),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dls),
        |tf AS (SELECT doc_id, word AS term, COUNT(*) AS tf
        |       FROM (SELECT doc_id, unnest(w) AS word FROM toks)
        |       WHERE word IN ('join', 'filter', 'vector') GROUP BY 1, 2),
        |dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT tf.term, tf.doc_id, tf.tf, dfs.df, dls.dl,
        |    ((s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) * (tf.tf * CAST(2.2 AS DOUBLE)) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 *
        |        (dls.dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs)))) AS score
        |  FROM tf JOIN dfs USING (term) JOIN dls ON tf.doc_id = dls.doc_id
        |  CROSS JOIN stats s)
        |SELECT term, rank, doc_id, tf, df, dl, score FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY term
        |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM scored)
        |WHERE rank <= 5 ORDER BY term, rank""".stripMargin,

    // patterns restricted to the Java-regex ∩ RE2 common subset (see
    // PiiScrub doc) so both engines match identically; DuckDB needs the
    // explicit 'g' flag for global replace
    "l28_pii_scrub" -> {
      val em = PiiScrub.EmailPattern
      val ph = PiiScrub.PhonePattern
      val ip = PiiScrub.Ipv4Pattern
      s"""WITH aug AS (SELECT doc_id,
        |    text || ' reach user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.com ph 415-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '$em', '${PiiScrub.EmailToken}', 'g'),
        |    '$ph', '${PiiScrub.PhoneToken}', 'g'),
        |    '$ip', '${PiiScrub.Ipv4Token}', 'g')) AS red_md5
        |FROM aug ORDER BY doc_id""".stripMargin
    },

    // the shared k-means chain's rn=1 rows carry the assignment objective
    // d = |c|²−2·v·c; min/max are order-free, so exact across engines
    "l26_cluster_profile" ->
      s"""WITH $cellChainCtes
        |SELECT CAST(cid AS INTEGER) AS cell, COUNT(*) AS n_vectors,
        |       MIN(d) AS min_d, MAX(d) AS max_d
        |FROM ranked WHERE rn = 1
        |GROUP BY 1 ORDER BY cell""".stripMargin,

    "l10_ann_ivf" -> ivfOracleSql,

    // identical semantics to l10 through the persisted index — the index
    // stores exactly the cells/vectors the inline path derives
    "l14_ann_ivf_indexed" -> ivfOracleSql,

    "l11_media_features" ->
      """SELECT doc_id AS asset_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS modality,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS content_sha,
        |  ((CAST(('0x' || substring(sha256(text), 1, 2)) AS INTEGER) & 255) - 128) / 128.0 AS f0
        |FROM documents ORDER BY asset_id""".stripMargin,

    // the c2 rules + the l2 pair chain ON the survivors + the l22
    // recursive closure, assembled into one statement — every fragment
    // is the already-hash-proven oracle of its operator
    "c3_curate_full" -> (CurateSql.ctes +
      """
        |SELECT p.lang, COUNT(*) AS n_kept, CAST(SUM(len(p.w)) AS BIGINT) AS sum_tokens
        |FROM p
        |WHERE NOT EXISTS (SELECT 1 FROM drops dr WHERE dr.doc_id = p.doc_id)
        |GROUP BY 1 ORDER BY p.lang""".stripMargin),

    // the same proven CTE chain, with stage-count tails: each lineage row
    // is a COUNT over a frame the c3 gate already hash-verified
    "c11_lineage" -> (CurateSql.ctes +
      """,
        |nr AS (SELECT COUNT(*) AS n_raw FROM documents),
        |np AS (SELECT COUNT(*) AS n_pass FROM p),
        |nk AS (SELECT COUNT(*) AS n_kept FROM p
        |       WHERE NOT EXISTS (SELECT 1 FROM drops dr WHERE dr.doc_id = p.doc_id)),
        |st AS (
        |  SELECT '00_ingest' AS stage, n_raw AS rows_in, n_raw AS rows_out FROM nr
        |  UNION ALL SELECT '01_quality', n_raw, n_pass FROM nr, np
        |  UNION ALL SELECT '02_neardup', n_pass, n_kept FROM np, nk)
        |SELECT stage, rows_in, rows_out, rows_in - rows_out AS rows_dropped
        |FROM st ORDER BY stage""".stripMargin),


    // the same deterministic two-snapshot construction, diffed by a
    // full outer join on the key with md5 content fingerprints
    "c12_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, md5(text) AS fp1 FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END) AS fp2
        |  FROM documents WHERE doc_id % 11 <> 3)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN fp1 <> fp2 THEN 'modified' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL OR fp1 <> fp2)
        |ORDER BY doc_id""".stripMargin,

    // the c2 pass rule + the l16 split buckets + the l25 shard/pos
    // window, grouped into the manifest — each fragment is its
    // operator's already-hash-proven oracle
    "c4_export_manifest" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, text, w,
        |        CASE WHEN len(w) >= 2 THEN list_transform(range(len(w) - 1),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |          ELSE CAST([] AS VARCHAR[]) END AS big,
        |        greatest(len(w) - 2, 0) AS n3,
        |        CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(range(len(w) - 2),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))))
        |          ELSE 0 END AS d3
        |      FROM toks),
        |bg AS (SELECT doc_id, unnest(big) AS g FROM b),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |mx AS (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY 1),
        |m AS (SELECT b.doc_id,
        |        (len(b.w) BETWEEN 50 AND 100000
        |         AND (length(b.text) - (len(b.w) - 1)) * 1.0 / len(b.w) BETWEEN 3.0 AND 10.0
        |         AND len(list_filter(b.w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) >= 2
        |         AND (CASE WHEN len(b.big) = 0 THEN 0.0
        |              ELSE COALESCE(mx.top, 0) * 1.0 / len(b.big) END) <= 0.2
        |         AND (CASE WHEN b.n3 = 0 THEN 0.0
        |              ELSE (b.n3 - b.d3) * 1.0 / b.n3 END) <= 0.3) AS pass
        |      FROM b LEFT JOIN mx USING (doc_id)),
        |p AS (SELECT t.doc_id, len(t.w) AS n_tok FROM toks t JOIN m USING (doc_id) WHERE m.pass),
        |keyed AS (SELECT doc_id, n_tok, md5(CAST(doc_id AS VARCHAR)) AS k,
        |            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS bucket
        |          FROM p),
        |asg AS (SELECT doc_id, n_tok,
        |          CASE WHEN bucket < 80 THEN 'train'
        |               WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |          CAST(CAST(('0x' || substring(k, 1, 4)) AS BIGINT) % 8 AS INTEGER) AS shard, k
        |        FROM keyed),
        |wpos AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS pos
        |         FROM asg)
        |SELECT split, shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(pos) AS min_pos, MAX(pos) AS max_pos
        |FROM wpos GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,

    // the l5/l19 oracle fragments feeding boolean rules; gram mode over
    // strings vs Spark's hashes — the usual ~2^-64 equivalence
    "c2_quality_filter" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, text, w,
        |        CASE WHEN len(w) >= 2 THEN list_transform(range(len(w) - 1),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |          ELSE CAST([] AS VARCHAR[]) END AS big,
        |        greatest(len(w) - 2, 0) AS n3,
        |        CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(range(len(w) - 2),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))))
        |          ELSE 0 END AS d3
        |      FROM toks),
        |bg AS (SELECT doc_id, unnest(big) AS g FROM b),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |mx AS (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY 1),
        |m AS (SELECT b.doc_id,
        |        len(b.w) AS n_tokens,
        |        (length(b.text) - (len(b.w) - 1)) * 1.0 / len(b.w) AS mean_word_len,
        |        len(list_filter(b.w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS stop_hits,
        |        CASE WHEN len(b.big) = 0 THEN 0.0
        |             ELSE COALESCE(mx.top, 0) * 1.0 / len(b.big) END AS top_bigram_frac,
        |        CASE WHEN b.n3 = 0 THEN 0.0
        |             ELSE (b.n3 - b.d3) * 1.0 / b.n3 END AS dup_trigram_frac
        |      FROM b LEFT JOIN mx USING (doc_id))
        |SELECT doc_id, n_tokens, mean_word_len, stop_hits, top_bigram_frac, dup_trigram_frac,
        |  (n_tokens BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND stop_hits >= 2 AND top_bigram_frac <= 0.2 AND dup_trigram_frac <= 0.3) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // the staged admission gauntlet: l18's fingerprint anti-join, l15's
    // benchmark 8-gram hits, c2's rule chain, one per-source rollup
    "c7_incremental_admit" ->
      """WITH fp AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |  FROM documents),
        |fresh AS (SELECT MIN(i.doc_id) AS doc_id
        |          FROM fp i
        |          WHERE i.doc_id >= 250
        |            AND NOT EXISTS (SELECT 1 FROM fp c
        |                            WHERE c.doc_id < 250
        |                              AND c.fingerprint = i.fingerprint)
        |          GROUP BY i.fingerprint),
        |toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |g8 AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(range(len(w) - 7),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 8 AS INTEGER)], ' ')))) AS s
        |      FROM toks WHERE len(w) >= 8),
        |bench AS (SELECT DISTINCT s FROM g8 WHERE doc_id < 50),
        |contam AS (SELECT DISTINCT t.doc_id FROM g8 t JOIN bench b USING (s)
        |           WHERE t.doc_id >= 250),
        |b AS (SELECT doc_id, text, w,
        |        CASE WHEN len(w) >= 2 THEN list_transform(range(len(w) - 1),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |          ELSE CAST([] AS VARCHAR[]) END AS big,
        |        greatest(len(w) - 2, 0) AS n3,
        |        CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(range(len(w) - 2),
        |          i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))))
        |          ELSE 0 END AS d3
        |      FROM toks WHERE doc_id >= 250),
        |bg AS (SELECT doc_id, unnest(big) AS g FROM b),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |mx AS (SELECT doc_id, MAX(c) AS top FROM cnt GROUP BY 1),
        |q AS (SELECT b.doc_id,
        |        (len(b.w) BETWEEN 50 AND 100000
        |         AND (length(b.text) - (len(b.w) - 1)) * 1.0 / len(b.w) BETWEEN 3.0 AND 10.0
        |         AND len(list_filter(b.w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) >= 2
        |         AND (CASE WHEN len(b.big) = 0 THEN 0.0
        |              ELSE COALESCE(mx.top, 0) * 1.0 / len(b.big) END) <= 0.2
        |         AND (CASE WHEN b.n3 = 0 THEN 0.0
        |              ELSE (b.n3 - b.d3) * 1.0 / b.n3 END) <= 0.3) AS pass
        |      FROM b LEFT JOIN mx USING (doc_id)),
        |flags AS (
        |  SELECT d.source,
        |    (fresh.doc_id IS NOT NULL) AS is_fresh,
        |    (contam.doc_id IS NOT NULL) AS is_contam,
        |    q.pass
        |  FROM documents d
        |  LEFT JOIN fresh ON d.doc_id = fresh.doc_id
        |  LEFT JOIN contam ON d.doc_id = contam.doc_id
        |  JOIN q ON d.doc_id = q.doc_id
        |  WHERE d.doc_id >= 250)
        |SELECT source, COUNT(*) AS n_arrived,
        |  CAST(SUM(CASE WHEN NOT is_fresh THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN is_fresh AND is_contam THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(CASE WHEN is_fresh AND NOT is_contam AND NOT pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
        |  CAST(SUM(CASE WHEN is_fresh AND NOT is_contam AND pass THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
        |FROM flags GROUP BY source ORDER BY source""".stripMargin,

    "c1_curate" ->
      """WITH sc AS (
        |  SELECT doc_id, lang, len(w) AS n_tokens,
        |    len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) * 1.0 / len(w) AS stop_ratio,
        |    md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)),
        |p AS (SELECT * FROM sc WHERE n_tokens >= 30 AND stop_ratio <= 0.15),
        |k AS (SELECT fingerprint, MIN(doc_id) AS doc_id,
        |        min_by(lang, doc_id) AS lang, min_by(n_tokens, doc_id) AS n_tokens
        |      FROM p GROUP BY 1),
        |pa AS (SELECT lang, COUNT(*) AS n_pass FROM p GROUP BY 1),
        |ka AS (SELECT lang, COUNT(*) AS n_kept,
        |         CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens FROM k GROUP BY 1)
        |SELECT pa.lang AS lang, n_pass, n_kept, sum_tokens
        |FROM pa JOIN ka ON pa.lang = ka.lang ORDER BY pa.lang""".stripMargin
  )
}
