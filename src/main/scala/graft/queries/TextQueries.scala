package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.TextFunctions._

/** Text-analysis operator queries over `documents` — language-ID, quality
  * scoring, token stats, fingerprinting (beyond-reference training-data
  * ops). Every expression is a codegen'd `functions._` composition with an
  * exact DuckDB replica.
  */
object TextQueries extends QueryPack {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.cached(spark, dir, "documents")

  private val stop = Seq("the", "a")
  /** Min-K% probe: score the 20% highest-NLL bigrams per doc. */
  private val MINK_PCT = 20
  /** Wilson interval z for 95% coverage. */
  private val WILSON_Z = 1.96
  /** Out-of-fold label-noise screen: hash-fold count. */
  private val NOISE_FOLDS = 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_stats" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      distinctTokenCount(col("text")).as("n_distinct"),
      round(avgTokenLen(col("text")), 6).as("avg_token_len"),
      round(typeTokenRatio(col("text")), 6).as("ttr"))),
    "q_text_quality" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      round(stopwordRatio(col("text"), stop), 6).as("stopword_ratio"),
      round(qualityScore(col("text"), stop), 6).as("quality"))),
    "q_lang_id" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), langId(col("text")).as("pred_lang"))),
    "q_fingerprint" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      bagFingerprint(col("text")).as("bag_fp"))),
    "q_rolling_fingerprint" -> ((s, dir) =>
      rollingFingerprint(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),
    "q_text_tokens" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"),
      round(punctRatio(col("text")), 6).as("punct_ratio"))),
    // benchmark decontamination: every 20th doc plays the eval set; training
    // docs sharing any verbatim 8-gram with it are reported with the overlap
    "q_decontaminate" -> ((s, dir) =>
      graft.text.Decontaminate.ngramOverlap(docs(s, dir), "doc_id", "text",
        benchPred = col("doc_id") % 20 === 0, n = 8)
        .withColumnRenamed("id", "doc_id")),
    // decontamination REMOVAL: benchmark-matching 8-gram windows masked
    // out of every training doc (clean docs pass through, n_removed = 0)
    "q_decontaminate_clean" -> ((s, dir) =>
      graft.text.Decontaminate.removeContaminated(docs(s, dir), "doc_id", "text",
        benchPred = col("doc_id") % 20 === 0, n = 8)
        .withColumnRenamed("id", "doc_id")),
    // CCNet-style cross-document duplicated spans: per-doc fraction of
    // distinct 8-grams occurring in at least one other document
    "q_cross_dup" -> ((s, dir) =>
      graft.text.Decontaminate.crossDupStats(docs(s, dir), "doc_id", "text", n = 8)
        .withColumnRenamed("id", "doc_id")),
    // boilerplate strip: 8-gram windows occurring in >= 2 distinct docs
    // masked out of every document (the removal q_cross_dup's signal feeds)
    "q_boilerplate_strip" -> ((s, dir) =>
      graft.text.Decontaminate.removeSharedSpans(docs(s, dir), "doc_id", "text",
        n = 8, minDocs = 2)
        .withColumnRenamed("id", "doc_id")),
    // exact substring-level dedup (Lee et al. 2022 ExactSubstr): maximal
    // variable-length shared spans >= 10 tokens across documents; planted
    // license/header blocks (and any natural 10-gram runs) are recovered
    // as ONE maximal span each, not a window list
    "q_substring_dedup" -> ((s, dir) =>
      graft.text.Decontaminate.maximalSharedSpans(
        injectSpans(docs(s, dir)), "doc_id", "text2", minTokens = 10, minDocs = 2)
        .withColumnRenamed("id", "doc_id")),
    // Gopher-style repetition: top-2-gram char fraction + dup-5-gram
    // occurrence fraction per doc (text/Repetition, map-side-combined)
    "q_repetition" -> ((s, dir) =>
      graft.text.Repetition.ngramStats(docs(s, dir), "doc_id", "text",
        topN = 2, dupN = 5)),
    // corpus Zipf head: top-50 tokens by frequency. The heavy agg is
    // map-side combined on the token axis; the top-k is TakeOrdered (per-
    // partition heads merged on the driver), NOT a global sort — the only
    // single-partition work is ranking the final 50 rows.
    // C4/Gopher-style heuristic quality filter: per-doc rule flags + keep
    // (row-local codegen projection; fuses into the scan)
    "q_c4_filter" -> ((s, dir) =>
      graft.text.Heuristics.flags(docs(s, dir), "doc_id", "text")),
    // curation report: per-source survival under the same filter
    "q_filter_survival" -> ((s, dir) =>
      graft.text.Heuristics.survival(docs(s, dir), "text", "source")),
    // survival with Wilson 95% intervals — the small-source significance
    // guard a curation dashboard reads next to the raw keep rate
    "q_survival_ci" -> ((s, dir) =>
      graft.text.Heuristics.survivalWilson(docs(s, dir), "text", "source",
        z = WILSON_Z)),
    // Min-K% membership probe (Shi et al. 2023): mean of the 20% highest
    // per-bigram NLLs — low scores flag memorization/benchmark-member risk
    // the plain mean NLL dilutes away
    "q_min_k_prob" -> ((s, dir) =>
      graft.text.LmScore.minKProb(docs(s, dir), "doc_id", "text", kPct = MINK_PCT)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_scored"),
          col("min_k_nll"))),
    // SFT conversation lint over synthetic chats built from documents —
    // 8-token turns alternating user/assistant, four planted defect
    // classes by doc_id % 7 (1: dangling final user turn, 2: empty turn,
    // 3: consecutive same-role, 4: mid-dialogue system leak)
    "q_sft_lint" -> ((s, dir) => {
      val t = split(col("text"), " ")
      val m = col("doc_id") % 7
      val nT = ceil(size(t) / lit(8.0)).cast("int")
      val nT2 = when(m === 1, greatest(lit(1), nT - 1)).otherwise(nT)
      def mkRole(j: org.apache.spark.sql.Column) =
        when(m === 3 && j === 1, lit("user"))
          .otherwise(when(j % 2 === 0, lit("user")).otherwise(lit("assistant")))
      def mkContent(j: org.apache.spark.sql.Column) =
        when(m === 2 && j === 1, lit(""))
          .otherwise(concat_ws(" ", slice(t, j * 8 + 1, lit(8))))
      val base = transform(sequence(lit(0), nT2 - 1), j =>
        struct(mkRole(j).as("role"), mkContent(j).as("content")))
      val conv = when(m === 4, concat(base,
          array(struct(lit("system").as("role"), lit("audit note").as("content")))))
        .otherwise(base)
      graft.text.SftLint.lint(
        docs(s, dir).select(col("doc_id"), conv.as("conv")),
        "doc_id", "conv", minTurns = 2)
    }),
    // GPT-style sequence packing: per-doc placement in fixed-budget packs,
    // shard-parallel running offsets (text/Packing)
    "q_pack_sequences" -> ((s, dir) =>
      graft.text.Packing.packOffsets(docs(s, dir), "doc_id", "text",
        budget = 256, nShards = 8)),
    // pack-level fill: every non-terminal pack exactly full by construction.
    // maxPacksSpanned 1000 = the oracle's JOIN range(0, 1000) bound — both
    // engines share the explicit span cap (fixture docs span <= 4)
    "q_pack_fill" -> ((s, dir) =>
      graft.text.Packing.packFill(docs(s, dir), "doc_id", "text",
        budget = 256, nShards = 8, maxPacksSpanned = 1000L)),
    // whole-document FFD bin packing (the no-split SFT shape): per-shard
    // descending fold, first-fit via array_position — replayed move for
    // move by the oracle's recursive CTE. nShards scales with the corpus
    // (~50 docs/shard) because the per-shard fold is O(docs·bins): shard
    // size, not corpus size, is the bounded unit — both engines derive
    // the SAME count from the data
    "q_pack_ffd" -> ((s, dir) => {
      val d = docs(s, dir)
      val nSh = math.max(1, math.ceil(d.count() / 50.0).toInt)
      graft.text.Packing.packBestFit(d, "doc_id", "text",
        budget = 100, nShards = nSh).orderBy(col("doc_id"))
    }),
    // BPE vocabulary training step: learn the best merge on the corpus word
    // histogram, apply it, report the resulting top-20 pair counts
    "q_bpe_merge" -> ((s, dir) =>
      graft.text.BpeTrain.mergeStepTopPairs(docs(s, dir), "text", k = 20)),
    // per-source data card: the release report a curation pipeline emits.
    // All aggregates are map-side-combined except the exact median, which
    // buffers per SOURCE (report axis, bounded); the 100 TB variant swaps
    // in approx_percentile as the metrics registry already does. top_lang
    // ties replay max(struct): highest count, then highest lang.
    "q_data_card" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(graft.text.TextFunctions.tokenCount(col("text"))).cast("long").as("n_tokens"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("median_chars"))
      val langs = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_langs"),
          max(struct(col("cnt"), col("lang"))).as("m"))
        .select(col("source"), col("n_langs"),
          col("m.lang").as("top_lang"), col("m.cnt").as("top_lang_docs"))
      base.join(langs, Seq("source"))
    }),
    // BPE encoding under the first two learned merges: per-doc token and
    // post-merge symbol counts (the corpus-compression signal)
    "q_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.BpeTrain.encodePerDoc(d, "doc_id", "text",
        graft.text.BpeTrain.learnMerges(d, "text", 2))
        .withColumnRenamed("id", "doc_id")
    }),
    // DSIR importance resampling: every 20th doc plays the target domain;
    // the top-50 source docs by hashed-feature likelihood ratio are kept
    "q_dsir_select" -> ((s, dir) =>
      graft.text.Dsir.select(docs(s, dir), "doc_id", "text",
        targetPred = col("doc_id") % 20 === 0, k = 50, nBuckets = 1024)
        .withColumnRenamed("id", "doc_id")),
    // fastText-role corpus classifier as multinomial NB: train lang-ID on
    // 80% of docs (doc_id % 5 != 0), classify the held-out 20%
    "q_nb_classify" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.NaiveBayes.classify(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        "doc_id", "lang", "text")
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("pred", "pred_lang")
    }),
    // confident-learning label-noise screen over the NB posterior surface:
    // observed labels carry planted rotation noise (doc_id % 23 == 7 →
    // next language in the cycle); the screen should re-surface exactly
    // the docs whose content disagrees with their observed label
    "q_label_noise" -> ((s, dir) => {
      val d = docs(s, dir)
      val rot = when(col("lang") === "en", "de").when(col("lang") === "de", "es")
        .when(col("lang") === "es", "fr").when(col("lang") === "fr", "zh")
        .otherwise("en")
      val dObs = d.select(col("doc_id"),
        when(col("doc_id") % 23 === 7, rot).otherwise(col("lang")).as("obs"),
        col("text"))
      val sc = graft.text.NaiveBayes.scores(dObs, dObs, "doc_id", "obs", "text")
      graft.text.LabelNoise.screen(sc,
        dObs.select(col("doc_id").as("id"), col("obs").as("y")))
        .withColumnRenamed("id", "doc_id")
    }),
    // the paper-faithful variant: OUT-OF-FOLD posteriors (3 hash folds,
    // each scored by a model trained on its complement) feed the same
    // confident-learning screen — closes the in-sample caveat
    "q_label_noise_oof" -> ((s, dir) => {
      val d = docs(s, dir)
      val rot = when(col("lang") === "en", "de").when(col("lang") === "de", "es")
        .when(col("lang") === "es", "fr").when(col("lang") === "fr", "zh")
        .otherwise("en")
      val dObs = d.select(col("doc_id"),
        when(col("doc_id") % 23 === 7, rot).otherwise(col("lang")).as("obs"),
        col("text"))
      val sc = graft.text.LabelNoise.oofScores(dObs, "doc_id", "obs", "text",
        nFolds = NOISE_FOLDS)
      graft.text.LabelNoise.screen(sc,
        dObs.select(col("doc_id").as("id"), col("obs").as("y")))
        .withColumnRenamed("id", "doc_id")
    }),
    // CCNet-style corpus-LM quality signal: per-doc mean negative
    // log-probability under the corpus's own add-one bigram LM
    "q_lm_score" -> ((s, dir) =>
      graft.text.LmScore.nllPerDoc(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("nll"), 6).as("nll"))),
    // Moore–Lewis cross-entropy-difference selection (Moore & Lewis 2010):
    // in-domain LM = the English subset, general LM = the whole corpus,
    // both via the same salted add-one bigram machinery; ml = nll_gen −
    // nll_in (positive = reads more like the in-domain corpus), selection
    // thresholded on the ROUNDED score so the boolean can never flip
    // without the ml column itself hash-failing first
    "q_moore_lewis" -> ((s, dir) => {
      val d = docs(s, dir)
      val gen = graft.text.LmScore.nllPerDoc(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("nll").as("g"))
      val ind = graft.text.LmScore.nllPerDocCross(
          d.filter(col("lang") === "en"), d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("nll").as("i"))
      gen.join(ind, Seq("doc_id"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("i"), 6).as("nll_in"),
          round(col("g"), 6).as("nll_gen"),
          round(col("g") - col("i"), 6).as("ml"))
        .withColumn("selected", col("ml") > 0)
    }),
    // one DoReMi exponentiated-gradient step over the source axis: domains
    // whose mean corpus-LM nll exceeds the corpus baseline get upweighted,
    // smoothed with 1% uniform mass so no domain starves
    "q_doremi_step" -> ((s, dir) => {
      val d = docs(s, dir)
      val nll = graft.text.LmScore.nllPerDoc(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("nll"))
      graft.ops.Mixture.doremiStep(
        nll.join(d.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source", "nll")
    }),
    // Kneser-Ney upgrade of the corpus LM (the KenLM smoothing CCNet
    // actually filters with): interpolated absolute discounting, D=0.75
    "q_lm_kneser_ney" -> ((s, dir) =>
      graft.text.LmScore.nllKneserNey(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("nll"), 6).as("nll"))),
    // CCNet perplexity terciles: head = most fluent third under the
    // corpus LM (boundaries from one percentile aggregate, no ntile sort)
    "q_ppl_buckets" -> ((s, dir) =>
      graft.text.LmScore.perplexityBuckets(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),
    // the faithful CCNet composition: terciles under the KN LM (KenLM's
    // smoothing), head = most fluent third
    "q_ppl_buckets_kn" -> ((s, dir) =>
      graft.text.LmScore.perplexityBuckets(docs(s, dir), "doc_id", "text",
        kneserNey = true)
        .withColumnRenamed("id", "doc_id")),
    // per-doc top-3 salient terms by smoothed tf-idf
    "q_tfidf_terms" -> ((s, dir) =>
      graft.text.TfIdf.topTerms(docs(s, dir), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          round(col("tfidf"), 6).as("tfidf"), col("rnk"))),
    // RAG/context-window chunking: 64-token windows, 16-token overlap
    "q_chunk_docs" -> ((s, dir) =>
      graft.text.Chunking.chunkDocs(docs(s, dir), "doc_id", "text",
        chunkSize = 64, overlap = 16)
        .withColumnRenamed("id", "doc_id")),
    // release shard manifest: the artifact a corpus release ships so any
    // later reader can verify shard integrity WITHOUT re-reading in a
    // fixed order — the checksum is bit_xor of per-doc 60-bit content
    // hashes, an ORDER-INDEPENDENT mergeable aggregate (map-side combined,
    // 8 rows per map task reach the shuffle; a concat-then-md5 checksum
    // would need a per-shard global sort). xor cancels a doc duplicated an
    // even number of times — n_docs + n_tokens ride along to close that
    "q_release_manifest" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).cast("int").as("shard"),
          hash60(md5(col("text"))).as("h"),
          tokenCount(col("text")).as("ntok"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("n_tokens"),
          expr("bit_xor(h)").as("content_checksum"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    }),
    // per-source cardinality card: exact distinct docs/tokens (the gate —
    // bit-reproducible cross-engine) with approx_count_distinct(HLL++) as
    // the documented 100 TB swap, spec-checked within 2% (a sketch is not
    // bit-reproducible across engines, same policy as the _approx metrics)
    "q_source_cardinality" -> ((s, dir) => {
      val d = docs(s, dir)
      val tok = d.select(col("source"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("source")).agg(countDistinct(col("t")).as("n_distinct_tokens"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct_docs"),
          countDistinct(col("lang")).as("n_langs"))
        .join(tok, Seq("source"))
    }),
    // CCNet canonicalization (runs before every hash-based dedup): NFC +
    // accent-strip/lowercase/whitespace fold via the native UnicodeNormalize
    // codegen expression. Unicode content is planted (ASCII corpus):
    // decomposed Cafe+U+0301 / NAI+U+0308VE, precomposed deja/MUNCHEN,
    // doubled spaces — NFC composes, fold collapses both to one key
    "q_normalize_text" -> ((s, dir) => {
      val inj = docs(s, dir).withColumn("text2", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" Cafe\u0301 NAI\u0308VE d\u00e9j\u00e0")).otherwise(lit("")),
        when(col("doc_id") % 5 === 2,
          lit("  M\u00dcNCHEN  \u00e7\u00f6  ")).otherwise(lit(""))))
      inj.select(col("doc_id"),
        graft.text.Normalize.nfc(inj, col("text2")).as("nfc_text"),
        graft.text.Normalize.foldText(inj, col("text2")).as("folded"),
        length(col("text2")).cast("int").as("raw_len"),
        length(graft.text.Normalize.nfc(inj, col("text2"))).cast("int").as("nfc_len"))
    }),
    // corpus-wide paragraph-level exact dedup (Dolma-style): globally-first
    // (doc_id, pos) occurrence of each 10-token paragraph survives; the
    // corpus' natural exact-dup documents supply the cross-doc repeats
    "q_paragraph_dedup" -> ((s, dir) =>
      graft.text.ParagraphDedup.corpusDedup(docs(s, dir), "doc_id", "text",
        paraTokens = 10)
        .withColumnRenamed("id", "doc_id")),
    // incremental paragraph screen: arriving docs (every 5th) keep only
    // paragraphs NOT in the base corpus; the bloom bitmap confines the
    // exact verify join to bloom hits (misses are definitely-new). The
    // bitmap is a pure accelerator — output equals the exact anti-join,
    // which is what the oracle computes
    "q_paragraph_screen" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.ParagraphDedup.screenedIncrement(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", paraTokens = 10,
        mBits = DedupQueries.BLOOM_M, k = DedupQueries.BLOOM_K)
        .withColumnRenamed("id", "doc_id")
    }),
    // within-doc paragraph dedup — zero-shuffle row-local; repetition is
    // planted (every 7th doc gets its first paragraph prepended, so
    // paragraph 1 becomes an exact copy of paragraph 0) because the
    // word-soup corpus has no natural intra-doc repeats
    "q_intradoc_dedup" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text2",
        when(col("doc_id") % 7 === 0,
          concat(concat_ws(" ", slice(split(col("text"), " "), 1, 10)),
            lit(" "), col("text")))
          .otherwise(col("text")))
      graft.text.ParagraphDedup.intraDocDedup(planted, "doc_id", "text2",
        paraTokens = 10)
        .withColumnRenamed("id", "doc_id")
    }),
    // PII scrubbing stats over deterministically-injected spans (the word-
    // soup corpus carries none of its own; the injection is replayed by
    // the oracle so the real regex path produces non-trivial counts)
    "q_pii_stats" -> ((s, dir) => {
      val injected = docs(s, dir).withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 3, lit(" 40414243444546")).otherwise(lit("")),
        when(col("doc_id") % 13 === 5, lit(" 10.0.255.1")).otherwise(lit(""))))
      graft.text.Pii.piiStats(injected, "doc_id", "text2")
    }),
    "q_vocab_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      counts.orderBy(col("n").desc, col("token")).limit(50)
        .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("token"))))
    }),
    // exact corpus heavy hitters (freq > n/100) via the mergeable
    // Misra-Gries candidate sketch + bounded exact recount — the shuffled
    // key space is ≤ sketchK, not the vocabulary
    "q_heavy_hitters" -> ((s, dir) =>
      graft.functions.HeavyHitters.exactHeavyHitters(
          docs(s, dir), tokens(col("text")), sketchK = 199, denom = 100)
        .orderBy(col("token"))),
    // Count-Min sketch frequency estimates (d=3, w=16 — narrow enough
    // that the 31-word vocabulary collides, so est > exact on some rows
    // and the one-sided-error property is non-vacuous). Queried tokens =
    // the residue-4-mod-17 docs' vocabulary; the exact recount is
    // confined to that bounded set (the HeavyHitters recount discipline)
    "q_cms_freq" -> ((s, dir) => {
      val d = docs(s, dir)
      val (depth, width) = (3, 16)
      val sk = graft.functions.CountMin.sketch(d, tokens(col("text")), depth, width)
      val qset = d.filter(col("doc_id") % 17 === 4)
        .select(explode(tokens(col("text"))).as("token")).distinct()
      val est = graft.functions.CountMin.estimate(sk, qset, "token", depth, width)
      val exact = d.select(explode(tokens(col("text"))).as("token"))
        .join(broadcast(qset), "token")
        .groupBy(col("token")).agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("token")).orderBy(col("token"))
    }),
    // unigram-LM (SentencePiece) tokenizer step: seed pieces → scaled-
    // integer Viterbi segmentation of every distinct word → hard-EM
    // expected counts. The corpus is scanned once for the histogram;
    // the DP runs row-locally on the vocabulary axis
    "q_unigram_step" -> ((s, dir) => {
      val words = graft.text.UnigramLm.wordHistogram(docs(s, dir), col("text"))
      val probs = graft.text.UnigramLm.pieceLogProbs(
        graft.text.UnigramLm.seedPieces(words, maxPieceLen = 4, topV = 200))
      graft.text.UnigramLm.viterbiSegment(words, probs, maxPieceLen = 4)
        .orderBy(col("word"))
    }),
    // per-doc subword encoding: DP once per distinct word, docs join on
    // the word key (the BPE encodePerDoc axis rule)
    "q_unigram_encode" -> ((s, dir) => {
      val words = graft.text.UnigramLm.wordHistogram(docs(s, dir), col("text"))
      val probs = graft.text.UnigramLm.pieceLogProbs(
        graft.text.UnigramLm.seedPieces(words, maxPieceLen = 4, topV = 200))
      val segs = graft.text.UnigramLm.viterbiSegment(words, probs, maxPieceLen = 4)
      graft.text.UnigramLm.encodePerDoc(docs(s, dir), "doc_id", col("text"), segs)
        .orderBy(col("doc_id"))
    }),
    "q_unigram_mstep" -> ((s, dir) => {
      val words = graft.text.UnigramLm.wordHistogram(docs(s, dir), col("text"))
      val probs = graft.text.UnigramLm.pieceLogProbs(
        graft.text.UnigramLm.seedPieces(words, maxPieceLen = 4, topV = 200))
      graft.text.UnigramLm.expectedCounts(
        graft.text.UnigramLm.viterbiSegment(words, probs, maxPieceLen = 4))
        .orderBy(col("piece"))
    }),
    // WordPiece greedy longest-match encoding over the unigram seed vocab —
    // the third tokenizer family (greedy commits differ from Viterbi,
    // spec-pinned); distinct-word axis, usage card output
    "q_wordpiece_encode" -> ((s, dir) => {
      val words = graft.text.UnigramLm.wordHistogram(docs(s, dir), col("text"))
      val vocab = graft.text.UnigramLm.seedPieces(words, maxPieceLen = 4, topV = 200)
      graft.text.WordPiece.usageStats(
        graft.text.WordPiece.greedySegment(words, vocab, maxPieceLen = 4), k = 50)
    }),
    // BM25 lexical retrieval: top-10 corpus docs per benchmark query
    // (residue-5 docs) over the crawl-like sparse corpus — the harness
    // documents table's 31-word vocabulary would make the stop-term cap
    // vacuous (every term is a stop term); the sparse fixture's 10.5k
    // vocabulary engages the df <= 0.1*N cap on its ~147 hottest terms
    "q_bm25_topk" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      graft.text.Bm25.retrieveTopK(sparse, "doc_id", "text",
        queryPred = col("doc_id") % 20 === 5, k = 10, maxDfFrac = 0.1)
    }),
    // the SERVING shape of BM25: postings + idf live on disk as tables
    // bucketed on term (built once); the query batch's term frame writes
    // into the same bucket layout and both scoring joins run with zero
    // shuffle exchange on the Zipf-skewed term key (runtime-asserted
    // inside retrieveAgainstPersistentIndex); same semantics + oracle as
    // q_bm25_topk
    "q_bm25_persistent" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      val suffix = math.abs(dir.hashCode)
      val (p, i) = graft.text.Bm25.persistentIndex(sparse, "doc_id", "text",
        s"graft_bm25_index_$suffix", queryPred = col("doc_id") % 20 === 5,
        maxDfFrac = 0.1)
      graft.text.Bm25.retrieveAgainstPersistentIndex(p, i,
        sparse.filter(col("doc_id") % 20 === 5), "doc_id", "text",
        s"graft_bm25_index_$suffix", s"graft_bm25_probe_$suffix", k = 10)
    }),
    // exact positional phrase search: each residue-3-of-97 doc's leading
    // 4-gram as the phrase — every query hits its own doc at anchor 0, and
    // unmutated cluster siblings surface as the cross-doc verbatim hits a
    // contamination confirm pass is after; anchor-vote counting, never a
    // postings self-join
    "q_phrase_search" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      val phrases = sparse.filter(col("doc_id") % 97 === 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 4), " ").as("phrase"))
      graft.text.PhraseSearch.search(sparse, "doc_id", "text", phrases)
    }),
    // per-source snapshot drift: even-id docs as the baseline snapshot,
    // odd-id docs as the fresh one — exact TV + pinned KL(new‖old) over
    // add-1-smoothed unigram distributions on the union vocabulary
    "q_drift_card" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.DriftCard.tokenDrift(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "source", "text")
    }),
    // the drift card maintained ON INGEST: per-batch partial (grp, word)
    // counts merged at close, the same drift arithmetic on the merged
    // frame — streamed == one-shot batch, batch oracle verbatim
    "q_stream_drift" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamDriftCard(s, dir)),
    // cross-source 8-gram overlap matrix: the inter-source dedup decision
    // card (which source pairs share boilerplate, and how much)
    "q_source_overlap" -> ((s, dir) =>
      graft.text.SourceOverlap.overlapMatrix(docs(s, dir), "text", "source", n = 8)),
  )

  private val toks = "string_split(text, ' ')"

  /** Shared oracle CTE chain for the unigram-LM gates: word histogram →
    * seed substrings → kept vocab (top-200 ∪ singles) → scaled-integer
    * log-probs → per-word span lists → recursive Viterbi DP (exact BIGINT
    * scores, ties to smallest span start) → recursive backtrace. The DP
    * recursion carries the growing scores/prevs lists; every rule matches
    * [[graft.text.UnigramLm]] operation for operation.
    */
  private val unigramCtes = {
    val NEG = Long.MinValue / 2
    s"""w AS (
       |  SELECT word, count(*) AS freq
       |  FROM (SELECT unnest($toks) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY 1),
       |pos AS (SELECT word, freq, CAST(unnest(range(0, length(word))) AS INT) AS j FROM w),
       |spl AS (SELECT word, freq, j, CAST(unnest([1, 2, 3, 4]) AS INT) AS l FROM pos),
       |sub AS (
       |  SELECT substr(word, j + 1, l) AS piece, freq
       |  FROM spl WHERE j + l <= length(word)),
       |cnts AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM sub GROUP BY 1),
       |topv AS (SELECT piece, cnt FROM cnts ORDER BY cnt DESC, piece LIMIT 200),
       |singles AS (SELECT piece, cnt FROM cnts WHERE length(piece) = 1),
       |kept AS (SELECT DISTINCT piece, cnt FROM (SELECT * FROM topv UNION ALL SELECT * FROM singles)),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM kept),
       |probs AS (SELECT piece,
       |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1e9) AS BIGINT) AS lp
       |  FROM kept CROSS JOIN tot),
       |sp0 AS (
       |  SELECT s.word, s.freq, s.j + s.l AS i, s.j, p.lp
       |  FROM (SELECT word, freq, j, l, substr(word, j + 1, l) AS piece
       |        FROM spl WHERE j + l <= length(word)) s
       |  JOIN probs p USING (piece)),
       |ws AS (
       |  SELECT word, freq, length(word) AS n,
       |         list(struct_pack(i := i, j := j, lp := lp) ORDER BY i, j) AS spans
       |  FROM sp0 GROUP BY word, freq),
       |dp AS (
       |  SELECT word, freq, spans, n, CAST(0 AS BIGINT) AS pos,
       |         [CAST(0 AS BIGINT)] AS scores, [CAST(-1 AS BIGINT)] AS prevs
       |  FROM ws
       |  UNION ALL
       |  SELECT word, freq, spans, n, pos + 1,
       |         scores || [coalesce(m, CAST($NEG AS BIGINT))],
       |         prevs  || [coalesce(bj, CAST(-1 AS BIGINT))]
       |  FROM (
       |    SELECT t.*,
       |      list_min(list_transform(
       |        list_filter(spans, sp -> sp.i = pos + 1 AND scores[sp.j + 1] + sp.lp = m),
       |        sp -> sp.j)) AS bj
       |    FROM (
       |      SELECT d.*,
       |        list_max(list_transform(list_filter(spans, sp -> sp.i = pos + 1),
       |          sp -> scores[sp.j + 1] + sp.lp)) AS m
       |      FROM dp d WHERE pos < n) t)),
       |fin AS (SELECT word, freq, n, scores, prevs FROM dp WHERE pos = n),
       |bt AS (
       |  SELECT word, n AS pos, CAST([] AS VARCHAR[]) AS ps FROM fin
       |  UNION ALL
       |  SELECT b.word, f.prevs[CAST(b.pos AS INT) + 1],
       |         [substr(f.word, CAST(f.prevs[CAST(b.pos AS INT) + 1] AS INT) + 1,
       |                 CAST(b.pos - f.prevs[CAST(b.pos AS INT) + 1] AS INT))] || b.ps
       |  FROM bt b JOIN fin f USING (word) WHERE b.pos > 0),
       |seg AS (SELECT word, ps FROM bt WHERE pos = 0)""".stripMargin
  }

  /** Planted verbatim spans for the substring-dedup gate: a 17-token
    * license block appended to every 9th doc (mod 2) and a 12-token header
    * prepended to every 15th (mod 4) — deterministic dirty input, same
    * discipline as [[ScaleQueries.curationV2]]'s PII injection. Tokens are
    * out-of-vocab so the spans are unambiguous.
    */
  private[queries] val LIC_SPAN = (0 until 17).map(i => s"lic$i").mkString(" ")
  private[queries] val HDR_SPAN = (0 until 12).map(i => s"hdr$i").mkString(" ")
  private def injectSpans(d: DataFrame): DataFrame =
    d.withColumn("text2", concat(
      when(col("doc_id") % 15 === 4, lit(HDR_SPAN + " ")).otherwise(lit("")),
      col("text"),
      when(col("doc_id") % 9 === 2, lit(" " + LIC_SPAN)).otherwise(lit(""))))

  /** The DuckDB replay of [[graft.text.BpeTrain.applyMerge]]'s fold, over a
    * best-pair CTE aliased `a`: left-to-right non-overlapping merge of
    * (p1, p2) → m on a symbol array `cs`, back to an array.
    */
  private def bpeReduceSql(a: String): String =
    s"""string_split(list_reduce(cs, (acc, x) -> CASE
       |               WHEN regexp_extract(acc, '[^ ]+$$') = $a.p1 AND x = $a.p2
       |               THEN regexp_replace(acc, '[^ ]+$$', $a.m)
       |               ELSE acc || ' ' || x END), ' ')""".stripMargin

  /** Shared rule expressions for the C4-filter oracles (defaults of
    * [[graft.text.Heuristics.Bounds]] inlined). The `text` reference
    * resolves against whatever relation the enclosing SELECT scans, so the
    * composed pipelines can apply them to derived text columns aliased
    * `text`.
    */
  private[queries] val c4Rules = Seq(
    "f_len" -> s"CASE WHEN len($toks) BETWEEN 20 AND 95 THEN 1 ELSE 0 END",
    "f_ttr" -> s"CASE WHEN CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) >= 0.35 THEN 1 ELSE 0 END",
    "f_meanlen" -> (s"CASE WHEN CAST(list_aggregate(list_transform($toks, x -> length(x)), 'sum') AS DOUBLE)"
      + s" / len($toks) BETWEEN 3.0 AND 6.0 THEN 1 ELSE 0 END"),
    "f_stop" -> s"CASE WHEN CAST(len(list_filter($toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len($toks) <= 0.12 THEN 1 ELSE 0 END",
    "f_blocklist" -> ("CASE WHEN lower(text) LIKE '%lorem ipsum%' OR lower(text) LIKE '%javascript%'"
      + " OR lower(text) LIKE '%{%' THEN 0 ELSE 1 END"),
  )

  // Every derived integer is CAST AS BIGINT: DuckDB widens SUM(...) OVER,
  // `//` and `%` to HUGEINT (int128), which would fail the driver's bitwise
  // hash gate against Spark's LongType even when values are identical.
  /** Corpus-LM CTE chain ending in `a(doc_id, n_bigrams, nll)` — the add-one
    * bigram NLL of every document WITH bigrams, UNROUNDED; shared by the
    * `q_lm_score` gate and the composed curation pipeline.
    */
  /** Kneser–Ney CTE chain ending in `a(doc_id, n_bigrams, nll)` —
    * `LmScore.nllKneserNey`'s exact operation order; shared by the
    * `q_lm_kneser_ney` gate and the curation-v3 composition.
    */
  private[queries] def knCtes: String =
    s"""tk AS (SELECT doc_id, $toks AS t FROM documents),
       |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
       |bg AS (SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
       |       FROM tk JOIN pos ON i + 2 <= len(t)),
       |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |cx AS (SELECT w1, sum(c12) AS ctx1, count(*) AS fanout1 FROM bc GROUP BY w1),
       |ct AS (SELECT w2, count(*) AS cont2 FROM bc GROUP BY w2),
       |nt AS (SELECT count(*) AS ntypes FROM bc),
       |s AS (SELECT bg.doc_id,
       |        -ln((bc.c12 - 0.75) / cx.ctx1
       |            + 0.75 * cx.fanout1 / cx.ctx1
       |              * (CAST(ct.cont2 AS DOUBLE) / nt.ntypes)) AS nlp
       |      FROM bg JOIN bc USING (w1, w2) JOIN cx USING (w1)
       |      JOIN ct USING (w2) CROSS JOIN nt),
       |a AS (SELECT doc_id, count(*) AS n_bigrams, avg(nlp) AS nll
       |      FROM s GROUP BY doc_id)""".stripMargin

  /** Per-fold NB scoring chain for the OOF label-noise oracle: CTEs
    * suffixed by fold index, model/marginals derived on the fold's
    * complement of `obsf(doc_id, obs, t, fold)`, terminal `sc<f>` =
    * that fold's posterior log-scores.
    */
  private def nbFoldCtes(f: Int): String =
    s"""trtok$f AS (SELECT obs AS label, unnest(t) AS tok FROM obsf WHERE fold <> $f),
       |model$f AS (SELECT label, tok, ln(CAST(count(*) AS DOUBLE) + 1) AS lw
       |            FROM trtok$f GROUP BY 1, 2),
       |lbl$f AS (SELECT obs AS label, count(*) AS nl FROM obsf WHERE fold <> $f GROUP BY 1),
       |tl$f AS (SELECT label, count(*) AS tot FROM trtok$f GROUP BY 1),
       |nn$f AS (SELECT count(*) AS n FROM obsf WHERE fold <> $f),
       |vv$f AS (SELECT count(DISTINCT tok) AS v FROM trtok$f),
       |lab$f AS (SELECT lbl$f.label, ln(CAST(nl AS DOUBLE) / nn$f.n) AS prior,
       |                 ln(CAST(tot + vv$f.v AS DOUBLE)) AS denom
       |          FROM lbl$f JOIN tl$f USING (label) CROSS JOIN nn$f CROSS JOIN vv$f),
       |tetok$f AS (SELECT doc_id, unnest(t) AS tok FROM obsf WHERE fold = $f),
       |ss$f AS (SELECT doc_id, label, sum(lw) AS s FROM tetok$f JOIN model$f USING (tok)
       |         GROUP BY 1, 2),
       |sc$f AS (SELECT o.doc_id, lab$f.label,
       |                lab$f.prior + coalesce(ss$f.s, 0) - len(o.t) * lab$f.denom AS score
       |         FROM (SELECT * FROM obsf WHERE fold = $f) o CROSS JOIN lab$f
       |         LEFT JOIN ss$f ON ss$f.doc_id = o.doc_id AND ss$f.label = lab$f.label)""".stripMargin

  private[queries] def lmCtes: String =
    s"""tk AS (SELECT doc_id, $toks AS t FROM documents),
       |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
       |bg AS (SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
       |       FROM tk JOIN pos ON i + 2 <= len(t)),
       |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |uni AS (SELECT w1, count(*) AS c1 FROM
       |          (SELECT unnest($toks) AS w1 FROM documents) GROUP BY w1),
       |v AS (SELECT count(DISTINCT w1) AS v FROM
       |        (SELECT unnest($toks) AS w1 FROM documents)),
       |s AS (SELECT bg.doc_id, -ln(CAST(bc.c12 + 1 AS DOUBLE) / (uni.c1 + v.v)) AS nlp
       |      FROM bg JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v),
       |a AS (SELECT doc_id, count(*) AS n_bigrams, avg(nlp) AS nll
       |      FROM s GROUP BY doc_id)""".stripMargin

  /** Shared BM25 oracle chain (used by `q_bm25_topk` here and the hybrid
    * RRF gate in [[SimilarityQueries]]): same sparse-corpus CTEs as
    * q_dedup_clusters_sparse; every double literal is CAST(.. AS DOUBLE)
    * so DuckDB's decimal-literal default cannot diverge from Scala's IEEE
    * literals, and the per-term contributions are 6-dp-pinned then summed
    * EXACTLY as DECIMAL(28,6) so reduction order cannot move the score.
    * Terminal CTE: `r(query_id, doc_id, score, rnk)`.
    */
  private[queries] def bm25Ctes: String =
    s"""${graft.dedup.SparseCorpus.oracleCtes()},
       |corpus AS (SELECT doc_id, string_split(text, ' ') AS t FROM sparsedocs
       |           WHERE NOT coalesce(doc_id % 20 = 5, FALSE)),
       |qry AS (SELECT doc_id AS query_id, string_split(text, ' ') AS t FROM sparsedocs
       |        WHERE coalesce(doc_id % 20 = 5, FALSE)),
       |p AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM corpus),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM p GROUP BY 1, 2, 3),
       |stats AS (SELECT count(*) AS n, CAST(sum(len(t)) AS DOUBLE)/count(*) AS avgdl FROM corpus),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |idf AS (SELECT term, ln(1 + (n - df + CAST(0.5 AS DOUBLE))/(df + CAST(0.5 AS DOUBLE))) AS idf
       |        FROM dft CROSS JOIN stats WHERE df <= CAST(0.1 AS DOUBLE) * n),
       |qt AS (SELECT DISTINCT query_id, term
       |       FROM (SELECT query_id, unnest(t) AS term FROM qry)),
       |qi AS (SELECT query_id, term, idf FROM qt JOIN idf USING (term)),
       |co AS (SELECT qi.query_id, tf.doc_id,
       |         round(qi.idf * ((tf.tf * (CAST(1.2 AS DOUBLE) + 1)) /
       |           (tf.tf + CAST(1.2 AS DOUBLE) * ((1 - CAST(0.75 AS DOUBLE))
       |              + CAST(0.75 AS DOUBLE) * (tf.dl / stats.avgdl)))), 6) AS c
       |       FROM qi JOIN tf USING (term) CROSS JOIN stats),
       |sc AS (SELECT query_id, doc_id, CAST(sum(CAST(c AS DECIMAL(28,6))) AS DOUBLE) AS sx
       |       FROM co GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, round(sx, 6) AS score,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |                                ORDER BY round(sx, 6) DESC, doc_id) AS INT) AS rnk
       |      FROM sc)""".stripMargin

  private val packCte =
    s"""WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
       |              CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
       |o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset" FROM t),
       |p AS (SELECT doc_id, shard, n_tokens, "offset",
       |             CAST("offset" // 256 AS BIGINT) AS pack_id,
       |             CAST("offset" % 256 AS BIGINT) AS offset_in_pack,
       |             CAST(CASE WHEN n_tokens = 0 THEN 1
       |                  ELSE ("offset" + n_tokens - 1) // 256 - "offset" // 256 + 1
       |             END AS BIGINT) AS packs_spanned
       |      FROM o)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_c4_filter" ->
      s"""WITH f AS (SELECT doc_id,
         |  ${c4Rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
         |FROM documents)
         |SELECT doc_id, f_len, f_ttr, f_meanlen, f_stop, f_blocklist,
         |       f_len * f_ttr * f_meanlen * f_stop * f_blocklist AS keep
         |FROM f
         |""".stripMargin,
    "q_filter_survival" ->
      s"""WITH f AS (SELECT source,
         |  ${c4Rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
         |FROM documents)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(f_len * f_ttr * f_meanlen * f_stop * f_blocklist) AS BIGINT) AS n_kept,
         |       round(CAST(sum(f_len * f_ttr * f_meanlen * f_stop * f_blocklist) AS DOUBLE)
         |             / count(*), 6) AS keep_rate
         |FROM f GROUP BY source
         |""".stripMargin,
    "q_survival_ci" ->
      // Wilson arithmetic token-for-token with Heuristics.survivalWilson;
      // z² is the one driver double both engines share
      s"""WITH f AS (SELECT source,
         |  ${c4Rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
         |FROM documents),
         |g AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(f_len * f_ttr * f_meanlen * f_stop * f_blocklist) AS BIGINT) AS n_kept,
         |        round(CAST(sum(f_len * f_ttr * f_meanlen * f_stop * f_blocklist) AS DOUBLE)
         |              / count(*), 6) AS keep_rate
         |      FROM f GROUP BY source),
         |w AS (SELECT source, n_docs, n_kept, keep_rate,
         |        CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p,
         |        CAST(n_docs AS DOUBLE) AS n
         |      FROM g)
         |SELECT source, n_docs, n_kept, keep_rate,
         |  round(greatest(0.0, (p + ${WILSON_Z * WILSON_Z} / (2.0 * n)) / (1.0 + ${WILSON_Z * WILSON_Z} / n)
         |    - ($WILSON_Z * sqrt(p * (1.0 - p) / n + ${WILSON_Z * WILSON_Z} / (4.0 * n * n)))
         |      / (1.0 + ${WILSON_Z * WILSON_Z} / n)), 6) AS ci_lo,
         |  round(least(1.0, (p + ${WILSON_Z * WILSON_Z} / (2.0 * n)) / (1.0 + ${WILSON_Z * WILSON_Z} / n)
         |    + ($WILSON_Z * sqrt(p * (1.0 - p) / n + ${WILSON_Z * WILSON_Z} / (4.0 * n * n)))
         |      / (1.0 + ${WILSON_Z * WILSON_Z} / n)), 6) AS ci_hi
         |FROM w
         |""".stripMargin,
    "q_pack_sequences" ->
      s"""$packCte
         |SELECT doc_id, shard, n_tokens, "offset", pack_id, offset_in_pack,
         |       packs_spanned
         |FROM p
         |""".stripMargin,
    // FFD fold replay: recursive CTE carrying (loads, assignments); the
    // first-fit index is 1-based list_position on both engines, and the
    // index lambda in list_transform is 1-based here vs 0-based in Spark
    // — both compare against the SAME 1-based fit position
    "q_pack_ffd" ->
      s"""WITH RECURSIVE d0 AS (
         |  SELECT doc_id,
         |         doc_id % (SELECT greatest(CAST(ceil(count(*) / 50.0) AS BIGINT), 1) FROM documents) AS shard,
         |         CAST(len($toks) AS INT) AS n
         |  FROM documents),
         |sh AS (SELECT shard,
         |         list(struct_pack(negn := -n, id := doc_id) ORDER BY -n, doc_id) AS ds
         |       FROM d0 GROUP BY shard),
         |fold(shard, ds, t, loads, asg) AS (
         |  SELECT shard, ds, 0, CAST([] AS BIGINT[]), CAST([] AS INT[]) FROM sh
         |  UNION ALL
         |  SELECT shard, ds, t + 1,
         |    CASE WHEN fit IS NULL OR fit = 0 THEN loads || [CAST(n1 AS BIGINT)]
         |         ELSE list_transform(loads, (l, i) -> CASE WHEN i = fit THEN l + n1 ELSE l END)
         |    END,
         |    asg || [CASE WHEN fit IS NULL OR fit = 0 THEN CAST(len(loads) AS INT)
         |                 ELSE CAST(fit - 1 AS INT) END]
         |  FROM (
         |    SELECT f.*, -(ds[t + 1].negn) AS n1,
         |      list_position(list_transform(loads,
         |        l -> l - ds[t + 1].negn <= CAST(100 AS BIGINT)), true) AS fit
         |    FROM fold f WHERE t < len(ds)) s),
         |fin AS (SELECT shard, ds, asg FROM fold WHERE t = len(ds)),
         |u AS (SELECT shard, unnest(ds) AS d, unnest(asg) AS bin FROM fin)
         |SELECT d.id AS doc_id, shard, -(d.negn) AS n_tokens, bin
         |FROM u ORDER BY doc_id
         |""".stripMargin,
    "q_pack_fill" ->
      s"""$packCte,
         |e AS (SELECT shard, CAST(pack_id + x AS BIGINT) AS pack_id,
         |             least("offset" + n_tokens, (pack_id + x + 1) * 256)
         |               - greatest("offset", (pack_id + x) * 256) AS tok
         |      FROM p JOIN range(0, 1000) r(x) ON x < packs_spanned)
         |SELECT shard, pack_id, count(*) AS n_docs,
         |       CAST(sum(tok) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(tok) AS DOUBLE) / 256.0, 6) AS fill
         |FROM e GROUP BY shard, pack_id
         |""".stripMargin,
    "q_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |grams AS (SELECT DISTINCT doc_id,
         |                 array_to_string(list_slice(t, i + 1, i + 8), ' ') AS g
         |          FROM tk JOIN pos ON i + 8 <= len(t)),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
         |agg AS (SELECT tr.doc_id, count(*) AS n_grams,
         |               sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
         |        FROM (SELECT * FROM grams WHERE doc_id % 20 != 0) tr
         |        LEFT JOIN bench b ON tr.g = b.g
         |        GROUP BY tr.doc_id)
         |SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
         |       CAST(n_grams AS BIGINT) AS n_grams,
         |       round(CAST(n_overlap AS DOUBLE) / n_grams, 6) AS overlap_ratio
         |FROM agg WHERE n_overlap > 0
         |""".stripMargin,
    "q_decontaminate_clean" ->
      // positional grams (no distinct — masking needs every start); nested
      // lambdas express "position inside any [start, start+8) window"
      s"""WITH tk AS (SELECT doc_id, doc_id % 20 = 0 AS is_bench, $toks AS t FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |pg AS (SELECT doc_id, is_bench, i,
         |              array_to_string(list_slice(t, i + 1, i + 8), ' ') AS g
         |       FROM tk JOIN pos ON i + 8 <= len(t)),
         |bench AS (SELECT DISTINCT g FROM pg WHERE is_bench),
         |ms AS (SELECT doc_id, list(DISTINCT i) AS starts
         |       FROM pg JOIN bench USING (g) WHERE NOT is_bench GROUP BY doc_id),
         |tr AS (SELECT tk.doc_id, tk.t, coalesce(ms.starts, CAST([] AS INT[])) AS starts
         |       FROM tk LEFT JOIN ms USING (doc_id) WHERE NOT tk.is_bench),
         |k AS (SELECT doc_id, len(t) AS n_tokens, t,
         |        list_filter(range(0, len(t)),
         |          p -> len(list_filter(starts, s -> s <= p AND p < s + 8)) = 0) AS keptpos
         |      FROM tr)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |       CAST(n_tokens - len(keptpos) AS INT) AS n_removed,
         |       coalesce(array_to_string(list_transform(keptpos, p -> t[p + 1]), ' '), '') AS text_clean
         |FROM k
         |""".stripMargin,
    "q_substring_dedup" ->
      // maximal-span recovery replayed in SQL: shared 10-gram starts per
      // doc, run heads/tails via lag/lead, paired 1:1 by within-doc rank
      s"""WITH inj AS (SELECT doc_id,
         |    CASE WHEN doc_id % 15 = 4 THEN '$HDR_SPAN ' ELSE '' END || text ||
         |    CASE WHEN doc_id % 9 = 2 THEN ' $LIC_SPAN' ELSE '' END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM inj),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |pg AS (SELECT doc_id, i,
         |              array_to_string(list_slice(t, i + 1, i + 10), ' ') AS g
         |       FROM tk JOIN pos ON i + 10 <= len(t)),
         |sh AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
         |                      FROM pg GROUP BY g) WHERE nd >= 2),
         |ss AS (SELECT doc_id, i FROM pg JOIN sh USING (g)),
         |r AS (SELECT doc_id, i,
         |        lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS pi,
         |        lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS ni FROM ss),
         |hd AS (SELECT doc_id, i, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
         |       FROM r WHERE pi IS NULL OR pi <> i - 1),
         |tl AS (SELECT doc_id, i, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
         |       FROM r WHERE ni IS NULL OR ni <> i + 1)
         |SELECT h.doc_id, h.i AS span_start, CAST(t.i - h.i + 10 AS INT) AS span_len
         |FROM hd h JOIN tl t ON t.doc_id = h.doc_id AND t.rn = h.rn
         |""".stripMargin,
    "q_boilerplate_strip" ->
      // same window-union rebuild as q_decontaminate_clean, but the masked
      // set is grams occurring in >= 2 distinct documents (no bench split)
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |pg AS (SELECT doc_id, i,
         |              array_to_string(list_slice(t, i + 1, i + 8), ' ') AS g
         |       FROM tk JOIN pos ON i + 8 <= len(t)),
         |sh AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
         |                      FROM pg GROUP BY g) WHERE nd >= 2),
         |ms AS (SELECT doc_id, list(DISTINCT i) AS starts
         |       FROM pg JOIN sh USING (g) GROUP BY doc_id),
         |tr AS (SELECT tk.doc_id, tk.t, coalesce(ms.starts, CAST([] AS INT[])) AS starts
         |       FROM tk LEFT JOIN ms USING (doc_id)),
         |k AS (SELECT doc_id, len(t) AS n_tokens, t,
         |        list_filter(range(0, len(t)),
         |          p -> len(list_filter(starts, s -> s <= p AND p < s + 8)) = 0) AS keptpos
         |      FROM tr)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |       CAST(n_tokens - len(keptpos) AS INT) AS n_removed,
         |       coalesce(array_to_string(list_transform(keptpos, p -> t[p + 1]), ' '), '') AS text_clean
         |FROM k
         |""".stripMargin,
    "q_cross_dup" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |grams AS (SELECT DISTINCT doc_id,
         |                 array_to_string(list_slice(t, i + 1, i + 8), ' ') AS g
         |          FROM tk JOIN pos ON i + 8 <= len(t)),
         |c AS (SELECT g, count(*) AS ndocs FROM grams GROUP BY g),
         |agg AS (SELECT doc_id, count(*) AS n_grams,
         |               sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS n_shared
         |        FROM grams JOIN c USING (g) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
         |       CAST(n_grams AS BIGINT) AS n_grams,
         |       round(CAST(n_shared AS DOUBLE) / n_grams, 6) AS shared_ratio
         |FROM agg
         |""".stripMargin,
    "q_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t, length(text) AS chars FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |g2 AS (SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS g
         |       FROM tk JOIN pos ON i + 2 <= len(t)),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         |t2 AS (SELECT doc_id, max(c * length(g)) AS topchars FROM c2 GROUP BY 1),
         |g5 AS (SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS g
         |       FROM tk JOIN pos ON i + 5 <= len(t)),
         |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
         |d5 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         |              sum(c) AS tot FROM c5 GROUP BY 1)
         |SELECT tk.doc_id,
         |  round(CAST(coalesce(t2.topchars, 0) AS DOUBLE) / tk.chars, 6) AS top_char_frac,
         |  round(CAST(coalesce(d5.dup, 0) AS DOUBLE) / coalesce(d5.tot, 1), 6) AS dup_frac
         |FROM tk
         |LEFT JOIN t2 ON tk.doc_id = t2.doc_id
         |LEFT JOIN d5 ON tk.doc_id = d5.doc_id
         |""".stripMargin,
    "q_tfidf_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf,
         |        tf.tf * (ln(CAST(1 + n.n AS DOUBLE) / (1 + dft.df)) + 1) AS tfidf
         |      FROM tf JOIN dft USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, tfidf,
         |        CAST(row_number() OVER (PARTITION BY doc_id
         |                                ORDER BY tfidf DESC, term) AS INT) AS rnk
         |      FROM s)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |       round(tfidf, 6) AS tfidf, rnk
         |FROM r WHERE rnk <= 3
         |""".stripMargin,
    "q_chunk_docs" ->
      // stride 48 = 64 - 16; integer `//` chunk-count arithmetic mirrors
      // the engine's DIV; list_slice clamps the terminal short chunk
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         |c AS (SELECT doc_id, t, len(t) AS n,
         |        greatest((len(t) - 16 + 47) // 48, 1) AS nch FROM tk),
         |idx AS (SELECT CAST(x AS INT) AS i FROM range(0, 1000) r(x)),
         |e AS (SELECT doc_id, i AS chunk_idx, CAST(i * 48 AS INT) AS chunk_start,
         |             list_slice(t, i * 48 + 1, i * 48 + 64) AS sl
         |      FROM c JOIN idx ON i < nch)
         |SELECT doc_id, chunk_idx, chunk_start,
         |       CAST(len(sl) AS INT) AS n_chunk_tokens,
         |       array_to_string(sl, ' ') AS chunk_text
         |FROM e
         |""".stripMargin,
    "q_release_manifest" ->
      s"""WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |         CAST(CAST(('0x' || substr(md5(md5(text)), 1, 15)) AS UBIGINT) AS BIGINT) AS h,
         |         len($toks) AS ntok
         |       FROM documents)
         |SELECT shard, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |       bit_xor(h) AS content_checksum,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM t GROUP BY shard
         |""".stripMargin,
    "q_source_cardinality" ->
      s"""WITH td AS (SELECT source, count(DISTINCT t) AS n_distinct_tokens
         |            FROM (SELECT source, unnest($toks) AS t FROM documents)
         |            GROUP BY source),
         |base AS (SELECT source, count(*) AS n_docs,
         |                count(DISTINCT md5(text)) AS n_distinct_docs,
         |                count(DISTINCT lang) AS n_langs
         |         FROM documents GROUP BY source)
         |SELECT base.source, n_docs, n_distinct_docs, n_langs, n_distinct_tokens
         |FROM base JOIN td USING (source)
         |""".stripMargin,
    "q_normalize_text" ->
      // planted codepoints rebuilt via chr() so both engines see identical
      // bytes: decomposed e+U+0301 / I+U+0308, precomposed U+00E9/E0/DC/E7/F6;
      // DuckDB nfc_normalize == java.text.Normalizer NFC, strip_accents ==
      // NFD + \p{M} removal (verified on this charset)
      s"""WITH inj AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 3 = 0
         |       THEN ' Caf' || chr(101) || chr(769) || ' NA' || chr(73) || chr(776) ||
         |            'VE d' || chr(233) || 'j' || chr(224)
         |       ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 2
         |       THEN '  M' || chr(220) || 'NCHEN  ' || chr(231) || chr(246) || '  '
         |       ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  nfc_normalize(t) AS nfc_text,
         |  trim(regexp_replace(lower(strip_accents(t)), '\\s+', ' ', 'g')) AS folded,
         |  CAST(length(t) AS INT) AS raw_len,
         |  CAST(length(nfc_normalize(t)) AS INT) AS nfc_len
         |FROM inj
         |""".stripMargin,
    "q_paragraph_dedup" ->
      // same owner-election arithmetic as the engine: globally-first
      // occurrence key min(doc_id * 100000 + pos) per distinct paragraph
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |idx AS (SELECT CAST(x AS INT) AS i FROM range(0, 1000) r(x)),
         |para AS (SELECT doc_id, i AS pos,
         |                array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ') AS para
         |         FROM tk JOIN idx ON i * 10 < len(t)),
         |own AS (SELECT para, min(doc_id * 100000 + pos) AS k FROM para GROUP BY para),
         |kept AS (SELECT p.doc_id, p.pos, p.para FROM para p
         |         JOIN own o ON p.para = o.para AND p.doc_id * 100000 + p.pos = o.k),
         |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         |               string_agg(para, ' ' ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id),
         |np AS (SELECT doc_id, CAST(count(*) AS INT) AS n_paras FROM para GROUP BY doc_id)
         |SELECT np.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |       np.n_paras, coalesce(agg.n_kept, 0) AS n_kept
         |FROM np LEFT JOIN agg USING (doc_id)
         |""".stripMargin,
    "q_paragraph_screen" ->
      // the bitmap is an accelerator, not a semantic: the oracle is the
      // plain exact anti-join of batch paragraphs vs base paragraphs
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |idx AS (SELECT CAST(x AS INT) AS i FROM range(0, 1000) r(x)),
         |para AS (SELECT doc_id, i AS pos,
         |                array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ') AS para
         |         FROM tk JOIN idx ON i * 10 < len(t)),
         |basep AS (SELECT DISTINCT para FROM para WHERE doc_id % 5 != 0),
         |bp AS (SELECT doc_id, pos, para FROM para WHERE doc_id % 5 = 0),
         |kept AS (SELECT bp.doc_id, bp.pos, bp.para FROM bp
         |         ANTI JOIN basep USING (para)),
         |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         |               string_agg(para, ' ' ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id),
         |np AS (SELECT doc_id, CAST(count(*) AS INT) AS n_paras FROM bp GROUP BY doc_id)
         |SELECT np.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |       np.n_paras, coalesce(agg.n_kept, 0) AS n_kept
         |FROM np LEFT JOIN agg USING (doc_id)
         |""".stripMargin,
    "q_intradoc_dedup" ->
      // first-within-doc occurrence per distinct paragraph == GROUP BY
      // (doc, para) min(pos); prepend planting replayed verbatim
      s"""WITH d2 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0
         |       THEN array_to_string(string_split(text, ' ')[1:10], ' ') || ' ' || text
         |       ELSE text END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM d2),
         |idx AS (SELECT CAST(x AS INT) AS i FROM range(0, 1000) r(x)),
         |para AS (SELECT doc_id, i AS pos,
         |                array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ') AS para
         |         FROM tk JOIN idx ON i * 10 < len(t)),
         |firsts AS (SELECT doc_id, para, min(pos) AS pos FROM para GROUP BY doc_id, para),
         |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         |               string_agg(para, ' ' ORDER BY pos) AS clean_text
         |        FROM firsts GROUP BY doc_id),
         |np AS (SELECT doc_id, CAST(count(*) AS INT) AS n_paras FROM para GROUP BY doc_id)
         |SELECT np.doc_id, agg.clean_text, np.n_paras, agg.n_kept
         |FROM np JOIN agg USING (doc_id)
         |""".stripMargin,
    "q_pii_stats" -> {
      import graft.text.Pii.{EMAIL, IPV4, LONG_DIGITS}
      // NOTE: DuckDB regexp_replace needs the 'g' flag to match Spark's
      // always-global replacement semantics
      s"""WITH t AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 7 = 0 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 11 = 3 THEN ' 40414243444546' ELSE '' END ||
         |  CASE WHEN doc_id % 13 = 5 THEN ' 10.0.255.1' ELSE '' END AS t2
         |FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t2, '$EMAIL')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(t2, '$EMAIL', '<EMAIL>', 'g'), '$IPV4')) AS INT) AS n_ips,
         |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(t2, '$EMAIL', '<EMAIL>', 'g'), '$IPV4', '<IP>', 'g'), '$LONG_DIGITS')) AS INT) AS n_long_digits,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(t2, '$EMAIL', '<EMAIL>', 'g'), '$IPV4', '<IP>', 'g'), '$LONG_DIGITS', '<NUM>', 'g')) AS INT) AS n_chars_redacted
         |FROM t
         |""".stripMargin
    },
    "q_data_card" ->
      s"""WITH base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |                     CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
         |                     round(quantile_cont(n_chars, 0.5), 6) AS median_chars
         |              FROM documents GROUP BY source),
         |lc AS (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2),
         |la AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs FROM lc GROUP BY 1),
         |top AS (SELECT source, lang AS top_lang, CAST(cnt AS BIGINT) AS top_lang_docs
         |        FROM (SELECT *, row_number() OVER
         |                (PARTITION BY source ORDER BY cnt DESC, lang DESC) AS rn
         |              FROM lc) WHERE rn = 1)
         |SELECT b.source, n_docs, n_tokens, median_chars, n_langs, top_lang, top_lang_docs
         |FROM base b JOIN la USING (source) JOIN top USING (source)
         |""".stripMargin,
    "q_bpe_encode" ->
      // the q_bpe_merge CTE chain iterated twice (learn pair 1 on the raw
      // symbols, pair 2 on the once-merged symbols), then docs join the
      // twice-merged vocabulary on the word key and sum symbol counts
      s"""WITH wc AS (SELECT w, count(*) AS cnt
         |            FROM (SELECT unnest($toks) AS w FROM documents) GROUP BY w),
         |sym AS (SELECT w, cnt, regexp_extract_all(w, '.') AS cs FROM wc),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 64) r(x)),
         |p0 AS (SELECT cs[i+1] || ' ' || cs[i+2] AS pair, sum(cnt) AS c
         |       FROM sym JOIN pos ON i + 2 <= len(cs) GROUP BY 1),
         |b1 AS (SELECT string_split(pair, ' ')[1] AS p1, string_split(pair, ' ')[2] AS p2,
         |              replace(pair, ' ', '') AS m
         |       FROM p0 ORDER BY c DESC, pair LIMIT 1),
         |m1 AS (SELECT w, cnt, ${bpeReduceSql("b")} AS cs FROM sym CROSS JOIN b1 b),
         |p1c AS (SELECT cs[i+1] || ' ' || cs[i+2] AS pair, sum(cnt) AS c
         |        FROM m1 JOIN pos ON i + 2 <= len(cs) GROUP BY 1),
         |b2 AS (SELECT string_split(pair, ' ')[1] AS p1, string_split(pair, ' ')[2] AS p2,
         |              replace(pair, ' ', '') AS m
         |       FROM p1c ORDER BY c DESC, pair LIMIT 1),
         |m2 AS (SELECT w, ${bpeReduceSql("b")} AS cs FROM m1 CROSS JOIN b2 b),
         |tok AS (SELECT doc_id, unnest($toks) AS w FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(len(m2.cs)) AS BIGINT) AS n_symbols
         |FROM tok JOIN m2 USING (w) GROUP BY doc_id
         |""".stripMargin,
    "q_bpe_merge" ->
      // list_reduce replays the engine's left-to-right fold exactly: the
      // accumulator's last symbol is regexp-extracted and conditionally
      // replaced by the merged pair (all symbols are alphanumeric, so the
      // regexp replacement is literal-safe)
      s"""WITH wc AS (SELECT w, count(*) AS cnt
         |            FROM (SELECT unnest($toks) AS w FROM documents) GROUP BY w),
         |sym AS (SELECT w, cnt, regexp_extract_all(w, '.') AS cs FROM wc WHERE len(w) >= 2),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 64) r(x)),
         |p0 AS (SELECT cs[i+1] || ' ' || cs[i+2] AS pair, sum(cnt) AS c
         |       FROM sym JOIN pos ON i + 2 <= len(cs) GROUP BY 1),
         |best AS (SELECT string_split(pair, ' ')[1] AS p1, string_split(pair, ' ')[2] AS p2,
         |                replace(pair, ' ', '') AS m
         |         FROM p0 ORDER BY c DESC, pair LIMIT 1),
         |merged AS (SELECT cnt,
         |             string_split(list_reduce(cs, (acc, x) -> CASE
         |               WHEN regexp_extract(acc, '[^ ]+$$') = b.p1 AND x = b.p2
         |               THEN regexp_replace(acc, '[^ ]+$$', b.m)
         |               ELSE acc || ' ' || x END), ' ') AS ms
         |           FROM sym CROSS JOIN best b),
         |p1 AS (SELECT ms[i+1] || ' ' || ms[i+2] AS pair, CAST(sum(cnt) AS BIGINT) AS cnt
         |       FROM merged JOIN pos ON i + 2 <= len(ms) GROUP BY 1)
         |SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 20
         |""".stripMargin,
    "q_dsir_select" ->
      // same hash60 bucket mapping as q_rolling_fingerprint; the score is
      // written in the engine's operation order: Σlw − n·(lt − ls)
      s"""WITH tk AS (SELECT doc_id, doc_id % 20 = 0 AS is_target, unnest($toks) AS tok
         |            FROM documents),
         |bk AS (SELECT doc_id, is_target,
         |              CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT) % 1024 AS b
         |       FROM tk),
         |bu AS (SELECT b, sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         |              sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS cs
         |       FROM bk GROUP BY b),
         |lw AS (SELECT b, ln(CAST(ct AS DOUBLE) + 1) - ln(CAST(cs AS DOUBLE) + 1) AS lw FROM bu),
         |tot AS (SELECT ln(CAST(sum(ct) AS DOUBLE) + 1024) AS lt,
         |               ln(CAST(sum(cs) AS DOUBLE) + 1024) AS ls FROM bu),
         |pd AS (SELECT doc_id, count(*) AS n_toks, sum(lw) AS s
         |       FROM bk JOIN lw USING (b) WHERE NOT is_target GROUP BY doc_id)
         |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
         |       round(s - n_toks * (lt - ls), 6) AS logw
         |FROM pd CROSS JOIN tot
         |ORDER BY logw DESC, doc_id LIMIT 50
         |""".stripMargin,
    "q_nb_classify" ->
      // score written in the same operation order as the engine:
      // prior + sparse_sum − n_toks·denom (seen pairs only; ln(0+1) = 0)
      s"""WITH tr AS (SELECT doc_id, lang, $toks AS t FROM documents WHERE doc_id % 5 != 0),
         |te AS (SELECT doc_id, $toks AS t FROM documents WHERE doc_id % 5 = 0),
         |trtok AS (SELECT lang, unnest(t) AS tok FROM tr),
         |model AS (SELECT lang, tok, ln(CAST(count(*) AS DOUBLE) + 1) AS lw
         |          FROM trtok GROUP BY lang, tok),
         |lbl AS (SELECT lang, count(*) AS nl FROM tr GROUP BY lang),
         |tl AS (SELECT lang, count(*) AS tot FROM trtok GROUP BY lang),
         |n AS (SELECT count(*) AS n FROM tr),
         |v AS (SELECT count(DISTINCT tok) AS v FROM trtok),
         |lab AS (SELECT lbl.lang, ln(CAST(nl AS DOUBLE) / n.n) AS prior,
         |               ln(CAST(tot + v.v AS DOUBLE)) AS denom
         |        FROM lbl JOIN tl USING (lang) CROSS JOIN n CROSS JOIN v),
         |tetok AS (SELECT doc_id, unnest(t) AS tok FROM te),
         |ss AS (SELECT doc_id, lang, sum(lw) AS s
         |       FROM tetok JOIN model USING (tok) GROUP BY doc_id, lang),
         |sc AS (SELECT te.doc_id, lab.lang,
         |              lab.prior + coalesce(ss.s, 0) - len(te.t) * lab.denom AS score
         |       FROM te CROSS JOIN lab
         |       LEFT JOIN ss ON ss.doc_id = te.doc_id AND ss.lang = lab.lang),
         |r AS (SELECT doc_id, lang, score, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY round(score, 6) DESC, lang) AS rn
         |      FROM sc)
         |SELECT doc_id, lang AS pred_lang, round(score, 6) AS nb_score
         |FROM r WHERE rn = 1
         |""".stripMargin,
    "q_label_noise" ->
      // NB scoring replayed with the noisy observed labels as the class
      // axis, then the softmax → per-class threshold → argmax chain;
      // max(struct(p, label)) ties replay as (p DESC, label DESC)
      s"""WITH obs AS (SELECT doc_id,
         |        CASE WHEN doc_id % 23 = 7 THEN
         |          CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es'
         |                    WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh' ELSE 'en' END
         |        ELSE lang END AS obs, $toks AS t
         |      FROM documents),
         |trtok AS (SELECT obs AS label, unnest(t) AS tok FROM obs),
         |model AS (SELECT label, tok, ln(CAST(count(*) AS DOUBLE) + 1) AS lw
         |          FROM trtok GROUP BY 1, 2),
         |lbl AS (SELECT obs AS label, count(*) AS nl FROM obs GROUP BY 1),
         |tl AS (SELECT label, count(*) AS tot FROM trtok GROUP BY 1),
         |nn2 AS (SELECT count(*) AS n FROM obs),
         |vv AS (SELECT count(DISTINCT tok) AS v FROM trtok),
         |lab AS (SELECT lbl.label, ln(CAST(nl AS DOUBLE) / nn2.n) AS prior,
         |               ln(CAST(tot + vv.v AS DOUBLE)) AS denom
         |        FROM lbl JOIN tl USING (label) CROSS JOIN nn2 CROSS JOIN vv),
         |tetok AS (SELECT doc_id, unnest(t) AS tok FROM obs),
         |ss AS (SELECT doc_id, label, sum(lw) AS s FROM tetok JOIN model USING (tok)
         |       GROUP BY 1, 2),
         |sc AS (SELECT o.doc_id, lab.label,
         |              lab.prior + coalesce(ss.s, 0) - len(o.t) * lab.denom AS score
         |       FROM obs o CROSS JOIN lab
         |       LEFT JOIN ss ON ss.doc_id = o.doc_id AND ss.label = lab.label),
         |mx AS (SELECT doc_id, max(score) AS mxs FROM sc GROUP BY 1),
         |pr AS (SELECT sc.doc_id, sc.label, round(exp(sc.score - mx.mxs), 9) AS praw
         |       FROM sc JOIN mx USING (doc_id)),
         |zz AS (SELECT doc_id, sum(CAST(praw AS DECIMAL(28,9))) AS z FROM pr GROUP BY 1),
         |pp AS (SELECT pr.doc_id, pr.label, round(pr.praw / CAST(zz.z AS DOUBLE), 6) AS p
         |       FROM pr JOIN zz USING (doc_id)),
         |th AS (SELECT pp.label,
         |              round(CAST(sum(CAST(p AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS t
         |       FROM pp JOIN obs ON obs.doc_id = pp.doc_id AND obs.obs = pp.label
         |       GROUP BY 1),
         |ca AS (SELECT pp.doc_id, pp.label, pp.p FROM pp JOIN th USING (label)
         |       WHERE pp.p >= th.t),
         |bst AS (SELECT doc_id, label AS sugg, p AS p_sugg, row_number() OVER
         |          (PARTITION BY doc_id ORDER BY p DESC, label DESC) AS rn FROM ca)
         |SELECT o.doc_id, o.obs AS observed,
         |       coalesce(b.sugg, o.obs) AS suggested, b.p_sugg,
         |       coalesce(b.sugg, o.obs) <> o.obs AS flagged
         |FROM obs o LEFT JOIN (SELECT * FROM bst WHERE rn = 1) b USING (doc_id)
         |""".stripMargin,
    "q_label_noise_oof" ->
      // the in-sample chain with the NB model re-derived per hash fold on
      // its complement; the softmax → threshold → argmax tail runs over
      // the UNION of per-fold posterior surfaces
      s"""WITH obsf AS (SELECT doc_id,
         |        CASE WHEN doc_id % 23 = 7 THEN
         |          CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es'
         |                    WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh' ELSE 'en' END
         |        ELSE lang END AS obs, $toks AS t,
         |        CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)
         |          % $NOISE_FOLDS AS fold
         |      FROM documents),
         |${(0 until NOISE_FOLDS).map(nbFoldCtes).mkString(",\n")},
         |scu AS (${(0 until NOISE_FOLDS).map(f => s"SELECT * FROM sc$f").mkString(" UNION ALL ")}),
         |mx AS (SELECT doc_id, max(score) AS mxs FROM scu GROUP BY 1),
         |pr AS (SELECT scu.doc_id, scu.label, round(exp(scu.score - mx.mxs), 9) AS praw
         |       FROM scu JOIN mx USING (doc_id)),
         |zz AS (SELECT doc_id, sum(CAST(praw AS DECIMAL(28,9))) AS z FROM pr GROUP BY 1),
         |pp AS (SELECT pr.doc_id, pr.label, round(pr.praw / CAST(zz.z AS DOUBLE), 6) AS p
         |       FROM pr JOIN zz USING (doc_id)),
         |th AS (SELECT pp.label,
         |              round(CAST(sum(CAST(p AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS t
         |       FROM pp JOIN obsf ON obsf.doc_id = pp.doc_id AND obsf.obs = pp.label
         |       GROUP BY 1),
         |ca AS (SELECT pp.doc_id, pp.label, pp.p FROM pp JOIN th USING (label)
         |       WHERE pp.p >= th.t),
         |bst AS (SELECT doc_id, label AS sugg, p AS p_sugg, row_number() OVER
         |          (PARTITION BY doc_id ORDER BY p DESC, label DESC) AS rn FROM ca)
         |SELECT o.doc_id, o.obs AS observed,
         |       coalesce(b.sugg, o.obs) AS suggested, b.p_sugg,
         |       coalesce(b.sugg, o.obs) <> o.obs AS flagged
         |FROM obsf o LEFT JOIN (SELECT * FROM bst WHERE rn = 1) b USING (doc_id)
         |""".stripMargin,
    "q_lm_score" ->
      s"""WITH $lmCtes
         |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
         |       round(a.nll, 6) AS nll
         |FROM documents d LEFT JOIN a USING (doc_id)
         |""".stripMargin,
    "q_sft_lint" ->
      // conversation construction replayed turn-for-turn (DuckDB range is
      // exclusive-stop = Spark's sequence(0, n-1); list slicing t[a:b] is
      // inclusive = Spark's slice(t, a, 8)); checks are integer/string
      // only — nothing to pin
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t, doc_id % 7 AS m FROM documents),
         |c0 AS (SELECT doc_id, m, t, CAST(ceil(len(t) / 8.0) AS INT) AS nt FROM tk),
         |c1 AS (SELECT doc_id, m, t,
         |         CASE WHEN m = 1 THEN greatest(1, nt - 1) ELSE nt END AS nt2 FROM c0),
         |built AS (SELECT doc_id, m,
         |  list_transform(range(0, nt2), j -> {
         |    'role': CASE WHEN m = 3 AND j = 1 THEN 'user'
         |                 WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END,
         |    'content': CASE WHEN m = 2 AND j = 1 THEN ''
         |                    ELSE array_to_string(t[j*8+1 : j*8+8], ' ') END
         |  }) AS base FROM c1),
         |cv AS (SELECT doc_id,
         |  CASE WHEN m = 4 THEN base || [{'role': 'system', 'content': 'audit note'}]
         |       ELSE base END AS conv FROM built),
         |f AS (SELECT doc_id, CAST(len(conv) AS INT) AS n_turns,
         |  CASE WHEN len(conv) >= 1 AND conv[1].role = 'user' THEN 1 ELSE 0 END AS starts_user,
         |  CASE WHEN len(conv) >= 1 AND conv[len(conv)].role = 'assistant' THEN 1 ELSE 0 END AS ends_assistant,
         |  CASE WHEN len(conv) >= 2 THEN
         |    CASE WHEN len(list_filter(range(1, len(conv)), i -> conv[i].role = conv[i+1].role)) = 0
         |         THEN 1 ELSE 0 END
         |  ELSE 1 END AS alternating,
         |  CASE WHEN len(list_filter(conv, s -> s.content = '')) = 0 THEN 1 ELSE 0 END AS no_empty,
         |  CASE WHEN len(conv) >= 2 THEN
         |    CASE WHEN len(list_filter(range(2, len(conv) + 1), i -> conv[i].role = 'system')) = 0
         |         THEN 1 ELSE 0 END
         |  ELSE 1 END AS no_system_mid,
         |  CASE WHEN len(conv) >= 2 THEN 1 ELSE 0 END AS enough_turns
         |FROM cv)
         |SELECT doc_id, n_turns, starts_user, ends_assistant, alternating, no_empty,
         |       no_system_mid, enough_turns,
         |       starts_user * ends_assistant * alternating * no_empty
         |         * no_system_mid * enough_turns AS valid
         |FROM f
         |""".stripMargin,
    "q_min_k_prob" ->
      // row_number ties among equal NLLs pick an arbitrary row but the
      // SAME value multiset, so the 6-dp decimal sum cannot move
      s"""WITH $lmCtes,
         |r AS (SELECT doc_id, nlp,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY nlp DESC) AS rn
         |      FROM s),
         |km AS (SELECT doc_id, count(*) AS n_bigrams,
         |         greatest(CAST(1 AS BIGINT),
         |                  CAST(floor((count(*) * $MINK_PCT) / 100.0) AS BIGINT)) AS n_scored
         |       FROM s GROUP BY doc_id),
         |sel AS (SELECT r.doc_id, r.nlp FROM r JOIN km USING (doc_id)
         |        WHERE r.rn <= km.n_scored),
         |gg AS (SELECT doc_id, sum(CAST(round(nlp, 6) AS DECIMAL(28,6))) AS sx
         |       FROM sel GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(km.n_bigrams, 0) AS n_bigrams,
         |       coalesce(km.n_scored, 0) AS n_scored,
         |       floor((2.0 * CAST(CAST(gg.sx * 1000000 AS DECIMAL(38,0)) AS DOUBLE)
         |              + km.n_scored)
         |             / (2.0 * km.n_scored)) / 1000000.0 AS min_k_nll
         |FROM documents d LEFT JOIN km USING (doc_id) LEFT JOIN gg USING (doc_id)
         |""".stripMargin,
    "q_moore_lewis" ->
      // in-domain counts re-derived over the English subset; unseen
      // bigrams/histories fall back to add-one's c = 0 via LEFT joins
      s"""WITH $lmCtes,
         |bci AS (SELECT w1, w2, count(*) AS c12i FROM bg
         |        JOIN documents dd USING (doc_id) WHERE dd.lang = 'en'
         |        GROUP BY 1, 2),
         |unii AS (SELECT w1, count(*) AS c1i FROM
         |           (SELECT unnest($toks) AS w1 FROM documents WHERE lang = 'en') t4
         |         GROUP BY 1),
         |vi AS (SELECT count(DISTINCT w1) AS v FROM
         |         (SELECT unnest($toks) AS w1 FROM documents WHERE lang = 'en') t5),
         |si AS (SELECT bg.doc_id,
         |         -ln(CAST(coalesce(bci.c12i, 0) + 1 AS DOUBLE) /
         |             (coalesce(unii.c1i, 0) + vi.v)) AS nlp
         |       FROM bg LEFT JOIN bci USING (w1, w2)
         |               LEFT JOIN unii USING (w1) CROSS JOIN vi),
         |ai AS (SELECT doc_id, avg(nlp) AS nll_in FROM si GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
         |       round(ai.nll_in, 6) AS nll_in, round(a.nll, 6) AS nll_gen,
         |       round(a.nll - ai.nll_in, 6) AS ml,
         |       round(a.nll - ai.nll_in, 6) > 0 AS selected
         |FROM documents d LEFT JOIN a USING (doc_id) LEFT JOIN ai USING (doc_id)
         |""".stripMargin,
    "q_doremi_step" ->
      // means pinned to 6 dp before subtraction/exp; exp outputs pinned to
      // 9 dp and normalized by an exact DECIMAL(28,9) sum — the only FP ops
      // on unpinned values are divisions of identical doubles
      s"""WITH $lmCtes,
         |dm AS (SELECT d.source AS domain, count(*) AS n_docs,
         |              round(avg(a.nll), 6) AS mean_nll
         |       FROM documents d JOIN a USING (doc_id) GROUP BY 1),
         |ov AS (SELECT round(avg(nll), 6) AS mean_all FROM a),
         |ex AS (SELECT domain, n_docs, mean_nll,
         |         round(greatest(mean_nll - mean_all, CAST(0 AS DOUBLE)), 6) AS excess
         |       FROM dm CROSS JOIN ov),
         |wr AS (SELECT *, round(exp(excess), 9) AS w_raw FROM ex),
         |tz AS (SELECT CAST(sum(CAST(w_raw AS DECIMAL(28,9))) AS DOUBLE) AS z,
         |              count(*) AS n_domains FROM wr)
         |SELECT domain, CAST(n_docs AS BIGINT) AS n_docs, mean_nll, excess,
         |       round((1 - CAST(0.01 AS DOUBLE)) * (w_raw / z)
         |             + CAST(0.01 AS DOUBLE) / n_domains, 6) AS weight
         |FROM wr CROSS JOIN tz
         |""".stripMargin,
    "q_lm_kneser_ney" ->
      // same bigram CTEs as the add-one gate; the KN probability is written
      // in the engine's exact operation order (D=0.75 is binary-exact, so
      // c12 - D is exact in both engines)
      s"""WITH $knCtes
         |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
         |       round(a.nll, 6) AS nll
         |FROM documents d LEFT JOIN a USING (doc_id)
         |""".stripMargin,
    "q_ppl_buckets" ->
      // same double literals as the engine's percentile call; boundaries
      // interpolate strictly between data points, so <= cannot flip
      s"""WITH $lmCtes,
         |r AS (SELECT d.doc_id, round(a.nll, 6) AS nll
         |      FROM documents d JOIN a USING (doc_id)),
         |b AS (SELECT quantile_cont(nll, 0.3333333333333333) AS b1,
         |             quantile_cont(nll, 0.6666666666666666) AS b2 FROM r)
         |SELECT doc_id, nll,
         |       CASE WHEN nll <= b1 THEN 'head'
         |            WHEN nll <= b2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r CROSS JOIN b
         |""".stripMargin,
    "q_ppl_buckets_kn" ->
      // KN CTEs feeding the identical tercile construction
      s"""WITH $knCtes,
         |r AS (SELECT d.doc_id, round(a.nll, 6) AS nll
         |      FROM documents d JOIN a USING (doc_id)),
         |b AS (SELECT quantile_cont(nll, 0.3333333333333333) AS b1,
         |             quantile_cont(nll, 0.6666666666666666) AS b2 FROM r)
         |SELECT doc_id, nll,
         |       CASE WHEN nll <= b1 THEN 'head'
         |            WHEN nll <= b2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r CROSS JOIN b
         |""".stripMargin,
    "q_vocab_stats" ->
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1)
         |SELECT token, n,
         |       CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
         |FROM c QUALIFY rank <= 50
         |""".stripMargin,
    // brute-force exact heavy hitters; the Spark side must agree although
    // it never shuffles the full vocabulary (MG candidates + recount).
    // freq·100 > n in integer arithmetic — no float threshold either side
    "q_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |n AS (SELECT count(*) AS n FROM tok),
         |c AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1)
         |SELECT token, freq FROM c, n WHERE freq * 100 > n ORDER BY token
         |""".stripMargin,
    // rebuild the identical 3x16 counter matrix cell for cell (same
    // md5-prefix bucket hash), then min over the 3 probed cells
    "q_cms_freq" ->
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |q AS (SELECT DISTINCT unnest($toks) AS token FROM documents WHERE doc_id % 17 = 4),
         |rows_ AS (SELECT unnest([0, 1, 2]) AS r),
         |cells AS (SELECT r,
         |    CAST(CAST(CAST(('0x' || substr(md5('cms' || r || '#' || token), 1, 15)) AS UBIGINT) AS BIGINT) % 16 AS BIGINT) AS c,
         |    count(*) AS cnt
         |  FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
         |probes AS (SELECT token, r,
         |    CAST(CAST(CAST(('0x' || substr(md5('cms' || r || '#' || token), 1, 15)) AS UBIGINT) AS BIGINT) % 16 AS BIGINT) AS c
         |  FROM q CROSS JOIN rows_),
         |est AS (SELECT p.token, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
         |  FROM probes p LEFT JOIN cells USING (r, c) GROUP BY 1),
         |ex AS (SELECT token, count(*) AS "exact" FROM tok JOIN q USING (token) GROUP BY 1)
         |SELECT token, est, "exact" FROM est JOIN ex USING (token) ORDER BY token
         |""".stripMargin,
    // greedy longest-match walk: ml = longest kept piece per (word, start);
    // the recursion advances the cursor by ml (or 1 as [UNK]); usage card
    // aggregates per-use rows exactly like the engine's explode
    "q_wordpiece_encode" ->
      s"""WITH RECURSIVE $unigramCtes,
         |ml AS (
         |  SELECT s.word, s.j, CAST(max(s.l) AS INT) AS ml
         |  FROM (SELECT word, j, l, substr(word, j + 1, l) AS piece
         |        FROM spl WHERE j + l <= length(word)) s
         |  JOIN kept k USING (piece) GROUP BY 1, 2),
         |g AS (
         |  SELECT word, freq, CAST(0 AS INT) AS pos, CAST(NULL AS VARCHAR) AS piece FROM w
         |  UNION ALL
         |  SELECT g.word, g.freq,
         |         g.pos + CAST(coalesce(ml.ml, 1) AS INT),
         |         CASE WHEN ml.ml IS NULL THEN '[UNK]'
         |              ELSE substr(g.word, g.pos + 1, ml.ml) END
         |  FROM g LEFT JOIN ml ON ml.word = g.word AND ml.j = g.pos
         |  WHERE g.pos < length(g.word))
         |SELECT piece, CAST(count(DISTINCT word) AS BIGINT) AS n_words,
         |       CAST(sum(freq) AS BIGINT) AS uses
         |FROM g WHERE piece IS NOT NULL
         |GROUP BY 1 ORDER BY uses DESC, piece LIMIT 50
         |""".stripMargin,
    "q_unigram_step" ->
      s"""WITH RECURSIVE $unigramCtes
         |SELECT f.word, f.freq, array_to_string(s.ps, '|') AS seg,
         |       CAST(len(s.ps) AS INT) AS n_pieces,
         |       f.scores[CAST(f.n AS INT) + 1] AS score_scaled
         |FROM fin f JOIN seg s USING (word) ORDER BY word
         |""".stripMargin,
    "q_unigram_encode" ->
      s"""WITH RECURSIVE $unigramCtes,
         |np AS (SELECT f.word, CAST(len(s.ps) AS INT) AS n_pieces
         |       FROM fin f JOIN seg s USING (word)),
         |tok AS (SELECT doc_id, unnest($toks) AS word FROM documents)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(n_pieces) AS BIGINT) AS n_subwords
         |FROM tok JOIN np USING (word)
         |WHERE length(word) > 0
         |GROUP BY doc_id ORDER BY doc_id
         |""".stripMargin,
    "q_unigram_mstep" ->
      s"""WITH RECURSIVE $unigramCtes,
         |e AS (SELECT unnest(s.ps) AS piece, f.freq
         |      FROM fin f JOIN seg s USING (word))
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS e_cnt
         |FROM e GROUP BY piece ORDER BY piece
         |""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
         |  len($toks) AS n_tokens,
         |  len(list_distinct($toks)) AS n_distinct,
         |  round(CAST(list_aggregate(list_transform($toks, x -> length(x)), 'sum') AS DOUBLE)
         |        / len($toks), 6) AS avg_token_len,
         |  round(CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks), 6) AS ttr
         |FROM documents
         |""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($toks) AS DOUBLE) AS n,
         |    CAST(len(list_distinct($toks)) AS DOUBLE) AS nd,
         |    CAST(len(list_filter($toks, x -> x IN ('the', 'a'))) AS DOUBLE) AS nstop
         |  FROM documents)
         |SELECT doc_id,
         |  round(nstop / n, 6) AS stopword_ratio,
         |  round(greatest(least((least(n / 100.0, 1.0) + nd / n - nstop / n) / 2.0, 1.0), 0.0), 6) AS quality
         |FROM t
         |""".stripMargin,
    "q_lang_id" -> {
      def s(markers: Seq[String]) =
        s"len(list_filter($toks, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"
      val m = graft.text.TextFunctions.langMarkers.toMap
      s"""WITH t AS (SELECT doc_id,
         |    ${s(m("de"))} AS s_de, ${s(m("en"))} AS s_en, ${s(m("es"))} AS s_es,
         |    ${s(m("fr"))} AS s_fr, ${s(m("zh"))} AS s_zh
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
         |       WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
         |       WHEN s_es > greatest(s_de, s_en) THEN 'es'
         |       WHEN s_en > s_de THEN 'en'
         |       ELSE 'de' END AS pred_lang
         |FROM t
         |""".stripMargin
    },
    "q_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp,
         |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS bag_fp
         |FROM documents
         |""".stripMargin,
    "q_text_tokens" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '${graft.text.TextFunctions.BPE_PATTERN}')) AS n_bpe_tokens,
         |  round(CASE WHEN length(replace(text, ' ', '')) = 0 THEN 0
         |        ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |             / length(replace(text, ' ', '')) END, 6) AS punct_ratio
         |FROM documents
         |""".stripMargin,
    "q_rolling_fingerprint" -> {
      import graft.text.TextFunctions.{rollPowers, ROLL_P}
      val pw = rollPowers(1024).zipWithIndex
        .map { case (bp, pos) => s"($pos, $bp)" }.mkString(", ")
      s"""WITH pw(pos, bp) AS (VALUES $pw),
         |tk AS (SELECT doc_id,
         |              generate_subscripts($toks, 1) - 1 AS pos,
         |              unnest($toks) AS tok
         |       FROM documents),
         |h AS (SELECT doc_id, pos,
         |             CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT) % $ROLL_P AS h
         |      FROM tk)
         |SELECT h.doc_id,
         |       CAST(sum(h.h * pw.bp % $ROLL_P) % $ROLL_P AS BIGINT) AS fingerprint
         |FROM h JOIN pw ON pw.pos = h.pos GROUP BY h.doc_id
         |""".stripMargin
    },
    "q_bm25_topk" ->
      s"""WITH $bm25Ctes
         |SELECT query_id, doc_id, score, rnk FROM r WHERE rnk <= 10
         |""".stripMargin,
    // identical semantics and oracle — only the PHYSICAL layout differs
    // (on-disk term-bucketed postings/idf + co-located zero-shuffle probe)
    "q_bm25_persistent" ->
      s"""WITH $bm25Ctes
         |SELECT query_id, doc_id, score, rnk FROM r WHERE rnk <= 10
         |""".stripMargin,
    "q_phrase_search" ->
      // anchor-vote replay: a (posting, phrase-term) row votes for anchor
      // pos − i; an anchor with 4 votes is a verbatim 4-gram match
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |tk AS (SELECT doc_id, generate_subscripts($toks, 1) - 1 AS pos,
         |              unnest($toks) AS term
         |       FROM sparsedocs),
         |q AS (SELECT doc_id AS query_id, list_slice($toks, 1, 4) AS qt
         |      FROM sparsedocs WHERE doc_id % 97 = 3),
         |qe AS (SELECT query_id, generate_subscripts(qt, 1) - 1 AS qi,
         |              unnest(qt) AS term
         |       FROM q),
         |v AS (SELECT qe.query_id, tk.doc_id, tk.pos - qe.qi AS anchor
         |      FROM tk JOIN qe USING (term) WHERE tk.pos - qe.qi >= 0),
         |an AS (SELECT query_id, doc_id, anchor, count(*) AS nv FROM v GROUP BY 1, 2, 3),
         |m AS (SELECT query_id, doc_id, anchor FROM an WHERE nv = 4)
         |SELECT query_id, doc_id, count(*) AS n_hits, min(anchor) AS first_pos
         |FROM m GROUP BY 1, 2
         |""".stripMargin,
    "q_drift_card" ->
      // exact cross-products a = (cp+1)(nq+V), b = (cq+1)(np+V) over the
      // common denominator; TV entirely in decimals + one division, KL
      // terms pinned at 9 dp and summed as DECIMAL(38,9)
      s"""WITH o AS (SELECT source AS grp, unnest($toks) AS word FROM documents WHERE doc_id % 2 = 0),
         |nn AS (SELECT source AS grp, unnest($toks) AS word FROM documents WHERE doc_id % 2 = 1),
         |co AS (SELECT grp, word, count(*) AS cq FROM o GROUP BY 1, 2),
         |cn AS (SELECT grp, word, count(*) AS cp FROM nn GROUP BY 1, 2),
         |j AS (SELECT coalesce(co.grp, cn.grp) AS grp, coalesce(co.word, cn.word) AS word,
         |             coalesce(cp, 0) AS cp, coalesce(cq, 0) AS cq
         |      FROM co FULL OUTER JOIN cn ON co.grp = cn.grp AND co.word = cn.word),
         |tt AS (SELECT grp, sum(cq) AS nq, sum(cp) AS np, count(*) AS v FROM j GROUP BY 1),
         |t AS (SELECT j.grp, cp, cq, tt.nq, tt.np, tt.v,
         |             tt.np + tt.v AS dp, tt.nq + tt.v AS dq
         |      FROM j JOIN tt USING (grp)),
         |w AS (SELECT grp, v, nq, np, dp, dq,
         |        CAST(cp + 1 AS DECIMAL(19,0)) * CAST(dq AS DECIMAL(19,0)) AS a,
         |        CAST(cq + 1 AS DECIMAL(19,0)) * CAST(dp AS DECIMAL(19,0)) AS b,
         |        CAST(cp + 1 AS DOUBLE) / CAST(dp AS DOUBLE) AS pw
         |      FROM t),
         |x AS (SELECT grp, v, nq, np, dp, dq, abs(a - b) AS tvnum,
         |        CAST(round(pw * ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)), 9) AS DECIMAL(38,9)) AS klterm
         |      FROM w),
         |g AS (SELECT grp AS source, max(v) AS v, max(nq) AS n_old, max(np) AS n_new,
         |        max(dp) AS dpv, max(dq) AS dqv, sum(tvnum) AS tvsum, sum(klterm) AS klsum
         |      FROM x GROUP BY 1)
         |SELECT source, v, n_old, n_new,
         |  round(CAST(tvsum AS DOUBLE)
         |        / CAST(CAST(dpv AS DECIMAL(19,0)) * CAST(dqv AS DECIMAL(19,0)) AS DOUBLE) / 2, 6) AS tv,
         |  round(CAST(klsum AS DOUBLE), 6) AS kl
         |FROM g
         |""".stripMargin,
    "q_stream_drift" ->
      // exact cross-products a = (cp+1)(nq+V), b = (cq+1)(np+V) over the
      // common denominator; TV entirely in decimals + one division, KL
      // terms pinned at 9 dp and summed as DECIMAL(38,9)
      s"""WITH o AS (SELECT source AS grp, unnest($toks) AS word FROM documents WHERE doc_id % 2 = 0),
         |nn AS (SELECT source AS grp, unnest($toks) AS word FROM documents WHERE doc_id % 2 = 1),
         |co AS (SELECT grp, word, count(*) AS cq FROM o GROUP BY 1, 2),
         |cn AS (SELECT grp, word, count(*) AS cp FROM nn GROUP BY 1, 2),
         |j AS (SELECT coalesce(co.grp, cn.grp) AS grp, coalesce(co.word, cn.word) AS word,
         |             coalesce(cp, 0) AS cp, coalesce(cq, 0) AS cq
         |      FROM co FULL OUTER JOIN cn ON co.grp = cn.grp AND co.word = cn.word),
         |tt AS (SELECT grp, sum(cq) AS nq, sum(cp) AS np, count(*) AS v FROM j GROUP BY 1),
         |t AS (SELECT j.grp, cp, cq, tt.nq, tt.np, tt.v,
         |             tt.np + tt.v AS dp, tt.nq + tt.v AS dq
         |      FROM j JOIN tt USING (grp)),
         |w AS (SELECT grp, v, nq, np, dp, dq,
         |        CAST(cp + 1 AS DECIMAL(19,0)) * CAST(dq AS DECIMAL(19,0)) AS a,
         |        CAST(cq + 1 AS DECIMAL(19,0)) * CAST(dp AS DECIMAL(19,0)) AS b,
         |        CAST(cp + 1 AS DOUBLE) / CAST(dp AS DOUBLE) AS pw
         |      FROM t),
         |x AS (SELECT grp, v, nq, np, dp, dq, abs(a - b) AS tvnum,
         |        CAST(round(pw * ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)), 9) AS DECIMAL(38,9)) AS klterm
         |      FROM w),
         |g AS (SELECT grp AS source, max(v) AS v, max(nq) AS n_old, max(np) AS n_new,
         |        max(dp) AS dpv, max(dq) AS dqv, sum(tvnum) AS tvsum, sum(klterm) AS klsum
         |      FROM x GROUP BY 1)
         |SELECT source, v, n_old, n_new,
         |  round(CAST(tvsum AS DOUBLE)
         |        / CAST(CAST(dpv AS DECIMAL(19,0)) * CAST(dqv AS DECIMAL(19,0)) AS DOUBLE) / 2, 6) AS tv,
         |  round(CAST(klsum AS DOUBLE), 6) AS kl
         |FROM g
         |""".stripMargin,
    "q_source_overlap" ->
      // the oracle self-joins on the gram key (fine at oracle scale); the
      // engine expands bounded per-gram source sets instead — same matrix
      s"""WITH tk AS (SELECT source, $toks AS t FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |sg AS (SELECT DISTINCT source, array_to_string(list_slice(t, i + 1, i + 8), ' ') AS g
         |       FROM tk JOIN pos ON i + 8 <= len(t)),
         |ps AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY 1),
         |pr AS (SELECT a.g, a.source AS source_a, b.source AS source_b
         |       FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source),
         |m AS (SELECT source_a, source_b, count(*) AS n_shared FROM pr GROUP BY 1, 2)
         |SELECT m.source_a, m.source_b, CAST(n_shared AS BIGINT) AS n_shared,
         |       round(CAST(n_shared AS DOUBLE) / (pa.n_grams + pb.n_grams - n_shared), 6) AS jaccard
         |FROM m JOIN ps pa ON m.source_a = pa.source
         |       JOIN ps pb ON m.source_b = pb.source
         |""".stripMargin,
  )
}
