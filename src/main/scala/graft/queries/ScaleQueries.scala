package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.{CrossVal, PanelSplit}
import graft.metrics.Metrics
import graft.ml.{MeanRegressor, ThresholdClassifier}
import graft.ops.Skew
import graft.sources.Tables

/** Scale-pattern queries: salted skew-aware aggregation, probabilistic
  * scoring (log-loss/Brier over a real probability response), and the
  * panel-CV workflow on the largest table (lineitem, 83 monthly periods).
  */
object ScaleQueries extends QueryPack {

  /** Salted two-stage stats by event_type — identical results to the plain
    * GROUP BY oracle; the plan spreads each hot key over 16 partial groups.
    */
  private def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedStats(PanelQueries.events(spark, dir), Seq("event_type"), "value")
      .select(col("event_type"), col("n"),
        round(col("sum_value"), 4).as("sum_value"),
        round(col("min_value"), 6).as("min_value"),
        round(col("max_value"), 6).as("max_value"))

  /** Per-fold log-loss + Brier of the ThresholdClassifier's probability
    * response (logistic distance to the fold's threshold).
    */
  private def probScores(spark: SparkSession, dir: String): DataFrame = {
    val df = PanelQueries.events(spark, dir)
      .withColumn("label", (col("event_id") % 2).cast("double"))
    val ps = PanelQueries.panelSplit(df)
    val est = new ThresholdClassifier().setFeatureCol("value").setLabelCol("label")
    val (preds, _) = CrossVal.crossValFitPredict(est, df, ps, labelCol = "label")
    val cached = preds.cache()
    Seq("log_loss", "brier_score").map { m =>
      Metrics.perFoldScores(cached, m, "label", "probability")
        .select(col("fold"), lit(m).as("metric"), round(col("score"), 6).as("score"))
    }.reduce(_ unionByName _)
  }

  /** Monthly panel CV over lineitem (~600k rows at sf0.1, 83 periods):
    * per-fold MSE of the mean regressor on l_extendedprice, nSplits=6.
    */
  private def cvLineitem(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.cached(spark, dir, "lineitem")
      .withColumn("period", to_date(date_trunc("month", col("l_shipdate"))))
    val ps = PanelSplit(df, "period", nSplits = 6, testSize = 1)
    val est = new MeanRegressor().setLabelCol("l_extendedprice")
    val (preds, _) = CrossVal.crossValFitPredict(est, df, ps, labelCol = "l_extendedprice")
    Metrics.perFoldScores(preds, "mean_squared_error", "l_extendedprice", "prediction")
      .select(col("fold"), round(col("score"), 4).as("score"))
  }

  /** Deterministic hash sampling — reproducible train/holdout splits at any
    * scale: keep rows whose 60-bit content hash lands in the first `pct`
    * buckets of 100. No RNG state, no seed coordination across executors;
    * the sample is a pure function of the key.
    */
  private def hashSample(spark: SparkSession, dir: String): DataFrame = {
    val ev = PanelQueries.events(spark, dir)
    ev.filter(pmod(graft.text.TextFunctions.hash60(col("event_id").cast("string")), lit(100)) < 10)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"), round(sum(col("value")), 4).as("sum_value"))
  }

  /** Stratified deterministic sampling — per-stratum rates (rebalancing a
    * corpus toward target language shares) with the same RNG-free hash
    * discipline as [[hashSample]]: membership is a pure function of the
    * doc id, so the sample is reproducible on any cluster layout and
    * composable with incremental ingest (new rows don't perturb old
    * membership). The rate lookup is a CASE expression — no join, no
    * broadcast, stays in whole-stage codegen.
    */
  private def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.cached(spark, dir, "documents")
    val rates = Seq("en" -> 50, "de" -> 30, "fr" -> 30, "es" -> 20, "zh" -> 20)
    val rate = rates.foldLeft(lit(0)) { case (acc, (l, pct)) =>
      when(col("lang") === l, lit(pct)).otherwise(acc)
    }
    d.filter(pmod(graft.text.TextFunctions.hash60(col("doc_id").cast("string")), lit(100)) < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sum_chars"))
  }

  /** The curation pipeline end to end — what this engine exists for:
    * near-dup clusters → one canonical doc per cluster → quality filter →
    * corpus stats per language. Composes dedup (MinHash-LSH pair generation
    * + connected components), text quality, and aggregation in one plan.
    * The pair head is the SimHash banded multi-index with exact Jaccard
    * verify — measured 100% pair recall and exact truth components on this
    * dense-similarity corpus at both gate scales (SCALE.md "Dedup head
    * selection"); `q_dedup_clusters_capped` keeps the sparse-corpus
    * capped-LSH head oracled.
    */
  private def curation(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.text.TextFunctions
    val docs = graft.sources.Tables.cached(spark, dir, "documents")
    val pairs = Dedup.simhashJaccardPairs(docs, "doc_id", "text", n = 1,
      threshold = DedupQueries.CLUSTER_THR).select("id_a", "id_b")
    val clusters = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
    val canonical = clusters.filter(col("id") === col("cluster")).select(col("id").as("doc_id"))
    docs.join(canonical, "doc_id")
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .filter(col("quality") >= 0.3)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 6).as("avg_quality"),
        sum(col("n_chars")).as("total_chars"))
  }

  /** Curation pipeline v2 — the ROUND-4 operator set composed end to end in
    * one plan, the shape a real corpus release runs:
    *
    *   PII injection (deterministic spans; stands in for dirty input)
    *     → C4/Gopher heuristic filter on the dirty text
    *     → corpus-LM quality cut (bigram NLL ≤ [[NLL_MAX]], LM trained on
    *       the raw corpus in the same plan)
    *     → PII redaction
    *     → exact dedup on the REDACTED text (min-id canonical)
    *     → GPT-style packing of the survivors (budget 128, 4 shards)
    *
    * Output: per shard (n_docs, n_tokens, n_packs) — the corpus-release
    * manifest. Every stage is one of the individually-gated operators, so
    * this gate proves they COMPOSE without plan pathologies: the filter,
    * scoring join, dedup groupBy, and packing window chain in a single
    * lazy DataFrame with no driver materialization between stages.
    */
  /** Stages 1–4 of [[curationV2]] — PII injection (dirty-input fixture),
    * C4/Gopher filter, LM-NLL cut against a PRE-TRAINED score frame,
    * redaction. Per-document given the static `nll` side, which is what
    * makes the streamed composition ([[q_stream_curation]]) provably equal
    * to the batch run however ingestion is chunked.
    */
  private[queries] def curationPerDoc(docs: DataFrame, nll: DataFrame,
      nllMax: Double = NLL_MAX): DataFrame = {
    import graft.text.Heuristics
    val injected = docs.withColumn("text2", concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 3, lit(" 40414243444546")).otherwise(lit("")),
      when(col("doc_id") % 13 === 5, lit(" 10.0.255.1")).otherwise(lit(""))))
    val filtered = injected.filter(Heuristics.keepExpr(col("text2")))
    // the cut compares the 6-dp-PINNED value on both engines: avg()
    // summation order differs between Spark and DuckDB, so an unrounded
    // compare could flip a doc sitting within ulps of NLL_MAX
    val scored = filtered.join(nll, Seq("doc_id"))
      .filter(col("nll").isNotNull && round(col("nll"), 6) <= nllMax)
    scored.withColumn("rtext", graft.text.Pii.redact(col("text2")))
  }

  /** Stages 5–6 of [[curationV2]] — the release-CLOSE step over the full
    * accumulated survivor set: exact dedup on redacted text (min-id
    * canonical) + GPT-style packing → per-shard manifest. Corpus-global by
    * nature (a doc's canonicity and pack offsets depend on every other
    * survivor), so it runs once per release, not per micro-batch.
    */
  private[queries] def curationClose(redacted: DataFrame): DataFrame = {
    import graft.text.Packing
    val canonical = redacted
      .groupBy(md5(col("rtext")).as("__h")).agg(min(col("doc_id")).as("doc_id"))
    val survivors = redacted.join(canonical.select("doc_id"), Seq("doc_id"))
    Packing.packOffsets(survivors, "doc_id", "rtext", budget = 128, nShards = 4)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("pack_id")) + 1).as("n_packs"))
  }

  private def curationV2(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.LmScore
    val d = Tables.cached(spark, dir, "documents")
    val nll = LmScore.nllPerDoc(d, "doc_id", "text").withColumnRenamed("id", "doc_id")
    curationClose(curationPerDoc(d, nll))
  }

  /** Curation pipeline v3 — the ROUND-5 operator set composed into the
    * release path: the LM cut upgrades from add-one to Kneser–Ney (the
    * smoothing CCNet's filter actually uses) and the release ships a
    * LEAKAGE-FREE train/holdout partition with per-side packing:
    *
    *   inject → C4 filter → KN-LM cut (round-6 nll ≤ [[KN_NLL_MAX]])
    *     → redact → exact dedup (min-id canonical)
    *     → cluster split over the REDACTED survivors (capped-LSH + CC;
    *       split = md5-hash of the cluster label, so near-dup twins never
    *       straddle the boundary)
    *     → packing per (split, shard) — each side a self-contained pack
    *       sequence that ships and resumes independently
    *
    * Output: per (split, shard) release manifest. The survivor frame is
    * CHECKPOINTED between the per-doc phase and the corpus-global close —
    * deliberately: the cluster split's LSH banding references the
    * survivors in four self-join branches, and without the barrier each
    * branch re-runs the whole filter/KN-score/redact chain (measured 130 s
    * vs ~20 s at sf0.1). A real release materializes exactly here too —
    * the cleaned corpus is the artifact both sides consume.
    */
  private def curationV3(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.text.{LmScore, Packing}
    val d = Tables.cached(spark, dir, "documents")
    val nll = LmScore.nllKneserNey(d, "doc_id", "text").withColumnRenamed("id", "doc_id")
    val redacted = curationPerDoc(d, nll, nllMax = KN_NLL_MAX)
    val canonical = redacted
      .groupBy(md5(col("rtext")).as("__h")).agg(min(col("doc_id")).as("doc_id"))
    val survivors = redacted.join(canonical.select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("rtext"))
      .localCheckpoint()
    val split = Dedup.clusterSplit(survivors, "doc_id", "rtext",
        DedupQueries.N, DedupQueries.K, DedupQueries.BANDS,
        DedupQueries.CLUSTER_THR, Some(DedupQueries.BUCKET_CAP), holdoutPct = 20)
      .select(col("id").as("doc_id"), col("split"))
    Packing.packOffsetsKeyed(survivors.join(split, Seq("doc_id")),
        "doc_id", "rtext", budget = 128, nShards = 4, keyCol = col("split"))
      .groupBy(col("pkey").as("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("pack_id")) + 1).as("n_packs"))
  }

  /** KN-LM cut for [[curationV3]]: ~p80 of the Kneser–Ney nll band (the
    * corpus' KN scores sit lower than add-one's — less mass stolen from
    * seen bigrams than Laplace steals). Nearest doc values at all three
    * scale factors sit ≥ 1.5e-6 from the cut AFTER the 6-dp pin.
    */
  private val KN_NLL_MAX = 3.41

  /** [[curationV2]] deployed ON INGEST (round-5 verdict item): the LM is
    * trained once on the static corpus, the per-document stages run inside
    * `foreachBatch` as documents arrive, and the corpus-global release
    * close (dedup + packing) runs once over the accumulated survivors —
    * the batch oracle verifies the whole path verbatim.
    */
  private def streamCurationQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.LmScore
    val d = Tables.cached(spark, dir, "documents")
    val nll = LmScore.nllPerDoc(d, "doc_id", "text").withColumnRenamed("id", "doc_id").cache()
    nll.count() // train the LM once, BEFORE the stream starts
    graft.streaming.StreamingOps.streamReleaseCompose(spark, dir,
      batch => curationPerDoc(batch, nll),
      redacted => curationClose(redacted))
  }

  /** LM-NLL cut for [[curationV2]]: sits in the corpus's upper tail
    * (~p80 of the tight nll band), ≫ cross-engine summation drift away
    * from any document's value.
    */
  private val NLL_MAX = 3.43

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation_v2" -> (curationV2 _),
    "q_salted_agg" -> (saltedAgg _),
    "q_metric_log_loss" -> (probScores _),
    "q_cv_lineitem" -> (cvLineitem _),
    "q_sample_hash" -> (hashSample _),
    "q_sample_stratified" -> (stratifiedSample _),
    // domain-mixture resampling: acceptance rates derived from target
    // weights + observed token mass (rate_g = min(1, w_g·T/tok_g),
    // T = min_g tok_g/w_g); deterministic hash acceptance, no upsampling
    // token-budget selection: greedy by quality bin until BUDGET_TOKENS,
    // boundary bin hash-sampled — no global sort anywhere
    "q_budget_select" -> ((s, dir) => {
      val d = Tables.cached(s, dir, "documents")
      graft.ops.Budget.selectByBudget(d, "doc_id",
          graft.text.TextFunctions.tokenCount(col("text")),
          graft.text.TextFunctions.qualityScore(col("text")),
          budget = BUDGET_TOKENS)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.text.TextFunctions.tokenCount(col("text"))).as("n_tokens"))
    }),
    "q_sample_mixture" -> ((s, dir) =>
      graft.ops.Mixture.mixtureReport(
        Tables.cached(s, dir, "documents"), "doc_id", "lang",
        graft.text.TextFunctions.tokenCount(col("text")), MIX_WEIGHTS)),
    // deterministic corpus shuffle: reproducible permutation of 0..N-1,
    // two-stage (bucket histogram + within-bucket rank), no global sort
    "q_corpus_shuffle" -> ((s, dir) =>
      graft.ops.CorpusShuffle.shufflePositions(
        Tables.cached(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("shuffle_pos"))),
    "q_curation_pipeline" -> (curation _),
    "q_curation_v3" -> (curationV3 _),
    "q_stream_curation" -> (streamCurationQ _),
    // snapshot-versioning diff: v2 = v1 minus ids ≡0 (mod 7), texts of
    // ids ≡0 (mod 5) appended-to, plus re-keyed copies of ids ≡0 (mod 10).
    // Each side reduces to (key, md5 fingerprint) BEFORE the full-outer
    // join — payloads never shuffle
    // temperature-scaled multilingual rebalancing weights (XLM-R-style,
    // 1/T = 0.5 via IEEE-exact sqrt)
    "q_mixture_temperature" -> ((s, dir) =>
      graft.ops.Mixture.temperatureWeights(
          Tables.cached(s, dir, "documents"), "lang",
          graft.text.TextFunctions.tokenCount(col("text")))
        .orderBy(col("lang"))),
    // UniMax per-language budget allocation: B = 2 epochs of the whole
    // corpus, per-language cap 3 epochs — the sparse tail languages hit
    // the cap, the head language absorbs the water level (B scales with
    // the corpus so the gate exercises both branches at every sf)
    "q_unimax_alloc" -> ((s, dir) => {
      val d = Tables.cached(s, dir, "documents")
      val total = d.agg(sum(graft.text.TextFunctions.tokenCount(col("text"))))
        .head.getLong(0) // one bounded scalar
      graft.ops.UniMax.allocate(d, "lang",
        graft.text.TextFunctions.tokenCount(col("text")),
        budget = 2L * total, maxEpochs = 3)
    }),
    // skew diagnostic: top-10 hottest user_ids by event count — the
    // report that picks salting/broadcast candidates; groupBy +
    // TakeOrdered, no global sort
    "q_skew_report" -> ((s, dir) =>
      graft.ops.Skew.topHotKeys(
        Tables.cached(s, dir, "events"), "user_id", k = 10)),
    // RefinedWeb-style per-domain quota: ≤ 15 docs per source by
    // deterministic hash rank; only over-cap groups are ever windowed
    "q_source_cap" -> ((s, dir) =>
      graft.ops.QuotaCap.capPerGroup(
          Tables.cached(s, dir, "documents"), "doc_id", "source", cap = 15)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),
    "q_snapshot_diff" -> ((s, dir) => {
      import graft.ops.SnapshotDiff
      val a = Tables.cached(s, dir, "documents")
      val b = a.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(a.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      SnapshotDiff.diff(a, b, "doc_id",
          SnapshotDiff.fingerprint(Seq("text", "lang", "source")))
        .orderBy(col("doc_id"))
    }),
  )

  private[queries] val MIX_WEIGHTS = Map(
    "en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  private val BUDGET_TOKENS = 12000L

  /** Shared by `q_curation_v2` and `q_stream_curation` (streamed ≡ batch).
    * inj exposes the dirty text AS `text` so the shared c4Rules strings
    * (which reference bare `text`) apply to it; the LM CTEs read the raw
    * documents table — LM is trained on the original corpus.
    */
  private lazy val curationV2Oracle: String = {
    import graft.text.Pii.{EMAIL, IPV4, LONG_DIGITS}
    s"""WITH inj AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 3 THEN ' 40414243444546' ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 5 THEN ' 10.0.255.1' ELSE '' END AS text
       |  FROM documents),
       |f AS (SELECT doc_id,
       |  ${TextQueries.c4Rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
       |FROM inj),
       |${TextQueries.lmCtes},
       |filt AS (SELECT i.doc_id, i.text FROM inj i
       |         JOIN f ON f.doc_id = i.doc_id
       |           AND f.f_len * f.f_ttr * f.f_meanlen * f.f_stop * f.f_blocklist = 1
       |         JOIN a ON a.doc_id = i.doc_id AND round(a.nll, 6) <= $NLL_MAX),
       |red AS (SELECT doc_id,
       |          regexp_replace(regexp_replace(regexp_replace(text,
       |            '$EMAIL', '<EMAIL>', 'g'), '$IPV4', '<IP>', 'g'),
       |            '$LONG_DIGITS', '<NUM>', 'g') AS rtext
       |        FROM filt),
       |canon AS (SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(rtext)),
       |surv AS (SELECT r.doc_id, r.rtext FROM red r JOIN canon c ON c.doc_id = r.doc_id),
       |pt AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
       |              CAST(len(string_split(rtext, ' ')) AS BIGINT) AS n_tokens FROM surv),
       |po AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset" FROM pt),
       |pp AS (SELECT shard, n_tokens, CAST("offset" // 128 AS BIGINT) AS pack_id FROM po)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(max(pack_id) + 1 AS BIGINT) AS n_packs
       |FROM pp GROUP BY shard
       |""".stripMargin
  }

  /** v3: the v2 per-doc stages with the KN CTEs + the capped-LSH/CC
    * cluster split over redacted survivors + per-(split, shard) packing.
    * Every fragment is a proven piece (knCtes, c4Rules, the redact chain,
    * lshEdgesCtes, the q_sample_hash md5 construction); this assembles
    * them CTE-for-CTE in the engine's operation order.
    */
  private lazy val curationV3Oracle: String = {
    import graft.text.Pii.{EMAIL, IPV4, LONG_DIGITS}
    s"""WITH RECURSIVE inj AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 3 THEN ' 40414243444546' ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 5 THEN ' 10.0.255.1' ELSE '' END AS text
       |  FROM documents),
       |f AS (SELECT doc_id,
       |  ${TextQueries.c4Rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
       |FROM inj),
       |${TextQueries.knCtes},
       |filt AS (SELECT i.doc_id, i.text FROM inj i
       |         JOIN f ON f.doc_id = i.doc_id
       |           AND f.f_len * f.f_ttr * f.f_meanlen * f.f_stop * f.f_blocklist = 1
       |         JOIN a ON a.doc_id = i.doc_id AND round(a.nll, 6) <= $KN_NLL_MAX),
       |red AS (SELECT doc_id,
       |          regexp_replace(regexp_replace(regexp_replace(text,
       |            '$EMAIL', '<EMAIL>', 'g'), '$IPV4', '<IP>', 'g'),
       |            '$LONG_DIGITS', '<NUM>', 'g') AS rtext
       |        FROM filt),
       |canon AS (SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(rtext)),
       |surv AS (SELECT r.doc_id, r.rtext FROM red r JOIN canon c ON c.doc_id = r.doc_id),
       |survt AS (SELECT doc_id, rtext AS text FROM surv),
       |${DedupQueries.lshEdgesCtes(DedupQueries.CLUSTER_THR,
            Some(DedupQueries.BUCKET_CAP), src = "survt")},
       |cc(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM survt
       |  UNION
       |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src),
       |cl AS (SELECT id, min(lbl) AS cluster FROM cc GROUP BY id),
       |sp AS (SELECT id AS doc_id,
       |         CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 100 < 20
       |              THEN 'holdout' ELSE 'train' END AS split
       |       FROM cl),
       |pt AS (SELECT s.doc_id, sp.split, CAST(s.doc_id % 4 AS INT) AS shard,
       |              CAST(len(string_split(s.rtext, ' ')) AS BIGINT) AS n_tokens
       |       FROM surv s JOIN sp USING (doc_id)),
       |po AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset" FROM pt),
       |pp AS (SELECT split, shard, n_tokens, CAST("offset" // 128 AS BIGINT) AS pack_id FROM po)
       |SELECT split, shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(max(pack_id) + 1 AS BIGINT) AS n_packs
       |FROM pp GROUP BY split, shard
       |""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // the Spark side full-outer-joins md5 fingerprints; the oracle replays
    // the snapshot-evolution construction (which ids were dropped /
    // mutated / re-keyed) — statuses must coincide exactly
    "q_mixture_temperature" ->
      """WITH m AS (SELECT lang,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
        |             sum(sqrt(n_tokens)) AS sqt FROM m)
        |SELECT lang, n_tokens,
        |       round(n_tokens / (SELECT tot FROM t), 6) AS share,
        |       round(sqrt(n_tokens) / (SELECT sqt FROM t), 6) AS weight
        |FROM m ORDER BY lang
        |""".stripMargin,
    "q_unimax_alloc" ->
      // all-integer water-filling condition (exact in both engines); the
      // water level t is ONE double division of two exact integers; alloc
      // and epochs 6-dp-pinned, epochs derived from the PINNED alloc
      """WITH per AS (SELECT lang,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |b AS (SELECT CAST(2 * sum(n_tokens) AS BIGINT) AS budget FROM per),
        |r AS (SELECT lang, n_tokens, 3 * n_tokens AS cap,
        |        row_number() OVER (ORDER BY 3 * n_tokens ASC, lang ASC) AS i,
        |        sum(3 * n_tokens) OVER (ORDER BY 3 * n_tokens ASC, lang ASC
        |                                ROWS UNBOUNDED PRECEDING) AS prefix,
        |        count(*) OVER () AS nl
        |      FROM per),
        |c AS (SELECT *, cap * (nl - i + 1) + (prefix - cap) <= (SELECT budget FROM b) AS capped
        |      FROM r),
        |f AS (SELECT sum(CASE WHEN capped THEN 1 ELSE 0 END) AS ncap,
        |             coalesce(max(CASE WHEN capped THEN prefix END), 0) AS prefcap
        |      FROM c),
        |a AS (SELECT lang, n_tokens, CAST(cap AS BIGINT) AS cap, capped,
        |        round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
        |              ELSE CAST((SELECT budget FROM b) - prefcap AS DOUBLE) / (nl - ncap)
        |              END, 6) AS alloc
        |      FROM c CROSS JOIN f)
        |SELECT lang, n_tokens, cap, capped, alloc,
        |       round(alloc / n_tokens, 6) AS epochs
        |FROM a
        |""".stripMargin,
    "q_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM events),
        |r AS (SELECT user_id, n,
        |        CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INT) AS rank
        |      FROM c)
        |SELECT rank, user_id, n, round(n / (SELECT total FROM t), 6) AS share
        |FROM r WHERE rank <= 10
        |""".stripMargin,
    // declarative statement of the cap (window over everything); the
    // engine's two-stage plan must agree exactly. hash60 = first 15 md5
    // hex chars as a 60-bit integer, same construction both engines
    "q_source_cap" ->
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT),
        |             doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 15 ORDER BY doc_id
        |""".stripMargin,
    "q_snapshot_diff" ->
      """SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'removed'
        |                    WHEN doc_id % 5 = 0 THEN 'changed'
        |                    ELSE 'unchanged' END AS status
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'added' AS status
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY doc_id
        |""".stripMargin,
    "q_curation_v2" -> curationV2Oracle,
    "q_curation_v3" -> curationV3Oracle,
    // streamed composition ≡ batch release (LM static, per-doc stages
    // chunk-invariant, close step global) — same oracle verbatim
    "q_stream_curation" -> curationV2Oracle,
    "q_budget_select" ->
      s"""WITH q AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS ntok,
         |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
         |             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
         |             CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE) AS nstop
         |           FROM documents),
         |s AS (SELECT doc_id, lang, ntok,
         |        greatest(least((least(n / 100.0, 1.0) + nd / n - nstop / n) / 2.0, 1.0), 0.0) AS score
         |      FROM q),
         |b AS (SELECT *, CAST(least(floor(score * 100), 99) AS INT) AS bin FROM s),
         |h AS (SELECT bin, CAST(sum(ntok) AS BIGINT) AS tok FROM b GROUP BY bin),
         |cum AS (SELECT bin, tok,
         |          coalesce(sum(tok) OVER (ORDER BY bin DESC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
         |        FROM h),
         |r AS (SELECT bin, CASE WHEN above >= $BUDGET_TOKENS THEN 0.0
         |                       WHEN above + tok <= $BUDGET_TOKENS THEN 1.0
         |                       ELSE CAST($BUDGET_TOKENS - above AS DOUBLE) / tok END AS rate
         |      FROM cum),
         |kept AS (SELECT b.doc_id, b.lang, b.ntok FROM b JOIN r ON r.bin = b.bin
         |         WHERE CAST(CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 1000000
         |               < r.rate * 1000000.0)
         |SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
         |FROM kept GROUP BY lang
         |""".stripMargin,
    "q_sample_mixture" -> {
      val wVals = MIX_WEIGHTS.toSeq.sorted
        .map { case (g, w) => s"('$g', CAST($w AS DOUBLE))" }.mkString(", ")
      s"""WITH w(lang, wt) AS (VALUES $wVals),
         |tok AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS tk
         |        FROM documents GROUP BY lang),
         |tt AS (SELECT min(tk / wt) AS t FROM tok JOIN w USING (lang)),
         |rates AS (SELECT lang, least(1.0, wt * t / tk) AS rate
         |          FROM tok JOIN w USING (lang) CROSS JOIN tt)
         |SELECT d.lang, count(*) AS n_docs,
         |       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
         |       round(max(r.rate), 6) AS rate
         |FROM documents d JOIN rates r ON r.lang = d.lang
         |WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 1000000
         |      < r.rate * 1000000.0
         |GROUP BY d.lang
         |""".stripMargin
    },
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 4) AS sum_value,
        |  round(min(value), 6) AS min_value,
        |  round(max(value), 6) AS max_value
        |FROM events GROUP BY event_type
        |""".stripMargin,
    "q_metric_log_loss" ->
      s"""${PanelQueries.prelude},
         |train AS (SELECT b.split AS fold, avg(ev.value) AS thr
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold, CAST(ev.event_id % 2 AS DOUBLE) AS y,
         |                greatest(least(1.0 / (1.0 + exp(-(ev.value - tr.thr) / 10.0)), 1 - 1e-15), 1e-15) AS p
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start
         |         JOIN train tr ON tr.fold = b.split)
         |SELECT fold, metric, round(score, 6) AS score FROM (
         |  SELECT fold, 'log_loss' AS metric,
         |         -avg(y * ln(p) + (1 - y) * ln(1 - p)) AS score FROM test GROUP BY fold
         |  UNION ALL
         |  SELECT fold, 'brier_score', avg(power(y - p, 2)) FROM test GROUP BY fold)
         |""".stripMargin,
    "q_sample_hash" ->
      """SELECT event_type, count(*) AS n_sampled, round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 100 < 10
        |GROUP BY event_type
        |""".stripMargin,
    "q_corpus_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5('0#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
        |FROM documents),
        |b AS (SELECT doc_id, h, CAST(h % 1024 AS INT) AS bucket FROM h),
        |o AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
        |off AS (SELECT bucket,
        |          CAST(coalesce(sum(n) OVER (ORDER BY bucket
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
        |        FROM o),
        |r AS (SELECT doc_id, bucket,
        |        CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS BIGINT) - 1 AS rnk
        |      FROM b)
        |SELECT r.doc_id, CAST(off.o + r.rnk AS BIGINT) AS shuffle_pos
        |FROM r JOIN off USING (bucket)
        |""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 100
        |      < (CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'fr' THEN 30
        |                   WHEN 'es' THEN 20 WHEN 'zh' THEN 20 ELSE 0 END)
        |GROUP BY lang
        |""".stripMargin,
    "q_curation_pipeline" ->
      s"""WITH RECURSIVE ${DedupQueries.simhashEdgesCtes(DedupQueries.CLUSTER_THR)},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src),
         |clusters AS (SELECT id, min(lbl) AS cluster FROM cc GROUP BY id),
         |canonical AS (SELECT id AS doc_id FROM clusters WHERE id = cluster),
         |q AS (SELECT d.doc_id, d.lang, d.n_chars,
         |        CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS n,
         |        CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE) AS nd,
         |        CAST(len(list_filter(string_split(d.text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE) AS nstop
         |      FROM documents d JOIN canonical USING (doc_id)),
         |scored AS (SELECT doc_id, lang, n_chars,
         |             greatest(least((least(n / 100.0, 1.0) + nd / n - nstop / n) / 2.0, 1.0), 0.0) AS quality
         |           FROM q)
         |SELECT lang, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM scored WHERE quality >= 0.3
         |GROUP BY lang
         |""".stripMargin,
    "q_cv_lineitem" ->
      """WITH p AS (SELECT DISTINCT CAST(date_trunc('month', l_shipdate) AS DATE) AS period FROM lineitem),
        |r AS (SELECT period, row_number() OVER (ORDER BY period) - 1 AS pos FROM p),
        |nn AS (SELECT count(*) AS n FROM p),
        |bounds AS (SELECT i AS split, (SELECT n FROM nn) - (6 - i) AS test_start
        |           FROM (VALUES (0),(1),(2),(3),(4),(5)) t(i)),
        |li AS (SELECT l.l_extendedprice AS y, r.pos
        |       FROM lineitem l JOIN r ON CAST(date_trunc('month', l.l_shipdate) AS DATE) = r.period),
        |train AS (SELECT b.split AS fold, avg(li.y) AS mu
        |          FROM li JOIN bounds b ON li.pos < b.test_start GROUP BY b.split)
        |SELECT b.split AS fold, round(avg(power(li.y - tr.mu, 2)), 4) AS score
        |FROM li JOIN bounds b ON li.pos = b.test_start
        |JOIN train tr ON tr.fold = b.split
        |GROUP BY b.split
        |""".stripMargin,
  )
}
