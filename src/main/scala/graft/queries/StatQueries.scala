package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.EntropyExpressions
import graft.ops.{Quantiles, WeightedSample}
import graft.sources.Tables
import graft.text.TextFunctions

/** Corpus-statistics gates: exact distributed quantiles by histogram
  * refinement ([[graft.ops.Quantiles]]), quantile-threshold filtering,
  * weighted sampling without replacement ([[graft.ops.WeightedSample]]),
  * and the character-entropy quality signal
  * ([[graft.functions.StringEntropy]]). Every rank, threshold, sampling
  * key, and entropy term is replayed exactly by the DuckDB oracle.
  */
object StatQueries extends QueryPack {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.cached(spark, dir, "documents")

  private val QS_TOK = Seq(0.25, 0.5, 0.9, 0.99)
  private val QS_PRICE = Seq(0.5, 0.95, 0.999)

  /** Exact per-language (plus ALL) quantiles of BPE token counts — the
    * single-round regime of the refinement (token range ≪ one bucket pass).
    */
  private def tokenQuantilesQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val tok = TextFunctions.bpeTokenCount(col("text")).cast("long")
    val base = d.select(col("lang").as("g"), tok.as("v"))
      .unionByName(d.select(lit("ALL").as("g"), tok.as("v")))
    Quantiles.exactQuantiles(base, col("g"), col("v"), QS_TOK)
  }

  /** Exact per-returnflag quantiles of lineitem price cents — the
    * multi-round regime: a ~10^7-wide integer range forces three
    * narrow-and-rescan rounds at 1024 buckets, exercising the exact-integer
    * interval arithmetic the way a 100 TB value domain would.
    */
  private def priceQuantilesQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.cached(spark, dir, "lineitem")
    Quantiles.exactQuantiles(li, col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long"), QS_PRICE)
  }

  /** Quantile-threshold filter: drop each source's shortest quartile
    * (token count < per-source p25), then account survivors — the
    * aggregate-only threshold feeding a literal-CASE scan; no join, window,
    * or sort touches data rows.
    */
  private def quantileFilterQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("source"), col("doc_id"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("v"))
    Quantiles.filterAboveQuantile(d, col("source"), col("v"), 0.25)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("v").as("tok_kept"))
      .orderBy("source")
  }

  /** Token-mass-proportional document sample without replacement
    * (Efraimidis–Spirakis keys on the shared 60-bit hash), k = 100.
    */
  private def weightedSampleQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"),
      TextFunctions.bpeTokenCount(col("text")).cast("long").as("weight"))
    WeightedSample.sampleByWeight(d, col("doc_id"), col("weight"), 100, "ws")
  }

  /** Per-SOURCE weighted sample: the A-ES key through the custom
    * bounded-heap TopKPerKey physical operator — each input partition
    * forwards ≤ k rows per source to the shuffle (never a Window over data
    * rows; plan asserted at runtime), so a per-group sample costs the same
    * scan at any corpus size.
    */
  private def weightedSampleGroupedQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"),
      TextFunctions.bpeTokenCount(col("text")).cast("long").as("weight"))
    val keyed = d.withColumn("ek",
      WeightedSample.esKey(col("doc_id"), col("weight"), "wsg"))
    val out = graft.plans.TopKPerKey(keyed, Seq("source"),
        Seq(("ek", false), ("doc_id", true)), k = 20)
      .select(col("doc_id"), col("source"), col("weight"),
        round(col("ek"), 6).as("es_key"))
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("TopKPerKey") && !plan.contains("Window"),
      s"grouped sample did not plan the bounded-heap operator:\n$plan")
    out.orderBy("source", "doc_id")
  }

  /** Size-targeted release sharding manifest: 25 kB shards over the
    * hash-shuffled document order; the oracle replays the assignment as a
    * global running sum (fine at oracle scale — the engine's windows are
    * bucket-partitioned).
    */
  private def shardAssignQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.ShardAssign
    val assigned = ShardAssign.assignShards(
      docs(spark, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", col("n_chars"), targetBytes = 25000L)
    ShardAssign.shardManifest(assigned, col("n_chars"))
  }

  /** Zipf power-law fit over the sparse corpus's word-frequency head —
    * the corpus-diagnostics card (a natural corpus fits ln f ≈ a + s·ln r
    * with s ≈ −1; machine-generated/templated text bends the line): OLS on
    * the top-100 (ln rank, ln freq) points in EXACT decimal arithmetic —
    * terms pinned at 6 dp, every sum/product shaped to stay inside
    * DECIMAL(38) with zero rounding, and ONE IEEE division per
    * coefficient at the end (the PageRank/BM25 reduction-order-proof
    * discipline, applied to closed-form regression).
    */
  private def zipfFitQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = graft.dedup.SparseCorpus.generate(
      docs(spark, dir).select("doc_id"))
    val words = graft.text.UnigramLm.wordHistogram(sparse, col("text"))
    // bounded head: TakeOrdered to 100 rows; the rank window runs above
    // that bounded frame, never over the corpus axis
    val top = words.orderBy(col("freq").desc, col("word")).limit(100)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("word"))))
    graft.ops.DecimalOls.fit(ranked,
      log(col("rank").cast("double")), log(col("freq").cast("double")))
  }

  /** Heaps'-law vocabulary-growth curve — the second corpus-scaling
    * diagnostic next to the Zipf fit: V(N) ≈ K·N^β for a natural corpus
    * (β ≈ 0.4–0.6); a flat or unit slope flags synthetic/templated text or
    * vocabulary exhaustion. Checkpoints are the 8 doc_id octiles via the
    * exact-quantile rank rule (bounded driver values); cumulative tokens
    * and first-occurrence vocabulary are CONDITIONAL AGGREGATES against
    * those literals — no prefix windows over data rows, two corpus scans
    * total (token axis + word-first-occurrence axis).
    */
  private val HEAPS_POINTS = 8

  private def heapsCurve(spark: SparkSession, dir: String): DataFrame = {
    // the sparse fixture, like the Zipf gate: the harness documents table's
    // 31-word vocabulary saturates at the FIRST checkpoint (measured slope
    // exactly 0.0) — a real growth curve needs a real vocabulary
    val d = graft.dedup.SparseCorpus.generate(docs(spark, dir).select("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val qs = (1 to HEAPS_POINTS).map(_.toDouble / HEAPS_POINTS)
    val cks = Quantiles.exactQuantiles(
        d.select(lit("ALL").as("g"), col("doc_id").as("v")), col("g"), col("v"), qs)
      .select(col("q"), col("value")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
      .zipWithIndex.map { case ((_, c), i) => (i + 1, c) }.toSeq
    val tok = d.select(col("doc_id"), size(col("t")).as("n"))
    val tokAggs = cks.map { case (k, c) =>
      sum(when(col("doc_id") <= c, col("n")).otherwise(lit(0L))).as(s"__n$k") }
    val aggTok = tok.agg(tokAggs.head, tokAggs.tail: _*)
    val fo = d.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("f"))
    val vocAggs = cks.map { case (k, c) =>
      count(when(col("f") <= c, lit(1))).as(s"__v$k") }
    val aggVoc = fo.agg(vocAggs.head, vocAggs.tail: _*)
    aggTok.crossJoin(aggVoc) // two single-row frames
      .select(explode(array(cks.map { case (k, c) =>
        struct(lit(k).as("k"), lit(c).as("doc_threshold"),
          col(s"__n$k").cast("long").as("n_tokens"),
          col(s"__v$k").cast("long").as("vocab")) }: _*)).as("r"))
      .select(col("r.k"), col("r.doc_threshold"), col("r.n_tokens"), col("r.vocab"))
  }

  private def heapsCurveQ(spark: SparkSession, dir: String): DataFrame =
    heapsCurve(spark, dir).orderBy("k")

  private def heapsFitQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.DecimalOls.fit(heapsCurve(spark, dir),
      log(col("n_tokens").cast("double")), log(col("vocab").cast("double")))

  /** Per-source quality card composing the session's signals in ONE plan:
    * median token count (exact-quantile refinement), mean character
    * entropy and mean FK grade (per-doc values 6-dp-pinned then summed as
    * EXACT decimals — one IEEE division per mean, so the card is
    * reduction-order-proof like every other float aggregate in the tree).
    */
  private def qualityCardQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Readability
    EntropyExpressions.register(spark)
    val L = col("doc_id") % 7 + 3
    val punct = concat_ws(" ",
      transform(split(col("text"), " "),
        (x, i) => when((i + 1) % L === 0, concat(x, lit("."))).otherwise(x)))
    val per = docs(spark, dir).select(col("source"), col("doc_id"),
      TextFunctions.bpeTokenCount(col("text")).cast("long").as("tok"),
      round(EntropyExpressions.stringEntropy(col("text")), 6)
        .cast("decimal(12,6)").as("ent"),
      punct.as("s"))
    val withFk = per.withColumn("fk",
      round(Readability.fkGrade(
        Readability.wordCount(col("s")), Readability.sentenceCount(col("s")),
        Readability.syllableCount(col("s"))), 6).cast("decimal(12,6)"))
    val agg = withFk.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("ent")).as("se"), sum(col("fk")).as("sf"))
    val med = Quantiles.exactQuantiles(per, col("source"), col("tok"), Seq(0.5))
      .select(col("grp").as("source"), col("value").as("median_tok"))
    agg.join(broadcast(med), "source")
      .select(col("source"), col("n_docs"), col("median_tok"),
        round(col("se").cast("double") / col("n_docs"), 6).as("mean_entropy"),
        round(col("sf").cast("double") / col("n_docs"), 6).as("mean_fk"))
      .orderBy("source")
  }

  /** Per-document character entropy (bits) — one codegen pass per row. */
  private def charEntropyQ(spark: SparkSession, dir: String): DataFrame = {
    EntropyExpressions.register(spark)
    docs(spark, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_cp"),
        round(EntropyExpressions.stringEntropy(col("text")), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** Flesch / FK readability per document. The synthetic corpus carries no
    * punctuation, so sentence breaks are PLANTED deterministically first —
    * a period after every (doc_id % 7 + 3)-th token — and the operator
    * then parses them back out of the text like it would in production;
    * the oracle rebuilds the same punctuated text via ordered string_agg.
    */
  private def readabilityQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Readability
    val L = col("doc_id") % 7 + 3
    val punct = concat_ws(" ",
      transform(split(col("text"), " "),
        (x, i) => when((i + 1) % L === 0, concat(x, lit("."))).otherwise(x)))
    val d = docs(spark, dir).select(col("doc_id"), punct.as("s"))
      .select(col("doc_id"),
        Readability.wordCount(col("s")).as("n_words"),
        Readability.sentenceCount(col("s")).as("n_sentences"),
        Readability.syllableCount(col("s")).as("n_syllables"))
    d.select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(Readability.fleschReadingEase(
          col("n_words"), col("n_sentences"), col("n_syllables")), 6).as("flesch"),
        round(Readability.fkGrade(
          col("n_words"), col("n_sentences"), col("n_syllables")), 6).as("fk_grade"))
      .orderBy("doc_id")
  }

  /** k-anonymity release screen over the customer table: quasi-identifier
    * tuple (nation, market segment, account-balance band), reported per
    * segment at k=5 — the compliance aggregate next to the Laplace-noised
    * q_dp_release. Fully integer.
    */
  private def kAnonymityQ(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.sources.Tables.cached(spark, dir, "customer")
    graft.ops.KAnonymity.report(c, col("c_mktsegment"),
      Seq(col("c_nationkey"), floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
      k = 5)
  }

  /** Deequ-style declarative data contract over the orders table: the
    * whole contract compiles to ONE single-pass aggregate (+ a distinct
    * count for the uniqueness check) — adding a check adds a column,
    * never a scan.
    */
  private def dataContractQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataContract._
    val o = graft.sources.Tables.cached(spark, dir, "orders")
    report(o, Seq(
      NotNull("orderkey_not_null", col("o_orderkey")),
      Unique("orderkey_unique", Seq(col("o_orderkey"))),
      Satisfies("totalprice_positive", col("o_totalprice") > 0),
      Satisfies("status_domain", col("o_orderstatus").isin("F", "O", "P")),
      Satisfies("date_range", to_date(col("o_orderdate"))
        .between(lit("1992-01-01"), lit("1998-12-31"))),
      RowCount("row_count", 1L, 10000000000L)))
  }

  private def benfordQ(spark: SparkSession, dir: String): DataFrame = {
    val cents = (round(col("o_totalprice"), 2).cast("decimal(18,2)") * 100)
      .cast("decimal(28,0)")
    graft.ops.Experiments.benford(graft.sources.Tables.cached(spark, dir, "orders"), cents)
  }

  private def ewmaQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Experiments.ewmaDaily(
      graft.sources.Tables.cached(spark, dir, "events"), col("ts"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_readability" -> (readabilityQ _),
    "q_k_anonymity" -> (kAnonymityQ _),
    "q_data_contract" -> (dataContractQ _),
    "q_benford" -> (benfordQ _),
    "q_ewma_daily" -> (ewmaQ _),
    "q_exact_quantile" -> (tokenQuantilesQ _),
    "q_quantile_price" -> (priceQuantilesQ _),
    "q_quantile_filter" -> (quantileFilterQ _),
    "q_weighted_sample" -> (weightedSampleQ _),
    "q_weighted_sample_grouped" -> (weightedSampleGroupedQ _),
    "q_shard_assign" -> (shardAssignQ _),
    "q_zipf_fit" -> (zipfFitQ _),
    "q_heaps_curve" -> (heapsCurveQ _),
    "q_heaps_fit" -> (heapsFitQ _),
    // word2vec unigram^0.75 negative-sampling table over the realistic
    // sparse-corpus vocabulary
    "q_negative_sampling" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      graft.text.NegativeSampling.table(sparse, col("text")).orderBy("word")
    }),
    // PMI collocation mining: top-50 adjacent pairs co-occurring above
    // chance (min pair count 4 screens the hapax pathology while leaving
    // a 63-candidate pool for the top-50 selection at sf0.01)
    "q_pmi_collocations" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      graft.text.Pmi.collocations(sparse, col("text"), minCount = 4, k = 50)
    }),
    // stopword discovery: the hot-vocab words (each lands in ~9% of
    // sparse-fixture docs vs ~0.1% for the cold tail — 0.05 splits them)
    "q_stopword_discovery" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      graft.text.Pmi.stopwordDiscovery(sparse, col("doc_id"), col("text"), 0.05)
        .filter(col("is_stop"))
        .orderBy("word")
    }),
    "q_quality_card" -> (qualityCardQ _),
    "q_stream_quantile" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamExactQuantiles(s, dir, QS_TOK)),
    "q_stream_weighted_sample" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamWeightedSample(s, dir, 100, "ws")),
    "q_char_entropy" -> (charEntropyQ _),
    // ε-DP published counts: per-(source, lang) document histogram under
    // seeded Laplace(1/ε) — the data-card numbers a release actually ships
    "q_dp_release" -> ((s, dir) =>
      graft.ops.DpRelease.laplaceCounts(
        docs(s, dir), Seq("source", "lang"), eps = 0.5, seed = "graftdp")),
  )

  private val BPE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  private def tokCount(c: String) =
    s"CAST(len(regexp_extract_all($c, '$BPE')) AS BIGINT)"

  /** hash60 of 'salt#' || x — the shared md5-prefix numeric hash. */
  private def h60(x: String, salt: String): String =
    s"CAST(CAST(('0x' || substr(md5('$salt#' || $x), 1, 15)) AS UBIGINT) AS BIGINT)"

  /** Rank-r quantile replay: r = max(1, ceil(q·n)) with q FORCED to DOUBLE —
    * DuckDB parses 0.9 as DECIMAL and would ceil the exact product where
    * the engine (and the JVM driver) ceil the IEEE one (0.9·500 =
    * 450.000…06 → 451, not 450).
    */
  private def quantileOracle(tkCte: String, qs: Seq[Double]): String = {
    val qVals = qs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")
    s"""WITH tk AS ($tkCte),
       |n AS (SELECT grp, count(*) AS n FROM tk GROUP BY 1),
       |qs AS (SELECT * FROM (VALUES $qVals) q(q)),
       |tgt AS (SELECT grp, q, greatest(1, CAST(ceil(q * n) AS BIGINT)) AS rank,
       |        CAST(n AS BIGINT) AS n FROM n CROSS JOIN qs),
       |r AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
       |      FROM tk)
       |SELECT t.grp, t.q, t.rank, t.n, r.v AS value
       |FROM tgt t JOIN r ON r.grp = t.grp AND r.rn = t.rank
       |ORDER BY 1, 2
       |""".stripMargin
  }

  private lazy val tokenQuantileOracle: String = quantileOracle(
    s"""SELECT lang AS grp, ${tokCount("text")} AS v FROM documents
       |  UNION ALL SELECT 'ALL' AS grp, ${tokCount("text")} AS v FROM documents""".stripMargin,
    QS_TOK)

  private lazy val weightedSampleOracle: String =
    s"""WITH tk AS (SELECT doc_id, source, ${tokCount("text")} AS weight FROM documents),
       |k AS (SELECT doc_id, source, weight,
       |        ln((${h60("CAST(doc_id AS VARCHAR)", "ws")} + 1) / 1152921504606846976.0)
       |          / CAST(weight AS DOUBLE) AS key
       |      FROM tk)
       |SELECT doc_id, source, weight, round(key, 6) AS es_key
       |FROM k ORDER BY key DESC, doc_id LIMIT 100
       |""".stripMargin

  private lazy val benfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  def oracleSql: Map[String, String] = Map(
    // the whole contract from one aggregate row + one distinct count;
    // ratios and verdicts mirrored op-for-op
    "q_data_contract" ->
      s"""WITH a AS (SELECT count(*) AS n,
         |    count(o_orderkey) AS nn,
         |    sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS pos,
         |    sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS dom,
         |    sum(CASE WHEN CAST(o_orderdate AS DATE)
         |        BETWEEN DATE '1992-01-01' AND DATE '1998-12-31' THEN 1 ELSE 0 END) AS dr
         |  FROM orders),
         |u AS (SELECT count(*) AS uq FROM (SELECT DISTINCT o_orderkey FROM orders) z)
         |SELECT * FROM (
         |  SELECT 'date_range' AS "check", 'satisfies' AS kind,
         |    CAST(dr AS BIGINT) AS passed, CAST(n AS BIGINT) AS total,
         |    round(CAST(dr AS DOUBLE) / n, 6) AS metric,
         |    CAST(dr AS DOUBLE) / n >= 1.0 AS ok FROM a
         |  UNION ALL SELECT 'orderkey_not_null', 'not_null',
         |    CAST(nn AS BIGINT), CAST(n AS BIGINT),
         |    round(CAST(nn AS DOUBLE) / n, 6), CAST(nn AS DOUBLE) / n >= 1.0 FROM a
         |  UNION ALL SELECT 'orderkey_unique', 'unique',
         |    CAST(uq AS BIGINT), CAST(n AS BIGINT),
         |    round(CAST(uq AS DOUBLE) / n, 6), uq = n FROM a CROSS JOIN u
         |  UNION ALL SELECT 'row_count', 'row_count',
         |    CAST(n AS BIGINT), CAST(n AS BIGINT), 1.0,
         |    n >= 1 AND n <= 10000000000 FROM a
         |  UNION ALL SELECT 'status_domain', 'satisfies',
         |    CAST(dom AS BIGINT), CAST(n AS BIGINT),
         |    round(CAST(dom AS DOUBLE) / n, 6), CAST(dom AS DOUBLE) / n >= 1.0 FROM a
         |  UNION ALL SELECT 'totalprice_positive', 'satisfies',
         |    CAST(pos AS BIGINT), CAST(n AS BIGINT),
         |    round(CAST(pos AS DOUBLE) / n, 6), CAST(pos AS DOUBLE) / n >= 1.0 FROM a
         |) z ORDER BY "check"
         |""".stripMargin,
    // integer-string first digits; expected log10(1+1/d) as the SAME
    // driver literals; chi-square terms on (n - tot*p) exact-count doubles
    "q_benford" -> {
      val caseExp = benfordExpected
        .map { case (d, p) => s"WHEN digit = $d THEN $p" }.mkString(" ")
      s"""WITH c AS (SELECT CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) * 100 AS cents
         |  FROM orders WHERE CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) * 100 > 0),
         |d AS (SELECT CAST(substr(CAST(CAST(cents AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM c),
         |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         |t AS (SELECT sum(n) AS tot FROM g),
         |e AS (SELECT digit, n, tot, CASE $caseExp END AS p FROM g CROSS JOIN t)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |  round(CAST(n AS DOUBLE) / tot, 6) AS frac,
         |  round(p, 6) AS expected_frac,
         |  round((CAST(n AS DOUBLE) - tot * p) * (CAST(n AS DOUBLE) - tot * p)
         |        / (tot * p), 6) AS chi2_term
         |FROM e ORDER BY digit
         |""".stripMargin
    },
    // the identical pinned-decimal weight tables, polynomial sums exact
    "q_ewma_daily" -> {
      val (lag, init) = graft.ops.Experiments.ewmaWeights(BigDecimal("0.3"), 64, 12)
      def values(ws: Seq[String]) = ws.zipWithIndex
        .map { case (w, k) => s"($k, CAST($w AS DECIMAL(18,12)))" }.mkString(", ")
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x
         |  FROM events GROUP BY 1),
         |r AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
         |wl(k, w) AS (VALUES ${values(lag)}),
         |wi(k, w) AS (VALUES ${values(init)}),
         |p AS (SELECT t.day, t.x AS xt,
         |    CASE WHEN i.rn = 1 THEN (SELECT w FROM wi WHERE k = t.rn - 1)
         |         ELSE (SELECT w FROM wl WHERE k = t.rn - i.rn) END
         |      * CAST(i.x AS DECIMAL(18,0)) AS w
         |  FROM r t JOIN r i ON i.rn <= t.rn),
         |s AS (SELECT day, xt, sum(w) AS s FROM p GROUP BY 1, 2)
         |SELECT day, CAST(xt AS BIGINT) AS n_events,
         |  round(CAST(s AS DOUBLE), 6) AS ewma,
         |  round(CAST(xt AS DOUBLE) - CAST(s AS DOUBLE), 6) AS resid
         |FROM s ORDER BY day
         |""".stripMargin
    },
    // one groupBy on the quasi tuple, then the per-segment rollup — the
    // bal band's floor(double/1000) mirrored bit for bit
    "q_k_anonymity" ->
      s"""WITH g AS (SELECT c_mktsegment AS stratum, c_nationkey,
         |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         |    count(*) AS sz
         |  FROM customer GROUP BY 1, 2, 3)
         |SELECT stratum,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(sz) AS BIGINT) AS n_records,
         |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
         |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_records_at_risk,
         |  CAST(min(sz) AS BIGINT) AS k_achieved,
         |  CAST(5 AS BIGINT) AS k_required,
         |  min(sz) >= 5 AS anonymous
         |FROM g GROUP BY 1 ORDER BY 1
         |""".stripMargin,
    // planted-period text rebuilt via ordered string_agg; word/sentence/
    // vowel-group counts replayed on the Java∩RE2 regex subset; scores are
    // ratio arithmetic only (no transcendentals) → 6-dp identical
    "q_readability" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t,
         |             doc_id % 7 + 3 AS L FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 700) r(x)),
         |ex AS (SELECT doc_id, L, i, t[i + 1] AS w FROM tk JOIN pos ON i < len(t)),
         |tx AS (SELECT doc_id,
         |         string_agg(CASE WHEN (i + 1) % L = 0 THEN w || '.' ELSE w END,
         |                    ' ' ORDER BY i) AS s
         |       FROM ex GROUP BY doc_id, L),
         |c AS (SELECT doc_id,
         |        CAST(len(string_split(s, ' ')) AS INT) AS n_words,
         |        CAST(greatest(len(regexp_extract_all(s, '[.!?]+')), 1) AS INT) AS n_sentences,
         |        CAST(list_aggregate(list_transform(string_split(lower(s), ' '),
         |          w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)), 'sum') AS INT) AS n_syllables
         |      FROM tx)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
         |        - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch,
         |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
         |        + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6) AS fk_grade
         |FROM c ORDER BY doc_id
         |""".stripMargin,
    "q_exact_quantile" -> tokenQuantileOracle,
    // streamed histogram maintenance ≡ one-shot batch quantile (merge is
    // associative-commutative; rank rule a pure function of the merged
    // histogram) — the batch oracle verbatim
    "q_stream_quantile" -> tokenQuantileOracle,
    "q_quantile_price" -> quantileOracle(
      "SELECT l_returnflag AS grp, CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem",
      QS_PRICE),
    // per-source p25 threshold re-derived via the same rank rule, then the
    // keep-set accounted
    "q_quantile_filter" ->
      s"""WITH tk AS (SELECT source, ${tokCount("text")} AS v FROM documents),
         |n AS (SELECT source, count(*) AS n FROM tk GROUP BY 1),
         |t AS (SELECT source, greatest(1, CAST(ceil(CAST(0.25 AS DOUBLE) * n) AS BIGINT)) AS rank FROM n),
         |r AS (SELECT source, v, row_number() OVER (PARTITION BY source ORDER BY v) AS rn FROM tk),
         |thr AS (SELECT t.source, r.v AS thr FROM t JOIN r ON r.source = t.source AND r.rn = t.rank)
         |SELECT tk.source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(tk.v) AS BIGINT) AS tok_kept
         |FROM tk JOIN thr ON tk.source = thr.source
         |WHERE tk.v >= thr.thr
         |GROUP BY 1 ORDER BY 1
         |""".stripMargin,
    // A-ES key ln((h+1)/2^60)/w replayed term for term; selection on the
    // full-precision key, 6-dp pin only on the emitted column
    "q_weighted_sample" -> weightedSampleOracle,
    // the streamed reservoir ≡ one-shot batch sample (selection is a pure
    // function of row identity; per-batch local top-k can't lose a global
    // winner) — the batch oracle verbatim
    "q_stream_weighted_sample" -> weightedSampleOracle,
    // per-source top-20 by the seeded key: window-rank replay (fine at
    // oracle scale; the engine plans the bounded-heap operator instead)
    "q_weighted_sample_grouped" ->
      s"""WITH tk AS (SELECT doc_id, source, ${tokCount("text")} AS weight FROM documents),
         |k AS (SELECT doc_id, source, weight,
         |        ln((${h60("CAST(doc_id AS VARCHAR)", "wsg")} + 1) / 1152921504606846976.0)
         |          / CAST(weight AS DOUBLE) AS key
         |      FROM tk),
         |r AS (SELECT doc_id, source, weight, key,
         |        row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rn
         |      FROM k)
         |SELECT doc_id, source, weight, round(key, 6) AS es_key
         |FROM r WHERE rn <= 20 ORDER BY source, doc_id
         |""".stripMargin,
    // exact-decimal OLS over the top-100 (ln rank, ln freq) points of the
    // regenerated sparse corpus; zero intermediate rounding, one IEEE
    // division per coefficient
    "q_zipf_fit" ->
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |w AS (SELECT word, count(*) AS freq
         |      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM sparsedocs)
         |      WHERE length(word) > 0 GROUP BY 1),
         |top AS (SELECT word, freq FROM w ORDER BY freq DESC, word LIMIT 100),
         |rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank FROM top),
         |p AS (SELECT CAST(round(ln(rank), 6) AS DECIMAL(9,6)) AS x,
         |             CAST(round(ln(freq), 6) AS DECIMAL(9,6)) AS y FROM rk),
         |a AS (SELECT CAST(count(*) AS DECIMAL(3,0)) AS n,
         |             CAST(sum(x) AS DECIMAL(13,6)) AS sx,
         |             CAST(sum(y) AS DECIMAL(13,6)) AS sy,
         |             CAST(sum(x*y) AS DECIMAL(22,12)) AS sxy,
         |             CAST(sum(x*x) AS DECIMAL(22,12)) AS sxx
         |      FROM p)
         |SELECT CAST(n AS BIGINT) AS n_points,
         |  round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
         |  round(CAST(sy*sxx - sx*sxy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS intercept
         |FROM a
         |""".stripMargin,
    "q_negative_sampling" ->
      // one transcendental per word, 6-dp-pinned, exact-decimal normalizer
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |w AS (SELECT word, count(*) AS freq
         |      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM sparsedocs)
         |      WHERE length(word) > 0 GROUP BY 1),
         |t AS (SELECT word, freq, round(pow(CAST(freq AS DOUBLE), 0.75), 6) AS tt FROM w),
         |z AS (SELECT sum(CAST(tt AS DECIMAL(28,6))) AS z FROM t)
         |SELECT word, freq, round(tt / CAST(z.z AS DOUBLE), 9) AS p_neg
         |FROM t CROSS JOIN z
         |""".stripMargin,
    "q_pmi_collocations" ->
      // the expanded log-sum form in the SAME left-to-right order — the
      // ratio form's c12·T² numerator would pass 2^53
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM sparsedocs),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |bg AS (SELECT t[i + 1] AS w1, t[i + 2] AS w2 FROM tk JOIN pos ON i + 2 <= len(t)),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |uni AS (SELECT word AS w, count(*) AS c
         |        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM sparsedocs)
         |        WHERE length(word) > 0 GROUP BY 1),
         |tot AS (SELECT (SELECT sum(c12) FROM bc) AS b_total,
         |               (SELECT sum(c) FROM uni) AS t_total),
         |p AS (SELECT bc.w1, bc.w2, bc.c12 AS n_pair,
         |        round(ln(bc.c12) - ln(tot.b_total) - ln(u1.c) - ln(u2.c)
         |              + ln(tot.t_total) + ln(tot.t_total), 6) AS pmi
         |      FROM bc JOIN uni u1 ON u1.w = bc.w1 JOIN uni u2 ON u2.w = bc.w2
         |      CROSS JOIN tot WHERE bc.c12 >= 4)
         |SELECT w1, w2, n_pair, pmi FROM p
         |ORDER BY pmi DESC, w1, w2 LIMIT 50
         |""".stripMargin,
    "q_stopword_discovery" ->
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |wd AS (SELECT word, count(*) AS df FROM (
         |         SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
         |         FROM sparsedocs) t WHERE length(word) > 0 GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sparsedocs)
         |SELECT word, df, round(CAST(df AS DOUBLE) / n_docs, 6) AS df_frac,
         |       CAST(df AS DOUBLE) / n_docs >= 0.05 AS is_stop
         |FROM wd CROSS JOIN n
         |WHERE CAST(df AS DOUBLE) / n_docs >= 0.05
         |ORDER BY word
         |""".stripMargin,
    "q_heaps_curve" ->
      // octile thresholds via the exact-quantile rank rule (window replay
      // fine at oracle scale), cumulative tokens / first-occurrence vocab
      // as correlated counts against the 8 threshold rows
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM sparsedocs),
         |cnt AS (SELECT count(*) AS n FROM tk),
         |ks AS (SELECT CAST(unnest(range(1, ${HEAPS_POINTS + 1})) AS INT) AS k),
         |tgt AS (SELECT k, greatest(1, CAST(ceil((CAST(k AS DOUBLE) / $HEAPS_POINTS) * n) AS BIGINT)) AS rank
         |        FROM ks CROSS JOIN cnt),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn FROM tk),
         |th AS (SELECT t.k, r.doc_id AS c FROM tgt t JOIN r ON r.rn = t.rank),
         |fo AS (SELECT w, min(doc_id) AS f
         |       FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY 1)
         |SELECT th.k, th.c AS doc_threshold,
         |       (SELECT sum(len(t)) FROM tk WHERE doc_id <= th.c) AS n_tokens,
         |       (SELECT count(*) FROM fo WHERE f <= th.c) AS vocab
         |FROM th ORDER BY th.k
         |""".stripMargin,
    "q_heaps_fit" ->
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM sparsedocs),
         |cnt AS (SELECT count(*) AS n FROM tk),
         |ks AS (SELECT CAST(unnest(range(1, ${HEAPS_POINTS + 1})) AS INT) AS k),
         |tgt AS (SELECT k, greatest(1, CAST(ceil((CAST(k AS DOUBLE) / $HEAPS_POINTS) * n) AS BIGINT)) AS rank
         |        FROM ks CROSS JOIN cnt),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn FROM tk),
         |th AS (SELECT t.k, r.doc_id AS c FROM tgt t JOIN r ON r.rn = t.rank),
         |fo AS (SELECT w, min(doc_id) AS f
         |       FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY 1),
         |curve AS (SELECT th.k,
         |            (SELECT sum(len(t)) FROM tk WHERE doc_id <= th.c) AS n_tokens,
         |            (SELECT count(*) FROM fo WHERE f <= th.c) AS vocab
         |          FROM th),
         |p AS (SELECT CAST(round(ln(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(9,6)) AS x,
         |             CAST(round(ln(CAST(vocab AS DOUBLE)), 6) AS DECIMAL(9,6)) AS y FROM curve),
         |a AS (SELECT CAST(count(*) AS DECIMAL(3,0)) AS n,
         |             CAST(sum(x) AS DECIMAL(13,6)) AS sx,
         |             CAST(sum(y) AS DECIMAL(13,6)) AS sy,
         |             CAST(sum(x*y) AS DECIMAL(22,12)) AS sxy,
         |             CAST(sum(x*x) AS DECIMAL(22,12)) AS sxx
         |      FROM p)
         |SELECT CAST(n AS BIGINT) AS n_points,
         |  round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
         |  round(CAST(sy*sxx - sx*sxy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS intercept
         |FROM a
         |""".stripMargin,
    // the whole assignment replayed as one global running byte sum over
    // the (bucket, hash, id) order; shard = before // target, exact ints
    "q_shard_assign" ->
      s"""WITH h AS (SELECT doc_id, n_chars,
         |    ${h60("CAST(doc_id AS VARCHAR)", "0")} AS hh
         |  FROM documents),
         |b AS (SELECT doc_id, n_chars, hh, CAST(hh % 1024 AS INT) AS bucket FROM h),
         |r AS (SELECT doc_id, n_chars,
         |        sum(n_chars) OVER (ORDER BY bucket, hh, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS bef
         |      FROM b)
         |SELECT CAST(bef // 25000 AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS bytes
         |FROM r GROUP BY 1 ORDER BY 1
         |""".stripMargin,
    // the card composes the proven fragments: per-doc entropy and FK both
    // 6-dp-pinned then summed as exact DECIMAL(28,6); median via the rank
    // rule; one IEEE division per mean
    "q_quality_card" ->
      s"""WITH pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 700) r(x)),
         |ch AS (SELECT doc_id, substr(text, i + 1, 1) AS c
         |       FROM documents JOIN pos ON i < len(text)),
         |ecnt AS (SELECT doc_id, c, count(*) AS cn FROM ch GROUP BY 1, 2),
         |eacc AS (SELECT doc_id, sum(cn * (ln(cn) / ${math.log(2.0)})) AS acc,
         |          CAST(sum(cn) AS BIGINT) AS n FROM ecnt GROUP BY 1),
         |ent AS (SELECT d.doc_id, d.source,
         |          CAST(round(CASE WHEN e.n IS NULL OR e.n <= 1 THEN 0.0
         |            ELSE (ln(e.n) / ${math.log(2.0)}) - e.acc / e.n END, 6)
         |            AS DECIMAL(12,6)) AS ent
         |        FROM documents d LEFT JOIN eacc e USING (doc_id)),
         |rtk AS (SELECT doc_id, source, string_split(text, ' ') AS t,
         |          doc_id % 7 + 3 AS L FROM documents),
         |rex AS (SELECT doc_id, source, L, i, t[i + 1] AS w
         |        FROM rtk JOIN pos ON i < len(t)),
         |rtx AS (SELECT doc_id, source,
         |          string_agg(CASE WHEN (i + 1) % L = 0 THEN w || '.' ELSE w END,
         |                     ' ' ORDER BY i) AS s
         |        FROM rex GROUP BY doc_id, source, L),
         |rc AS (SELECT doc_id, source,
         |         CAST(len(string_split(s, ' ')) AS INT) AS w,
         |         CAST(greatest(len(regexp_extract_all(s, '[.!?]+')), 1) AS INT) AS sn,
         |         CAST(list_aggregate(list_transform(string_split(lower(s), ' '),
         |           x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)), 'sum') AS INT) AS y
         |       FROM rtx),
         |fkd AS (SELECT doc_id, source,
         |          CAST(round(0.39 * (CAST(w AS DOUBLE) / sn)
         |            + 11.8 * (CAST(y AS DOUBLE) / w) - 15.59, 6) AS DECIMAL(12,6)) AS fk
         |        FROM rc),
         |tok AS (SELECT doc_id, source, ${tokCount("text")} AS tok FROM documents),
         |nn AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |mr AS (SELECT source, tok, row_number() OVER (PARTITION BY source ORDER BY tok) AS rn FROM tok),
         |mt AS (SELECT nn.source, greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n_docs) AS BIGINT)) AS rank FROM nn),
         |med AS (SELECT mt.source, mr.tok AS median_tok
         |        FROM mt JOIN mr ON mr.source = mt.source AND mr.rn = mt.rank),
         |se AS (SELECT source, CAST(sum(ent) AS DECIMAL(28,6)) AS se FROM ent GROUP BY 1),
         |sf AS (SELECT source, CAST(sum(fk) AS DECIMAL(28,6)) AS sf FROM fkd GROUP BY 1)
         |SELECT nn.source, CAST(nn.n_docs AS BIGINT) AS n_docs, med.median_tok,
         |  round(CAST(se.se AS DOUBLE) / nn.n_docs, 6) AS mean_entropy,
         |  round(CAST(sf.sf AS DOUBLE) / nn.n_docs, 6) AS mean_fk
         |FROM nn JOIN med USING (source) JOIN se USING (source) JOIN sf USING (source)
         |ORDER BY source
         |""".stripMargin,
    // per-doc code-point histogram; H = log2(n) − Σ c·log2(c)/n with log2
    // expressed as ln(x)/LN2 against the JVM's exact LN2 double so both
    // engines share the one transcendental (ln) the LM gates already pin
    "q_char_entropy" ->
      s"""WITH pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 700) r(x)),
         |ch AS (SELECT doc_id, substr(text, i + 1, 1) AS c
         |       FROM documents JOIN pos ON i < len(text)),
         |cnt AS (SELECT doc_id, c, count(*) AS cn FROM ch GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_cp FROM documents),
         |s AS (SELECT doc_id, sum(cn * (ln(cn) / ${math.log(2.0)})) AS acc,
         |        CAST(sum(cn) AS BIGINT) AS n
         |      FROM cnt GROUP BY 1)
         |SELECT n.doc_id, n.n_cp,
         |  round(CASE WHEN s.n IS NULL OR s.n <= 1 THEN 0.0
         |        ELSE (ln(s.n) / ${math.log(2.0)}) - s.acc / s.n END, 6) AS entropy
         |FROM n LEFT JOIN s USING (doc_id) ORDER BY doc_id
         |""".stripMargin,
    // Laplace(1/ε) as ln(u1) − ln(u2) over the shared md5 uniforms; the
    // noise term is 6-dp-pinned straight after the transcendental
    "q_dp_release" -> {
      def u(tag: String) =
        s"CAST(${h60("source || '|' || lang", s"graftdp#$tag")} + 1 AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)"
      s"""WITH c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
         |z AS (SELECT source, lang, n,
         |        round((ln(${u("1")}) - ln(${u("2")})) / CAST(0.5 AS DOUBLE), 6) AS noise
         |      FROM c),
         |y AS (SELECT source, lang, n, round(n + noise, 6) AS noisy_n FROM z)
         |SELECT source, lang, n, noisy_n,
         |       greatest(0, CAST(round(noisy_n, 0) AS BIGINT)) AS released_n
         |FROM y
         |""".stripMargin
    },
  )
}
