package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DistinctSketch
import graft.sources.Tables

/** Distinct-count sketch gates ([[graft.functions.DistinctSketch]]):
  * HyperLogLog register estimation and KMV/theta pairwise set-operation
  * estimates. Every register, retained minimum, and estimate is replayed
  * exactly by the DuckDB oracle (md5-prefix hash60, integer ctz via the
  * lsb-mask bit_count identity, scaled-integer harmonic sums, single-
  * division estimators).
  */
object SketchQueries extends QueryPack {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.cached(spark, dir, "documents")

  private val KMV_K = 64

  /** Distinct documents per language (exact vs HLL), plus the merged ALL
    * row built by register-wise max over the per-language sketches — the
    * mergeability property, exercised rather than asserted.
    */
  private def hllQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val regs = DistinctSketch.hllRegisters(d, col("lang"), col("text"), "hll")
    val withAll = regs.unionByName(DistinctSketch.hllMergeAll(regs))
    val summary = DistinctSketch.hllSummary(withAll)
    val exact = d.groupBy(col("lang").as("grp"))
      .agg(countDistinct(col("text")).as("n_exact"))
      .unionByName(d.agg(countDistinct(col("text")).as("n_exact"))
        .select(lit("ALL").as("grp"), col("n_exact")))
    summary.join(broadcast(exact), Seq("grp"))
      .select(col("grp"), col("n_exact"), col("v_empty"), col("z_scaled"),
        col("est"))
      .orderBy(col("grp"))
  }

  /** Cross-source gram-set overlap estimated from KMV sketches — the
    * sketched complement of the exact `q_source_overlap` matrix: per-source
    * bottom-64 gram hashes (bounded-heap TopKPerKey, no per-source sort),
    * then theta-combination union/Jaccard/intersection estimates per pair.
    * At 100 TB the exact matrix costs a gram-axis aggregate per run; the
    * sketches are buildable in the same scan that tokenizes and re-usable
    * across every pair query after.
    */
  private def kmvQ(spark: SparkSession, dir: String): DataFrame = {
    val n = 8
    val t = split(col("text"), " ")
    val grams = when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val sg = docs(spark, dir)
      .select(col("source"), explode(grams).as("g"))
    val sk = DistinctSketch.kmvSketch(sg, col("source"), col("g"), KMV_K, "kmv")
    DistinctSketch.kmvPairEstimates(sk, KMV_K)
      .orderBy(col("source_a"), col("source_b"))
  }

  /** CMS join-size estimation: two d×w counter frames answer "how big is
    * this equi-join" (and, self-joined, the F₂ skew moment) without a
    * second pass over either fact table. Gate pairs the one-sided
    * estimate with the exact join size; w=32 forces collisions so the
    * over-estimate is non-vacuous.
    */
  private def cmsJoinSizeQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMin
    val (depth, width) = (3, 32)
    val ev = graft.sources.Tables.cached(spark, dir, "events")
    def sk(f: DataFrame) =
      CountMin.sketch(f, array(col("user_id").cast("string")), depth, width)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
    val estPc = CountMin.joinSizeEstimate(sk(purchases), sk(clicks), depth, width)
      .select(lit("purchase_click").as("pair"), col("est"))
    val estF2 = CountMin.joinSizeEstimate(sk(ev), sk(ev), depth, width)
      .select(lit("self_f2").as("pair"), col("est"))
    val pc = purchases.groupBy("user_id").agg(count(lit(1)).as("p"))
      .join(clicks.groupBy("user_id").agg(count(lit(1)).as("c")), Seq("user_id"))
      .agg(sum(col("p") * col("c")).as("exact"))
      .select(lit("purchase_click").as("pair"), col("exact"))
    val f2 = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("exact"))
      .select(lit("self_f2").as("pair"), col("exact"))
    estPc.unionByName(estF2)
      .join(pc.unionByName(f2), Seq("pair"))
      .select(col("pair"), col("est"), col("exact"),
        round(col("est").cast("double") / col("exact"), 6).as("over_ratio"))
      .orderBy("pair")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hll_distinct" -> (hllQ _),
    "q_kmv_overlap" -> (kmvQ _),
    "q_cms_join_size" -> (cmsJoinSizeQ _),
    "q_stream_hll" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamHllDistinct(s, dir)),
  )

  private val toks = "string_split(text, ' ')"

  /** hash60 of 'salt#' || x in DuckDB — the CMS oracle's md5-prefix form. */
  private def h60(x: String, salt: String): String =
    s"CAST(CAST(('0x' || substr(md5('$salt#' || $x), 1, 15)) AS UBIGINT) AS BIGINT)"

  private lazy val hllOracle: String =
    s"""WITH h AS (SELECT lang AS grp, ${h60("text", "hll")} AS h, text FROM documents),
       |e AS (SELECT grp, h % 64 AS bucket, h // 64 AS w FROM h),
       |r0 AS (SELECT grp, bucket,
       |    CASE WHEN w = 0 THEN 55 ELSE CAST(bit_count((w & -w) - 1) AS INT) + 1 END AS rank
       |  FROM e),
       |reg AS (SELECT grp, bucket, max(rank) AS reg FROM r0 GROUP BY 1, 2),
       |rall AS (SELECT 'ALL' AS grp, bucket, max(reg) AS reg FROM reg GROUP BY 2),
       |ru AS (SELECT * FROM reg UNION ALL SELECT * FROM rall),
       |st AS (SELECT grp, CAST(count(*) AS INT) AS nb,
       |    CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS zp
       |  FROM ru GROUP BY 1),
       |ex AS (SELECT lang AS grp, count(DISTINCT text) AS n_exact FROM documents GROUP BY 1
       |       UNION ALL
       |       SELECT 'ALL' AS grp, count(DISTINCT text) AS n_exact FROM documents)
       |SELECT st.grp, ex.n_exact, CAST(64 - nb AS INT) AS v_empty,
       |       CAST(zp + CAST(64 - nb AS BIGINT) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS z_scaled,
       |       round(${DistinctSketch.HLL_EST_NUMERATOR} /
       |             CAST(zp + CAST(64 - nb AS BIGINT) * (CAST(1 AS BIGINT) << 55) AS DOUBLE), 6) AS est
       |FROM st JOIN ex USING (grp) ORDER BY grp
       |""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // registers rebuilt cell for cell: bucket = h mod 64, rank =
    // bit_count(lsb(w)-1)+1 on the top 54 bits; ALL = register-wise max;
    // z kept scaled by 2^55 as an exact BIGINT; est = C / z, one division
    "q_hll_distinct" -> hllOracle,
    // streamed register maintenance ≡ one-shot batch sketch (merge
    // property, spec-proven) — the batch oracle verbatim
    "q_stream_hll" -> hllOracle,
    // identical 3x32 counter matrices per side (same md5-prefix bucket),
    // dot product per row, min over rows — all integer
    "q_cms_join_size" -> {
      def cells(name: String, src: String) =
        s"""$name AS (SELECT r,
           |    CAST(CAST(CAST(('0x' || substr(md5('cms' || r || '#' || CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 32 AS BIGINT) AS c,
           |    count(*) AS cnt
           |  FROM ($src) z CROSS JOIN rows_ GROUP BY 1, 2)""".stripMargin
      s"""WITH rows_ AS (SELECT unnest([0, 1, 2]) AS r),
         |${cells("skp", "SELECT user_id FROM events WHERE event_type = 'purchase'")},
         |${cells("skc", "SELECT user_id FROM events WHERE event_type = 'click'")},
         |${cells("ska", "SELECT user_id FROM events")},
         |est AS (
         |  SELECT 'purchase_click' AS pair, min(dot) AS est FROM (
         |    SELECT a.r, sum(a.cnt * b.cnt) AS dot FROM skp a
         |    JOIN skc b ON a.r = b.r AND a.c = b.c GROUP BY 1) d1
         |  UNION ALL
         |  SELECT 'self_f2', min(dot) FROM (
         |    SELECT a.r, sum(a.cnt * b.cnt) AS dot FROM ska a
         |    JOIN ska b ON a.r = b.r AND a.c = b.c GROUP BY 1) d2),
         |ex AS (
         |  SELECT 'purchase_click' AS pair, sum(p * c) AS "exact" FROM
         |    (SELECT user_id, count(*) AS p FROM events WHERE event_type = 'purchase' GROUP BY 1) pp
         |    JOIN (SELECT user_id, count(*) AS c FROM events WHERE event_type = 'click' GROUP BY 1) cc
         |    USING (user_id)
         |  UNION ALL
         |  SELECT 'self_f2', sum(n * n) FROM
         |    (SELECT user_id, count(*) AS n FROM events GROUP BY 1) uu)
         |SELECT pair, CAST(est AS BIGINT) AS est, CAST("exact" AS BIGINT) AS "exact",
         |  round(CAST(est AS DOUBLE) / "exact", 6) AS over_ratio
         |FROM est JOIN ex USING (pair) ORDER BY pair
         |""".stripMargin
    },
    // per-source bottom-64 gram hashes, then per pair: bottom-64 of the
    // two sketches' union, threshold h_k, membership-in-both count
    "q_kmv_overlap" ->
      s"""WITH tk AS (SELECT source, $toks AS t FROM documents),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |sg AS (SELECT DISTINCT source,
         |    ${h60("array_to_string(list_slice(t, i + 1, i + 8), ' ')", "kmv")} AS h
         |  FROM tk JOIN pos ON i + 8 <= len(t)),
         |sk AS (SELECT source, h FROM (
         |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |    FROM sg) t1 WHERE rn <= $KMV_K),
         |pr AS (SELECT a.source AS source_a, b.source AS source_b
         |  FROM (SELECT DISTINCT source FROM sk) a
         |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
         |cand AS (SELECT DISTINCT source_a, source_b, h FROM (
         |    SELECT pr.source_a, pr.source_b, sk.h FROM pr JOIN sk ON sk.source = pr.source_a
         |    UNION ALL
         |    SELECT pr.source_a, pr.source_b, sk.h FROM pr JOIN sk ON sk.source = pr.source_b) t2),
         |uk AS (SELECT source_a, source_b, h FROM (
         |    SELECT source_a, source_b, h,
         |      row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
         |    FROM cand) t3 WHERE rn <= $KMV_K),
         |fl AS (SELECT uk.source_a, uk.source_b, uk.h,
         |    CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
         |    CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
         |  FROM uk
         |  LEFT JOIN sk a ON a.source = uk.source_a AND a.h = uk.h
         |  LEFT JOIN sk b ON b.source = uk.source_b AND b.h = uk.h),
         |ag AS (SELECT source_a, source_b, count(*) AS kk, max(h) AS h_k,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both
         |  FROM fl GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(kk AS INT) AS kk, n_both,
         |  round(CASE WHEN kk < $KMV_K THEN CAST(kk AS DOUBLE)
         |        ELSE ${(KMV_K - 1).toDouble * math.pow(2, 60)} / CAST(h_k AS DOUBLE) END, 6) AS union_est,
         |  round(CAST(n_both AS DOUBLE) / CAST(kk AS DOUBLE), 6) AS jacc_est,
         |  round((CAST(n_both AS DOUBLE) / CAST(kk AS DOUBLE)) *
         |        (CASE WHEN kk < $KMV_K THEN CAST(kk AS DOUBLE)
         |         ELSE ${(KMV_K - 1).toDouble * math.pow(2, 60)} / CAST(h_k AS DOUBLE) END), 6) AS inter_est
         |FROM ag ORDER BY source_a, source_b
         |""".stripMargin,
  )
}
