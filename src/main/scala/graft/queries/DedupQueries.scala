package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Bloom, Dedup}
import graft.sources.Tables

/** Deduplication operator queries over `documents`: exact hash-groups,
  * blocked n-gram Jaccard, MinHash signatures, MinHash+LSH banding, SimHash.
  * The MinHash/LSH arithmetic (60-bit md5-prefix hash, (a·x+b) mod p
  * universal hashing, band signatures) is replicated literally in the
  * DuckDB oracles — same constants, same integer arithmetic.
  *
  * documents are short same-vocabulary word-soup, so unigram shingles
  * (n=1) carry the similarity signal (3-gram Jaccard ≈ 0 on this corpus).
  */
object DedupQueries extends QueryPack {

  private[queries] val K = 16   // minhash functions
  private[queries] val BANDS = 4 // lsh bands (band size 4)
  private[queries] val N = 1    // shingle size
  private val THR = 0.8     // jaccard near-dup threshold
  /** Cluster/curation threshold: 0.9, not 0.8. The synthetic corpus has a
    * ~31-word vocab, so thr 0.8 admits ~2.9M true pairs at sf0.1 (the LSH
    * query keeps it deliberately, as the output-bound benchmark); clustering
    * on that graph pays CC rounds over millions of edges for a demo. 0.9
    * cuts the edge set 3.3× while exercising the identical plan shape.
    */
  private[queries] val CLUSTER_THR = 0.9
  /** Hot-bucket cap for the cluster/curation pipelines. The corpus'
    * band-bucket population is sharply bimodal (median 1; one degenerate
    * signature holds 268 of 500 docs at sf0.01 and 2666 of 5000 at sf0.1 —
    * 3.5M candidate pairs from ONE shuffle key). 250 routes every
    * mega-bucket through the linear hub-star path instead of the quadratic
    * self-join (measured: dropping them outright collapses verified-pair
    * recall to 0.33% at sf0.1 on this everything-is-similar corpus), and
    * the DuckDB oracle mirrors the stat/star CTEs exactly. The thr-0.8
    * `q_dedup_minhash_lsh` gate deliberately stays uncapped as the
    * output-bound upper-bound benchmark.
    */
  private[queries] val BUCKET_CAP = 250
  /** Wide-head gate parameters: 96 bits = 6 bands × 16-bit keys, drawn from
    * two salted 60-bit hash chunks — past the single-BIGINT ceiling AND the
    * collision demonstration: candidate volume ∝ nBands/2^(bits/nBands), so
    * 16-bit keys cut random collisions 4096× vs the narrow head's 4-bit
    * keys (6/65536 vs 12/16). maxHamming 5 (< nBands, pigeonhole).
    */
  private[queries] val WIDE_BITS = 96
  private[queries] val WIDE_BANDS = 6
  private[queries] val WIDE_MAXH = 5
  /** Bloom screen sizing for the gate corpus: m = 2^15 bits (1024 words —
    * trivially broadcastable; the sizing RULE m ≈ n·k/ln2 is what scales),
    * k = 5 probes. FP behavior is deterministic cross-engine — both engines
    * compute identical positions — so the gate pins hits AND false
    * positives bit-for-bit.
    */
  private[queries] val BLOOM_M = 1 << 15
  private[queries] val BLOOM_K = 5

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.cached(spark, dir, "documents")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")),
    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", "source", N, THR)),
    // prefix-filter exact similarity join (AllPairs/PPJoin): EVERY corpus
    // pair at Jaccard >= CLUSTER_THR, no blocking key, no LSH recall loss —
    // the oracle is the exhaustive all-pairs computation, so a green hash
    // IS the losslessness proof. Gated on the SPARSE fixture — the regime
    // prefix filtering is built for (median J ≈ 0.04: rare-first prefixes
    // prune nearly every candidate); on the pathological 31-word harness
    // corpus every exact head is output-bound by construction and the
    // uncapped-LSH gate already serves as that upper-bound benchmark.
    "q_prefix_join" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      graft.dedup.PrefixJoin.jaccardPrefixJoin(sparse, "doc_id", "text",
        N, CLUSTER_THR)
    }),
    // the EXACT head's cross-job deployment shape: base prefix postings as
    // an on-disk bucketed table (full token arrays ride the postings →
    // row-local verify), probes co-bucketed → ZERO shuffle exchanges in
    // the candidate join (runtime-asserted); probe side needs no prefix —
    // single-sided pigeonhole keeps the screen lossless
    "q_prefix_screen_persistent" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      val suffix = math.abs(dir.hashCode)
      val index = graft.dedup.PrefixJoin.persistentPrefixIndex(
        sparse.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", N, CLUSTER_THR,
        s"graft_prefix_index_$suffix")
      graft.dedup.PrefixJoin.screenAgainstPrefixIndex(index,
        sparse.filter(col("doc_id") % 5 === 0), "doc_id", "text", N, CLUSTER_THR,
        s"graft_prefix_probe_$suffix")
        .withColumnRenamed("id", "doc_id")
    }),
    // dedup-head quality measured IN-ENGINE: precision/recall/F1 of the
    // capped MinHash-LSH head against the prefix join's EXACT truth — the
    // per-corpus head-tuning loop as one composed plan, in the same sparse
    // regime the production rule targets
    "q_dedup_eval" -> ((s, dir) => {
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      graft.dedup.DedupEval.pairSetEval(
        Dedup.minhashLshPairs(sparse, "doc_id", "text", N, K, BANDS, CLUSTER_THR,
          maxBucketSize = Some(BUCKET_CAP)),
        graft.dedup.PrefixJoin.jaccardPrefixJoin(sparse, "doc_id", "text", N, CLUSTER_THR))
    }),
    "q_dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(docs(s, dir).filter(col("doc_id") < 50), "doc_id", "text", N, K)),
    "q_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", N, K, BANDS, THR)),
    // directional containment: every 10th doc is quoted (30-token prefix)
    // as a new doc — the asymmetric near-dup Jaccard scores near 0 but
    // containment scores 1; natural corpus pairs surface alongside
    "q_containment" -> ((s, dir) => {
      val d = docs(s, dir)
      val quotes = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 30)).as("text"))
      val corpus = d.select(col("doc_id"), col("text")).unionByName(quotes)
      Dedup.containmentPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5, maxDf = 5)
        .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
          round(col("containment"), 6).as("containment"))
    }),
    "q_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text")),
    "q_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(docs(s, dir), "doc_id", "text")),
    // the ≥64-bit scale head: 96-bit array<bigint> signature, 6 bands of
    // 16 bits — the widened-representation gate (SCALE.md collision math)
    "q_simhash_wide" -> ((s, dir) =>
      Dedup.simhashWideNearDupPairs(docs(s, dir), "doc_id", "text",
        bits = WIDE_BITS, nBands = WIDE_BANDS, maxHamming = WIDE_MAXH)),
    "q_dedup_clusters" -> ((s, dir) => {
      // SimHash-banded head (round-3 measurement): on this dense-similarity
      // corpus it recovers 100% of true J>=0.9 pairs and the exact truth
      // components at both gate scales, where the capped MinHash head
      // oversegments (mega-buckets hold nearly all true pairs here). See
      // Dedup.simhashJaccardPairs + SCALE.md "Dedup head selection".
      val d = docs(s, dir)
      val pairs = Dedup.simhashJaccardPairs(d, "doc_id", "text", N, CLUSTER_THR)
        .select("id_a", "id_b")
      Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
    }),
    "q_incremental_cc" -> ((s, dir) => {
      // cluster MAINTENANCE on ingest: the base corpus (4/5 of docs) is
      // already clustered; the arriving batch (every 5th doc) contributes
      // only the verified pairs that TOUCH it, and the base enters as its
      // label stars. CC(star(CC(E_base)) ∪ E_touching) ≡ CC(E_full), so
      // this gate shares q_dedup_clusters' oracle verbatim — identical
      // output from the incremental plan.
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") % 5 =!= 0)
      val basePairs = Dedup.simhashJaccardPairs(base, "doc_id", "text", N, CLUSTER_THR)
        .select("id_a", "id_b")
      val baseLabels = Dedup.connectedComponents(
        base.select(col("doc_id").as("id")), basePairs)
      // asymmetric touching head: identical to the full pair set filtered
      // to batch endpoints (DedupSpec-proven), without the base side's
      // quadratic self-join
      val touching = Dedup.simhashJaccardPairsTouching(d,
          d.filter(col("doc_id") % 5 === 0).select("doc_id"),
          "doc_id", "text", N, CLUSTER_THR)
        .select("id_a", "id_b")
      Dedup.incrementalComponents(baseLabels,
        d.filter(col("doc_id") % 5 === 0).select(col("doc_id").as("id")), touching)
    }),
    "q_stream_incremental_cc" -> ((s, dir) => {
      // cluster maintenance ON INGEST: ~5 document chunks arrive as
      // micro-batches; each folds the previous label snapshot in as stars
      // plus the pairs touching the batch. The final snapshot must equal
      // the one-shot full-graph CC — q_dedup_clusters' oracle verbatim.
      // each arriving doc's SimHash is computed ONCE and stored with it in
      // the accumulator (round-8): later batches' banded index reads the
      // stored signatures instead of re-hashing the whole accumulated
      // corpus — bit-identical (simhash is a pure function of the text).
      // The left join keeps null-text docs (no signature) as singletons.
      graft.streaming.StreamingOps.streamIncrementalCC(s, dir,
        (known, batchIds) => Dedup.simhashJaccardPairsTouchingPresigned(
          known, batchIds, "doc_id", "text", "__sig", N, CLUSTER_THR),
        nChunks = 5,
        enrich = batch => batch.join(
          Dedup.simhash(batch, "doc_id", "text", 48)
            .select(col("id").as("doc_id"), col("simhash").as("__sig")),
          Seq("doc_id"), "left"))
    }),
    "q_incremental_screen" -> ((s, dir) => {
      // ingest-time near-dup screen: every 5th doc plays the arriving
      // batch, the rest the indexed base corpus (asymmetric probe — no
      // base×base or batch×batch comparisons)
      val d = docs(s, dir)
      Dedup.simhashScreen(
        d.filter(col("doc_id") % 5 =!= 0),
        d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),
    "q_screen_persistent" -> ((s, dir) => {
      // the cross-JOB deployment shape of the incremental screen (round-5
      // verdict item): the base corpus's banded index lives ON DISK as a
      // bucketed table, the arriving batch's probe frame is bucketed the
      // same way, and the probe join runs with zero shuffle exchanges
      // (runtime-asserted inside screenAgainstPersistentIndex). Same
      // screen semantics — and the same oracle — as q_incremental_screen.
      val d = docs(s, dir)
      val suffix = math.abs(dir.hashCode)
      val index = Dedup.persistentBandedIndex(d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", s"graft_simhash_index_$suffix")
      Dedup.screenAgainstPersistentIndex(index, d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", s"graft_simhash_probe_$suffix")
        .withColumnRenamed("id", "doc_id")
    }),
    "q_bloom_screen" -> ((s, dir) => {
      // constant-space exact-membership screen: the base corpus (4/5 of
      // docs) is folded into a bloom bitmap ONCE (one hash-shuffle on the
      // ≤ m/32 word axis), then the arriving batch (every 5th doc) is
      // probed with ZERO joins — k codegen bit-tests per row against the
      // broadcast word array. exact_hit rides along so the gate also pins
      // the no-false-negative contract (bloom_hit ≥ exact_hit row-wise).
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") % 5 =!= 0).select(md5(col("text")).as("fp"))
      val words = Bloom.collectWords(
        Bloom.bitmap(base, col("fp"), BLOOM_M, BLOOM_K), BLOOM_M)
      val probe = d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val hits = Bloom.probeBroadcast(words, probe, col("fp"), BLOOM_M, BLOOM_K)
        .select(col("doc_id"), col("bloom_hit"))
      val exact = probe
        .join(base.distinct().withColumn("__e", lit(1)), Seq("fp"), "left")
        .select(col("doc_id"), coalesce(col("__e"), lit(0)).as("exact_hit"))
      hits.withColumn("bloom_hit", col("bloom_hit").cast("int"))
        .join(exact, Seq("doc_id"))
    }),
    "q_dedup_clusters_capped" -> ((s, dir) => {
      // The sparse-corpus scale path: MinHash-LSH with the hot-bucket cap —
      // mega-buckets contribute linear hub stars instead of O(bucket²)
      // pairs. Kept as its own gate so the capped semantics stay oracled.
      val d = docs(s, dir)
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", N, K, BANDS, CLUSTER_THR,
        maxBucketSize = Some(BUCKET_CAP))
      Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
    }),
    // leakage-free split: near-dup clusters (capped-LSH + CC) assigned
    // whole to train/holdout by cluster-label hash — twins never straddle
    "q_leakage_split" -> ((s, dir) =>
      Dedup.clusterSplit(docs(s, dir), "doc_id", "text", N, K, BANDS,
        CLUSTER_THR, Some(BUCKET_CAP), holdoutPct = 20)),
    // quality-aware canonicalization: per near-dup cluster keep the BEST
    // document (highest round-6 quality, ties to lowest doc_id) — the
    // curation decision min-id canonical selection gets wrong when the
    // best-written copy of a page is not the first-crawled one. Argmax is
    // a decomposable max(struct) — no window over the cluster axis.
    "q_canonical_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", N, K, BANDS,
        CLUSTER_THR, maxBucketSize = Some(BUCKET_CAP))
      val clusters = Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
      val q = d.select(col("doc_id").as("id"),
        round(graft.text.TextFunctions.qualityScore(col("text")), 6).as("quality"))
      clusters.join(q, Seq("id"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).cast("int").as("n_members"),
          max(struct(col("quality"), (-col("id")).as("negid"))).as("m"))
        .select(col("cluster"), (-col("m.negid")).as("canonical_id"),
          col("m.quality").as("best_quality"), col("n_members"))
    }),
    "q_dedup_clusters_sparse" -> ((s, dir) => {
      // the capped-LSH head IN ITS OWN REGIME (round-5 verdict item): a
      // crawl-like sparse-similarity corpus (500-hot/10k-cold vocabulary,
      // median J ≈ 0.04, planted near-dup clusters + exact dups) generated
      // deterministically from the doc_id axis — see SparseCorpus. Head
      // recall vs brute-force truth on this fixture was measured by
      // graft.tools.HeadCompare (in the tree at commit ed768c0) and is
      // recorded in SCALE.md; the gate pins the algorithm cross-engine.
      // row-local codegen generation — regenerating per scan is cheaper
      // than caching 5k docs would save
      val sparse = graft.dedup.SparseCorpus.generate(docs(s, dir).select("doc_id"))
      val pairs = Dedup.minhashLshPairs(sparse, "doc_id", "text", N, K, BANDS,
        CLUSTER_THR, maxBucketSize = Some(BUCKET_CAP))
      Dedup.connectedComponents(sparse.select(col("doc_id").as("id")), pairs)
    }),
  )

  /** Shared oracle fragments. */
  private val sh = "list_distinct(string_split(text, ' '))" // n=1 shingles
  private val h60 = "CAST(CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT)"
  private def paramsValues: String =
    Dedup.minhashParams(K).map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")

  private def sigCte(where: String, src: String = "documents"): String =
    s"""p(i, a, b) AS (VALUES $paramsValues),
       |shx AS (SELECT doc_id, unnest($sh) AS s FROM $src $where),
       |hx AS (SELECT doc_id, i, (a * ($h60 % ${Dedup.MINHASH_P}) + b) % ${Dedup.MINHASH_P} AS h
       |       FROM shx CROSS JOIN p),
       |sig AS (SELECT doc_id, i, CAST(min(h) AS BIGINT) AS minh FROM hx GROUP BY doc_id, i)""".stripMargin

  /** Raw jaccard (threshold filters must use the UNROUNDED value, exactly
    * like the Spark side; rounding happens only in the output projection).
    */
  private val jaccardRaw =
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"

  /** CTE chain ending in `ver(id_a, id_b, sim)` (unrounded LSH-verified
    * candidate similarities) and `edges(src, dst)` (symmetric pairs at
    * [[THR]]) — shared by the LSH, cluster, and curation oracles so all
    * three gates sit on the same scale-safe candidate generation.
    */
  private[queries] def lshEdgesCtes(thr: Double, cap: Option[Int] = None,
      src: String = "documents"): String = {
    // capped: full pairs from within-cap buckets UNION hub-star candidates
    // (min doc_id vs every member) from over-cap buckets — same linear
    // mega-bucket treatment as Dedup.lshCandidates
    val candCtes = cap match {
      case Some(c) =>
        s"""bandstat AS (SELECT band, band_sig, count(*) AS bn, min(doc_id) AS hub
           |             FROM band GROUP BY band, band_sig),
           |bandf AS (SELECT b.doc_id, b.band, b.band_sig FROM band b
           |          JOIN bandstat k ON b.band = k.band AND b.band_sig = k.band_sig
           |          AND k.bn <= $c),
           |cand AS (SELECT DISTINCT id_a, id_b FROM (
           |           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |           FROM bandf a JOIN bandf b
           |             ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
           |           UNION ALL
           |           SELECT k.hub AS id_a, b.doc_id AS id_b
           |           FROM band b JOIN bandstat k
           |             ON b.band = k.band AND b.band_sig = k.band_sig
           |             AND k.bn > $c AND b.doc_id != k.hub) u),""".stripMargin
      case None =>
        """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |         FROM band a JOIN band b
          |           ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),""".stripMargin
    }
    s"""${sigCte("", src)},
       |band AS (SELECT doc_id, CAST(i // 4 AS INT) AS band,
       |                string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS band_sig
       |         FROM sig GROUP BY doc_id, CAST(i // 4 AS INT)),
       |$candCtes
       |t AS (SELECT doc_id, $sh AS sh FROM $src),
       |ver AS (SELECT c.id_a, c.id_b, $jaccardRaw AS sim
       |        FROM cand c JOIN t a ON a.doc_id = c.id_a JOIN t b ON b.doc_id = c.id_b),
       |edges0 AS (SELECT id_a AS src, id_b AS dst FROM ver WHERE sim >= $thr),
       |edges AS (SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)""".stripMargin
  }

  /** CTE chain ending in `ver(id_a, id_b, sim)` / `edges(src, dst)` for the
    * SIMHASH-headed near-dup graph: 48-bit simhash, 12 bands × 4 bits
    * (pigeonhole-guaranteed recall at hamming ≤ 11), integer hamming
    * pre-filter, exact Jaccard verify at `thr` — CTE-for-CTE the plan of
    * [[graft.dedup.Dedup.simhashJaccardPairs]] with its defaults.
    */
  /** 48-bit SimHash signatures + 12×4-bit banding for every document —
    * CTE chain ending in `sbanded(doc_id, simhash, band, bkey)`; shared by
    * the symmetric near-dup graph and the asymmetric ingest screen.
    */
  private def simhashSigCtes: String =
    s"""stok AS (SELECT doc_id, unnest($sh) AS s FROM documents),
       |sth AS (SELECT doc_id, $h60 AS h FROM stok),
       |sbits AS (SELECT CAST(b AS INT) AS b FROM range(0, 48) t(b)),
       |ssgn AS (SELECT doc_id, b,
       |             sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
       |      FROM sth CROSS JOIN sbits GROUP BY doc_id, b),
       |ssig AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |        FROM ssgn GROUP BY doc_id),
       |sbands AS (SELECT CAST(x AS INT) AS band FROM range(0, 12) t(x)),
       |sbanded AS (SELECT doc_id, simhash, band,
       |                  (simhash >> (band * 4)) & 15 AS bkey
       |           FROM ssig CROSS JOIN sbands)""".stripMargin

  /** Oracle for the batch ingest screen — and, verbatim, for the streaming
    * screen gate (`q_stream_screen`): per-doc independence makes the
    * streamed union identical to the one-shot batch result.
    */
  private[queries] def screenOracleSql: String =
    s"""WITH $simhashSigCtes,
       |m AS (SELECT DISTINCT n.doc_id AS id, b.doc_id AS base_id,
       |             bit_count(xor(n.simhash, b.simhash)) AS h
       |      FROM sbanded n JOIN sbanded b
       |        ON n.band = b.band AND n.bkey = b.bkey
       |      WHERE n.doc_id % 5 = 0 AND b.doc_id % 5 != 0
       |        AND bit_count(xor(n.simhash, b.simhash)) <= 11)
       |SELECT id AS doc_id, count(*) AS n_matches,
       |       CAST(min(h * 1000000000000 + base_id) // 1000000000000 AS INT) AS min_hamming,
       |       min(h * 1000000000000 + base_id) % 1000000000000 AS match_id
       |FROM m GROUP BY id
       |""".stripMargin

  private[queries] def simhashEdgesCtes(thr: Double): String =
    s"""$simhashSigCtes,
       |scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM sbanded a JOIN sbanded b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 11),
       |t AS (SELECT doc_id, $sh AS sh FROM documents),
       |ver AS (SELECT c.id_a, c.id_b, $jaccardRaw AS sim
       |        FROM scand c JOIN t a ON a.doc_id = c.id_a JOIN t b ON b.doc_id = c.id_b),
       |edges0 AS (SELECT id_a AS src, id_b AS dst FROM ver WHERE sim >= $thr),
       |edges AS (SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY md5(text)
        |""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, $sh AS sh FROM documents),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardRaw AS sim
         |          FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(sim, 6) AS sim FROM pairs WHERE sim >= $THR
         |""".stripMargin,
    "q_prefix_join" ->
      // deliberately the EXHAUSTIVE all-pairs form — the engine's prefix
      // filter must reproduce it row-for-row to hash green
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |t AS (SELECT doc_id, $sh AS sh FROM sparsedocs),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardRaw AS sim
         |          FROM t a JOIN t b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(sim, 6) AS sim FROM pairs WHERE sim >= $CLUSTER_THR
         |""".stripMargin,
    "q_prefix_screen_persistent" ->
      // exhaustive probe×base truth (the probe side is bounded); best =
      // min of the exact (1e6 − sim·1e6)·10¹² + id encoding
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |base AS (SELECT doc_id, $sh AS sh FROM sparsedocs WHERE doc_id % 5 <> 0),
         |probe AS (SELECT doc_id, $sh AS sh FROM sparsedocs WHERE doc_id % 5 = 0),
         |pr AS (SELECT p.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(len(list_intersect(p.sh, b.sh)) AS DOUBLE)
         |           / (len(p.sh) + len(b.sh) - len(list_intersect(p.sh, b.sh))) AS sim
         |       FROM probe p CROSS JOIN base b),
         |hits AS (SELECT id_a, id_b, sim,
         |           (1000000 - CAST(round(round(sim, 6) * 1000000) AS BIGINT))
         |             * 1000000000000 + id_b AS e
         |         FROM pr WHERE sim >= $CLUSTER_THR),
         |g AS (SELECT id_a, count(*) AS n_matches, min(e) AS e FROM hits GROUP BY 1)
         |SELECT p.doc_id, coalesce(g.n_matches, 0) AS n_matches,
         |       CAST(1000000 - (g.e // 1000000000000) AS DOUBLE) / 1000000 AS best_sim,
         |       g.e % 1000000000000 AS match_id
         |FROM probe p LEFT JOIN g ON g.id_a = p.doc_id
         |""".stripMargin,
    "q_dedup_eval" ->
      // candidate side = the capped-LSH chain (ver), truth side = the
      // exhaustive pair set over the same t(doc_id, sh) frame
      s"""WITH ${graft.dedup.SparseCorpus.oracleCtes()},
         |${lshEdgesCtes(CLUSTER_THR, Some(BUCKET_CAP), src = "sparsedocs")},
         |candp AS (SELECT DISTINCT id_a, id_b FROM ver WHERE sim >= $CLUSTER_THR),
         |truthp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |           FROM t a JOIN t b ON a.doc_id < b.doc_id
         |           WHERE $jaccardRaw >= $CLUSTER_THR),
         |agg AS (SELECT
         |  (SELECT count(*) FROM truthp) AS n_truth,
         |  (SELECT count(*) FROM candp) AS n_cand,
         |  (SELECT count(*) FROM truthp JOIN candp USING (id_a, id_b)) AS n_hit),
         |pr AS (SELECT n_truth, n_cand, n_hit,
         |         CASE WHEN n_cand = 0 THEN 0.0 ELSE CAST(n_hit AS DOUBLE) / n_cand END AS p,
         |         CASE WHEN n_truth = 0 THEN 0.0 ELSE CAST(n_hit AS DOUBLE) / n_truth END AS r
         |       FROM agg)
         |SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_cand AS BIGINT) AS n_cand,
         |       CAST(n_hit AS BIGINT) AS n_hit,
         |       round(p, 6) AS "precision", round(r, 6) AS recall,
         |       round(CASE WHEN p + r = 0.0 THEN 0.0
         |                  ELSE 2.0 * p * r / (p + r) END, 6) AS f1
         |FROM pr
         |""".stripMargin,
    "q_containment" ->
      // same quote planting, same df<=5 informative-gram cap, same
      // directed-pair arithmetic; threshold compares the raw double on
      // both engines (0.5 is binary-exact)
      s"""WITH q AS (SELECT doc_id + 10000000 AS doc_id,
         |             array_to_string(string_split(text, ' ')[1:30], ' ') AS text
         |           FROM documents WHERE doc_id % 10 = 0),
         |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM q),
         |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
         |pos AS (SELECT CAST(x AS INT) AS i FROM range(0, 600) r(x)),
         |g AS (SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
         |      FROM tk JOIN pos ON i + 3 <= len(t)),
         |keep AS (SELECT g FROM (SELECT g, count(*) AS d FROM g GROUP BY g) WHERE d <= 5),
         |gf AS (SELECT doc_id, g.g FROM g JOIN keep USING (g)),
         |sz AS (SELECT doc_id, count(*) AS size_a FROM gf GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM gf a JOIN gf b USING (g) WHERE a.doc_id != b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, size_a,
         |       round(CAST(inter AS DOUBLE) / size_a, 6) AS containment
         |FROM p JOIN sz ON sz.doc_id = p.id_a
         |WHERE CAST(inter AS DOUBLE) / size_a >= 0.5
         |""".stripMargin,
    "q_dedup_minhash_sig" ->
      s"""WITH ${sigCte("WHERE doc_id < 50")}
         |SELECT doc_id AS id, i, minh FROM sig
         |""".stripMargin,
    "q_dedup_minhash_lsh" ->
      s"""WITH ${lshEdgesCtes(THR)}
         |SELECT id_a, id_b, round(sim, 6) AS sim FROM ver WHERE sim >= $THR
         |""".stripMargin,
    "q_bloom_screen" ->
      // literal replication of the Kirsch–Mitzenmacher contract: fp =
      // md5(text); h1 = hash60(fp); stride = hash60(fp || '#2') % (m-1) + 1;
      // position_i = (h1 + i·stride) % m; 32-bit words in BIGINT
      s"""WITH base AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 5 != 0),
         |ks AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, $BLOOM_K) t(i)),
         |bh AS (SELECT CAST(CAST(('0x' || substr(md5(fp), 1, 15)) AS UBIGINT) AS BIGINT) AS h1,
         |              CAST(CAST(('0x' || substr(md5(fp || '#2'), 1, 15)) AS UBIGINT) AS BIGINT) % ${BLOOM_M - 1} + 1 AS stride
         |       FROM base),
         |bpos AS (SELECT (h1 + i * stride) % $BLOOM_M AS p FROM bh CROSS JOIN ks),
         |bits AS (SELECT CAST(p // 32 AS INT) AS w,
         |                bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         |         FROM bpos GROUP BY 1),
         |probe AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0),
         |ph AS (SELECT doc_id, fp,
         |              CAST(CAST(('0x' || substr(md5(fp), 1, 15)) AS UBIGINT) AS BIGINT) AS h1,
         |              CAST(CAST(('0x' || substr(md5(fp || '#2'), 1, 15)) AS UBIGINT) AS BIGINT) % ${BLOOM_M - 1} + 1 AS stride
         |       FROM probe),
         |ppos AS (SELECT doc_id, (h1 + i * stride) % $BLOOM_M AS p FROM ph CROSS JOIN ks),
         |pj AS (SELECT doc_id,
         |              coalesce((b.bits >> CAST(p % 32 AS INT)) & 1, 0) = 1 AS hit
         |       FROM ppos LEFT JOIN bits b ON CAST(p // 32 AS INT) = b.w),
         |agg AS (SELECT doc_id, CAST(bool_and(hit) AS INT) AS bloom_hit FROM pj GROUP BY doc_id)
         |SELECT a.doc_id, a.bloom_hit,
         |       CAST(p.fp IN (SELECT fp FROM base) AS INT) AS exact_hit
         |FROM agg a JOIN probe p ON a.doc_id = p.doc_id
         |""".stripMargin,
    "q_incremental_screen" -> screenOracleSql,
    // identical semantics to q_incremental_screen — only the physical
    // layout (on-disk bucketed index, co-located probe join) differs
    "q_screen_persistent" -> screenOracleSql,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE ${simhashEdgesCtes(CLUSTER_THR)},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src)
         |SELECT id, min(lbl) AS cluster FROM cc GROUP BY id
         |""".stripMargin,
    // the streamed maintenance path must land on the identical full-graph
    // clustering — same oracle a third time
    "q_stream_incremental_cc" ->
      s"""WITH RECURSIVE ${simhashEdgesCtes(CLUSTER_THR)},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src)
         |SELECT id, min(lbl) AS cluster FROM cc GROUP BY id
         |""".stripMargin,
    // star-compressed incremental propagation == full-graph CC (identity
    // in Dedup.incrementalComponents' scaladoc) — oracle verbatim
    "q_incremental_cc" ->
      s"""WITH RECURSIVE ${simhashEdgesCtes(CLUSTER_THR)},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src)
         |SELECT id, min(lbl) AS cluster FROM cc GROUP BY id
         |""".stripMargin,
    "q_dedup_clusters_capped" ->
      s"""WITH RECURSIVE ${lshEdgesCtes(CLUSTER_THR, Some(BUCKET_CAP))},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src)
         |SELECT id, min(lbl) AS cluster FROM cc GROUP BY id
         |""".stripMargin,
    "q_leakage_split" ->
      // the capped-cluster recursive CTE + the cross-engine md5-prefix
      // hash of the cluster label (same construction as q_sample_hash)
      s"""WITH RECURSIVE ${lshEdgesCtes(CLUSTER_THR, Some(BUCKET_CAP))},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src),
         |cl AS (SELECT id, min(lbl) AS cluster FROM cc GROUP BY id)
         |SELECT id, cluster,
         |  CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 100 < 20
         |       THEN 'holdout' ELSE 'train' END AS split
         |FROM cl
         |""".stripMargin,
    "q_canonical_best" ->
      // same capped-LSH CC chain as q_dedup_clusters_capped; the argmax is
      // the encoded-key max (q6·10⁹ + (10⁹−1−id)) — identical ordering to
      // the engine's max(struct(quality, −id)) because round-6 qualities
      // map 1:1 onto q6 integers (encode requires id < 10⁹; gate corpora
      // are ≤ 5·10⁴)
      s"""WITH RECURSIVE ${lshEdgesCtes(CLUSTER_THR, Some(BUCKET_CAP))},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src),
         |cl AS (SELECT id, min(lbl) AS cluster FROM cc GROUP BY id),
         |tq AS (SELECT doc_id AS id,
         |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
         |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE) AS nstop
         |       FROM documents),
         |q AS (SELECT id, round(greatest(least((least(n / 100.0, 1.0) + nd / n - nstop / n) / 2.0, 1.0), 0.0), 6) AS quality FROM tq),
         |j AS (SELECT cl.cluster, cl.id,
         |        CAST(round(q.quality * 1000000) AS BIGINT) AS q6
         |      FROM cl JOIN q USING (id)),
         |b AS (SELECT cluster, CAST(count(*) AS INT) AS n_members,
         |        max(q6 * 1000000000 + (999999999 - id)) AS k
         |      FROM j GROUP BY cluster)
         |SELECT cluster, 999999999 - (k % 1000000000) AS canonical_id,
         |       (k // 1000000000) / 1000000.0 AS best_quality, n_members
         |FROM b
         |""".stripMargin,
    "q_dedup_clusters_sparse" ->
      // the generated corpus CTEs feed the SAME capped-LSH chain the
      // capped gate uses, just sourced from sparsedocs
      s"""WITH RECURSIVE ${graft.dedup.SparseCorpus.oracleCtes()},
         |${lshEdgesCtes(CLUSTER_THR, Some(BUCKET_CAP), src = "sparsedocs")},
         |cc(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM sparsedocs
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src)
         |SELECT id, min(lbl) AS cluster FROM cc GROUP BY id
         |""".stripMargin,
    "q_simhash_neardup" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sh) AS s FROM documents),
         |th AS (SELECT doc_id, $h60 AS h FROM tok),
         |bits AS (SELECT CAST(b AS INT) AS b FROM range(0, 48) t(b)),
         |c AS (SELECT doc_id, b,
         |             sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
         |      FROM th CROSS JOIN bits GROUP BY doc_id, b),
         |sig AS (SELECT doc_id,
         |          CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |        FROM c GROUP BY doc_id),
         |bands AS (SELECT CAST(x AS INT) AS band FROM range(0, 4) t(x)),
         |banded AS (SELECT doc_id, simhash, band,
         |                  (simhash >> (band * 12)) & 4095 AS bkey
         |           FROM sig CROSS JOIN bands),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |          FROM banded a JOIN banded b
         |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
         |""".stripMargin,
    "q_simhash_wide" ->
      // 96-bit wide head: conceptual bit b draws from salted hash chunk
      // k = b//60 at position b%60 (chunk 0 = plain token hash); word
      // w = b//(96/6) holds 16 bits -> 6 band keys, one word per band.
      s"""WITH tok AS (SELECT doc_id, unnest($sh) AS s FROM documents),
         |bdef AS (SELECT CAST(b AS INT) AS b, CAST(b // 60 AS INT) AS k,
         |                CAST(b % 60 AS INT) AS p,
         |                CAST(b // ${WIDE_BITS / WIDE_BANDS} AS INT) AS w
         |         FROM range(0, $WIDE_BITS) t(b)),
         |sgn AS (SELECT doc_id, b, w,
         |          sum(CASE WHEN (CAST(CAST(('0x' || substr(md5(
         |                CASE WHEN k = 0 THEN s ELSE CAST(k AS VARCHAR) || '#' || s END
         |              ), 1, 15)) AS UBIGINT) AS BIGINT) >> p) % 2 = 1
         |            THEN 1 ELSE -1 END) AS sgn
         |      FROM tok CROSS JOIN bdef GROUP BY doc_id, b, w),
         |words AS (SELECT doc_id, w,
         |            CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << (b % ${WIDE_BITS / WIDE_BANDS})) ELSE 0 END) AS BIGINT) AS wbits
         |          FROM sgn GROUP BY doc_id, w),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM words a JOIN words b
         |           ON a.w = b.w AND a.wbits = b.wbits AND a.doc_id < b.doc_id),
         |h AS (SELECT c.id_a, c.id_b,
         |        CAST(sum(bit_count(xor(wa.wbits, wb.wbits))) AS INT) AS hamming
         |      FROM cand c JOIN words wa ON wa.doc_id = c.id_a
         |      JOIN words wb ON wb.doc_id = c.id_b AND wb.w = wa.w
         |      GROUP BY c.id_a, c.id_b)
         |SELECT id_a, id_b, hamming FROM h WHERE hamming <= $WIDE_MAXH
         |""".stripMargin,
    "q_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sh) AS s FROM documents),
         |th AS (SELECT doc_id, $h60 AS h FROM tok),
         |bits AS (SELECT CAST(b AS INT) AS b FROM range(0, 32) t(b)),
         |c AS (SELECT doc_id, b,
         |             sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
         |      FROM th CROSS JOIN bits GROUP BY doc_id, b)
         |SELECT doc_id AS id,
         |       CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM c GROUP BY doc_id
         |""".stripMargin,
  )
}
