package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Tables, WarcSource}
import graft.text.{Heuristics, HtmlExtract}
import graft.text.TextFunctions.{hash60, tokenCount}

/** Crawl-ingest front door: WARC container parsing + HTML → text
  * extraction (beyond-reference — the step that turns a Common Crawl dump
  * into the `documents` frame every other operator consumes).
  *
  * Fixture discipline (same pattern as the multimodal gates): the corpus
  * is serialized into real `.warc`/`.warc.gz` archives built from the
  * `documents` table by deterministic construction — each doc becomes an
  * HTTP `response` record wrapping an HTML page whose markup exercises
  * script/style/comment stripping, numeric + named character references,
  * and the robots-noindex meta; every 13th doc is planted as a corrupt
  * record (mangled magic) and every archive carries a `warcinfo` header
  * record. The Spark side REALLY writes, gunzips, parses, resyncs, and
  * extracts; the DuckDB oracle replays the construction arithmetic.
  */
object WebQueries extends QueryPack {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.cached(spark, dir, "documents")

  // ---- single-source-of-truth HTML scaffold (used by fixture AND oracle)
  private val PRE_TITLE = "<!doctype html><html><head><title>Doc "
  private val POST_TITLE = "</title>"
  private val META_NOINDEX = "<meta name=\"robots\" content=\"noindex,nofollow\">"
  private val HEAD_REST = "<style>p { color: red; } /* > */</style>" +
    "<script>if (1 < 2) { alert(\"</b>\"); }</script>" +
    "<!-- <p>not text</p> --></head><body><h1>Doc &amp; He&#97;ding "
  private val BODY_OPEN = "</h1><p>"
  private val TAIL_AFTER_P = "</body></html>"

  /** Oracle CTEs rebuilding [[plantedCoreGraph]]'s edges (ek0) and their
    * symmetrized distinct form (symk) — shared by q_kcore and q_triangles.
    */
  private val plantedGraphCtes =
    """ek0 AS (
      |  SELECT 'c' || lpad(CAST((doc_id % 4) * 6 + (doc_id // 4) % 6 AS VARCHAR), 2, '0') AS src,
      |         'c' || lpad(CAST((doc_id % 4) * 6 + (doc_id // 24) % 6 AS VARCHAR), 2, '0') AS dst
      |  FROM documents WHERE (doc_id // 4) % 6 <> (doc_id // 24) % 6
      |  UNION ALL
      |  SELECT 'c' || lpad(CAST((doc_id % 4) * 6 AS VARCHAR), 2, '0'),
      |         'c' || lpad(CAST(((doc_id % 4 + 1) % 4) * 6 AS VARCHAR), 2, '0')
      |  FROM documents WHERE doc_id % 25 = 7
      |  UNION ALL
      |  SELECT 't' || CAST(doc_id % 4 AS VARCHAR) || 'a',
      |         't' || CAST(doc_id % 4 AS VARCHAR) || 'b'
      |  FROM documents WHERE doc_id % 20 = 3
      |  UNION ALL
      |  SELECT 't' || CAST(doc_id % 4 AS VARCHAR) || 'b',
      |         'c' || lpad(CAST((doc_id % 4) * 6 AS VARCHAR), 2, '0')
      |  FROM documents WHERE doc_id % 20 = 3),
      |symk AS (SELECT DISTINCT a, b FROM (
      |  SELECT src AS a, dst AS b FROM ek0 WHERE src <> dst
      |  UNION ALL
      |  SELECT dst AS a, src AS b FROM ek0 WHERE src <> dst))""".stripMargin

  private val N_FILES = 8
  private val CORRUPT_MOD = 13 // doc_id % 13 == 5 → mangled magic
  private val NOINDEX_MOD = 7 // doc_id % 7 == 0 → robots noindex
  // doc_id % 11 == 3 → page served as ISO-8859-1; == 7 → UTF-8; both get a
  // non-ASCII ' café' suffix so a charset mix-up corrupts the checksum
  private val CHARSET_MOD = 11
  private val CAFE = " café"
  // anchor j of a doc in source s targets domain src{(id+j) mod (s+1)}
  // (see the skew note at the anchor builder)

  /** Write the WARC fixture for `dir`'s documents; returns its path.
    * Rebuilt on every call (cheap: one pass over the corpus) so gates stay
    * independent and idempotent.
    */
  private def warcFixture(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val path = s"target/warc/docs_${math.abs(dir.hashCode)}"
    val d = docs(spark, dir)
    // empty-text anchors: they feed the link-graph gates but contribute
    // nothing to extraction (inline tag, no content). Targets are SKEWED
    // on purpose — source s only links into domains src0..src{s}, so src0
    // is the everyone-links-here hub and src19 the long tail; a uniform
    // target formula would converge to the degenerate all-equal PageRank
    // fixed point and make the domain-prior cut vacuous
    def anchor(j: Int) = concat(
      lit("<a href=\"http://src"),
      pmod(col("doc_id") + j, substring(col("source"), 4, 10).cast("int") + 1),
      lit(".example.com/page\"></a>"))
    val latin = pmod(col("doc_id"), lit(CHARSET_MOD)) === 3
    val cafe = when(pmod(col("doc_id"), lit(CHARSET_MOD)).isin(3, 7), lit(CAFE))
      .otherwise(lit(""))
    val html = concat(
      lit(PRE_TITLE), col("doc_id"), lit(POST_TITLE),
      when(pmod(col("doc_id"), lit(NOINDEX_MOD)) === 0, lit(META_NOINDEX)).otherwise(lit("")),
      lit(HEAD_REST), col("doc_id"), lit(BODY_OPEN),
      // character-reference round trip: 'a' → numeric decimal, 'o' → hex
      // ('&#97;' contains no 'o', so the replace order cannot cascade)
      regexp_replace(regexp_replace(col("text"), "a", "&#97;"), "o", "&#x6F;"),
      cafe,
      lit("</p>"), anchor(0), anchor(1), anchor(2), lit(TAIL_AFTER_P))
    val responses = d.select(
      pmod(col("doc_id"), lit(N_FILES)).cast("int").as("fileNo"),
      (pmod(col("doc_id"), lit(N_FILES)) % 3 === 0).as("gzip"),
      col("doc_id").cast("long").as("seq"),
      when(pmod(col("doc_id"), lit(CORRUPT_MOD)) === 5, lit("WARX/1.0"))
        .otherwise(lit("WARC/1.0")).as("version"),
      lit("response").as("warcType"),
      concat(lit("<urn:uuid:doc-"), col("doc_id"), lit(">")).as("recordId"),
      concat(lit("http://"), col("source"), lit(".example.com/doc/"), col("doc_id")).as("targetUri"),
      lit("2026-01-01T00:00:00Z").as("warcDate"),
      lit("application/http; msgtype=response").as("contentType"),
      {
        val httpHdr = concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
          when(latin, lit("ISO-8859-1")).otherwise(lit("utf-8")), lit("\r\n\r\n"))
        when(latin, encode(concat(httpHdr, html), "ISO-8859-1"))
          .otherwise(encode(concat(httpHdr, html), "UTF-8")).as("payload")
      })
    val infos = spark.range(N_FILES).select(
      col("id").cast("int").as("fileNo"),
      (col("id") % 3 === 0).as("gzip"),
      lit(-1L).as("seq"), // warcinfo leads its archive
      lit("WARC/1.0").as("version"),
      lit("warcinfo").as("warcType"),
      concat(lit("<urn:uuid:info-"), col("id"), lit(">")).as("recordId"),
      lit(null).cast("string").as("targetUri"),
      lit("2026-01-01T00:00:00Z").as("warcDate"),
      lit("application/warc-fields").as("contentType"),
      lit("software: graft\r\n").cast("binary").as("payload"))
    WarcSource.writeWarc(responses.unionByName(infos).as[WarcSource.OutRecord], path)
    path
  }

  /** Record-level accounting over the parsed archives: per WARC type (with
    * quarantined spans as type `__corrupt`), record count and distinct
    * archive count. Proves magic/header/content-length framing, gzip
    * transparency, file placement, and corrupt-resync each cost exactly
    * one record.
    */
  private def warcSourceQ(spark: SparkSession, dir: String): DataFrame = {
    val rows = WarcSource.readWarc(spark, warcFixture(spark, dir))
    rows.select(coalesce(col("warc_type"), lit("__corrupt")).as("warc_type"), col("file"))
      .groupBy(col("warc_type"))
      .agg(count(lit(1)).as("n_records"), countDistinct(col("file")).as("n_files"))
      .orderBy(col("warc_type"))
  }

  /** Full ingest: parse → HTTP body → HTML → text + noindex, keyed back to
    * the corpus by the doc id parsed from the target URI. The per-lang
    * checksum pins the EXACT extracted string (title line + entity-decoded
    * heading + body text) cross-engine.
    */
  private def htmlExtractQ(spark: SparkSession, dir: String): DataFrame = {
    HtmlExtract.register(spark)
    val rows = WarcSource.readWarc(spark, warcFixture(spark, dir))
    val pages = rows.filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("http_status"),
        HtmlExtract.htmlToText(WarcSource.decodedBody(col("body"), col("http_content_type"))).as("extracted"),
        HtmlExtract.htmlNoindex(WarcSource.decodedBody(col("body"), col("http_content_type"))).as("noindex"))
    aggregatePages(spark, dir, pages)
  }

  /** Shared close for the batch and streamed ingest gates: key pages back
    * to the corpus by the doc id in the URI, per-lang accounting + exact
    * content checksum.
    */
  private def aggregatePages(spark: SparkSession, dir: String, pages: DataFrame): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"))
    pages.join(d, "doc_id")
      .withColumn("h", hash60(md5(col("extracted"))))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("noindex"), 1L).otherwise(0L)).as("n_noindex"),
        min(col("http_status")).as("min_status"),
        max(col("http_status")).as("max_status"),
        sum(length(col("extracted"))).as("sum_chars"),
        expr("bit_xor(h)").as("content_checksum"))
      .orderBy(col("lang"))
  }

  /** Domain-graph PageRank from the planted anchors: URI host → href host
    * edges (both REALLY parsed/extracted), distinct, five pinned
    * iterations — the Common Crawl-style domain centrality prior.
    */
  /** LPA communities over a PLANTED community graph (the sparse-dedup
    * fixture discipline — the extracted WARC graph is a dense near-clique
    * where any community algorithm vacuously floods to one label): 24
    * domains in 4 blocks of 6, dense deterministic pseudo-random
    * within-block edges, a handful of cross-block bridges. The gate pins
    * every round's argmax AND the planted structure is real evidence:
    * within-block labels collapse, bridges lose the vote, 4 communities
    * survive.
    */
  private def lpaQ(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.cached(spark, dir, "documents")
    // independent mixed-radix digits of doc_id — block ⟂ i ⟂ j, so each
    // block is a dense pseudo-random intra-graph, not a degenerate cycle
    val block = col("doc_id") % 4
    val i = expr("doc_id div 4") % 6
    val j = expr("doc_id div 24") % 6
    val node = (b: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) =>
      concat(lit("c"), lpad((b * 6 + k).cast("string"), 2, "0"))
    val intra = d.where(i =!= j)
      .select(node(block, i).as("src"), node(block, j).as("dst"))
    val bridges = d.where(col("doc_id") % 25 === 7)
      .select(node(block, lit(0)).as("src"),
        node((block + 1) % 4, lit(0)).as("dst"))
    graft.graph.LinkGraph.lpaCommunities(
        intra.unionByName(bridges), "src", "dst", rounds = 4)
      .orderBy(col("node"))
  }

  /** k-core over the planted graph PLUS pendant two-hop chains hanging off
    * each block hub: the chains peel over two cascading rounds (t*a is
    * degree-1, t*b becomes degree-1 only after t*a drops), the dense
    * blocks survive k = 4 intact — peeling mechanics AND a planted
    * expected core, both pinned. The engine caps rounds at 8 so the
    * oracle's 8-round unroll is exact by construction (peeling is
    * idempotent at fixpoint — extra unrolled rounds are no-ops).
    */
  /** The planted core graph shared by the k-core and triangle gates:
    * four dense blocks (intra-block edges on a 6-node axis), a bridge
    * cycle between block hubs, and pendant two-hop chains per block.
    */
  private def plantedCoreGraph(d: DataFrame): DataFrame = {
    val block = col("doc_id") % 4
    val i = expr("doc_id div 4") % 6
    val j = expr("doc_id div 24") % 6
    val node = (b: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) =>
      concat(lit("c"), lpad((b * 6 + k).cast("string"), 2, "0"))
    val intra = d.where(i =!= j)
      .select(node(block, i).as("src"), node(block, j).as("dst"))
    val bridges = d.where(col("doc_id") % 25 === 7)
      .select(node(block, lit(0)).as("src"),
        node((block + 1) % 4, lit(0)).as("dst"))
    val chainA = d.where(col("doc_id") % 20 === 3)
      .select(concat(lit("t"), block, lit("a")).as("src"),
        concat(lit("t"), block, lit("b")).as("dst"))
    val chainB = d.where(col("doc_id") % 20 === 3)
      .select(concat(lit("t"), block, lit("b")).as("src"),
        node(block, lit(0)).as("dst"))
    intra.unionByName(bridges).unionByName(chainA).unionByName(chainB)
  }

  private def kcoreQ(spark: SparkSession, dir: String): DataFrame =
    graft.graph.LinkGraph.kCore(
        plantedCoreGraph(Tables.cached(spark, dir, "documents")),
        "src", "dst", k = 4, maxRounds = 8)
      .orderBy(col("node"))

  /** Degree-oriented triangle counting + local clustering coefficient on
    * the same planted graph: dense blocks are triangle-rich (lcc near 1),
    * pendant chain nodes sit at lcc 0 — both regimes pinned.
    */
  private def trianglesQ(spark: SparkSession, dir: String): DataFrame =
    graft.graph.LinkGraph.triangleStats(
        plantedCoreGraph(Tables.cached(spark, dir, "documents")), "src", "dst")
      .orderBy(col("node"))

  private def pagerankQ(spark: SparkSession, dir: String): DataFrame = {
    HtmlExtract.register(spark)
    val rows = WarcSource.readWarc(spark, warcFixture(spark, dir))
    val hostOf = (c: org.apache.spark.sql.Column) =>
      regexp_extract(c, "^http://([^/]+)/", 1)
    val edges = rows.filter(col("warc_type") === "response")
      .select(hostOf(col("target_uri")).as("src"),
        explode(HtmlExtract.htmlLinks(WarcSource.decodedBody(col("body"), col("http_content_type")))).as("href"))
      .select(col("src"), hostOf(col("href")).as("dst"))
    graft.graph.LinkGraph.pagerank(edges, "src", "dst", iterations = 5)
      .select(col("node"), col("out_degree"), round(col("rank"), 6).as("rank"))
      .orderBy(col("node"))
  }

  /** Weighted PageRank over the SAME extracted graph with anchor
    * MULTIPLICITY as the edge weight — the low-index sources emit the same
    * dst from several anchors per page (j-offsets collide mod k+1), so the
    * weighted prior genuinely diverges from the distinct-edge one.
    */
  private def pagerankWeightedQ(spark: SparkSession, dir: String): DataFrame = {
    HtmlExtract.register(spark)
    val rows = WarcSource.readWarc(spark, warcFixture(spark, dir))
    val hostOf = (c: org.apache.spark.sql.Column) =>
      regexp_extract(c, "^http://([^/]+)/", 1)
    val hrefs = rows.filter(col("warc_type") === "response")
      .select(hostOf(col("target_uri")).as("src"),
        explode(HtmlExtract.htmlLinks(WarcSource.decodedBody(col("body"), col("http_content_type")))).as("href"))
      .select(col("src"), hostOf(col("href")).as("dst"))
    val weighted = hrefs.groupBy("src", "dst").agg(count(lit(1)).as("w"))
    graft.graph.LinkGraph.weightedPagerank(weighted, "src", "dst", "w", iterations = 5)
      .select(col("node"), col("out_weight"), round(col("rank"), 6).as("rank"))
      .orderBy(col("node"))
  }

  /** URL canonicalization + eTLD+1: four messy URL shapes per doc (mixed
    * case, default and non-default ports, tracking params, unsorted query,
    * fragment; hosts across four suffix regimes incl. a wildcard-style
    * `github.io` and a 2-level `co.uk`). The oracle CONSTRUCTS the expected
    * canonical strings directly, so the gate proves parse ∘ canonicalize
    * lands exactly on them.
    */
  private def urlCanonicalQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.UrlOps
    val d = docs(spark, dir)
    val v = pmod(col("doc_id"), lit(4))
    val url = when(v === 0, concat(lit("HTTP://"), upper(col("source")),
        lit(".Example.COM:80/p/"), col("doc_id"),
        lit("?b="), col("doc_id"), lit("&utm_source=x&a=1#frag")))
      .when(v === 1, concat(lit("https://"), col("source"), lit(".blogs.co.uk:443?gclid=z")))
      .when(v === 2, concat(lit("http://"), col("source"), lit(".github.io:8080/x%20y?z=2&y=1")))
      .otherwise(concat(lit("https://deep.a."), col("source"), lit(".org/path/"), col("doc_id")))
    val canon = d.withColumn("url", url)
      .withColumn("canonical", UrlOps.canonicalize(col("url")))
      .withColumn("hostname", UrlOps.hostname(col("url")))
    val suffixes = Seq("com", "co.uk", "github.io", "org").toDF("suffix")
    UrlOps.registrableDomain(canon, "hostname", suffixes)
      .withColumn("h", hash60(md5(col("canonical"))))
      .groupBy(col("registrable_domain"))
      .agg(count(lit(1)).as("n_urls"), expr("bit_xor(h)").as("url_checksum"))
      .orderBy(col("registrable_domain"))
  }

  /** Domain-prior cut for the web release: simulated ranks sit at
    * 0.595/0.124/0.034…0.0079 (identical at every sf — the graph
    * saturates); 0.015 keeps the 9 head domains and cuts the 11-domain
    * tail with ≥6% relative margin on both sides of the cut.
    */
  private val RANK_MIN = 0.015

  /** The WEB RELEASE composition — the whole crawl-to-corpus front end in
    * one plan, every stage real and construction-replayable:
    *
    *   WARC parse (corrupt records quarantine out) → HTML extract →
    *   robots-noindex politeness cut → link-graph PageRank domain prior
    *   (graph observed over ALL pages, before any cut) → exact-dup
    *   removal on the extracted body (min-doc_id owner election, never a
    *   window) → C4 heuristic filter → per-lang release accounting.
    *
    * The body equals the original corpus text by the fixture's
    * round-trip construction, so the oracle replays every stage
    * declaratively on `documents` + the unrolled PageRank CTEs.
    */
  private def webReleaseQ(spark: SparkSession, dir: String): DataFrame = {
    HtmlExtract.register(spark)
    val hostOf = (c: org.apache.spark.sql.Column) =>
      regexp_extract(c, "^http://([^/]+)/", 1)
    val pages = WarcSource.readWarc(spark, warcFixture(spark, dir))
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        hostOf(col("target_uri")).as("host"),
        HtmlExtract.htmlToText(WarcSource.decodedBody(col("body"), col("http_content_type"))).as("extracted"),
        HtmlExtract.htmlNoindex(WarcSource.decodedBody(col("body"), col("http_content_type"))).as("noindex"),
        HtmlExtract.htmlLinks(WarcSource.decodedBody(col("body"), col("http_content_type"))).as("links"))
    val edges = pages
      .select(col("host").as("src"), explode(col("links")).as("href"))
      .select(col("src"), hostOf(col("href")).as("dst"))
    val ranks = graft.graph.LinkGraph.pagerank(edges, "src", "dst", iterations = 5)
      .select(col("node").as("host"), col("rank"))
    val staged = pages
      .filter(!col("noindex"))
      // strip the title + heading lines: the body IS the corpus text
      .withColumn("body", regexp_replace(col("extracted"), "^[^\n]*\n[^\n]*\n", ""))
      .join(broadcast(ranks), "host")
      .filter(col("rank") >= RANK_MIN)
      .select(col("doc_id"), col("body"))
    releaseClose(spark, dir)(staged)
  }

  /** The corpus-global release close, shared by the batch and streamed
    * formulations: exact-dup owner election (min-doc_id AGGREGATE, never a
    * window) → C4 heuristic filter → per-lang release accounting.
    */
  private def releaseClose(spark: SparkSession, dir: String)(staged: DataFrame): DataFrame =
    staged
      .groupBy(col("body")).agg(min(col("doc_id")).as("doc_id"))
      .filter(Heuristics.keepExpr(col("body")))
      .join(docs(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("h", hash60(md5(col("body"))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("body"))).cast("long").as("n_tokens"),
        expr("bit_xor(h)").as("content_checksum"))
      .orderBy(col("lang"))

  /** The release deployed on ingest: per-page stages stream archive by
    * archive against the pre-computed domain ranks (in deployment, the
    * PREVIOUS dump's graph; here the same archives' ranks, which is what
    * the batch gate uses — so the batch oracle is exact), the close runs
    * once after the drain.
    */
  private def streamWebReleaseQ(spark: SparkSession, dir: String): DataFrame = {
    HtmlExtract.register(spark)
    val fixture = warcFixture(spark, dir)
    val hostOf = (c: org.apache.spark.sql.Column) =>
      regexp_extract(c, "^http://([^/]+)/", 1)
    val edges = WarcSource.readWarc(spark, fixture)
      .filter(col("warc_type") === "response")
      .select(hostOf(col("target_uri")).as("src"),
        explode(HtmlExtract.htmlLinks(
          WarcSource.decodedBody(col("body"), col("http_content_type")))).as("href"))
      .select(col("src"), hostOf(col("href")).as("dst"))
    val ranks = graft.graph.LinkGraph.pagerank(edges, "src", "dst", iterations = 5)
      .select(col("node").as("host"), col("rank"))
    graft.streaming.StreamingOps.streamWarcRelease(
      spark, fixture, ranks, RANK_MIN, releaseClose(spark, dir))
  }

  /** HITS over the same extracted link graph: the skew construction makes
    * src0 the perfect authority (everyone links to it → authority 1 after
    * max-normalization) and src19 the perfect hub (links into all 20
    * domains → hub 1); high-hub/low-authority is the aggregator/link-farm
    * signature PageRank can't separate.
    */
  private def hitsQ(spark: SparkSession, dir: String): DataFrame = {
    HtmlExtract.register(spark)
    val hostOf = (c: org.apache.spark.sql.Column) =>
      regexp_extract(c, "^http://([^/]+)/", 1)
    val edges = WarcSource.readWarc(spark, warcFixture(spark, dir))
      .filter(col("warc_type") === "response")
      .select(hostOf(col("target_uri")).as("src"),
        explode(HtmlExtract.htmlLinks(
          WarcSource.decodedBody(col("body"), col("http_content_type")))).as("href"))
      .select(col("src"), hostOf(col("href")).as("dst"))
    graft.graph.LinkGraph.hits(edges, "src", "dst", iterations = 5)
      .select(col("node"), round(col("hub"), 6).as("hub"),
        round(col("authority"), 6).as("authority"))
      .orderBy(col("node"))
  }

  /** TrustRank over the same extracted link graph: trust propagates from
    * the two seed domains (the hub src0 and its strongest in-neighbor
    * src1) and decays through the skewed graph — tail domains no seed
    * reaches score exactly 0, the separation a spam-demotion prior needs.
    */
  private def trustRankQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    HtmlExtract.register(spark)
    val hostOf = (c: org.apache.spark.sql.Column) =>
      regexp_extract(c, "^http://([^/]+)/", 1)
    val edges = WarcSource.readWarc(spark, warcFixture(spark, dir))
      .filter(col("warc_type") === "response")
      .select(hostOf(col("target_uri")).as("src"),
        explode(HtmlExtract.htmlLinks(
          WarcSource.decodedBody(col("body"), col("http_content_type")))).as("href"))
      .select(col("src"), hostOf(col("href")).as("dst"))
    graft.graph.LinkGraph.trustRank(edges, "src", "dst", TRUST_SEEDS.toDF("node"),
        iterations = 5)
      .select(col("node"), col("out_degree"), round(col("rank"), 6).as("trust"))
      .orderBy(col("node"))
  }

  /** CDX-style latest-capture dedup: across dumps the same URL is
    * captured many times and the release keeps the FRESHEST capture
    * (ties → highest capture id). One decomposable `max(struct(ts, id))`
    * aggregate on the URL key — never a window, so the per-URL state that
    * crosses the shuffle is one struct regardless of capture count. The
    * capture log is synthesized from `documents`: ~97 path buckets per
    * domain and a deliberately NON-monotone pseudo-random timestamp, so
    * "latest" is decoupled from ingest order and the tiebreak is
    * exercised on real collisions.
    */
  private def latestCaptureQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val captures = d.select(
      col("doc_id"),
      concat(lit("http://"), col("source"), lit(".example.com/page/"),
        pmod(col("doc_id"), lit(97))).as("url"),
      pmod(col("doc_id") * 7919, lit(100000)).as("capture_ts"))
    captures
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_captures"),
        max(struct(col("capture_ts"), col("doc_id"))).as("__best"))
      .select(col("url"), col("n_captures"),
        col("__best.capture_ts").as("capture_ts"),
        col("__best.doc_id").as("kept_doc_id"))
      .orderBy(col("url"))
  }

  /** Anchor-text aggregation — the relevance signal the bare link graph
    * lacks: what OTHER pages call a target. Real HTML is built per doc
    * (bold markup, an entity, a no-href anchor that must be skipped, an
    * empty-text anchor), parsed by the codegen [[graft.text.HtmlExtract.HtmlAnchors]]
    * expression, and aggregated per target host: link count, distinct
    * texts, and the top text by (count desc, text asc) as a decomposable
    * min(struct(-cnt, text)) — never a window. The oracle replays the
    * CONSTRUCTION (what the extracted text must come out as).
    */
  private def anchorTextQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.HtmlExtract
    HtmlExtract.register(spark)
    val d = docs(spark, dir)
    val html = concat(
      lit("<p>"), col("text"),
      lit("</p><a href=\"http://t"), pmod(col("doc_id"), lit(20)),
      lit(".example.com/p"), pmod(col("doc_id"), lit(7)),
      lit("\">visit <b>"), col("source"), lit("</b>&nbsp;now</a>"),
      lit("<a name=\"x\">not a link</a><a href='http://u"),
      pmod(col("doc_id"), lit(5)), lit(".example.com/'></a>"))
    val anchors = d.select(explode(HtmlExtract.htmlAnchors(html)).as("a"))
      .select(split(col("a"), "\t").getItem(0).as("href"),
        split(col("a"), "\t").getItem(1).as("text"))
      .withColumn("host", regexp_extract(col("href"), "^http://([^/]+)/", 1))
    val perText = anchors.groupBy(col("host"), col("text"))
      .agg(count(lit(1)).as("cnt"))
    perText.groupBy(col("host")).agg(
      sum(col("cnt")).as("n_links"),
      count(lit(1)).as("n_texts"),
      min(struct((-col("cnt")).as("nc"), col("text").as("t"))).as("b"))
      .select(col("host"), col("n_links"), col("n_texts"),
        col("b.t").as("top_text"), (-col("b.nc")).as("top_cnt"))
      .orderBy(col("host"))
  }

  /** SCD2 history over the same capture log: one row per content CHANGE
    * with `[effective_from, effective_to)` validity, consecutive same-
    * content re-crawls collapsed. content_class stands in for a content
    * fingerprint; mod 3 makes consecutive captures collide often enough
    * that the collapse rule is exercised on every URL.
    */
  private def scd2Q(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val captures = d.select(
      col("doc_id"),
      concat(lit("http://"), col("source"), lit(".example.com/page/"),
        pmod(col("doc_id"), lit(97))).as("url"),
      pmod(col("doc_id") * 7919, lit(100000)).as("capture_ts"),
      pmod(col("doc_id"), lit(3)).as("content_class"))
    graft.ops.Scd2.buildHistory(captures, "url", "capture_ts", "content_class", "doc_id")
      .select(col("url"), col("version"), col("effective_from"), col("effective_to"),
        col("content_class"), col("doc_id").as("since_doc_id"))
      .orderBy(col("url"), col("version"))
  }

  /** Streaming SCD2: the same capture log arriving as document chunks,
    * history maintained per batch (only touched URLs rebuild). Final
    * table ≡ the one-shot batch build — q_scd2_history's oracle
    * verbatim.
    */
  private def streamScd2Q(spark: SparkSession, dir: String): DataFrame = {
    val proj = (b: DataFrame) => b.select(
      col("doc_id"),
      concat(lit("http://"), col("source"), lit(".example.com/page/"),
        pmod(col("doc_id"), lit(97))).as("url"),
      pmod(col("doc_id") * 7919, lit(100000)).as("capture_ts"),
      pmod(col("doc_id"), lit(3)).as("content_class"))
    graft.streaming.StreamingOps.streamScd2(spark, dir, proj,
      "url", "capture_ts", "content_class", "doc_id")
      .select(col("url"), col("version"), col("effective_from"), col("effective_to"),
        col("content_class"), col("doc_id").as("since_doc_id"))
      .orderBy(col("url"), col("version"))
  }

  /** Streamed crawl ingest (archive-per-trigger) closed with the same
    * aggregation — per-archive independence makes it verifiable by the
    * batch oracle verbatim.
    */
  private def streamWarcQ(spark: SparkSession, dir: String): DataFrame = {
    val pages = graft.streaming.StreamingOps.streamWarcIngest(
      spark, warcFixture(spark, dir))
    aggregatePages(spark, dir, pages)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_warc_source" -> (warcSourceQ _),
    "q_html_extract" -> ((s, dir) => htmlExtractQ(s, dir)),
    "q_stream_warc" -> (streamWarcQ _),
    "q_domain_pagerank" -> (pagerankQ _),
    "q_pagerank_weighted" -> (pagerankWeightedQ _),
    "q_lpa_communities" -> (lpaQ _),
    "q_kcore" -> (kcoreQ _),
    "q_triangles" -> (trianglesQ _),
    "q_trustrank" -> (trustRankQ _),
    "q_hits" -> (hitsQ _),
    "q_latest_capture" -> (latestCaptureQ _),
    "q_scd2_history" -> (scd2Q _),
    "q_stream_scd2" -> (streamScd2Q _),
    "q_anchor_text" -> (anchorTextQ _),
    "q_url_canonical" -> (urlCanonicalQ _),
    "q_web_release" -> (webReleaseQ _),
    "q_stream_web_release" -> (streamWebReleaseQ _),
    "q_wet_roundtrip" -> (wetRoundtripQ _),
    "q_robots_filter" -> (robotsQ _),
  )

  // per-domain robots.txt regimes: star group with an allow-override,
  // exact-agent group that MUST eclipse a disallow-everything star group,
  // and a group for somebody else entirely
  private val ROBOTS_STAR =
    "User-agent: *\r\nDisallow: /private/\r\nAllow: /private/ok # override\r\n"
  private val ROBOTS_EXACT =
    "User-agent: graftbot\nDisallow: /p/\nUser-agent: *\nDisallow: /\n"
  private val ROBOTS_OTHER = "User-agent: otherbot\nDisallow: /\nCrawl-delay: 10\n"

  /** robots.txt politeness over the corpus: pages join their domain's
    * robots body (domain-dim join — co-shuffled at web scale, never
    * collected) and the REP verdict is a row-local codegen call. Four path
    * shapes × three robots regimes exercise group selection, the
    * longest-match allow override, and the no-applicable-group default.
    */
  private def robotsQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.RobotsTxt
    RobotsTxt.register(spark)
    val d = docs(spark, dir)
    val sidx = substring(col("source"), 4, 10).cast("int")
    val robotsFrame = d.select(col("source")).distinct()
      .withColumn("robots_txt",
        when(pmod(sidx, lit(3)) === 0, lit(ROBOTS_STAR))
          .when(pmod(sidx, lit(3)) === 1, lit(ROBOTS_EXACT))
          .otherwise(lit(ROBOTS_OTHER)))
    val pages = d.select(col("doc_id"), col("source"),
      when(pmod(col("doc_id"), lit(4)) === 0, concat(lit("/p/"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(4)) === 1, concat(lit("/private/"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(4)) === 2, concat(lit("/private/ok"), col("doc_id")))
        .otherwise(concat(lit("/x/"), col("doc_id"))).as("path"))
    pages.join(robotsFrame, "source")
      .withColumn("allowed", RobotsTxt.robotsAllowed(
        coalesce(col("robots_txt"), lit("")), "graftbot", col("path")))
      .groupBy(col("source"))
      .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
        sum(when(!col("allowed"), 1L).otherwise(0L)).as("n_denied"))
      .orderBy(col("source"))
  }

  /** WET egress/ingest loop: the corpus writes out as gzip'd `conversion`
    * archives and reads back losslessly — the aggregate over the re-read
    * text must equal the same aggregate over the parquet original (the
    * [[graft.sources.JsonlSource]] gate discipline, on the WARC container).
    */
  private def wetRoundtripQ(spark: SparkSession, dir: String): DataFrame = {
    val path = s"target/wet/docs_${math.abs(dir.hashCode)}"
    val d = docs(spark, dir)
    WarcSource.writeWet(
      d.withColumn("uri", concat(lit("http://"), col("source"),
        lit(".example.com/doc/"), col("doc_id"))),
      "doc_id", "text", "uri", path, nFiles = 8)
    val back = WarcSource.readWarc(spark, path)
      .filter(col("warc_type") === "conversion")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("body").cast("string").as("text"))
    require(back.filter(col("text").isNull).isEmpty, "WET round-trip lost a body")
    back.join(docs(spark, dir).select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .withColumn("h", hash60(md5(col("text"))))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        expr("bit_xor(h)").as("content_checksum"))
      .orderBy(col("lang"), col("source"))
  }

  /** Five unrolled PageRank rounds with the SAME pinning as
    * [[graft.graph.LinkGraph.pagerank]]: contributions round(·,9), exact
    * DECIMAL(28,9) sums, ranks re-pinned per round — identical rationals
    * in both engines.
    */
  /** The shared CTE chain `hrefs → edges → nodes → nn → deg → r0..r5` —
    * the construction-replayed link graph plus five unrolled PageRank
    * rounds; used by the pagerank gate and the web-release composition.
    */
  /** One power-iteration round: `baseExpr` is the teleport term (uniform
    * for PageRank, the seed vector for TrustRank); identical pinning to
    * the Scala side.
    */
  private def rankIter(prev: String, cur: String, baseExpr: String, nodesCte: String): String =
    s"""$cur AS (
       |  SELECT nd.node,
       |         round($baseExpr + 0.85 * CAST(coalesce(s.s, 0) AS DOUBLE), 9) AS rank
       |  FROM $nodesCte nd LEFT JOIN (
       |    SELECT e.dst AS node, sum(CAST(round(r.rank / d.deg, 9) AS DECIMAL(28,9))) AS s
       |    FROM $prev r JOIN deg d ON d.src = r.node JOIN edges e ON e.src = r.node
       |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin

  /** The construction-replayed link graph: hrefs → edges → nodes → nn →
    * deg. Shared by every graph oracle.
    */
  private lazy val graphCtes: String =
    s"""hrefs AS (
       |  SELECT source || '.example.com' AS src,
       |         'src' || ((doc_id + j.j) % (CAST(substr(source, 4) AS INT) + 1)) ||
       |           '.example.com' AS dst
       |  FROM documents, (VALUES (0), (1), (2)) AS j(j)
       |  WHERE doc_id % $CORRUPT_MOD <> 5),
       |edges AS (SELECT DISTINCT src, dst FROM hrefs),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)""".stripMargin

  private lazy val pagerankCtes: String = {
    val iters = (1 to 5).map(i => rankIter(s"r${i - 1}", s"r$i",
      "round(0.15 / (SELECT n FROM nn), 9)", "nodes")).mkString(",\n")
    s"""$graphCtes,
       |r0 AS (SELECT node, round(1.0 / (SELECT n FROM nn), 9) AS rank FROM nodes),
       |$iters""".stripMargin
  }

  private lazy val pagerankOracle: String =
    s"""WITH $pagerankCtes
       |SELECT nd.node, coalesce(d.deg, 0) AS out_degree, round(r.rank, 6) AS rank
       |FROM nodes nd
       |JOIN r5 r ON r.node = nd.node
       |LEFT JOIN deg d ON d.src = nd.node
       |ORDER BY nd.node
       |""".stripMargin

  /** Weighted rank round: contribution = round(rank·w/Σw, 9) — the same
    * left-associated IEEE chain the engine computes.
    */
  private def wRankIter(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT nd.node,
       |         round(round(0.15 / (SELECT n FROM nn), 9) + 0.85 * CAST(coalesce(s.s, 0) AS DOUBLE), 9) AS rank
       |  FROM nodes nd LEFT JOIN (
       |    SELECT e.dst AS node, sum(CAST(round(r.rank * e.w / d.wsum, 9) AS DECIMAL(28,9))) AS s
       |    FROM $prev r JOIN wdeg d ON d.src = r.node JOIN wedges e ON e.src = r.node
       |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin

  private lazy val pagerankWeightedOracle: String = {
    val iters = (1 to 5).map(i => wRankIter(s"w${i - 1}", s"w$i")).mkString(",\n")
    s"""WITH $graphCtes,
       |wedges AS (SELECT src, dst, count(*) AS w FROM hrefs GROUP BY 1, 2),
       |wdeg AS (SELECT src, sum(w) AS wsum FROM wedges GROUP BY 1),
       |w0 AS (SELECT node, round(1.0 / (SELECT n FROM nn), 9) AS rank FROM nodes),
       |$iters
       |SELECT nd.node, coalesce(d.wsum, 0) AS out_weight, round(r.rank, 6) AS rank
       |FROM nodes nd
       |JOIN w5 r ON r.node = nd.node
       |LEFT JOIN wdeg d ON d.src = nd.node
       |ORDER BY nd.node
       |""".stripMargin
  }

  private val TRUST_SEEDS = Seq("src0.example.com", "src1.example.com")

  /** Five unrolled HITS rounds with the same exact-DECIMAL sums +
    * max-normalization as [[graft.graph.LinkGraph.hits]] (authorities
    * from current hubs, then hubs from the NEW authorities — the
    * Kleinberg order).
    */
  private lazy val hitsOracle: String = {
    // AS MATERIALIZED: each round's sum CTE is referenced twice (the
    // projection + the max subquery) and feeds the next round — DuckDB's
    // default CTE INLINING would re-evaluate the whole chain exponentially
    // (the un-materialized form hangs at 5 rounds)
    def round(i: Int): String = {
      val (hp, a, as_, h, hs) = (s"h${i - 1}", s"a$i", s"a${i}s", s"h$i", s"h${i}s")
      s"""$as_ AS MATERIALIZED (SELECT nd.node, coalesce(s.s, CAST(0 AS DECIMAL(28,9))) AS s
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(CAST(h.h AS DECIMAL(28,9))) AS s
         |    FROM edges e JOIN $hp h ON h.node = e.src GROUP BY e.dst) s ON s.node = nd.node),
         |$a AS MATERIALIZED (SELECT node, round(CAST(s AS DOUBLE)
         |         / CAST((SELECT max(s) FROM $as_) AS DOUBLE), 9) AS a FROM $as_),
         |$hs AS MATERIALIZED (SELECT nd.node, coalesce(s.s, CAST(0 AS DECIMAL(28,9))) AS s
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.src AS node, sum(CAST(a.a AS DECIMAL(28,9))) AS s
         |    FROM edges e JOIN $a a ON a.node = e.dst GROUP BY e.src) s ON s.node = nd.node),
         |$h AS MATERIALIZED (SELECT node, round(CAST(s AS DOUBLE)
         |         / CAST((SELECT max(s) FROM $hs) AS DOUBLE), 9) AS h FROM $hs)""".stripMargin
    }
    val rounds = (1 to 5).map(round).mkString(",\n")
    s"""WITH $graphCtes,
       |h0 AS (SELECT node, 1.0 AS h FROM nodes),
       |$rounds
       |SELECT nd.node, round(h5.h, 6) AS hub, round(a5.a, 6) AS authority
       |FROM nodes nd JOIN h5 ON h5.node = nd.node JOIN a5 ON a5.node = nd.node
       |ORDER BY nd.node
       |""".stripMargin
  }

  /** TrustRank rounds: teleport = round(1/|seeds|, 9) on seeds else 0;
    * per round r = round(0.15·t + 0.85·Σ pinned contributions, 9).
    */
  private lazy val trustRankOracle: String = {
    val seedList = TRUST_SEEDS.map(s => s"'$s'").mkString(", ")
    val iters = (1 to 5).map(i => rankIter(s"t${i - 1}", s"t$i",
      "0.15 * nd.t", "tele")).mkString(",\n")
    s"""WITH $graphCtes,
       |tele AS (SELECT node,
       |                CASE WHEN node IN ($seedList)
       |                     THEN round(1.0 / ${TRUST_SEEDS.size}.0, 9)
       |                     ELSE 0.0 END AS t
       |         FROM nodes),
       |t0 AS (SELECT node, t AS rank FROM tele),
       |$iters
       |SELECT nd.node, coalesce(d.deg, 0) AS out_degree, round(r.rank, 6) AS trust
       |FROM nodes nd
       |JOIN t5 r ON r.node = nd.node
       |LEFT JOIN deg d ON d.src = nd.node
       |ORDER BY nd.node
       |""".stripMargin
  }

  /** Every release stage replayed declaratively: corrupt + noindex cuts
    * from the plants, ranks from the unrolled CTEs, min-doc_id dedup, the
    * shared C4 rule fragments, per-lang accounting. Shared verbatim by the
    * batch and streamed release gates.
    */
  private lazy val webReleaseOracle: String =
    s"""WITH $pagerankCtes,
       |p AS (SELECT doc_id,
       |             text || CASE WHEN doc_id % $CHARSET_MOD IN (3, 7)
       |                          THEN '$CAFE' ELSE '' END AS text,
       |             source || '.example.com' AS host
       |      FROM documents
       |      WHERE doc_id % $CORRUPT_MOD <> 5 AND doc_id % $NOINDEX_MOD <> 0),
       |pr AS (SELECT p.* FROM p JOIN r5 ON r5.node = p.host
       |       WHERE r5.rank >= $RANK_MIN),
       |own AS (SELECT text, min(doc_id) AS doc_id FROM pr GROUP BY text),
       |c4 AS (SELECT doc_id, text FROM own
       |       WHERE ${TextQueries.c4Rules.map(_._2).map(e => s"($e) = 1").mkString("\n         AND ")}),
       |j AS (SELECT d.lang, c4.text FROM c4 JOIN documents d ON d.doc_id = c4.doc_id)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |       bit_xor(CAST(CAST(('0x' || substr(md5(md5(text)), 1, 15)) AS UBIGINT) AS BIGINT))
       |         AS content_checksum
       |FROM j GROUP BY lang ORDER BY lang
       |""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // counts replay the construction: every non-corrupt doc is a response
    // record; each of the 8 archives has one warcinfo; each planted
    // mangled-magic record quarantines as exactly one span in its archive
    "q_warc_source" ->
      s"""SELECT * FROM (
         |  SELECT '__corrupt' AS warc_type, count(*) AS n_records,
         |         count(DISTINCT doc_id % $N_FILES) AS n_files
         |  FROM documents WHERE doc_id % $CORRUPT_MOD = 5
         |  UNION ALL
         |  SELECT 'response', count(*), count(DISTINCT doc_id % $N_FILES)
         |  FROM documents WHERE doc_id % $CORRUPT_MOD <> 5
         |  UNION ALL
         |  SELECT 'warcinfo', $N_FILES, $N_FILES
         |) ORDER BY warc_type
         |""".stripMargin,
    // the extracted text is pinned exactly: title line, entity-decoded
    // heading line, then the body text (whose &#97;/&#x6F; references
    // decode back to the original characters)
    "q_html_extract" -> htmlExtractOracle,
    // identical semantics — only the ingestion shape differs (streamed
    // archive-per-trigger vs one-shot batch); per-archive independence
    // makes the batch oracle exact for the stream
    "q_stream_warc" -> htmlExtractOracle,
    "q_domain_pagerank" -> pagerankOracle,
    "q_pagerank_weighted" -> pagerankWeightedOracle,
    // 8 unrolled peel rounds (idempotent past the fixpoint the engine
    // asserts); survivors = nodes whose within-survivor degree stays >= 4
    // degree-oriented wedge replay: row-value rank comparisons, integer
    // counts, one pinned division per node
    "q_triangles" ->
      s"""WITH $plantedGraphCtes,
         |degt AS (SELECT a AS node, count(*) AS deg FROM symk GROUP BY 1),
         |ori AS (SELECT s.a AS u, s.b AS v, db.deg AS dv FROM symk s
         |  JOIN degt da ON da.node = s.a JOIN degt db ON db.node = s.b
         |  WHERE (da.deg, s.a) < (db.deg, s.b)),
         |wed AS (SELECT e1.u, e1.x, e2.y FROM
         |  (SELECT u, v AS x, dv AS dx FROM ori) e1
         |  JOIN (SELECT u, v AS y, dv AS dy FROM ori) e2 ON e1.u = e2.u
         |  WHERE (e1.dx, e1.x) < (e2.dy, e2.y)),
         |tri AS (SELECT w.u, w.x, w.y FROM wed w
         |  JOIN ori o ON o.u = w.x AND o.v = w.y),
         |pn AS (SELECT node, count(*) AS n_tri FROM (
         |    SELECT u AS node FROM tri
         |    UNION ALL SELECT x FROM tri
         |    UNION ALL SELECT y FROM tri) z GROUP BY 1)
         |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
         |  CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri,
         |  CASE WHEN d.deg >= 2 THEN
         |    round(CAST(coalesce(pn.n_tri, 0) * 2 AS DOUBLE) / (d.deg * (d.deg - 1)), 6)
         |  ELSE 0.0 END AS lcc
         |FROM degt d LEFT JOIN pn USING (node) ORDER BY node
         |""".stripMargin,
    "q_kcore" -> {
      val peels = (1 to 8).map { r =>
        s"""d$r AS (SELECT s.a AS node, count(*) AS c FROM symk s
           |  JOIN s${r - 1} x ON s.a = x.node JOIN s${r - 1} y ON s.b = y.node
           |  GROUP BY 1),
           |s$r AS (SELECT node FROM d$r WHERE c >= 4)""".stripMargin
      }.mkString(",\n")
      s"""WITH $plantedGraphCtes,
         |s0 AS (SELECT DISTINCT a AS node FROM symk),
         |$peels
         |SELECT node, CAST(c AS BIGINT) AS core_degree
         |FROM d8 WHERE c >= 4 ORDER BY node
         |""".stripMargin
    },
    // 4 unrolled synchronous LPA rounds: per round, neighbor-label vote
    // counts then max(struct(cnt, label)) argmax (greatest label on ties);
    // all integer/string — no float pinning anywhere
    "q_lpa_communities" -> {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT s.a AS node, l.label, count(*) AS cnt
           |  FROM sym s JOIN l${i - 1} l ON l.node = s.b GROUP BY 1, 2),
           |m$i AS (SELECT node, max(struct_pack(cnt := cnt, label := label)) AS m
           |  FROM c$i GROUP BY 1),
           |l$i AS (SELECT node, m.label AS label FROM m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH ed0 AS (
         |  SELECT 'c' || lpad(CAST((doc_id % 4) * 6 + (doc_id // 4) % 6 AS VARCHAR), 2, '0') AS src,
         |         'c' || lpad(CAST((doc_id % 4) * 6 + (doc_id // 24) % 6 AS VARCHAR), 2, '0') AS dst
         |  FROM documents WHERE (doc_id // 4) % 6 <> (doc_id // 24) % 6
         |  UNION ALL
         |  SELECT 'c' || lpad(CAST((doc_id % 4) * 6 AS VARCHAR), 2, '0'),
         |         'c' || lpad(CAST(((doc_id % 4 + 1) % 4) * 6 AS VARCHAR), 2, '0')
         |  FROM documents WHERE doc_id % 25 = 7),
         |sym AS (SELECT DISTINCT a, b FROM (
         |  SELECT src AS a, dst AS b FROM ed0 WHERE src <> dst
         |  UNION ALL
         |  SELECT dst AS a, src AS b FROM ed0 WHERE src <> dst)),
         |l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
         |$rounds,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l4 GROUP BY 1)
         |SELECT l4.node, l4.label, sz.community_size
         |FROM l4 JOIN sz USING (label) ORDER BY node
         |""".stripMargin
    },
    "q_trustrank" -> trustRankOracle,
    "q_hits" -> hitsOracle,
    // freshest capture per URL, ties to highest id — the struct-max
    // ordering is (ts, id) lexicographic in both engines
    "q_latest_capture" ->
      """WITH c AS (SELECT doc_id,
        |                  'http://' || source || '.example.com/page/' || (doc_id % 97) AS url,
        |                  (doc_id * 7919) % 100000 AS capture_ts
        |           FROM documents),
        |r AS (SELECT url, count(*) AS n_captures,
        |             max(struct_pack(capture_ts := capture_ts, doc_id := doc_id)) AS best
        |      FROM c GROUP BY url)
        |SELECT url, n_captures,
        |       CAST(best.capture_ts AS BIGINT) AS capture_ts,
        |       CAST(best.doc_id AS BIGINT) AS kept_doc_id
        |FROM r ORDER BY url
        |""".stripMargin,
    // the oracle replays what the EXTRACTED anchor text must equal: bold
    // tags strip, &nbsp; decodes to a space, whitespace folds → 'visit
    // <source> now'; the no-href anchor contributes nothing; the u-host
    // anchor has empty text. Engine-side parsing is the thing under test
    "q_anchor_text" ->
      """WITH a AS (
        |  SELECT 't' || (doc_id % 20) || '.example.com' AS host,
        |         'visit ' || source || ' now' AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT 'u' || (doc_id % 5) || '.example.com', '' FROM documents),
        |pt AS (SELECT host, text, count(*) AS cnt FROM a GROUP BY 1, 2),
        |top AS (SELECT host, min(struct_pack(nc := -cnt, t := text)) AS b FROM pt GROUP BY 1),
        |tot AS (SELECT host, CAST(sum(cnt) AS BIGINT) AS n_links, count(*) AS n_texts
        |        FROM pt GROUP BY 1)
        |SELECT tot.host, tot.n_links, tot.n_texts, top.b.t AS top_text,
        |       -(top.b.nc) AS top_cnt
        |FROM tot JOIN top USING (host) ORDER BY host
        |""".stripMargin,
    // streamed maintenance must land on the identical history — same
    // oracle verbatim
    "q_stream_scd2" ->
      """WITH c AS (SELECT doc_id,
        |                  'http://' || source || '.example.com/page/' || (doc_id % 97) AS url,
        |                  CAST((doc_id * 7919) % 100000 AS BIGINT) AS ts,
        |                  CAST(doc_id % 3 AS BIGINT) AS cc
        |           FROM documents),
        |k AS (SELECT *, lag(cc) OVER (PARTITION BY url ORDER BY ts, doc_id) AS prev FROM c),
        |ch AS (SELECT * FROM k WHERE prev IS NULL OR prev <> cc),
        |v AS (SELECT url,
        |             CAST(row_number() OVER w AS INT) AS version,
        |             ts AS effective_from,
        |             lead(ts) OVER w AS effective_to,
        |             cc AS content_class,
        |             doc_id AS since_doc_id
        |      FROM ch WINDOW w AS (PARTITION BY url ORDER BY ts, doc_id))
        |SELECT * FROM v ORDER BY url, version
        |""".stripMargin,
    // SCD2: lag-collapse to changes, then lead/row_number intervals —
    // both engines order per url by (ts, doc_id), a total order
    "q_scd2_history" ->
      """WITH c AS (SELECT doc_id,
        |                  'http://' || source || '.example.com/page/' || (doc_id % 97) AS url,
        |                  CAST((doc_id * 7919) % 100000 AS BIGINT) AS ts,
        |                  CAST(doc_id % 3 AS BIGINT) AS cc
        |           FROM documents),
        |k AS (SELECT *, lag(cc) OVER (PARTITION BY url ORDER BY ts, doc_id) AS prev FROM c),
        |ch AS (SELECT * FROM k WHERE prev IS NULL OR prev <> cc),
        |v AS (SELECT url,
        |             CAST(row_number() OVER w AS INT) AS version,
        |             ts AS effective_from,
        |             lead(ts) OVER w AS effective_to,
        |             cc AS content_class,
        |             doc_id AS since_doc_id
        |      FROM ch WINDOW w AS (PARTITION BY url ORDER BY ts, doc_id))
        |SELECT * FROM v ORDER BY url, version
        |""".stripMargin,
    // the oracle replays the REP VERDICTS from the construction (regime ×
    // path shape); the Spark side really parses groups, compiles patterns,
    // and resolves longest-match/tie-allow per page
    "q_robots_filter" ->
      """WITH p AS (SELECT source, CAST(substr(source, 4) AS INT) % 3 AS regime,
        |                  doc_id % 4 AS pv
        |           FROM documents)
        |SELECT source,
        |       CAST(sum(CASE WHEN (regime = 0 AND pv = 1) OR (regime = 1 AND pv = 0)
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_allowed,
        |       CAST(sum(CASE WHEN (regime = 0 AND pv = 1) OR (regime = 1 AND pv = 0)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_denied
        |FROM p GROUP BY source ORDER BY source
        |""".stripMargin,
    // lossless WET round-trip: aggregate over the re-read corpus equals
    // the same aggregate over the parquet original
    "q_wet_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       bit_xor(CAST(CAST(('0x' || substr(md5(md5(text)), 1, 15)) AS UBIGINT) AS BIGINT))
        |         AS content_checksum
        |FROM documents GROUP BY lang, source ORDER BY lang, source
        |""".stripMargin,
    // every stage replayed declaratively: corrupt + noindex cuts from the
    // plants, ranks from the unrolled CTEs, min-doc_id dedup, the shared
    // C4 rule fragments, release accounting per lang
    "q_web_release" -> webReleaseOracle,
    // streamed formulation: identical semantics (per-page stages are
    // trigger-chunking-invariant, the close is the batch close), so the
    // batch oracle verifies the streamed release verbatim
    "q_stream_web_release" -> webReleaseOracle,
    // the oracle builds the EXPECTED canonical spelling directly from the
    // construction — no URL parsing on the oracle side, so agreement means
    // the Spark parse+canonicalize chain landed exactly on the spec
    "q_url_canonical" ->
      """WITH c AS (
        |  SELECT CASE doc_id % 4
        |           WHEN 0 THEN 'http://' || source || '.example.com/p/' || doc_id
        |                       || '?a=1&b=' || doc_id
        |           WHEN 1 THEN 'https://' || source || '.blogs.co.uk/'
        |           WHEN 2 THEN 'http://' || source || '.github.io:8080/x%20y?y=1&z=2'
        |           ELSE 'https://deep.a.' || source || '.org/path/' || doc_id
        |         END AS canonical,
        |         CASE doc_id % 4
        |           WHEN 0 THEN 'example.com'
        |           WHEN 1 THEN 'blogs.co.uk'
        |           WHEN 2 THEN source || '.github.io'
        |           ELSE source || '.org'
        |         END AS registrable_domain
        |  FROM documents)
        |SELECT registrable_domain, count(*) AS n_urls,
        |       bit_xor(CAST(CAST(('0x' || substr(md5(md5(canonical)), 1, 15)) AS UBIGINT) AS BIGINT))
        |         AS url_checksum
        |FROM c GROUP BY registrable_domain ORDER BY registrable_domain
        |""".stripMargin,
  )

  private lazy val htmlExtractOracle: String =
    s"""WITH e AS (
       |  SELECT lang, (doc_id % $NOINDEX_MOD = 0) AS noindex,
       |         'Doc ' || doc_id || chr(10) || 'Doc & Heading ' || doc_id
       |           || chr(10) || text ||
       |           CASE WHEN doc_id % $CHARSET_MOD IN (3, 7) THEN '$CAFE' ELSE '' END AS ext
       |  FROM documents WHERE doc_id % $CORRUPT_MOD <> 5)
       |SELECT lang, count(*) AS n_docs,
       |       sum(CASE WHEN noindex THEN 1 ELSE 0 END) AS n_noindex,
       |       200 AS min_status, 200 AS max_status,
       |       sum(length(ext)) AS sum_chars,
       |       bit_xor(CAST(CAST(('0x' || substr(md5(md5(ext)), 1, 15)) AS UBIGINT) AS BIGINT))
       |         AS content_checksum
       |FROM e GROUP BY lang ORDER BY lang
       |""".stripMargin
}
