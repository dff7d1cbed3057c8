package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Iterate

/** Link-graph analytics over crawl edges — beyond-reference. The web graph
  * is a first-class curation signal: Common Crawl publishes harmonic/
  * PageRank centrality per domain, and crawl-quality priors (OpenWebText's
  * karma threshold, CCNet's head/middle/tail) are all "rank the domain,
  * gate the doc". The edge frame comes straight from
  * [[graft.text.HtmlExtract.extractLinks]] over WARC responses.
  *
  * PageRank implementation notes (scale + reproducibility):
  *
  *   - Each iteration is one join (ranks ⋈ edges on src) + one aggregate
  *     (contributions by dst) — the canonical distributed formulation. The
  *     aggregate is DECOMPOSABLE: map-side partial sums bound the shuffle
  *     by |nodes| per partition, and the Zipf-hot dst (everyone links to
  *     the big domains) is exactly the case AQE skew splitting + partial
  *     aggregation absorb.
  *   - The rounds run on [[graft.ops.Iterate.rounds]] (the loop
  *     [[graft.dedup.Dedup.connectedComponents]]' fixpoint runs on too): each round's
  *     ranks are checkpointed, so the plan doesn't grow by a join per round
  *     and stragglers can't replay the whole chain, and the round before is
  *     released.
  *   - CROSS-ENGINE BIT-REPRODUCIBILITY: floating summation order differs
  *     between engines (and between runs, under AQE), so contributions are
  *     pinned to 9 dp and summed EXACTLY as DECIMAL(28,9) (the BM25
  *     discipline); the new rank is re-pinned to 9 dp before the next
  *     round. Every iteration's inputs are therefore identical rationals
  *     in any engine — the DuckDB oracle unrolls the same five rounds and
  *     matches bitwise.
  *   - Dangling nodes (no out-edges) contribute no mass — the standard
  *     "dropped dangling mass" variant; rank sums then undershoot 1.0 by
  *     the dangling share, which only rescales scores uniformly and never
  *     reorders them. Documented rather than redistributed: redistribution
  *     needs a per-iteration global scalar (one extra tiny aggregate) for
  *     a constant factor no downstream gate cares about.
  */
object LinkGraph {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.graph.LinkGraph")

  /** PageRank over distinct (src, dst) edges. Returns (node, out_degree,
    * rank) with rank pinned at 9 dp; callers round to their output
    * precision.
    */
  def pagerank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    uniformTeleport("pagerank", e.withColumn("w", lit(1L)), iterations, damping)
      .withColumnRenamed("deg", "out_degree")
  }

  /** Weighted PageRank — [[pagerank]] with edge weights instead of the
    * distinct-edge collapse: a domain linked 50× from a page set carries
    * 50× the endorsement of a single stray anchor (anchor multiplicity is
    * the natural weight; any positive integer signal works). Per source
    * the rank splits proportionally, contribution = rank·w/Σw — with
    * uniform weights this is BITWISE [[pagerank]] (spec-asserted), since
    * rank·1.0/deg computes the identical IEEE chain as rank/deg.
    *
    * Same scale shape and reproducibility discipline: duplicate (src, dst)
    * rows collapse by weight-SUM in one map-side-combined aggregate, then
    * the shared propagation rounds run; non-positive weights raise with
    * the offending edge. Returns (node, out_weight, rank).
    */
  def weightedPagerank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        when(col(weightCol).isNull || col(weightCol) <= 0,
          raise_error(concat(lit("weightedPagerank: non-positive weight on edge "),
            col(srcCol).cast("string"), lit("->"), col(dstCol).cast("string"))))
          .otherwise(col(weightCol).cast("long")).as("w"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
    uniformTeleport("weightedPagerank", e, iterations, damping)
      .withColumnRenamed("deg", "out_weight")
  }

  /** TrustRank (Gyöngyi, Garcia-Molina, Pedersen 2004): PageRank with the
    * uniform teleport replaced by a SEED vector — trust flows out of a
    * hand-picked set of known-good domains and decays through the link
    * graph, so spam farms that merely interlink each other score ~0. The
    * standard web-curation quality prior when a vetted seed list exists
    * (vs [[pagerank]]'s neutral centrality).
    *
    * The same propagation rounds as [[pagerank]] — the oracle unrolls
    * identical rounds. r0 = teleport; per round r(v) = round((1−d)·t(v) +
    * d·Σ pinned contributions, 9), with t(v) = round(1/|seeds|, 9) on
    * seeds, else 0. Dangling mass is dropped (same documented variant).
    */
  def trustRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nSeeds = seeds.distinct().count()
    require(nSeeds > 0, "trustRank: empty seed set")
    val seedFlag = broadcast(
      seeds.select(col(seeds.columns.head).as("node")).distinct()
        .withColumn("__seed", lit(true)))
    val teleport = nodesOf(e).join(seedFlag, Seq("node"), "left")
      .select(col("node"),
        when(col("__seed"), round(lit(1.0) / lit(nSeeds.toDouble), 9))
          .otherwise(lit(0.0)).as("t"))
      .localCheckpoint()
    propagate("trustRank", e.withColumn("w", lit(1L)), teleport,
        lit(1.0 - damping) * col("t"), teleport.select(col("node"), col("t").as("rank")),
        iterations, damping)
      .withColumnRenamed("deg", "out_degree")
  }

  /** [[propagate]] over the checkpointed `edges` with the uniform teleport
    * (1−d)/n and start 1/n, n the number of nodes.
    */
  private def uniformTeleport(name: String, edges: DataFrame, iterations: Int,
      damping: Double): DataFrame = {
    val e = edges.localCheckpoint()
    val nodes = nodesOf(e).localCheckpoint()
    val n = nodes.count() // bounded axis: the domain universe
    require(n > 0, s"$name: empty graph")
    // both constants pinned at 9 dp by the SAME expression the oracle uses
    propagate(name, e, nodes, round(lit(1.0 - damping) / lit(n.toDouble), 9),
      nodes.select(col("node"), round(lit(1.0) / lit(n.toDouble), 9).as("rank")),
      iterations, damping)
  }

  /** The propagation rounds of every PageRank variant, on
    * [[graft.ops.Iterate.rounds]]: per round one ranks⋈edges join and one
    * decomposable by-dst aggregate; each contribution rank·w/Σw is pinned
    * at 9 dp and summed EXACTLY as DECIMAL(28,9); the new rank,
    * round(teleport + d·sum, 9) over `nodes`, is checkpointed.
    *
    * @param e        (src, dst, w) edges, w > 0
    * @param nodes    one row per node, the columns `teleport` reads;
    *                 released once the rounds are done
    * @param teleport per-node teleport term
    * @param init     (node, rank) before round 1
    * @return (node, deg = Σw over out-edges (0 when dangling), rank)
    */
  private def propagate(name: String, e: DataFrame, nodes: DataFrame, teleport: Column,
      init: DataFrame, iterations: Int, damping: Double): DataFrame = {
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("deg"))
    val ranks = try Iterate.rounds(init, log, name, iterations) { ranks =>
      val sums = ranks
        .join(deg, ranks("node") === deg("src"))
        .join(e, "src")
        .select(col("dst"),
          round(col("rank") * col("w").cast("double") / col("deg").cast("double"), 9).as("c"))
        .groupBy(col("dst")).agg(sum(col("c").cast("decimal(28,9)")).as("s"))
      nodes
        .join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          round(teleport + lit(damping) * coalesce(col("s").cast("double"), lit(0.0)), 9)
            .as("rank"))
    } finally Iterate.release(nodes)
    ranks.join(deg, ranks("node") === deg("src"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"), col("rank"))
  }

  /** Every endpoint of the (src, dst) edges, once, as `node`. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** HITS (Kleinberg 1999): mutually-reinforcing hub and authority scores
    * — the third classic of the link-analysis triad. Authorities are the
    * pages good hubs point at; hubs are the pages that point at good
    * authorities. In curation terms: authority ≈ content worth keeping,
    * hub ≈ directory/aggregator pages (often worth DROPPING — high hub +
    * low authority is the link-farm/listicle signature, a filter axis
    * PageRank alone can't see).
    *
    * Per round, each update is one join + one exact-DECIMAL aggregate
    * over pinned inputs, then MAX-normalization — max (unlike an L2 norm
    * in floating point) is summation-order-independent by nature, and the
    * sums under it are exact decimals, so the normalized scores are
    * identical rationals in any engine. The max itself is a one-row
    * broadcast cross join, never a collect. Nodes with no in-links get
    * authority 0; no out-links, hub 0. A round's state is one
    * (node, a, h) frame on [[graft.ops.Iterate.rounds]]: the hub update
    * reads the round's authorities, and the authority update reads the
    * previous round's hubs.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    require(!e.isEmpty, "hits: empty graph")
    val nodes = nodesOf(e).localCheckpoint()
    // `scores` with `__s` replaced by `c` = `__s` / max(`__s`)
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val m = scores.agg(max(col("__s")).as("__m"))
      scores.crossJoin(broadcast(m))
        .withColumn(c, round(col("__s").cast("double") / col("__m").cast("double"), 9))
        .drop("__s", "__m")
    }
    val dec = "decimal(28,9)"
    val state = try Iterate.rounds(nodes.select(col("node"), lit(1.0).as("h")), log, "hits",
        iterations) { state =>
      val aSums = nodes
        .join(e.join(state, e("src") === state("node"))
            .groupBy(col("dst")).agg(sum(col("h").cast(dec)).as("__s")),
          nodes("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("__s"), lit(0).cast(dec)).as("__s"))
      // one pass over the authorities, so the plan reads them once: each
      // node keeps its own and adds it to the hub sum of each in-neighbor
      val hSums = normalized(aSums, "a").join(e, col("node") === e("dst"), "left")
        .select(explode(array(
          struct(col("node"), col("a"), lit(null).cast(dec).as("c")),
          when(col("src").isNotNull, struct(col("src").as("node"),
            lit(null).cast("double").as("a"), col("a").cast(dec).as("c"))))).as("r"))
        .where(col("r").isNotNull).select("r.*")
        .groupBy("node")
        .agg(max(col("a")).as("a"), coalesce(sum(col("c")), lit(0).cast(dec)).as("__s"))
      normalized(hSums, "h")
    } finally { Iterate.release(nodes); Iterate.release(e) }
    state.select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983): repeatedly
    * drop nodes with undirected degree < k until fixpoint; what survives is
    * the maximal subgraph where everyone keeps ≥ k neighbors — the density
    * signal behind link-farm detection (spam farms are engineered to be
    * high-PageRank but thin: big stars, low coreness) and crawl-frontier
    * prioritization.
    *
    * Each round is one self-semi-join of the symmetrized edge frame
    * against the survivor set + one degree aggregate, run on
    * [[graft.ops.Iterate.fixpoint]]: the survivors are checkpointed with
    * their count observed on the same job, the previous round's
    * checkpoint is released, and the fixpoint is two equal survivor counts
    * in a row. Rounds are data-dependent but ≤ the longest peel cascade;
    * `maxRounds` bounds the loop loudly (an oracle unrolling R rounds
    * stays exact because the engine ASSERTS convergence within R).
    * Integer-only state — no pinning discipline needed.
    *
    * @return (node, core_degree): the k-core members with their degree
    *         inside the core.
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val dir0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b"))
    val sym = dir0.union(dir0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val nodes = sym.select(col("a").as("node")).distinct()
    var n = nodes.count()
    val core = try graft.ops.Iterate.fixpoint(nodes,
        org.slf4j.LoggerFactory.getLogger("graft.graph.kCore"), "k-core",
        "survivors" -> count(lit(1)), maxRounds,
        s"k-core failed to converge in $maxRounds rounds") { survivors =>
      val s = survivors.select(col("node"))
      sym
        .join(s.withColumnRenamed("node", "a"), "a")
        .join(s.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a").as("node")).agg(count(lit(1)).as("core_degree"))
        .where(col("core_degree") >= k)
    } { n2 => val fixed = n2 == n; n = n2; fixed }
    finally graft.ops.Iterate.release(sym)
    core.select(col("node"), col("core_degree"))
  }

  /** Synchronous label-propagation community detection (Raghavan, Albert &
    * Kumara 2007) over the UNDIRECTED link graph — the community axis the
    * centrality triad can't see: interlinked domain pockets (mirror
    * networks, link farms, forum rings) get one label, and curation rules
    * can then cap or screen per COMMUNITY instead of per domain.
    *
    * Deterministic variant of the classically-randomized algorithm, pinned
    * by spec + oracle: a fixed round count of SYNCHRONOUS updates (no
    * sequential node order to pick), every node starts labeled with
    * itself, and each round a node adopts its neighbors' most frequent
    * label, ties broken to the lexicographically GREATEST label. The
    * argmax is one decomposable max(struct(cnt, label)) per node (the
    * canonical-selection pattern — never a window). All state is
    * integer/string: no floats, no pinning discipline needed at all.
    *
    * Per round: one join (labels onto the symmetrized edge frame's
    * neighbor side) + two aggregates, on [[graft.ops.Iterate.rounds]]. Self-loops drop (a node voting for itself
    * would freeze every round); nodes with no non-self edges are absent.
    */
  def lpaCommunities(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 4): DataFrame = {
    val dir0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b"))
    val sym = dir0.union(dir0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val labels = try Iterate.rounds(sym.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("label")), log, "lpa", rounds) { labels =>
      val votes = sym
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      votes.groupBy("node")
        .agg(max(struct(col("cnt"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
    } finally Iterate.release(sym)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(broadcast(sizes), "label")
      .select(col("node"), col("label"), col("community_size"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED link graph — the density axis next to the centrality triad
    * and k-core: link farms and mirror rings are triangle-dense (lcc → 1),
    * organic hub pages are triangle-sparse (lcc → 0), so the coefficient
    * is the classic spam/ring feature to screen on.
    *
    * DEGREE-ORIENTED enumeration (the MapReduce-classic Suri & Vassilvitskii
    * 2011 shape): each undirected edge orients from the (degree, node)-
    * lexicographically smaller endpoint to the larger, every triangle is
    * enumerated exactly once at its smallest-rank vertex, and — the scale
    * property — each wedge join fans out by a node's ORIENTED out-degree,
    * which is O(√m) on any graph regardless of hub skew (a 10⁸-degree hub
    * contributes no wedges beyond its higher-rank neighbors). Total work
    * is O(m^{3/2}); the naive neighbor-join is Σ deg² and dies on the
    * first crawl hub.
    *
    * lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 for degree-1 nodes; all
    * counting integer-exact, one pinned IEEE division per node.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val dir0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b"))
    val sym = dir0.union(dir0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    val oriented = sym
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .filter(struct(col("da"), col("a")) < struct(col("db"), col("b")))
      .select(col("a").as("u"), col("b").as("v"), col("db").as("dv"))
      .localCheckpoint() // reused by both wedge sides and the closing probe
    val e1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
    val tris = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val perNode = tris.select(col("u").as("node"))
      .unionAll(tris.select(col("x").as("node")))
      .unionAll(tris.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round((coalesce(col("n_tri"), lit(0L)) * lit(2)).cast("double") /
            (col("deg") * (col("deg") - lit(1L))), 6))
          .otherwise(lit(0.0)).as("lcc"))
  }
}
