package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class LinkGraphSpec extends AnyFunSuite with SparkTestBase {

  private def ranks(edges: Seq[(String, String)], iters: Int = 5): Map[String, Double] = {
    import spark.implicits._
    LinkGraph.pagerank(edges.toDF("s", "d"), "s", "d", iterations = iters)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
  }

  test("two-node cycle is symmetric and conserves mass") {
    val r = ranks(Seq(("a", "b"), ("b", "a")))
    assert(r("a") == r("b"))
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
  }

  test("hand-computed first iteration on a star") {
    // b,c,d each link only to a; a links to b. N=4, d=0.85, r0=0.25.
    // after 1 iter: rank(a) = 0.0375 + 0.85*(3*0.25) = 0.675
    //              rank(b) = 0.0375 + 0.85*0.25     = 0.25
    //              rank(c) = rank(d) = 0.0375
    val r = ranks(Seq(("b", "a"), ("c", "a"), ("d", "a"), ("a", "b")), iters = 1)
    assert(math.abs(r("a") - 0.675) < 1e-9)
    assert(math.abs(r("b") - 0.25) < 1e-9)
    assert(math.abs(r("c") - 0.0375) < 1e-9)
    assert(math.abs(r("d") - 0.0375) < 1e-9)
  }

  test("a hub everyone links to outranks the spokes after convergence") {
    val spokes = (1 to 6).map(i => (s"s$i", "hub"))
    val back = (1 to 6).map(i => ("hub", s"s$i"))
    val r = ranks(spokes ++ back)
    assert((1 to 6).forall(i => r("hub") > r(s"s$i")))
  }

  test("dangling node keeps base rank; its mass is dropped, not crashed") {
    // a -> b, b has no out-edges: b's rank leaks out of the system
    val r = ranks(Seq(("a", "b")))
    assert(r.values.sum < 1.0)
    assert(r("b") > r("a")) // b still receives a's mass
  }

  test("duplicate edges collapse to distinct before degrees are computed") {
    val once = ranks(Seq(("a", "b"), ("b", "a")))
    val dup = ranks(Seq(("a", "b"), ("a", "b"), ("b", "a")))
    assert(once == dup)
  }

  test("out_degree rides along; dangling nodes report 0") {
    import spark.implicits._
    val df = LinkGraph.pagerank(
      Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("s", "d"), "s", "d", iterations = 2)
    val deg = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(deg == Map("a" -> 2L, "b" -> 1L, "c" -> 0L))
  }

  private def trust(edges: Seq[(String, String)], seeds: Seq[String],
      iters: Int = 5): Map[String, Double] = {
    import spark.implicits._
    LinkGraph.trustRank(edges.toDF("s", "d"), "s", "d", seeds.toDF("node"),
      iterations = iters)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
  }

  test("trustrank: unreachable domains score exactly zero") {
    // seed -> a -> b; c -> d is a disconnected spam pocket
    val r = trust(Seq(("seed", "a"), ("a", "b"), ("c", "d")), Seq("seed"))
    assert(r("c") == 0.0 && r("d") == 0.0)
    assert(r("a") > 0.0 && r("b") > 0.0)
    assert(r("seed") > 0.0) // teleport keeps the seed warm
  }

  test("trustrank hand-computed first iteration") {
    // seed links to a; N seeds = 1 so t(seed) = 1.0
    // after 1 iter: rank(seed) = 0.15*1 + 0.85*0 = 0.15
    //              rank(a)    = 0.15*0 + 0.85*(1.0/1) = 0.85
    val r = trust(Seq(("seed", "a"), ("a", "seed")), Seq("seed"), iters = 1)
    assert(math.abs(r("seed") - 0.15) < 1e-9)
    assert(math.abs(r("a") - 0.85) < 1e-9)
  }

  test("trustrank: trust decays with distance from the seed") {
    val chain = Seq(("s", "h1"), ("h1", "h2"), ("h2", "h3"), ("h3", "h4"))
    val r = trust(chain, Seq("s"))
    assert(r("h1") > r("h2") && r("h2") > r("h3") && r("h3") > r("h4"))
  }

  test("trustrank: two seeds split the teleport mass") {
    val r = trust(Seq(("s1", "a"), ("s2", "a")), Seq("s1", "s2"), iters = 1)
    // each seed: 0.15 * 0.5; a: 0.85 * (0.5 + 0.5)
    assert(math.abs(r("s1") - 0.075) < 1e-9)
    assert(math.abs(r("a") - 0.85) < 1e-9)
  }

  private def hitsScores(edges: Seq[(String, String)], iters: Int = 5): Map[String, (Double, Double)] = {
    import spark.implicits._
    LinkGraph.hits(edges.toDF("s", "d"), "s", "d", iterations = iters)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
  }

  test("hits hand-computed first round (Kleinberg update order)") {
    // h1,h2 -> a; a -> h1. After auth update: a=1, h1=0.5, h2=0.
    // After hub update from NEW auths: h1=1, h2=1, a=0.5.
    val r = hitsScores(Seq(("h1", "a"), ("h2", "a"), ("a", "h1")), iters = 1)
    assert(math.abs(r("a")._2 - 1.0) < 1e-9 && math.abs(r("a")._1 - 0.5) < 1e-9)
    assert(math.abs(r("h1")._2 - 0.5) < 1e-9 && math.abs(r("h1")._1 - 1.0) < 1e-9)
    assert(r("h2")._2 == 0.0 && math.abs(r("h2")._1 - 1.0) < 1e-9)
  }

  test("hits separates the aggregator from the content page") {
    // hub links to 3 content pages; content pages link to one another
    val hub = (1 to 3).map(i => ("hub", s"c$i"))
    val ring = Seq(("c1", "c2"), ("c2", "c3"), ("c3", "c1"))
    val r = hitsScores(hub ++ ring)
    assert(r("hub")._1 > r("c1")._1) // highest hub score
    assert(r("hub")._2 == 0.0) // nobody links to the aggregator
    assert((1 to 3).forall(i => r(s"c$i")._2 > 0.0))
  }

  test("anchor href extraction: quoted/unquoted/case forms, non-anchors ignored") {
    import graft.text.HtmlExtract
    assert(HtmlExtract.extractLinks(
      """<a href="http://X.com/A">t</a><A HREF='http://y.com/b'></A><a href=http://z.com/c>""")
      .toSeq == Seq("http://X.com/A", "http://y.com/b", "http://z.com/c"))
    // case preserved in the VALUE; area/abbr tags and href-less anchors skip
    assert(HtmlExtract.extractLinks("""<area href="n"><abbr>x</abbr><a name="frag">t</a>""")
      .isEmpty)
    assert(HtmlExtract.extractLinks("no links").isEmpty)
  }

  private def lpa(edges: Seq[(String, String)], rounds: Int = 4): Map[String, String] = {
    import spark.implicits._
    LinkGraph.lpaCommunities(edges.toDF("s", "d"), "s", "d", rounds)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("lpa: two 6-cliques joined by one bridge keep distinct labels") {
    // round 1 is all-ties (every label distinct), so the bridge endpoint
    // briefly adopts a foreign label; round 2's COUNT dominance (4 of its
    // 5 in-clique neighbors share the clique max) pulls it back — the
    // count-beats-lexicographic property, exercised not asserted.
    def clique(ns: Seq[String]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val A = Seq("a1", "a2", "a3", "a4", "a5", "a6")
    val B = Seq("b1", "b2", "b3", "b4", "b5", "b6")
    val labels = lpa(clique(A) ++ clique(B) :+ ("a1", "b1"))
    assert(A.map(labels).distinct == Seq("a6"))
    assert(B.map(labels).distinct == Seq("b6"))
  }

  test("lpa: round-1 all-distinct votes tie to the greatest label") {
    val labels = lpa(Seq(("x", "a"), ("x", "b"), ("x", "c")), rounds = 1)
    assert(labels("x") == "c")
  }

  test("lpa: self-loops are ignored; a 2-path oscillates with period 2") {
    // sym graph is just a-b: r1 swaps labels, r2 swaps back — pinned
    // deterministic behavior of the synchronous variant.
    assert(lpa(Seq(("a", "a"), ("a", "b")), rounds = 1) ==
      Map("a" -> "b", "b" -> "a"))
    assert(lpa(Seq(("a", "a"), ("a", "b")), rounds = 2) ==
      Map("a" -> "a", "b" -> "b"))
  }

  private def core(edges: Seq[(String, String)], k: Int, maxRounds: Int = 30): Map[String, Long] = {
    import spark.implicits._
    LinkGraph.kCore(edges.toDF("s", "d"), "s", "d", k, maxRounds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("kcore: pendant tail peels, triangle survives k=2 with its degrees") {
    val got = core(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")), k = 2)
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kcore: peeling cascades one hop per round") {
    // p1-p2-p3-triangle: p1 is degree 1; p2 drops only after p1 does
    val e = Seq(("p1", "p2"), ("p2", "x"), ("x", "y"), ("y", "z"), ("z", "x"))
    assert(core(e, k = 2).keySet == Set("x", "y", "z"))
    // a path peels from both ends one hop per round; too-small maxRounds raises
    val path = Seq(("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5"),
      ("n5", "n6"), ("n6", "n7"))
    intercept[IllegalArgumentException] { core(path, k = 2, maxRounds = 2) }
    assert(core(path, k = 2).isEmpty) // a path has no 2-core at all
  }

  test("kcore: k=1 keeps every non-isolated node; huge k empties") {
    val e = Seq(("a", "b"), ("b", "c"))
    assert(core(e, k = 1).keySet == Set("a", "b", "c"))
    assert(core(e, k = 5).isEmpty)
  }

  test("kcore: the round limit raises its message; only the returned core stays held") {
    val path = Seq(("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5"), ("n5", "n6"), ("n6", "n7"))
    val e = intercept[IllegalArgumentException] { core(path, k = 2, maxRounds = 2) }
    assert(e.getMessage == "requirement failed: k-core failed to converge in 2 rounds")
    import spark.implicits._
    val e2 = Seq(("p1", "p2"), ("p2", "x"), ("x", "y"), ("y", "z"), ("z", "x"))
    val ((out, cached), held) = rddsHeldAfter(rddsCachedDuring {
      intercept[IllegalArgumentException] { core(path, k = 2, maxRounds = 2) }
      LinkGraph.kCore(e2.toDF("s", "d"), "s", "d", 2)
    })
    assert(cached >= 4, s"expected several rounds checkpointed, saw $cached")
    assert(checkpointRdds(out).size == 1 && held == checkpointRdds(out))
    assert(out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
  }

  test("lpa: community_size column counts final label members") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"))
    val out = LinkGraph.lpaCommunities(e.toDF("s", "d"), "s", "d", 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.forall(_._3 == 3L)) // triangle converges to one community
    assert(out.map(_._2).distinct.length == 1)
  }

  test("every fixed-round operator leaves held only the blocks its frame reads") {
    import spark.implicits._
    import graft.ml.BradleyTerry
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"), ("a", "a"))
      .toDF("s", "d")
    val comps = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L)).toDF("winner", "loser")
    val operators = Seq[(String, () => DataFrame)](
      "pagerank" -> (() => LinkGraph.pagerank(g, "s", "d", 3)),
      "weightedPagerank" -> (() =>
        LinkGraph.weightedPagerank(g.withColumn("w", lit(2L)), "s", "d", "w", 3)),
      "trustRank" -> (() => LinkGraph.trustRank(g, "s", "d", Seq("a").toDF("node"), 3)),
      "hits" -> (() => LinkGraph.hits(g, "s", "d", 3)),
      "lpaCommunities" -> (() => LinkGraph.lpaCommunities(g, "s", "d", 3)),
      "BradleyTerry.fit" -> (() =>
        BradleyTerry.fit(BradleyTerry.pairCounts(comps, "winner", "loser"), 3)))
    operators.foreach { case (name, run) =>
      val ((out, cached), held) = rddsHeldAfter(rddsCachedDuring(run()))
      assert(cached >= 3, s"$name: expected its 3 rounds checkpointed, saw $cached")
      assert(held.nonEmpty && held.subsetOf(checkpointRdds(out)),
        s"$name: held $held, its frame reads ${checkpointRdds(out)}")
      assert(out.count() > 0, name)
    }
  }
}
