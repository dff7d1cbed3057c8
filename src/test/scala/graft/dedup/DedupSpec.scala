package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  // planted corpus: 0/1 exact dups, 2 near-dup of 0 (one word changed),
  // 3 unrelated
  private def corpus = Seq(
    (0L, "alpha beta gamma delta epsilon zeta", "s0"),
    (1L, "alpha beta gamma delta epsilon zeta", "s0"),
    (2L, "alpha beta gamma delta epsilon eta", "s0"),
    (3L, "one two three four five six", "s0")
  ).toDF("doc_id", "text", "source")

  test("exactGroups: identical texts collapse to one canonical id") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text").collect()
    assert(g.length == 3)
    val dup = g.find(_.getAs[Long]("n_dups") == 2).get
    assert(dup.getAs[Long]("canonical_id") == 0L)
  }

  test("shingles: distinct n-grams in first-occurrence order, empty when shorter than n or null") {
    val texts = Seq("a b a b a b", "", "double  space and trailing ", " lead", "x", "naïve café 東京 naïve café",
      null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // plain-Scala reference: split on " " keeping empty tokens, as Spark's split does
    def ref(t: String, n: Int): Seq[String] =
      if (t == null) Seq.empty
      else {
        val toks = t.split(" ", -1).toSeq
        if (toks.size < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      }
    for (n <- Seq(1, 2, 3)) {
      val got = df.select(col("id"), Dedup.shingles(col("text"), n)).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      texts.zipWithIndex.foreach { case (t, i) => assert(got(i.toLong) == ref(t, n), s"n=$n text=$t") }
    }
  }

  test("unigram jaccard pairs find exact and near dups, not unrelated") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "source", n = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))     // exact: jaccard 1.0
    assert(pairs.contains((0L, 2L)))     // near: 5/7 = 0.714
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // disjoint vocab
  }

  test("minhash LSH: candidates recover exact duplicates; verified pairs subset of true jaccard pairs") {
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", n = 1, k = 16, nBands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical docs have identical signatures -> guaranteed candidate + verified
    assert(lsh.contains((0L, 1L)))
    val brute = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "source", n = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute)) // verify step enforces the true-jaccard threshold
  }

  test("hot-bucket cap: mega-buckets contribute linear hub stars, not pair bombs") {
    // 20 identical boilerplate docs form a mega-bucket in EVERY band; the
    // two planted near-dups live in normal buckets
    val boiler = (100L to 119L).map(i => (i, "the same boilerplate text here", "s1"))
    val df = (Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "s0"),
      (1L, "alpha beta gamma delta epsilon zeta", "s0")) ++ boiler)
      .toDF("doc_id", "text", "source")
    val uncapped = Dedup.lshCandidates(df, "doc_id", "text", 1, 16, 4)
      .as[(Long, Long)].collect().toSet
    val capped = Dedup.lshCandidates(df, "doc_id", "text", 1, 16, 4, maxBucketSize = Some(10))
      .as[(Long, Long)].collect().toSet
    val ref = minhashRef(df, 1, 16)
    assert(uncapped == lshRef(ref, 4, None))
    assert(capped == lshRef(ref, 4, Some(10)))
    // uncapped: C(20,2)=190 boilerplate pairs; capped: only the 19-edge hub
    // star (min id 100 vs each member) — O(bucket), connectivity preserved
    assert(uncapped.count { case (a, b) => a >= 100 && b >= 100 } == 190)
    val megaPairs = capped.filter { case (a, b) => a >= 100 && b >= 100 }
    assert(megaPairs == (101L to 119L).map(b => (100L, b)).toSet,
      s"expected the hub star, got $megaPairs")
    // the planted pair survives the cap untouched
    assert(capped.contains((0L, 1L)))
    // histogram exposes the mega-bucket for tuning
    val sizes = Dedup.lshBucketSizes(df, "doc_id", "text", 1, 16, 4)
      .filter(col("n") > 10).select("n").as[Long].collect()
    assert(sizes.nonEmpty && sizes.forall(_ == 20L))
    // the cap threads through the end-to-end pipeline (what the flagship
    // cluster/curation queries call): star edges are verified like any
    // candidate, and identical boilerplate passes at J=1 — the cluster
    // stays connected through the hub at linear cost
    val e2e = Dedup.minhashLshPairs(df, "doc_id", "text", n = 1, k = 16, nBands = 4,
      threshold = 0.5, maxBucketSize = Some(10))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(e2e.filter { case (a, b) => a >= 100 && b >= 100 } ==
      (101L to 119L).map(b => (100L, b)).toSet)
    assert(e2e.contains((0L, 1L)))
  }

  test("simhash banded pairs: pigeonhole guarantee recovers all pairs within maxHamming") {
    val df = corpus
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text", bits = 48, nBands = 4, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // exact duplicates: hamming 0, always found
    assert(pairs.get((0L, 1L)).contains(0))
    // brute-force ground truth: banding must find EVERY pair within the cap
    val sigs = Dedup.simhash(df, "doc_id", "text", bits = 48)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b) -> h).toMap
    assert(pairs == truth, s"banded pairs $pairs != brute-force truth $truth")
  }

  test("minhash signature is order-insensitive and length-k per doc") {
    val df = Seq((0L, "a b c"), (1L, "c b a")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", n = 1, k = 8)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("i"), r.getAs[Long]("minh")))
    assert(sigs.length == 16)
    val byDoc = sigs.groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).toSet).toMap
    assert(byDoc(0L) == byDoc(1L)) // same shingle set -> same signature
  }

  /** Driver-side MinHash signatures: distinct n-token shingles (split on
    * " " keeping empty tokens), x = md5-60 of the shingle mod p, minimum i
    * = min over x of (a_i·x + b_i) mod p. Null text gives no signature.
    */
  private def minhashRef(df: DataFrame, n: Int, k: Int): Map[Long, Vector[Long]] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hash60(s: String) = java.nio.ByteBuffer.wrap(
      md5.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))).getLong >>> 4
    val params = Dedup.minhashParams(k)
    df.select("doc_id", "text").as[(Long, String)].collect().collect {
      case (id, text) if text != null && text.split(" ", -1).length >= n =>
        val xs = text.split(" ", -1).toSeq.sliding(n).map(_.mkString(" ")).toSeq.distinct
          .map(sh => hash60(sh) % Dedup.MINHASH_P)
        id -> params.map { case (_, a, b) => xs.map(x => (a * x + b) % Dedup.MINHASH_P).min }.toVector
    }.toMap
  }

  /** Driver-side LSH candidates: every pair sharing some band's minima;
    * under a cap, the pairs of within-cap buckets plus each over-cap
    * bucket's hub star (its min id with every other member).
    */
  private def lshRef(sigs: Map[Long, Vector[Long]], nBands: Int, cap: Option[Int]): Set[(Long, Long)] = {
    val rows = sigs.values.head.size / nBands
    val buckets = sigs.toSeq.flatMap { case (id, sig) =>
      (0 until nBands).map(b => (b, sig.slice(b * rows, (b + 1) * rows)) -> id)
    }.groupBy(_._1).values.map(_.map(_._2).sorted)
    buckets.flatMap { ids =>
      if (cap.exists(ids.size > _)) ids.tail.map(ids.head -> _)
      else for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  test("minhashSignatures equal a driver-side md5-60 reference") {
    for ((df, n, k) <- Seq((corpus, 1, 16), (hotBucketCorpus, 2, 8))) {
      val got = Dedup.minhashSignatures(df, "doc_id", "text", n, k)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("i"), r.getAs[Long]("minh"))).toSet
      val ref = minhashRef(df, n, k)
      assert(got == ref.toSet[(Long, Vector[Long])].flatMap { case (id, sig) =>
        sig.zipWithIndex.map { case (m, i) => (id, i, m) } }, s"n=$n k=$k")
      assert(got.size == ref.size * k && ref.nonEmpty)
    }
  }

  test("lshCandidates equal the driver-side bucket reference, uncapped and capped") {
    for (df <- Seq(corpus, hotBucketCorpus)) {
      val ref = minhashRef(df, 1, 16)
      for (cap <- Seq(None, Some(3), Some(10))) {
        val got = Dedup.lshCandidates(df, "doc_id", "text", 1, 16, 4, cap).as[(Long, Long)].collect()
        assert(got.length == got.distinct.length)
        assert(got.toSet == lshRef(ref, 4, cap), s"cap=$cap")
      }
    }
  }

  test("colliding band keys never become candidates") {
    // two 8-bit bands; band 0 keys its bits, band 1 sends every signature
    // to one key, so all band-1 rows collide
    val bands = new BandedJoin(2, 8, (sig, band) => when(band === 0, sig).otherwise(lit(0L)),
      (j, a, b) => shiftright(a.bitwiseXOR(b), 8 * j).bitwiseAND(lit(255L)) === lit(0L))
    // band bytes (band 1, band 0): 1 and 2 share nothing; 3 and 4 match in
    // band 0 only; 5 and 6 in band 1 only
    val sigs = Seq(1L -> 0x0102L, 2L -> 0x0304L, 3L -> 0x0501L, 4L -> 0x0601L,
      5L -> 0x0710L, 6L -> 0x0720L).toDF("id", "sig")
    assert(bands.self(sigs).select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((3L, 4L), (5L, 6L)))
    // hand-built frames: bk = band·2^8 + key
    def frame(rows: (Long, Long, Long)*) = rows.toDF("id", "sig", "bk")
    def probe(p: DataFrame, i: DataFrame) =
      bands.probe(p, i).select("id_x", "id_y").as[(Long, Long)].collect().toSeq
    // same bk, different band-1 bits: nothing
    assert(probe(frame((1L, 0x0102L, 256L)), frame((2L, 0x0304L, 256L))).isEmpty)
    assert(probe(frame((3L, 0x0501L, 256L)), frame((4L, 0x0601L, 256L))).isEmpty)
    // with their matching band-0 rows added, the pair comes out once
    assert(probe(frame((3L, 0x0501L, 256L), (3L, 0x0501L, 1L)),
      frame((4L, 0x0601L, 256L), (4L, 0x0601L, 1L))) == Seq((3L, 4L)))
    // a band-0 collision does not hide a later matching band
    assert(probe(frame((5L, 0x0710L, 0L), (5L, 0x0710L, 256L)),
      frame((6L, 0x0720L, 0L), (6L, 0x0720L, 256L))) == Seq((5L, 6L)))
  }

  test("connectedComponents: chains collapse to min id, singletons keep their own") {
    val nodes = (0L to 6L).toDF("id")
    // chain 0-1-2, pair 3-4, singletons 5, 6
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(cc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 6L))
  }

  test("connectedComponents: long chain needs multiple propagation rounds") {
    val n = 12
    val nodes = (0L until n.toLong).toDF("id")
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val (cc, log) = logged("graft.dedup.CC")(fixpointOnly(Dedup.connectedComponents(nodes, pairs)
      .collect().map(_.getAs[Long]("cluster")).distinct))
    assert(cc.toSeq == Seq(0L))
    assert(log.count(_.startsWith("CC round ")) > 1, log)
  }

  test("incrementalComponents == full recompute; merges, bridges, new singletons") {
    // base: chain 0-1-2 (cluster 0), pair 3-4 (cluster 3), singletons 5, 6
    val baseNodes = (0L to 6L).toDF("id")
    val basePairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val baseLabels = Dedup.connectedComponents(baseNodes, basePairs)
    // batch: 7 attaches to cluster 0; 8 BRIDGES clusters 0 and 3 (via 7
    // and 4); 9 is a new singleton
    val newNodes = Seq(7L, 8L, 9L).toDF("id")
    val newEdges = Seq((2L, 7L), (7L, 8L), (8L, 4L)).toDF("id_a", "id_b")
    val inc = Dedup.incrementalComponents(baseLabels, newNodes, newEdges)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    val full = Dedup.connectedComponents((0L to 9L).toDF("id"),
        basePairs.unionByName(newEdges))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(inc == full)
    // the bridge united 0-1-2-3-4-7-8 under min id 0; 9 is its own cluster
    assert(inc(8L) == 0L && inc(4L) == 0L && inc(9L) == 9L && inc(5L) == 5L)
  }

  test("incrementalComponents chains across batches: streamed maintenance == full CC") {
    // the per-ingest maintenance loop: labels fold through three arriving
    // edge batches; every intermediate state is a valid clustering of the
    // edges seen so far, and the final state equals the one-shot CC
    val batches = Seq(
      (Seq(10L, 11L), Seq((10L, 11L))),
      (Seq(12L, 13L), Seq((11L, 12L))),          // attach to the 10-11 pair
      (Seq(14L), Seq((13L, 14L), (14L, 10L))))   // cycle back
    var labels = Dedup.connectedComponents(
      Seq(0L, 1L).toDF("id"), Seq((0L, 1L)).toDF("id_a", "id_b"))
    batches.foreach { case (ids, edges) =>
      labels = Dedup.incrementalComponents(labels, ids.toDF("id"),
        edges.toDF("id_a", "id_b"))
    }
    val finalMap = labels.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    val allEdges = (Seq((0L, 1L)) ++ batches.flatMap(_._2)).toDF("id_a", "id_b")
    val full = Dedup.connectedComponents(
        (Seq(0L, 1L) ++ batches.flatMap(_._1)).toDF("id"), allEdges)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(finalMap == full)
    assert(Set(10L, 11L, 12L, 13L, 14L).forall(finalMap(_) == 10L))
  }

  /** Min-id components by union-find on the driver. */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** Seeded random graph over shuffled ids: a long chain, a star, a cycle,
    * random extra edges, duplicate and reversed pairs, self-pairs and
    * isolated nodes.
    */
  private def randomGraph(seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 200L).toVector).map(_ * 7 + seed)
    val chain = ids.slice(0, 40).sliding(2).map(p => (p(0), p(1))).toSeq
    val star = ids.slice(40, 90).tail.map(ids(40) -> _)
    val cyc = ids.slice(90, 115)
    val cycle = cyc.indices.map(i => (cyc(i), cyc((i + 1) % cyc.size)))
    val extra = Seq.fill(20)((ids(115 + rnd.nextInt(60)), ids(115 + rnd.nextInt(60))))
    val base = chain ++ star ++ cycle ++ extra
    val dups = rnd.shuffle(base).take(15).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val selfs = ids.slice(100, 110).map(i => (i, i)) :+ (ids(190), ids(190))
    (ids, rnd.shuffle(base ++ dups ++ selfs)) // ids(175) onwards: isolated
  }

  // min-label propagation needs O(length) rounds on a chain whose ids
  // are in random order, more than the default 20 for a 40-node chain
  private val Rounds = 60

  private def ccMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap

  test("connectedComponents == driver union-find on seeded random graphs and an empty edge set") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val (nodes, edges) = randomGraph(seed)
      val got = ccMap(Dedup.connectedComponents(nodes.toDF("id"), edges.toDF("id_a", "id_b"), Rounds))
      assert(got == unionFind(nodes, edges), s"seed $seed")
    }
    val nodes = Seq(5L, 3L, 9L)
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(ccMap(Dedup.connectedComponents(nodes.toDF("id"), none)) == nodes.map(n => n -> n).toMap)
  }

  test("connectedComponentsFrom: a seeded start equals the id start") {
    val (nodes, edges) = randomGraph(4L)
    // a valid seed: the components of a random half of the edges
    val partial = unionFind(nodes, new scala.util.Random(4L).shuffle(edges).take(edges.size / 2))
    val seeded = Dedup.connectedComponentsFrom(partial.toSeq.toDF("id", "cluster"),
      edges.toDF("id_a", "id_b"), Rounds)
    val fromIds = Dedup.connectedComponents(nodes.toDF("id"), edges.toDF("id_a", "id_b"), Rounds)
    assert(ccMap(seeded) == ccMap(fromIds))
    assert(ccMap(seeded) == unionFind(nodes, edges))
  }

  /** Runs `body` with driver-side CC turned off, so CC runs its rounds. */
  private def fixpointOnly[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, old)
  }

  /** Rows (sorted by id) and schema of a CC result. */
  private def ccRows(df: DataFrame) =
    (df.collect().toSeq.sortBy(_.getAs[Number]("id").longValue), df.schema)

  test("property: the driver and the fixpoint path return identical rows and schema, both union-find's") {
    for (seed <- 1L to 6L; asInt <- Seq(false, true)) {
      val rnd = new scala.util.Random(seed)
      val (nodes, inside) = randomGraph(seed)
      // edges to ids that are no seed, also between two such ids
      val outside = Seq.fill(10)((nodes(rnd.nextInt(nodes.size)), 5000L + rnd.nextInt(5)))
        .map(p => if (rnd.nextBoolean()) p else p.swap) :+ ((5000L, 5001L))
      // even seeds start from an earlier clustering of half the edges,
      // with a duplicate id → id row for some ids; every third runs on an
      // empty edge set
      val earlierEdges = if (seed % 2 == 0) rnd.shuffle(inside).take(inside.size / 2) else Seq.empty
      val seedRows = unionFind(nodes, earlierEdges).toSeq ++ nodes.take(20).map(n => n -> n)
      val edges = if (seed % 3 == 0) Seq.empty else rnd.shuffle(inside ++ outside)
      def frame(rows: Seq[(Long, Long)], a: String, b: String) =
        if (asInt) rows.map { case (x, y) => (x.toInt, y.toInt) }.toDF(a, b) else rows.toDF(a, b)
      def cc = Dedup.connectedComponentsFrom(frame(seedRows, "id", "cluster"),
        frame(edges, "id_a", "id_b"), Rounds)
      val (local, localLog) = logged("graft.dedup.CC")(ccRows(cc))
      val (rounds, roundsLog) = logged("graft.dedup.CC")(fixpointOnly(ccRows(cc)))
      val what = s"seed $seed, int ids $asInt"
      assert(localLog.size == 1 && localLog.head.startsWith("CC local: "), what)
      assert(roundsLog.nonEmpty && roundsLog.forall(_.startsWith("CC round ")), what)
      assert(local == rounds, what)
      assert(local._1.map(r => r.getAs[Number]("id").longValue -> r.getAs[Number]("cluster").longValue).toMap ==
        unionFind(nodes, earlierEdges ++ edges.filterNot(outside.contains)), what)
      assert(local._1.size == nodes.size, what)
    }
  }

  test("connectedComponents: running out of maxIters throws; nothing but the result stays held") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    val nodes = (0L to 40L).toDF("id")
    // a multi-round run checkpoints the edge list, caches the edges and
    // checkpoints every round; only the returned labels' checkpoint may
    // remain afterwards, also after a failed run
    val ((out, cached), held) = fixpointOnly(rddsHeldAfter(rddsCachedDuring {
      val e = intercept[IllegalArgumentException] {
        Dedup.connectedComponents(nodes, chain.toDF("id_a", "id_b"), maxIters = 2)
      }
      assert(e.getMessage == "requirement failed: connectedComponents did not converge in 2 iterations")
      Dedup.connectedComponents(nodes, chain.toDF("id_a", "id_b"))
    }))
    assert(cached >= 6, s"expected the edges and several rounds cached, saw $cached")
    assert(checkpointRdds(out).size == 1)
    assert(held == checkpointRdds(out))
    assert(out.select("cluster").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("connectedComponents on the driver: maxIters does not apply; nothing stays held") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    val nodes = (0L to 40L).toDF("id")
    // the edge list's checkpoint is the one block written, and it is
    // released before the lazy result returns
    val (((out, log), cached), held) = rddsHeldAfter(rddsCachedDuring(logged("graft.dedup.CC")(
      Dedup.connectedComponents(nodes, chain.toDF("id_a", "id_b"), maxIters = 2))))
    assert(log.size == 1 && log.head.startsWith("CC local: edges=40, nodes=41, "), log)
    assert(cached == 1)
    assert(held.isEmpty && checkpointRdds(out).isEmpty)
    assert(out.select("cluster").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("a small-graph connectedComponents runs at most 3 jobs") {
    val nodes = (0L to 6L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    // the edge list's checkpoint, its collect and the seed labels'
    // collect; the lazy result runs its own jobs when read
    val (cc, work) = jobsDuring(Dedup.connectedComponents(nodes, pairs))
    assert(work.jobs <= 3, work)
    assert(ccMap(cc) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 6L))
  }

  /** Corpus with a hot bucket (24 identical boilerplate docs share every
    * band), near-dup families one word apart, random docs and a null text.
    */
  private def hotBucketCorpus: DataFrame = {
    val rnd = new scala.util.Random(11L)
    val vocab = (0 until 40).map(i => s"w$i")
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val boiler = (100L until 124L).map(i => (i, "the same boilerplate text here again"))
    val families = (0 until 8).flatMap { f =>
      val base = words(12)
      (0 until 4).map { j =>
        (200L + 10 * f + j, base.updated(rnd.nextInt(12), s"x$f$j").mkString(" "))
      }
    }
    val random = (300L until 320L).map(i => (i, words(8).mkString(" ")))
    (boiler ++ families ++ random :+ ((400L, null: String))).toDF("doc_id", "text")
  }

  test("packed single-long band keys give the multi-column joins' candidates and pairs") {
    val df = hotBucketCorpus
    val batch = df.filter(col("doc_id") % 3 === 0).select("doc_id")
    val batchSet = batch.collect().map(_.getLong(0)).toSet
    for ((bits, nBands) <- Seq((48, 12), (48, 4), (32, 4))) {
      val bandBits = bits / nBands
      val mask = (1L << bandBits) - 1
      def firstMatch(band: Int, x: Long, y: Long) =
        (0 until band).forall(j => ((x ^ y) >>> (j * bandBits) & mask) != 0L)
      val sigs = Dedup.simhash(df, "doc_id", "text", bits)
      // the multi-column formulations the packed key replaced
      val banded = sigs.crossJoin((0 until nBands).toDF("band"))
        .withColumn("bkey", expr(s"shiftright(simhash, band * $bandBits) & $mask"))
      val g = (0 until 8).map(_.toLong).toDF("g")
      val a = banded.select(col("id").as("id_a"), col("simhash").as("sig_a"), col("band"), col("bkey"))
        .withColumn("ga", pmod(col("id_a"), lit(8L))).crossJoin(g.withColumnRenamed("g", "gb"))
      val b = banded.select(col("id").as("id_b"), col("simhash").as("sig_b"), col("band"), col("bkey"))
        .withColumn("gb", pmod(col("id_b"), lit(8L))).crossJoin(g.withColumnRenamed("g", "ga"))
      val selfOld = a.join(b, Seq("band", "bkey", "ga", "gb")).filter(col("id_a") < col("id_b"))
        .select("id_a", "sig_a", "id_b", "sig_b", "band").as[(Long, Long, Long, Long, Int)]
        .collect().filter(r => firstMatch(r._5, r._2, r._4)).map(r => (r._1, r._2, r._3, r._4))
      val probe = banded.join(batch.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
        .select(col("id").as("id_x"), col("simhash").as("sig_x"), col("band"), col("bkey"))
      val index = banded.select(col("id").as("id_y"), col("simhash").as("sig_y"), col("band"), col("bkey"))
      val probeOld = probe.join(index, Seq("band", "bkey")).filter(col("id_x") =!= col("id_y"))
        .select("id_x", "sig_x", "id_y", "sig_y", "band").as[(Long, Long, Long, Long, Int)]
        .collect().filter(r => firstMatch(r._5, r._2, r._4)).map(r => (r._1, r._2, r._3, r._4))
      val tag = s"bits=$bits nBands=$nBands"
      assert(selfOld.count(r => r._1 >= 100 && r._3 < 124) == 24 * 23 / 2, s"$tag: hot bucket")
      assert(Dedup.selfJoinCandidates(sigs, bits, nBands)
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq == selfOld.sorted.toSeq, tag)
      assert(Dedup.probeCandidates(sigs, batch, bits, nBands)
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq == probeOld.sorted.toSeq, tag)
      // verified pairs of both heads
      val maxH = nBands - 1
      def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
      val bulk = Dedup.simhashNearDupPairs(df, "doc_id", "text", bits, nBands, maxH)
        .as[(Long, Long, Int)].collect().toSet
      assert(bulk == selfOld.filter(r => ham(r._2, r._4) <= maxH)
        .map(r => (r._1, r._3, ham(r._2, r._4))).toSet, tag)
      val touching = Dedup.simhashJaccardPairsTouching(df, batch, "doc_id", "text",
          threshold = 0.5, bits = bits, nBands = nBands, maxHamming = maxH)
        .as[(Long, Long, Double)].collect().toSet
      val sh = df.select(col("doc_id"), Dedup.shingles(col("text"), 1).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      val touchingOld = probeOld.filter(r => ham(r._2, r._4) <= maxH)
        .map(r => (math.min(r._1, r._3), math.max(r._1, r._3))).toSet[(Long, Long)]
        .map { case (x, y) =>
          val (p, q) = (sh(x), sh(y))
          val inter = p.intersect(q).size.toDouble
          (x, y, inter / (p.size + q.size - inter))
        }.filter(_._3 >= 0.5)
        .map(t => t.copy(_3 = BigDecimal(t._3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      assert(touching == touchingOld, tag)
      assert(touching.nonEmpty && touching.forall(t => batchSet(t._1) || batchSet(t._2)), tag)
    }
    // a 64-bit band is wider than the packed key's free bits: its key is
    // masked, and the exact band test still gives the brute-force pairs
    val sigs64 = Dedup.simhash(df, "doc_id", "text", 64).as[(Long, Long)].collect()
    assert(Dedup.simhashNearDupPairs(df, "doc_id", "text", bits = 64, nBands = 1, maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSet ==
      (for ((a, x) <- sigs64; (b, y) <- sigs64 if a < b && x == y) yield (a, b, 0)).toSet)
  }

  test("simhash: identical texts equal; near-dup within small hamming distance; unrelated far") {
    val hashes = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(hashes(0L) == hashes(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hashes(0L), hashes(2L)) < hamming(hashes(0L), hashes(3L)))
  }

  test("simhashScreen: batch probes base only — exact copy flagged at hamming 0, batch-internal dups ignored") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words live here nowhere else")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // copy of base 1
      (11L, "alpha beta gamma delta epsilon zeta eta theta"), // copy of 10 AND base 1
      (12L, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff")       // novel vocab
    ).toDF("doc_id", "text")
    val out = Dedup.simhashScreen(base, batch, "doc_id", "text", maxHamming = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out.contains(10L) && out(10L)._2 === 0 && out(10L)._3 === 1L)
    // 11 matches base 1 (not batch-mate 10 — only base ids can be match_id)
    assert(out(11L)._3 === 1L)
    assert(!out.contains(12L), "novel doc must pass the screen")
    // base docs never appear as probed ids
    assert(out.keySet.forall(_ >= 10L))
  }

  test("persistent bucketed index screen: shuffle-free probe join, output equals in-memory screen") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words live here nowhere else"),
      (3L, "yet more unrelated base corpus content words")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // copy of base 1
      (11L, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff")       // novel vocab
    ).toDF("doc_id", "text")
    val suffix = "spec_" + System.nanoTime() // fresh tables per run
    val index = Dedup.persistentBandedIndex(base, "doc_id", "text",
      s"graft_test_index_$suffix")
    // the probe join must be exchange-free: both sides read bucketed on bk
    val joined = Dedup.probeJoinAgainstPersistentIndex(index, batch, "doc_id", "text",
      s"graft_test_probe_$suffix")
    assert(graft.sources.PartitionedSink.isShuffleFree(joined),
      s"probe join shuffled:\n${joined.queryExecution.executedPlan}")
    val persistent = Dedup.screenAgainstPersistentIndex(index, batch, "doc_id", "text",
      s"graft_test_probe_$suffix")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    val inMemory = Dedup.simhashScreen(base, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    assert(persistent.toSeq == inMemory.toSeq,
      "persistent-index screen diverged from the in-memory screen")
    assert(persistent.exists(r => r._1 == 10L && r._3 == 0 && r._4 == 1L))
  }

  test("simhashWide at 48 bits reproduces the narrow signature word-for-word") {
    // one word per band, bandBits=4: word w of the wide signature must equal
    // (narrow >> 4w) & 15 — narrow and wide heads are interchangeable
    val wide = Dedup.simhashWide(corpus, "doc_id", "text", bits = 48, nBands = 12)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val narrow = Dedup.simhash(corpus, "doc_id", "text", bits = 48)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide.keySet == narrow.keySet)
    wide.foreach { case (id, words) =>
      assert(words.length == 12)
      val rebuilt = words.zipWithIndex.map { case (w, i) => w << (4 * i) }.reduce(_ | _)
      assert(rebuilt == narrow(id), s"doc $id: wide words $words != narrow ${narrow(id)}")
    }
  }

  test("row-local simhash and simhashWide equal the explode + hash60 + groupBy formulation") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "naïve", "café", "東京", "Ωmega", "🙂", "x")
    val generated = (10L until 60L).map(id =>
      (id, Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val df = (Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, null),
      (2L, ""),
      (3L, "rep rep rep tok tok"),
      (4L, "double  space and trailing "),
      (5L, " leading space  "),
      (6L, "   "),
      (7L, "naïve café 東京 Ωmega 🙂 naïve"),
      (8L, null)) ++ generated).toDF("doc_id", "text")
    // the aggregate formulation the kernel replaced: one row per distinct
    // token, per-bit ±1 sums grouped by id
    val tok = df.select(col("doc_id").as("id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    def sums(bits: Int, hash: Int => Column, pos: Int => Int) = (0 until bits).map(b =>
      sum(when(shiftright(hash(b), pos(b)) % 2 === 1, 1).otherwise(-1)).as(s"s$b"))
    def chunkHash(b: Int) = graft.text.TextFunctions.hash60(
      if (b < 60) col("tok") else concat(lit(s"${b / 60}#"), col("tok")))
    def oldNarrow(bits: Int) = {
      val s = sums(bits, _ => graft.text.TextFunctions.hash60(col("tok")), identity)
      tok.groupBy("id").agg(s.head, s.tail: _*).select(col("id"), (0 until bits)
        .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _))
    }
    def oldWide(bits: Int, nBands: Int) = {
      val bandBits = bits / nBands
      val s = sums(bits, chunkHash, _ % 60)
      tok.groupBy("id").agg(s.head, s.tail: _*).select(col("id"), array((0 until nBands).map(w =>
        (0 until bandBits).map(j => when(col(s"s${w * bandBits + j}") > 0, lit(1L << j))
          .otherwise(lit(0L))).reduce(_ + _)): _*))
    }
    def rows(d: DataFrame) = d.collect().map(r => r.getLong(0) -> r.get(1)).toSeq
    val nonNull = df.filter(col("text").isNotNull).count()
    def check(fresh: DataFrame, old: DataFrame, what: String): Unit = {
      val got = rows(fresh)
      assert(got.size == nonNull, s"$what: one row per non-null-text input row")
      assert(!got.exists(r => r._1 == 1L || r._1 == 8L), s"$what: null-text ids must be absent")
      assert(got.toMap == rows(old).toMap, s"$what differs from the aggregate formulation")
    }
    for (bits <- Seq(32, 48))
      check(Dedup.simhash(df, "doc_id", "text", bits), oldNarrow(bits), s"simhash($bits)")
    for (bits <- Seq(48, 96))
      check(Dedup.simhashWide(df, "doc_id", "text", bits, nBands = 12), oldWide(bits, 12),
        s"simhashWide($bits)")
  }

  test("simhashWide 96-bit: words past bit 60 draw from the salted hash chunk, not zeros") {
    val wide = Dedup.simhashWide(corpus, "doc_id", "text", bits = 96, nBands = 12)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // exact duplicates still agree on every word
    assert(wide(0L) == wide(1L))
    // the high 4 words (bits 64..95) must carry signal: across the corpus
    // they cannot all be 0 or all identical between unrelated docs
    val high = wide.values.map(_.drop(8)).toSeq
    assert(high.distinct.size > 1, s"high words degenerate: $high")
  }

  test("simhashWideNearDupPairs: pigeonhole recall vs brute-force over wide signatures") {
    // 96/12 gives 8-bit words; 720/12 gives 60-bit words, wider than the
    // free bits of the packed key, so the self-join masks them
    for ((df, bits) <- Seq((corpus, 96), (hotBucketCorpus, 96), (hotBucketCorpus, 720))) {
      val pairs = Dedup.simhashWideNearDupPairs(df, "doc_id", "text",
        bits = bits, nBands = 12, maxHamming = 11)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
      val sigs = Dedup.simhashWide(df, "doc_id", "text", bits = bits, nBands = 12)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val truth = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = sigs(a).zip(sigs(b)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
        if h <= 11
      } yield (a, b) -> h).toMap
      assert(pairs == truth, s"bits=$bits: wide banded pairs $pairs != brute-force truth $truth")
      assert(pairs.nonEmpty)
    }
    val exact = Dedup.simhashWideNearDupPairs(corpus, "doc_id", "text", 96, 12, 11)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(exact.get((0L, 1L)).contains(0)) // exact dup at hamming 0
  }

  test("wide Jaccard head: verified pairs subset of narrow head's at equal maxHamming; exact dups always survive") {
    // hamming scales with bits, so maxHamming=11 is a TIGHTER fractional
    // cut at 96 bits than at 48 — wide candidates (and thus verified pairs)
    // are a subset; hamming-0 exact dups survive any cut. The recall-vs-
    // collision trade at the flagship threshold is measured in SCALE.md.
    val wide = Dedup.simhashWideJaccardPairs(corpus, "doc_id", "text", n = 1, threshold = 0.5)
      .select("id_a", "id_b", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val narrow = Dedup.simhashJaccardPairs(corpus, "doc_id", "text", n = 1, threshold = 0.5)
      .select("id_a", "id_b", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(wide.subsetOf(narrow))
    assert(wide.exists { case (a, b, _) => a == 0L && b == 1L }) // exact dup
  }

  test("touching head equals the full pair set restricted to batch endpoints") {
    import spark.implicits._
    // realistic slice: the sf0.001 documents table, batch = every 5th doc
    val d = graft.sources.Tables.cached(spark, "/root/testdata/sf0.001", "documents")
    val batchIds = d.filter(col("doc_id") % 5 === 0).select("doc_id")
    val got = Dedup.simhashJaccardPairsTouching(d, batchIds, "doc_id", "text")
      .select("id_a", "id_b", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.simhashJaccardPairs(d, "doc_id", "text")
      .select("id_a", "id_b", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter { case (a, b, _) => a % 5 == 0 || b % 5 == 0 }
    assert(got == expected)
    assert(got.nonEmpty && got.size < full.size) // restriction is real
  }

  test("clusterSplit: no near-dup pair ever straddles train/holdout") {
    import spark.implicits._
    // three exact-dup families + singletons: every family must land whole
    val rows = (0L until 30L).flatMap { f =>
      Seq((f * 10, s"family $f body text shared"), (f * 10 + 1, s"family $f body text shared"))
    } ++ (1000L until 1020L).map(i => (i, s"singleton unique $i content"))
    val df = rows.toDF("doc_id", "text")
    val out = Dedup.clusterSplit(df, "doc_id", "text",
      n = 1, k = 16, nBands = 4, threshold = 0.9,
      maxBucketSize = Some(250), holdoutPct = 30)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // duplicates share cluster AND split
    (0L until 30L).foreach { f =>
      assert(out(f * 10) == out(f * 10 + 1), s"family $f straddles: ${out(f * 10)} vs ${out(f * 10 + 1)}")
    }
    // the hash split actually uses both sides
    val splits = out.values.map(_._2).toSet
    assert(splits == Set("train", "holdout"), s"degenerate split: $splits")
    // split is a pure function of the cluster label: layout-independent
    val out2 = Dedup.clusterSplit(df.repartition(7), "doc_id", "text",
      n = 1, k = 16, nBands = 4, threshold = 0.9,
      maxBucketSize = Some(250), holdoutPct = 30)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == out2)
  }

  test("containment catches the asymmetric quote Jaccard misses, directionally") {
    import spark.implicits._
    // B = 40 distinct-gram tokens; A = B's first 10 tokens verbatim.
    // 3-grams: |S(B)| = 38, |S(A)| = 8, all of S(A) ⊂ S(B).
    val long = (0 until 40).map(i => s"tok$i").mkString(" ")
    val short = (0 until 10).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, short), (2L, long), (3L, "unrelated words only here now")).toDF("id", "text")
    val out = Dedup.containmentPairs(df, "id", "text", n = 3, threshold = 0.5, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(out((1L, 2L)) == 1.0, s"quote not fully contained: $out")
    assert(!out.contains((2L, 1L)), "reverse direction (8/38) must fall below threshold")
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
    // the same pair under symmetric Jaccard: 8/38 — invisible at any
    // near-dup threshold; that asymmetry is the operator's reason to exist
    val j = Dedup.ngramJaccardPairs(
      df.withColumn("blk", lit(1)), "id", "text", "blk", n = 3, threshold = 0.5)
    assert(j.filter(col("id_a") === 1 && col("id_b") === 2).isEmpty, "Jaccard should miss the quote")
  }

  test("containment maxDf cap: boilerplate grams beyond the cap carry no signal") {
    import spark.implicits._
    // the same 5-token block in 6 docs: every one of its grams has df 6 > maxDf 5
    // → informative sets are empty → no pairs at all
    val block = "shared legal boilerplate block"
    val df = (1L to 6L).map(i => (i, block)).toDF("id", "text")
    assert(Dedup.containmentPairs(df, "id", "text", n = 3, threshold = 0.1, maxDf = 5).isEmpty)
    // at maxDf 6 the block is informative again and all 30 directed pairs emerge
    assert(Dedup.containmentPairs(df, "id", "text", n = 3, threshold = 0.1, maxDf = 6)
      .count() == 30L)
  }

  test("wide head at matched fractional hamming (96 bits, 24 bands, h<=22) finds the same verified pairs here") {
    // same 23% fractional cut as the narrow default (11/48 = 22/96): on the
    // planted corpus the verified pair sets coincide
    val wide = Dedup.simhashWideJaccardPairs(corpus, "doc_id", "text", n = 1,
      threshold = 0.5, bits = 96, nBands = 24, maxHamming = 22)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrow = Dedup.simhashJaccardPairs(corpus, "doc_id", "text", n = 1, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == narrow)
  }

  test("first-band candidate dedup: all-band-matching pairs surface exactly once, rows pre-distinct ≈ pairs") {
    // exact duplicates match in EVERY band — the round-8 first-matching-band
    // filter must (a) keep them (recall unchanged: the pair survives via its
    // first matching band) and (b) emit them exactly once into the distinct,
    // not once per band. (a) is behavioral; (b) is asserted structurally by
    // running the head with distinct-free semantics: counting output rows of
    // a groupBy over the pre-distinct frame is not exposed, so we assert the
    // documented contract — output rows are unique — plus hamming-0 recall.
    import spark.implicits._
    val dups = Seq(
      (0L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), (3L, "unrelated words entirely different")
    ).toDF("doc_id", "text")
    val rows = Dedup.simhashNearDupPairs(dups, "doc_id", "text",
        bits = 48, nBands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == rows.distinct.length)
    assert(rows.map(r => (r._1, r._2)).toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(rows.forall(_._3 == 0))
    // the screen path shares the filter: exact-dup probe flags its base twin
    val scr = Dedup.simhashScreen(dups.filter($"doc_id" =!= 1L), dups.filter($"doc_id" === 1L),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(scr.toSeq == Seq((1L, 2L, 0, 0L)))
  }
}
