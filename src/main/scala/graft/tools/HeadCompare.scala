package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Measurement harness for the dedup-pipeline HEAD choice (round-3 verdict
  * item: can the SimHash banded multi-index replace MinHash-LSH as the
  * candidate generator for the Jaccard-0.9 cluster/curation pipelines?).
  *
  * For each head it reports wall time, candidate volume, verified-pair
  * count, and RECALL against the brute-force all-pairs Jaccard >= thr
  * ground truth — the semantic criterion: adopt SimHash only if it finds
  * at least the pairs the MinHash head finds.
  *
  * Usage: runMain graft.tools.HeadCompare <sfDir> [thr=0.9] [maxHamming=3]
  */
object HeadCompare {

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val thr = if (args.length > 1) args(1).toDouble else 0.9
    val maxHamming = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    // "sparse:<sfDir>" measures on the crawl-like SparseCorpus fixture
    // (realistic vocabulary, low median similarity, planted clusters)
    // instead of the harness's dense-similarity documents table
    val docs = if (dir.startsWith("sparse:")) {
      val real = graft.sources.Tables.cached(spark, dir.stripPrefix("sparse:"), "documents")
      graft.dedup.SparseCorpus.generate(real.select("doc_id")).cache()
    } else graft.sources.Tables.cached(spark, dir, "documents")
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

    // ground truth: brute-force all-pairs exact Jaccard (quadratic — the
    // measurement oracle, never a pipeline stage)
    val sh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 1).as("sh"))
    val (truth, tTruth) = time {
      pairSet(sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          Dedup.jaccard(col("a.sh"), col("b.sh")).as("sim"))
        .filter(col("sim") >= thr))
    }

    // head 1: MinHash-LSH (the incumbent), capped like the flagship queries
    val (mh, tMh) = time {
      pairSet(Dedup.minhashLshPairs(docs, "doc_id", "text", n = 1, k = 16, nBands = 4,
        threshold = thr, maxBucketSize = Some(250)))
    }

    // head 2: SimHash banded multi-index candidates -> exact Jaccard verify
    // (nBands = maxHamming + 1 keeps the pigeonhole recall guarantee)
    val (smh, tSh) = time {
      val cands = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        bits = 48, nBands = maxHamming + 1, maxHamming = maxHamming)
        .select("id_a", "id_b")
      pairSet(cands
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("sim", Dedup.jaccard(col("sh_a"), col("sh_b")))
        .filter(col("sim") >= thr))
    }

    // cluster-level agreement: what the flagship pipelines actually consume
    // is the CONNECTED COMPONENTS of the verified pairs — a head that finds
    // a spanning subset of each cluster's edges is as good as one that
    // finds every edge (driver union-find on the measured pair sets)
    val ids = docs.select(col("doc_id")).as[Long].collect()
    def partition(edges: Set[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      ids.map(i => i -> find(i)).toMap
    }
    val truthPart = partition(truth)
    def clusterAgreement(p: Map[Long, Long]): (Int, Double) = {
      val nClusters = p.values.toSet.size
      val same = ids.count(i => p(i) == truthPart(i))
      (nClusters, 100.0 * same / ids.length)
    }
    def pct(n: Int, d: Int) = if (d == 0) 100.0 else 100.0 * n / d
    val (mhC, mhA) = clusterAgreement(partition(mh))
    val (shC, shA) = clusterAgreement(partition(smh))
    println(f"TRUTH: ${truth.size} pairs at J>=$thr, ${truthPart.values.toSet.size} clusters (brute force, ${tTruth}%.1f s)")
    println(f"MINHASH-LSH head: ${mh.size} verified pairs, pair recall ${pct((mh & truth).size, truth.size)}%.2f%%, $mhC clusters, label agreement $mhA%.2f%%, ${tMh}%.1f s")
    println(f"SIMHASH head (h<=$maxHamming): ${smh.size} verified pairs, pair recall ${pct((smh & truth).size, truth.size)}%.2f%%, $shC clusters, label agreement $shA%.2f%%, ${tSh}%.1f s")
    println(s"simhash-found-minus-minhash: ${(smh -- mh).size}; minhash-minus-simhash: ${(mh -- smh).size}")

    // heads 3..n: the WIDE (array<bigint>) SimHash representation at
    // several (bits, nBands, maxHamming) points — the round-4 question:
    // which wide config keeps flagship-grade recall, and what do wider
    // band keys buy in candidate volume / time?
    for ((bits, nBands, maxH) <- Seq((96, 24, 22), (96, 12, 11), (96, 6, 5), (128, 32, 22))) {
      val (wd, tWd) = time {
        pairSet(Dedup.simhashWideJaccardPairs(docs, "doc_id", "text", n = 1,
          threshold = thr, bits = bits, nBands = nBands, maxHamming = maxH))
      }
      val (wdC, wdA) = clusterAgreement(partition(wd))
      println(f"SIMHASH-WIDE $bits%d-bit, $nBands%d bands, h<=$maxH%d: ${wd.size} verified pairs, " +
        f"pair recall ${pct((wd & truth).size, truth.size)}%.2f%%, $wdC clusters, " +
        f"label agreement $wdA%.2f%%, ${tWd}%.1f s")
    }
    spark.stop()
  }
}
