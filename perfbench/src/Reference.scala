package perfbench

/** Answers computed in plain Scala, outside Spark, never by the code under
  * test: fold layouts, per-fold scaling and OLS, per-fold scores and exact
  * Jaccard clusters.
  */
object Reference {

  /** Expanding-window folds over an axis of `n` positions: fold i tests
    * [n − (k − i)·t, +t) and trains on everything before it.
    */
  def folds(n: Int, k: Int, t: Int): Seq[(Range, Range)] =
    (0 until k).map { i =>
      val testStart = n - (k - i) * t
      (0 until testStart, testStart until testStart + t)
    }

  /** Normal-equation accumulator for y ≈ b0 + x·β. */
  final class Ols(d: Int) {
    private var n = 0L
    private val sx = new Array[Double](d)
    private var sy = 0.0
    private val sxx = Array.ofDim[Double](d, d)
    private val sxy = new Array[Double](d)

    def add(x: Array[Double], y: Double): Unit = {
      n += 1; sy += y
      var i = 0
      while (i < d) {
        sx(i) += x(i); sxy(i) += x(i) * y
        var j = 0
        while (j < d) { sxx(i)(j) += x(i) * x(j); j += 1 }
        i += 1
      }
    }

    /** (β, b0); b0 = 0 without an intercept. */
    def solve(intercept: Boolean): (Array[Double], Double) = {
      val a = Array.tabulate(d, d) { (i, j) =>
        if (intercept) sxx(i)(j) - sx(i) * sx(j) / n else sxx(i)(j)
      }
      val b = Array.tabulate(d)(i => if (intercept) sxy(i) - sx(i) * sy / n else sxy(i))
      val beta = Linear.solve(a, b)
      val b0 = if (intercept) (sy - beta.indices.map(i => beta(i) * sx(i)).sum) / n else 0.0
      (beta, b0)
    }
  }

  /** Per-fold regression scores under the program's scorer names. */
  final class Scores {
    private var n = 0L
    private var sse = 0.0
    private var sae = 0.0
    private var sy = 0.0
    private var syy = 0.0
    def add(y: Double, p: Double): Unit = {
      n += 1; sse += (y - p) * (y - p); sae += math.abs(y - p); sy += y; syy += y * y
    }
    def value(scorer: String): Double = scorer match {
      case "neg_mean_squared_error"  => -sse / n
      case "neg_mean_absolute_error" => -sae / n
      case "r2" =>
        val mean = sy / n
        1.0 - (sse / n) / (syy / n - mean * mean)
    }
  }

  /** Per-fold feature scaling as fitted by a StandardScaler: sample std. */
  final case class Scaler(mean: Array[Double], std: Array[Double], withMean: Boolean, withStd: Boolean) {
    def apply(x: Array[Double]): Array[Double] = Array.tabulate(x.length) { i =>
      val c = if (withMean) x(i) - mean(i) else x(i)
      if (withStd) { if (std(i) != 0.0) c * (1.0 / std(i)) else 0.0 } else c
    }
  }

  object Scaler {
    def fit(xs: Seq[Array[Double]], withMean: Boolean, withStd: Boolean): Scaler = {
      val d = xs.head.length
      val n = xs.size
      val mean = Array.tabulate(d)(i => xs.map(_(i)).sum / n)
      val std = Array.tabulate(d)(i => math.sqrt(xs.map(x => (x(i) - mean(i)) * (x(i) - mean(i))).sum / (n - 1)))
      Scaler(mean, std, withMean, withStd)
    }
  }

  /** Exact-Jaccard clustering of token sets: every pair at or above
    * `threshold` is an edge, and each document's label is the smallest id
    * in its connected component. Null texts are singletons. Also returns the
    * edge count, and fails if any pair falls inside the margin band around
    * the threshold, where a generator change would make the answer fragile.
    */
  def jaccardClusters(docs: Seq[Doc], threshold: Double, margin: Double): (Map[Long, Long], Int) = {
    val sets: Map[Long, Set[String]] = docs.collect {
      case Doc(id, t) if t != null => id -> t.split(" ").filter(_.nonEmpty).toSet
    }.toMap
    val postings = scala.collection.mutable.HashMap.empty[String, List[Long]]
    sets.foreach { case (id, ts) => ts.foreach(t => postings(t) = id :: postings.getOrElse(t, Nil)) }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    docs.foreach(d => parent(d.doc_id) = d.doc_id)
    def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    var edges = 0
    sets.foreach { case (a, ta) =>
      val overlap = scala.collection.mutable.HashMap.empty[Long, Int]
      ta.foreach(t => postings(t).foreach(b => if (b > a) overlap(b) = overlap.getOrElse(b, 0) + 1))
      overlap.foreach { case (b, inter) =>
        val j = inter.toDouble / (ta.size + sets(b).size - inter)
        require(j <= threshold - margin || j >= threshold + margin,
          f"docs $a and $b have Jaccard $j%.4f inside the margin of $threshold")
        if (j >= threshold) {
          edges += 1
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
      }
    }
    (docs.map(d => d.doc_id -> find(d.doc_id)).toMap, edges)
  }
}

object Linear {
  /** Solves a·x = b by Gaussian elimination with partial pivoting. */
  def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone)
    val b = b0.clone
    for (c <- 0 until n) {
      val p = (c until n).maxBy(r => math.abs(a(r)(c)))
      require(math.abs(a(p)(c)) > 1e-12, "singular normal equations")
      val (ta, tb) = (a(c), b(c)); a(c) = a(p); b(c) = b(p); a(p) = ta; b(p) = tb
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until n) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1)
      x(r) = (b(r) - (r + 1 until n).map(k => a(r)(k) * x(k)).sum) / a(r)(r)
    x
  }
}

/** Output checks. Each returns how many checked operations failed. */
object Checks {
  val RelTol = 1e-6

  def close(got: Double, want: Double): Boolean =
    !got.isNaN && math.abs(got - want) <= RelTol * math.max(1.0, math.abs(want))

  /** Fold scores: one operation per (scorer, fold); a missing score fails. */
  def foldScores(got: Map[String, Seq[Double]], want: Map[String, Seq[Double]]): Int =
    want.toSeq.map { case (m, ws) =>
      val gs = got.getOrElse(m, Nil)
      ws.indices.count(i => !gs.lift(i).exists(g => close(g, ws(i)))) + math.max(0, gs.size - ws.size)
    }.sum

  /** Cluster labels: one operation per reference doc; a missing, extra or
    * relabelled doc fails.
    */
  def labels(got: Map[Long, Long], want: Map[Long, Long]): Int =
    want.count { case (id, l) => !got.get(id).contains(l) } + got.keySet.diff(want.keySet).size

  /** Exact counts, e.g. rows per fold. */
  def counts[K](got: Map[K, Long], want: Map[K, Long]): Int =
    (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
}
