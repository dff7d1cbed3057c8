package perfbench

/** Checks of the benchmark itself, without Spark:
  * `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = scala.util.Try(ok).getOrElse(false)
    if (!passed) failures += 1
    println(s"${if (passed) "ok  " else "FAIL"} $what")
  }

  def main(args: Array[String]): Unit = {
    generators()
    checksRejectPerturbations()
    spanArithmetic()
    reference()
    println(s"selftest: ${checks - failures} of $checks checks passed")
    if (failures > 0) sys.exit(1)
  }

  private def generators(): Unit = {
    val panel = PanelSpec(7, 50, 12, Seq(10, 11))
    check("panel: same seed, same bytes")(panel.fingerprint == panel.copy().fingerprint)
    check("panel: another seed, other bytes")(panel.fingerprint != panel.copy(seed = 8).fingerprint)
    check("panel: a row is the same whatever the generation order")(
      panel.row(599) == Iterator.range(0L, panel.rows).map(panel.row).drop(599).next())
    check("panel: some labels are null")(panel.iterator.exists(_.y.isEmpty))
    check("panel: bulk reference fingerprint equals the generator's")(
      PanelBulk.reference(PanelSpec(7, 30, PanelBulk.Periods, PanelBulk.Vintages))._2 ==
        PanelSpec(7, 30, PanelBulk.Periods, PanelBulk.Vintages).fingerprint)
    val corpus = CorpusSpec(7, 300, 20)
    val docs = corpus.generate()
    check("corpus: same seed, same bytes")(
      CorpusSpec.fingerprint(docs) == CorpusSpec.fingerprint(corpus.copy().generate()))
    check("corpus: another seed, other bytes")(
      CorpusSpec.fingerprint(docs) != CorpusSpec.fingerprint(corpus.copy(seed = 8).generate()))
    check("corpus: ids are 0 until n")(docs.map(_.doc_id) == (0L until 300L))
    check("corpus: some texts are null")(docs.exists(_.text == null))
    val (labels, edges) = Reference.jaccardClusters(docs, DedupIngest.Threshold, 0.04)
    val clusters = labels.values.groupBy(identity).values.filter(_.size > 1)
    check("corpus: every planted cluster is found, and nothing else")(clusters.size == 20 && edges > 20)
  }

  private def checksRejectPerturbations(): Unit = {
    val rows = PanelSpec(3, 40, PanelSearch.Periods, Seq(PanelSearch.Periods - 1)).iterator.filter(_.y.isDefined).toVector
    val ref = PanelSearch.reference(rows).head._2
    check("fold scores: the reference passes")(Checks.foldScores(ref, ref) == 0)
    val (m, scores) = ref.head
    val wrong = ref.updated(m, scores.updated(1, scores(1) * (1 + 1e-4)))
    check("fold scores: one wrong fold score fails once")(Checks.foldScores(wrong, ref) == 1)
    check("fold scores: a missing fold fails")(Checks.foldScores(ref.updated(m, scores.init), ref) == 1)

    val docs = CorpusSpec(5, 300, 20).generate()
    val (labels, _) = Reference.jaccardClusters(docs, DedupIngest.Threshold, 0.04)
    check("labels: the reference passes")(Checks.labels(labels, labels) == 0)
    val member = labels.find { case (id, l) => id != l }.get._1
    val other = labels.values.find(l => l != labels(member)).get
    check("labels: one moved doc fails once")(Checks.labels(labels.updated(member, other), labels) == 1)
    check("labels: one dropped doc fails once")(Checks.labels(labels - member, labels) == 1)

    val expanded = Map(0 -> 10L, 1 -> 12L)
    check("counts: one wrong fold row count fails once")(Checks.counts(expanded.updated(1, 11L), expanded) == 1)
  }

  private def spanArithmetic(): Unit = {
    // root [0,100]; a [10,40] and b [30,60] overlap (other threads); c runs
    // past its parent and is clipped; a1 sits inside a
    val spans = Seq(
      Span(1, "pass", 0, 0, 100), Span(2, "a", 1, 10, 40), Span(3, "b", 1, 30, 60),
      Span(4, "c", 1, 90, 120), Span(5, "a1", 2, 15, 25), Span(6, "other", 0, 200, 210))
    val self = SpanMath.selfNanos(spans)
    check("spans: parent self time subtracts the union of its children")(self(1) == 40)
    check("spans: nested self times")(self(2) == 20 && self(3) == 30 && self(4) == 30 && self(5) == 10)
    check("spans: self times by name")(SpanMath.selfSecondsByName(spans)("a") == 20 / 1e9)
    check("spans: subtree")(SpanMath.subtree(spans, 1) == Set(1L, 2L, 3L, 4L, 5L))
    val (q, v) = Stats.tail((1 to 30).map(_.toDouble))
    check("stats: tail percentile keeps ten samples above it")(q == 66.0 && (1 to 30).count(_ > v) == 10)
    check("stats: median")(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  private def reference(): Unit = {
    val ols = new Reference.Ols(2)
    for (i <- 0 until 50) {
      val x = Array(math.sin(i), math.cos(3 * i))
      ols.add(x, 1.0 + 2.0 * x(0) - x(1))
    }
    val (b, b0) = ols.solve(intercept = true)
    check("ols: recovers exact coefficients")(
      math.abs(b0 - 1) < 1e-9 && math.abs(b(0) - 2) < 1e-9 && math.abs(b(1) + 1) < 1e-9)
    val s = new Reference.Scores
    Seq((1.0, 1.5), (2.0, 2.0), (3.0, 2.0)).foreach { case (y, p) => s.add(y, p) }
    check("scores: mse, mae and r2")(
      math.abs(s.value("neg_mean_squared_error") + 1.25 / 3) < 1e-12 &&
        math.abs(s.value("neg_mean_absolute_error") + 0.5) < 1e-12 &&
        math.abs(s.value("r2") - (1 - (1.25 / 3) / (2.0 / 3))) < 1e-12)
  }
}
