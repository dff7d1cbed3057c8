package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.SequentialCVPipeline

/** Scorer layer — the Spark re-expression of the reference's scorer factory
  * and registry (`panelsplit/metrics.py:102-550`): a scorer wraps a metric
  * with a sign (`greater_is_better`) and a response column preference, and
  * scores a fitted pipeline per fold of its last CV step.
  */
final case class Scorer(
    name: String,
    metricName: String,
    sign: Double,
    /** Which output column feeds the metric: "prediction" (hard label /
      * regression) or "probability" (positive-class score) — the response
      * dispatch of `utils/_response.py:13-73`.
      */
    responseCol: String,
    /** A user-supplied metric aggregate — the callable-scorer path
      * (`metrics.py:452-550`): when set, it overrides registry dispatch.
      */
    custom: Option[Metrics.MetricSpec] = None,
    /** Ordered response-method preference (`_response.py:13-73` tuple
      * semantics, e.g. ("decision_function", "predict_proba")): the first
      * column present in the transformed frame wins; `responseCol` is the
      * final fallback.
      */
    responsePreference: Seq[String] = Nil,
    /** `pos_label` resolution (`_response.py:48-73`, `metrics.py:371-372`):
      * the engine's binary convention is positives = label 1 scored by the
      * positive-class probability. A non-default pos_label re-expresses the
      * frame into that convention before dispatch — labels remap to the
      * pos_label indicator, probabilities flip to 1−p, decision margins
      * negate (sklearn's own equivalence for the swapped-class problem).
      */
    posLabel: Option[Double] = None,
    /** k for top_k_accuracy (reference scorer kwargs, `metrics.py:616-620`);
      * None = sklearn default 2.
      */
    topK: Option[Int] = None) {

  def withPosLabel(pl: Double): Scorer = copy(posLabel = Some(pl))

  /** Resolve the response column against what the pipeline actually emitted. */
  private def resolveResponse(out: DataFrame): String =
    (responsePreference :+ responseCol).find(out.columns.contains).getOrElse(
      throw new IllegalArgumentException(
        s"Scorer '$name' needs one of ${(responsePreference :+ responseCol).mkString(", ")} " +
          s"in the transformed output; got ${out.columns.mkString(", ")}"))

  /** Re-express (label, response) in the engine's positives=1 convention for
    * a non-default pos_label; identity when posLabel is unset.
    */
  private def applyPosLabel(out: DataFrame, labelCol: String, responseCol: String): DataFrame =
    posLabel match {
      case None => out
      case Some(pl) =>
        val remapped = out.withColumn(labelCol,
          when(col(labelCol) === pl, 1.0).otherwise(0.0))
        responseCol match {
          case "prediction" =>
            remapped.withColumn(responseCol, when(col(responseCol) === pl, 1.0).otherwise(0.0))
          case "probability" =>
            if (pl == 1.0) remapped
            else remapped.withColumn(responseCol, lit(1.0) - col(responseCol))
          case "decision" =>
            if (pl == 1.0) remapped
            else remapped.withColumn(responseCol, -col(responseCol))
          case other => throw new IllegalArgumentException(
            s"pos_label is only defined for binary responses (prediction/probability/decision), not '$other'")
        }
    }

  /** Per-fold scores, fold-ordered; single-element when the pipeline's last
    * step has no CV (`metrics.py:352-398`).
    */
  def score(pipeline: SequentialCVPipeline, df: DataFrame, labelCol: String): Seq[Double] =
    scoreTransformed(pipeline.scoringFrame(pipeline.transform(df)), labelCol)

  /** Score an already-transformed, fold-tagged frame — the cached-response
    * path (reference `metrics.py:173-194`): the per-fold pipeline is not
    * re-run per metric. [[Scorers.scoreAll]] scores many metrics on one
    * frame.
    */
  def scoreTransformed(out0: DataFrame, labelCol: String): Seq[Double] = {
    val responseCol = resolveResponse(out0)
    val out = applyPosLabel(out0, labelCol, responseCol)
    val perFold = custom match {
      // custom FIRST: a user-supplied MetricSpec overrides a name-colliding
      // registry builtin, mirroring Scorers.check's `extra`-before-registry
      // precedence (a custom 'roc_auc' must not silently run the builtin)
      case Some(spec) => Metrics.perFoldScoresOf(out, spec, labelCol, responseCol)
      case None => dedicatedPath(out, labelCol, responseCol).applyOrElse(metricName,
        (m: String) => Metrics.perFoldScores(out, m, labelCol, responseCol))
    }
    perFold.collect().map(_.getDouble(1) * sign).toSeq
  }

  /** Metrics with their own per-fold computation (rank, top-k, d2,
    * clustering, averaged); every other metric is one per-fold aggregate.
    */
  private def dedicatedPath(out: DataFrame, labelCol: String, responseCol: String)
      : PartialFunction[String, DataFrame] = {
    case "roc_auc" =>
      Metrics.rocAuc(out, labelCol, responseCol)
    case "roc_auc_ovr" =>
      Metrics.rocAucOvr(out, labelCol, responseCol, weighted = false)
    case "roc_auc_ovr_weighted" =>
      Metrics.rocAucOvr(out, labelCol, responseCol, weighted = true)
    case "roc_auc_ovo" =>
      Metrics.rocAucOvo(out, labelCol, responseCol, weighted = false)
    case "roc_auc_ovo_weighted" =>
      Metrics.rocAucOvo(out, labelCol, responseCol, weighted = true)
    case "top_k_accuracy" =>
      // k via scorer kwargs; sklearn default k=2 (reference metrics.py:616-620)
      Metrics.topKAccuracy(out, labelCol, responseCol, k = topK.getOrElse(2))
    case "average_precision" =>
      Metrics.averagePrecision(out, labelCol, responseCol)
    case "d2_absolute_error_score" =>
      Metrics.d2AbsoluteError(out, labelCol, responseCol)
    case "d2_absolute_error_score_approx" =>
      Metrics.d2AbsoluteError(out, labelCol, responseCol, approx = true)
    case "adjusted_rand_score" =>
      Metrics.adjustedRandIndex(out, labelCol, responseCol)
    case "normalized_mutual_info_score" =>
      Metrics.normalizedMutualInfo(out, labelCol, responseCol)
    case "adjusted_mutual_info_score" =>
      Metrics.adjustedMutualInfo(out, labelCol, responseCol)
    case Scorer.ClusterCombined(stat) =>
      Metrics.clusteringMetrics(out, labelCol, responseCol)
        .select(col("fold"), col(stat).as("score"))
    case Scorer.Averaged(stat, avg) =>
      Metrics.multiclassScores(out, labelCol, responseCol, avg)
        .select(col("fold"), col(stat).as("score"))
  }

  /** This scorer's per-fold aggregate, before its own `sign`, exactly as
    * [[scoreTransformed]] computes it — when it is one plain aggregate: a
    * custom MetricSpec or a registry metric without a dedicated path, and
    * no pos_label remap. None otherwise.
    */
  private[metrics] def plainAgg(out: DataFrame, labelCol: String): Option[Column] = {
    // isDefinedAt matches the name only; it never touches the frame
    val plain = posLabel.isEmpty &&
      (custom.isDefined || !dedicatedPath(out, labelCol, responseCol).isDefinedAt(metricName))
    if (!plain) None
    else {
      val (l, p) = (col(labelCol).cast("double"), col(resolveResponse(out)).cast("double"))
      Some(custom match {
        case Some(spec) => spec.agg(l, p)
        case None =>
          val (spec, resolvedSign) = Metrics.resolve(metricName)
          spec.agg(l, p) * resolvedSign
      })
    }
  }
}

object Scorer {
  private val Averaged = "(precision|recall|f1|jaccard)_(macro|micro|weighted|samples)".r
  private val ClusterCombined =
    "(rand|mutual_info|homogeneity|completeness|v_measure|fowlkes_mallows)_score".r
}

object Scorers {

  /** Named scorer registry mirroring `metrics.py:554-724`: every base metric
    * plus sign-flipped `neg_*` for the greater-is-better=false family.
    */
  lazy val registry: Map[String, Scorer] = {
    val probResponse = Set("log_loss", "brier_score", "d2_brier_score", "d2_log_loss_score")
    // metric-only entries: sklearn's scorer-name set has no cohen_kappa
    // (get_scorer_names()), so it stays out of the registry to preserve the
    // 58-reference-names + documented-_approx-extras parity claim; callers
    // wanting a κ scorer pass Metrics.registry("cohen_kappa") as a custom
    val scorerless = Set("cohen_kappa")
    val base = Metrics.registry.filterNot(kv => scorerless(kv._1)).map { case (name, spec) =>
      val response = if (probResponse(name)) "probability" else "prediction"
      if (spec.greaterIsBetter)
        name -> Scorer(name, name, 1.0, response)
      else
        s"neg_$name" -> Scorer(s"neg_$name", name, -1.0, response)
    }
    val averaged = for {
      stat <- Seq("precision", "recall", "f1", "jaccard")
      avg <- Seq("macro", "micro", "weighted", "samples")
    } yield s"${stat}_$avg" -> Scorer(s"${stat}_$avg", s"${stat}_$avg", 1.0, "prediction")
    // supervised clustering metrics score the predicted cluster assignment
    val clustering = Seq(
      "adjusted_rand_score", "rand_score", "mutual_info_score",
      "adjusted_mutual_info_score", "normalized_mutual_info_score",
      "homogeneity_score", "completeness_score", "v_measure_score",
      "fowlkes_mallows_score")
      .map(n => n -> Scorer(n, n, 1.0, "prediction"))
    // multiclass rank metrics read an array-of-class-scores response column
    // ("probabilities" by convention — utils/_response.py response dispatch)
    val arrayResponse = Seq(
      "roc_auc_ovr", "roc_auc_ovo", "roc_auc_ovr_weighted", "roc_auc_ovo_weighted",
      "top_k_accuracy")
      .map(n => n -> Scorer(n, n, 1.0, "probabilities"))
    base ++ averaged.toMap ++ clustering.toMap ++ arrayResponse.toMap ++ Map(
      // rank metrics prefer the raw decision_function margin when the model
      // emits one, falling back to predict_proba — the reference's
      // response_method=("decision_function", "predict_proba") tuple
      "roc_auc" -> Scorer("roc_auc", "roc_auc", 1.0, "probability",
        responsePreference = Seq("decision", "probability")),
      "average_precision" -> Scorer("average_precision", "average_precision", 1.0, "probability",
        responsePreference = Seq("decision", "probability")),
      "d2_absolute_error_score" -> Scorer("d2_absolute_error_score", "d2_absolute_error_score", 1.0, "prediction"),
      // bounded-memory percentile-sketch variant — the 100 TB path (SCALE.md)
      "d2_absolute_error_score_approx" ->
        Scorer("d2_absolute_error_score_approx", "d2_absolute_error_score_approx", 1.0, "prediction"))
  }

  /** top_k_accuracy with an explicit k — the reference's scorer-kwargs form
    * (`metrics.py:616-620`, `make_scorer(top_k_accuracy_score, k=...)`).
    */
  def topKAccuracy(k: Int): Scorer = {
    require(k >= 1, s"k must be >= 1, got $k")
    Scorer(s"top_${k}_accuracy", "top_k_accuracy", 1.0, "probabilities", topK = Some(k))
  }

  /** `get_scorer` (`metrics.py:401-430`): resolve by name or fail with the
    * known-names list.
    */
  def get(name: String): Scorer =
    registry.getOrElse(name, throw new IllegalArgumentException(
      s"Unknown scorer '$name'. Known: ${registry.keys.toSeq.sorted.mkString(", ")}"))

  /** Build a scorer from a user-supplied metric aggregate — the reference's
    * callable-scoring path (`metrics.py:452-550`): sklearn users pass a
    * callable or a {name: callable} dict; here the callable is a
    * [[Metrics.MetricSpec]] whose `agg` is any Spark aggregate Column
    * builder, so custom scorers stay distributed and codegen'd.
    */
  def custom(spec: Metrics.MetricSpec, responseCol: String = "prediction"): Scorer =
    Scorer(spec.name, spec.name,
      if (spec.greaterIsBetter) 1.0 else -1.0, responseCol, Some(spec))

  /** Per-fold scores of every scorer on one frame tagged with an integer
    * `fold` (the frame [[Scorer.scoreTransformed]] takes). All plain aggregate scorers — a
    * registry metric without a dedicated path or a custom MetricSpec, with
    * no pos_label — are computed in ONE per-fold aggregation, on the plan
    * of [[Metrics.perFoldScores]], so m metrics cost one job set, not m. The others (rank, averaged, clustering, top-k, d2, pos_label) run
    * their own path. The frame is persisted only while more than one of
    * these passes reads it.
    */
  def scoreAll(scorers: Seq[(String, Scorer)], out: DataFrame,
      labelCol: String): Map[String, Seq[Double]] = {
    val aggs = scorers.map { case (name, sc) => (name, sc, sc.plainAgg(out, labelCol)) }
    val (plain, dedicated) = aggs.partition(_._3.isDefined)
    val passes = dedicated.size + (if (plain.isEmpty) 0 else 1)
    if (passes > 1) out.persist()
    try {
      val fused = if (plain.isEmpty) Map.empty[String, Seq[Double]] else {
        val cols = plain.zipWithIndex.map { case ((_, _, agg), i) => agg.get.as(s"score$i") }
        val rows = Metrics.byFold(out, "fold", cols: _*).collect()
        plain.zipWithIndex.map { case ((name, sc, _), i) =>
          name -> rows.map(_.getDouble(i + 1) * sc.sign).toSeq
        }.toMap
      }
      fused ++ dedicated.map { case (name, sc, _) => name -> sc.scoreTransformed(out, labelCol) }
    } finally if (passes > 1) out.unpersist()
  }

  /** `check_scoring` (`metrics.py:452-550`): a single name or a list of
    * names → ordered (name, Scorer) pairs; duplicates rejected. `extra`
    * scorers (the dict-of-callables form) resolve before the registry.
    */
  def check(scoring: Seq[String],
      extra: Map[String, Scorer] = Map.empty): Seq[(String, Scorer)] = {
    require(scoring.nonEmpty, "scoring must not be empty")
    require(scoring.distinct.size == scoring.size, s"duplicate scorers in $scoring")
    scoring.map(n => n -> extra.getOrElse(n, get(n)))
  }
}
