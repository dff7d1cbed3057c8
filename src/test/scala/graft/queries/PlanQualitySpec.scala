package graft.queries

import graft.SparkTestBase
import graft.cv.PanelSplit
import graft.metrics.Metrics
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the properties that make these operators
  * scale-safe are checked from the executed plan, not assumed: metric
  * aggregates stay inside whole-stage codegen with no UDF islands, fold
  * predicates reach the parquet scan as pushed filters with pruned schemas,
  * and fold expansion and dropSplits tag rows in one scan, with no join.
  */
class PlanQualitySpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  test("metric aggregates run inside whole-stage codegen with no UDF islands") {
    val preds = (1 to 100).map(i => (i % 3, i.toDouble, i * 1.1)).toDF("fold", "label", "prediction")
    for (m <- Seq("mean_squared_error", "matthews_corrcoef", "log_loss")) {
      val df = Metrics.perFoldScores(preds, m, "label", "prediction")
      df.collect() // materialize so AQE finalizes the plan (incl. codegen stages)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"$m: no WholeStageCodegen stage in\n$plan")
      assert(plan.contains("HashAggregate"), s"$m: expected HashAggregate")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$m: UDF island in plan")
    }
  }

  test("fold predicates push down to the parquet scan and prune columns") {
    val path = s"target/planquality/events_${System.nanoTime()}"
    (1 to 100).map(i => (i, i % 10, i * 1.0)).toDF("event_id", "period", "value")
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val filtered = df.filter(ps.folds.head.trainPredicate("period", None))
      .select("period", "value") // 2-column projection must shrink ReadSchema
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("period"),
      s"fold predicate not pushed:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("event_id"),
      s"column pruning failed (event_id still read):\n$plan")
  }

  test("AUC rank windows consume the distinct-score aggregate, not raw rows") {
    // Round-2 verdict: Window.partitionBy(fold).orderBy(score) over RAW rows
    // sorts an entire fold in one task — at 100 TB a fold is ~the table. The
    // two-stage shape reduces to distinct (keys, score) counts first; the
    // logical Window node must therefore sit ABOVE an Aggregate.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val preds = (1 to 200).map(i => (i % 3, i % 2, (i % 7) / 7.0))
      .toDF("fold", "label", "score")
    val mc = (1 to 200).map(i => (i % 3, (i % 4).toDouble, Array.tabulate(4)(j => ((i + j) % 5) / 5.0)))
      .toDF("fold", "label", "scores")
    val frames = Seq(
      "rocAuc" -> Metrics.rocAuc(preds, "label", "score"),
      "rocAucOvr" -> Metrics.rocAucOvr(mc, "label", "scores", weighted = false),
      "rocAucOvo" -> Metrics.rocAucOvo(mc, "label", "scores", weighted = false))
    for ((name, df) <- frames) {
      val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$name: expected a rank window")
      for (w <- windows)
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"$name: rank window runs over raw rows, not the distinct-score aggregate:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("per-fold metric rows meet in one task only after their final aggregate") {
    // Each per-fold metric returns its fold rows in one partition, and the
    // plan's last stage runs in that one task. So that stage may hold only
    // the merge of per-fold aggregates: no window, and every shuffle it
    // reads is read by a final aggregate, or is the one-partition shuffle
    // of the fold rows themselves. Joins are sort-merge here, as on inputs
    // too large to broadcast.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.window.WindowExec
    def finalAgg(p: SparkPlan) = p match {
      case a: BaseAggregateExec => a.aggregateExpressions.forall(_.mode == Final)
      case _ => false
    }
    def reads(reader: SparkPlan, e: ShuffleExchangeLike) =
      if (finalAgg(reader) || e.outputPartitioning.numPartitions == 1) Nil
      else Seq(s"${reader.nodeName} reads a shuffle")
    /** What the last stage below `p` does that is not a per-fold merge;
      * `reader` is the nearest operator above that is not a sort.
      */
    def rowWork(p: SparkPlan, reader: SparkPlan): Seq[String] = p.children.flatMap {
      case e: ShuffleExchangeLike => reads(reader, e)
      case q: ShuffleQueryStageExec => reads(reader, q.shuffle)
      case _: BroadcastExchangeLike => Nil
      case s @ (_: SortExec | _: AQEShuffleReadExec) => rowWork(s, reader)
      case w: WindowExec => w.nodeName +: rowWork(w, w)
      case c => rowWork(c, c)
    }
    /** The plan as planned, exchanges included, before adaptive execution. */
    def lastStage(df: DataFrame): Seq[String] = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      rowWork(plan, plan)
    }
    val preds = (0 until 300).map { i =>
      ((i / 7) % 3, (i % 2).toDouble, ((i * 31) % 17) / 17.0, i % 3, (i * 5 / 3) % 3,
        Array.tabulate(3)(j => ((i + 2 * j) % 7) / 7.0), Seq(i % 3, i % 5), Seq(i % 4))
    }.toDF("fold", "label", "score", "y", "yhat", "scores", "ys", "ps").cache()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val frames = Seq(
        "perFoldScores" -> Metrics.perFoldScores(preds, "mean_squared_error", "label", "score"),
        "rocAuc" -> Metrics.rocAuc(preds, "label", "score"),
        "averagePrecision" -> Metrics.averagePrecision(preds, "label", "score"),
        "d2AbsoluteError" -> Metrics.d2AbsoluteError(preds, "label", "score"),
        "d2AbsoluteError approx" -> Metrics.d2AbsoluteError(preds, "label", "score", approx = true),
        "multilabelSamplesScores" -> Metrics.multilabelSamplesScores(preds, "ys", "ps"),
        "adjustedRandIndex" -> Metrics.adjustedRandIndex(preds, "y", "yhat"),
        "normalizedMutualInfo" -> Metrics.normalizedMutualInfo(preds, "y", "yhat"),
        "clusteringMetrics" -> Metrics.clusteringMetrics(preds, "y", "yhat"),
        "adjustedMutualInfo" -> Metrics.adjustedMutualInfo(preds, "y", "yhat"),
        "topKAccuracy" -> Metrics.topKAccuracy(preds, "y", "scores", 2)) ++
        Seq("macro", "micro", "weighted", "samples").map(a =>
          s"multiclassScores $a" -> Metrics.multiclassScores(preds, "y", "yhat", a)) ++
        Seq(false, true).flatMap(w => Seq(
          s"rocAucOvr weighted=$w" -> Metrics.rocAucOvr(preds, "y", "scores", weighted = w),
          s"rocAucOvo weighted=$w" -> Metrics.rocAucOvo(preds, "y", "scores", weighted = w)))
      val wrong = frames.flatMap { case (name, df) =>
        val work = lastStage(df).map(w => s"$name: $w")
        val folds = df.collect().map(_.getInt(0)).toSeq
        work ++ (if (folds == (0 until 3)) Nil else Seq(s"$name: fold rows $folds"))
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
    } finally {
      spark.conf.set(key, before)
      preds.unpersist()
    }
  }

  test("single-class fold raises on AUC instead of silently averaging nulls") {
    val oneClass = (1 to 50).map(i => (0, 1, i / 50.0)).toDF("fold", "label", "score")
    val e = intercept[Exception] { Metrics.rocAuc(oneClass, "label", "score").collect() }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | "))
    assert(rootMsg(e).contains("roc_auc undefined"), s"unexpected error: ${rootMsg(e)}")
  }

  test("genSnapshots and dropSplits plan one scan of df, with no join") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val path = s"target/planquality/panel_${System.nanoTime()}"
    (for (p <- 1 to 6; i <- 0 to 3) yield (p * 10 + i, p, i.toDouble))
      .toDF("id", "period", "y").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val ps = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    // the plans of the queries dropSplits runs, seen by a query listener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ps.dropSplits(df, "y")
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"dropSplits ran ${plans.size} queries")
    val snapshots = ps.genSnapshots(df)
    snapshots.collect()
    val nodes = new AdaptiveSparkPlanHelper {}
    for ((name, plan) <- Seq("dropSplits" -> plans.peek(), "genSnapshots" -> snapshots.queryExecution.executedPlan)) {
      assert(nodes.collect(plan) { case s: FileSourceScanExec => s }.size == 1, s"$name: not one scan of df:\n$plan")
      assert(nodes.collect(plan) { case j: BaseJoinExec => j; case b: BroadcastExchangeLike => b }.isEmpty,
        s"$name: a join or broadcast:\n$plan")
    }
  }

  test("row-local curation ops (chunking, PII) run shuffle-free and UDF-free") {
    val docs = (0L until 50L).map(i => (i, s"tok$i alpha beta gamma delta")).toDF("doc_id", "text")
    val chunked = graft.text.Chunking.chunkDocs(docs, "doc_id", "text", 3, 1)
    chunked.collect()
    val pii = graft.text.Pii.piiStats(docs, "doc_id", "text")
    pii.collect()
    for ((name, df) <- Seq("chunkDocs" -> chunked, "piiStats" -> pii)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name introduced a shuffle:\n$plan")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$name has a UDF island:\n$plan")
    }
  }

  test("corpus shuffle never performs a GLOBAL sort — only bucket-partitioned window sorts") {
    val docs = (0L until 200L).toDF("doc_id")
    val out = graft.ops.CorpusShuffle.shufflePositions(docs, "doc_id", nBuckets = 8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // Spark prints Sort [...], <global>, 0 — a global sort funnels the corpus
    // through one ordering; the two-stage shape must only sort within the
    // bucket-hash partitions
    assert(!plan.contains("], true, 0"), s"global sort in the shuffle plan:\n$plan")
    assert(plan.contains("Sort"), s"expected partition-local window sorts:\n$plan")
  }

  test("PCA projection is row-local: no exchange, no UDF, literal weights in codegen") {
    val path = s"target/planquality/pca_${System.nanoTime()}"
    (0L until 50L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i + d).toFloat))
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val comps = Seq(Array(0.5, 0.5, 0.0, 0.0), Array(0.0, 0.0, 0.5, 0.5))
    val proj = graft.similarity.Pca.project(df, "vec_id", "embedding", comps)
    proj.collect()
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection shuffled:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF island:\n$plan")
    assert(plan.contains("*("), s"projection fell out of codegen:\n$plan")
  }

  test("Kneser-Ney scoring plan: broadcast hot markers, salt in the scoring join keys") {
    val df = ((0L to 7L).map(i => (i, "of the of the end " + ("w" + i))) :+
      (8L, "rare words only")).toDF("doc_id", "text")
    val scored = graft.text.LmScore.nllKneserNey(df, "doc_id", "text")
    scored.collect()
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"hot-marker not TakeOrdered:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"hot-marker join not broadcast:\n$plan")
    assert(plan.contains("bsalt"), s"scoring join lost the salt key:\n$plan")
  }

  test("containment pairs meet on the gram axis — no block cross-join in the plan") {
    val df = (0L until 30L).map(i => (i, (0 until 12).map(t => s"t${(i + t) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.1, maxDf = 10)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"containment degenerated to a cross join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no keyed join found:\n$plan")
  }

  test("ivfadc ADC scan joins probes on list via broadcast hash — no cartesian scan") {
    // the scan-confinement PLAN shape: the corpus side keys on its inverted
    // list and the tiny probe table broadcasts; a BroadcastNestedLoopJoin
    // or CartesianProduct would mean the ADC stage scans every corpus row
    // per query (the flat-PQ shape this operator exists to avoid)
    val dim = 8
    val corpus = (0L until 30L).map(i =>
      (i, (0 until dim).map(d => math.sin(i * 31 + d).toFloat).toArray))
      .toDF("vec_id", "embedding")
    val out = graft.similarity.Similarity.ivfadcTopK(
      corpus.filter(col("vec_id") < 2), corpus, "vec_id", "embedding",
      k = 3, nLists = 4, dim = dim, ivfIters = 1, m = 4, ksub = 4,
      pqIters = 1, refine = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast-hash:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"ADC stage degraded to an all-pairs scan:\n$plan")
  }

  test("web release: rank prior broadcast, dedup as aggregate (no Window), no UDFs") {
    val df = graft.SparkEntry.queries("q_web_release")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"domain-rank join not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"owner election fell back to a window:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF island in the release plan:\n$plan")
  }

  test("silhouette / outlier screen: centroid literals, no join, no window on data rows") {
    val df = graft.SparkEntry.queries("q_silhouette")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"silhouette planned a window:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"per-point distances must come from centroid LITERALS, not a join:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF island:\n$plan")
  }

  test("embedding drift meets on the bounded (group, dimension) axis — no vector join") {
    val df = graft.SparkEntry.queries("q_embed_drift")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"drift degraded to an all-pairs vector comparison:\n$plan")
    assert(!plan.contains("Window"), s"drift planned a window:\n$plan")
  }

  test("prefix join: candidates from the prefix-posting equi-join, no cartesian, no global sort") {
    val docs = (0L until 60L).map(i =>
      (i, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} shared tokens here")).toDF("doc_id", "text")
    val out = graft.dedup.PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", 1, 0.8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix join degraded to all-pairs:\n$plan")
    // the only sorts allowed are join/aggregate-internal; a global Sort
    // node with a single output partition would mean a vocabulary rank
    assert(!plan.contains("rangepartitioning"),
      s"prefix join introduced a global range sort (vocab rank?):\n$plan")
  }

  test("min-k prob: selection is row-local array work above the salted LM chain") {
    val df = graft.SparkEntry.queries("q_min_k_prob")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"min-k planned a per-doc window:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF island:\n$plan")
  }

  test("calibration bins aggregate straight to the (group, bin) axis") {
    val preds = (1 to 200).map(i => (i % 3, (i % 2).toDouble, (i % 100) / 100.0))
      .toDF("fold", "label", "probability")
    val df = graft.metrics.Calibration.ece(preds, "label", "probability", Seq("fold"), 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("ScalaUDF"),
      s"calibration must be aggregate-only:\n$plan")
  }

  test("rater agreement is one pass: no window, no join, no UDF") {
    val df = graft.metrics.Agreement.binaryAgreement(
      (0 to 100).map(_ % 4).toDF("v"), col("v"), 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join") && !plan.contains("ScalaUDF"),
      s"agreement must be a pure single-pass aggregate:\n$plan")
  }

  test("cohort retention and anomaly flags never window/sort the raw event axis") {
    val ts = (i: Int) => java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:00:00")
    val ev = (1 to 500).map(i => (i.toLong % 40, ts(i), i.toLong)).toDF("user_id", "ts", "event_id")
    val cohort = graft.ops.EventAnalytics.cohortRetention(ev, "user_id", "ts")
    cohort.collect()
    val anom = graft.ops.EventAnalytics.dailyAnomalies(ev, "ts")
    anom.collect()
    for ((name, df) <- Seq("cohortRetention" -> cohort, "dailyAnomalies" -> anom)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name planned a Window over events:\n$plan")
      assert(!plan.contains("ScalaUDF"), s"$name has a UDF island:\n$plan")
    }
  }

  test("keyness / pareto rank windows sit above aggregates, never raw rows") {
    val docs = (0L until 60L).map(i => (s"s${i % 3}", s"w${i % 7} w${i % 11} common"))
      .toDF("source", "text")
    val key = graft.text.CorpusCompare.keynessG2(docs, col("source"), col("text"), 5)
    key.collect()
    val planK = key.queryExecution.executedPlan.toString
    // every Window in the plan must consume an Aggregate below it
    assert(planK.contains("HashAggregate"), s"keyness lost its aggregate:\n$planK")
    val items = (1 to 300).map(i => (i.toLong % 20, i.toLong)).toDF("k", "v")
    val par = graft.ops.Experiments.paretoAbc(items, col("k"), col("v"))
    par.collect()
    // the keyed aggregate is materialized once via localCheckpoint (it
    // feeds the bounds pass, the bucket histogram and this plan): every
    // window must read that checkpoint — (key, v), one row per key — and
    // otherwise only the small offsets relation, never the raw rows
    val windows = par.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, s"pareto lost its rank window:\n${par.queryExecution.optimizedPlan}")
    val nKeys = items.select("k").distinct().count()
    windows.foreach { w =>
      val leaves = w.collectLeaves()
      val aggs = leaves.collect { case r: org.apache.spark.sql.execution.LogicalRDD => r }
      assert(aggs.size == 1, s"window must read one checkpointed aggregate:\n$w")
      assert(aggs.head.output.map(_.name) == Seq("key", "v"), s"checkpoint columns:\n$w")
      val keys = aggs.head.rdd.map(_.getLong(0)).collect()
      assert(keys.length == nKeys && keys.distinct.length == keys.length,
        s"checkpoint must hold one row per key: ${keys.length} rows for $nKeys keys")
      assert(leaves.forall {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.size <= 1024
        case _ => false
      }, s"window reads a leaf other than the aggregate and the offsets:\n$w")
    }
    // every rank window must be PARTITIONED (by the histogram bucket) —
    // an unpartitioned WindowExec is a single-task sort of the key axis
    for (q <- Seq(par, graft.ops.Experiments.gini(items, col("k"), col("v")))) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("Window [")).foreach { l =>
        assert(l.contains("__bucket"),
          s"unpartitioned window in pareto/gini plan line: $l\n$plan")
      }
    }
  }

  test("triangle counting orients before the wedge join — no cartesian, no window") {
    val edges = (1 to 60).map(i => (s"n${i % 10}", s"n${(i * 3) % 10}")).toDF("src", "dst")
    val tri = graft.graph.LinkGraph.triangleStats(edges, "src", "dst")
    tri.collect()
    val plan = tri.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"triangles must join on keys only:\n$plan")
    assert(!plan.contains("Window"), s"triangles must not window:\n$plan")
  }

  test("banded self-joins (narrow, wide SimHash, uncapped MinHash) equi-join on one bigint") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.types.LongType
    val docs = (0L until 40L).map(i => (i, s"w${i % 5} w${i % 7} shared words here"))
      .toDF("doc_id", "text")
    for ((name, df) <- Seq(
        "narrow" -> Dedup.simhashNearDupPairs(docs, "doc_id", "text", 48, 12, 11),
        "wide" -> Dedup.simhashWideNearDupPairs(docs, "doc_id", "text", 96, 12, 11),
        "minhash" -> Dedup.lshCandidates(docs, "doc_id", "text", 1, 16, 4))) {
      val keys = df.queryExecution.optimizedPlan.collect {
        case ExtractEquiJoinKeys(_, left, _, _, _, _, _, _) => left.map(_.dataType)
      }
      assert(keys == Seq(Seq(LongType)), s"$name candidate join keys: $keys")
      assert(df.count() > 0, name)
    }
  }
}
