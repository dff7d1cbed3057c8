package graft.cv

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** One cross-validation fold expressed in *period space*: the sets of period
  * values whose rows belong to the train / test side, plus the resolved
  * snapshot (data-vintage) value when snapshot semantics are active.
  *
  * This replaces the reference's positional row-index arrays
  * (`panelsplit/cross_validation.py:159-201`): Spark rows are unordered, so
  * fold membership is a *predicate* over columns, realized lazily — nothing is
  * materialized until an action, and period predicates push down to the
  * parquet scan (min/max row-group pruning on the period column).
  */
final case class PeriodFold(
    index: Int,
    trainPeriods: Vector[Any],
    testPeriods: Vector[Any],
    snapshot: Option[Any]) {

  private def membership(periods: Vector[Any], periodsCol: String, snapshotCol: Option[String]): Column = {
    val p =
      if (periods.isEmpty) lit(false)
      else col(periodsCol).isin(periods: _*)
    (snapshotCol, snapshot) match {
      case (Some(sc), Some(sv)) => p && col(sc) === lit(sv)
      case _                    => p
    }
  }

  def trainPredicate(periodsCol: String, snapshotCol: Option[String] = None): Column =
    membership(trainPeriods, periodsCol, snapshotCol)

  def testPredicate(periodsCol: String, snapshotCol: Option[String] = None): Column =
    membership(testPeriods, periodsCol, snapshotCol)
}

/** Panel-data cross-validation splitter: expanding-window folds over the
  * distinct sorted period axis, broadcast back to row space as predicates.
  *
  * Mirrors the reference `PanelSplit` (`panelsplit/cross_validation.py:41-201`)
  * including the include-train-in-test variants (`:139-157`) and snapshot
  * clamping (`:172-184`), re-expressed Spark-first: the period axis (small by
  * construction) is collected once on the driver; all row-level work stays
  * lazy DataFrame predicates / broadcast joins.
  */
final class PanelSplit private (
    val folds: Vector[PeriodFold],
    val periodsCol: String,
    val snapshotCol: Option[String]) extends Serializable {

  def nSplits: Int = folds.size

  def getNSplits: Int = nSplits

  /** Lazy per-fold (train, test) DataFrames. Cache `df` before iterating if
    * you will trigger one action per fold (expanding trains re-read the same
    * leading periods: fold i's train ⊆ fold i+1's train).
    */
  def split(df: DataFrame): Seq[(DataFrame, DataFrame)] =
    folds.map { f =>
      (df.filter(f.trainPredicate(periodsCol, snapshotCol)),
       df.filter(f.testPredicate(periodsCol, snapshotCol)))
    }

  /** Rows appearing in ANY fold's train (`side=_.trainPredicate`) or test
    * side. Reference: `_gen_labels` dedup-union of fold positions
    * (`cross_validation.py:279-297`); here a single OR-of-predicates filter —
    * one scan, no duplication, so no dedup step is needed.
    */
  private def genLabels(df: DataFrame, side: PeriodFold => Column): DataFrame = {
    val pred = folds.map(side).reduceOption(_ || _).getOrElse(lit(false))
    df.filter(pred)
  }

  def genTrainLabels(df: DataFrame): DataFrame =
    genLabels(df, _.trainPredicate(periodsCol, snapshotCol))

  def genTestLabels(df: DataFrame): DataFrame =
    genLabels(df, _.testPredicate(periodsCol, snapshotCol))

  private def groupPredicate(f: PeriodFold, group: String): Column =
    if (group == "test") f.testPredicate(periodsCol, snapshotCol)
    else f.trainPredicate(periodsCol, snapshotCol)

  private def checkGroup(group: String): Unit =
    require(group == "test" || group == "train", s"group must be 'test' or 'train', got $group")

  /** Every fold's `group` ("test" or "train") rows of `df`, tagged with the
    * fold's index in a non-nullable `fold` column, which replaces in place
    * a `fold` column the rows already have. A row in several folds' groups
    * appears once per fold; out-of-fold reassembly
    * (`application.py:142-157,228-297`) is these rows. One scan of `df`
    * with the folds' predicates inline: the rows of any group pass (so a
    * source can still prune by them), then each row is exploded into the
    * folds whose predicates hold, under the same SQL semantics as each
    * fold's own filter. No folds give an empty frame.
    */
  def foldRows(df: DataFrame, group: String = "test"): DataFrame = {
    checkGroup(group)
    val preds = folds.map(f => f.index -> groupPredicate(f, group))
    if (preds.isEmpty) df.sparkSession.emptyDataFrame
    else {
      // the non-null -1 keeps `fold` non-nullable; a filter after the
      // explode drops it, where a lambda filter inside would leave
      // whole-stage codegen
      val tag = explode(array(preds.map { case (i, p) => when(p, i).otherwise(-1) }: _*))
      df.filter(preds.map(_._2).reduce(_ || _)).withColumn("fold", tag).filter(col("fold") >= 0)
    }
  }

  /** The union, by name, of every fold's `group` rows, each fold's mapped
    * by `perFold` (for example through that fold's model), then tagged as
    * [[foldRows]] tags them. Each fold is its own scan of `df`, so the
    * union has every fold's partitions: use it only where `perFold` cannot
    * be one column over the tagged rows.
    */
  def foldRows(
      df: DataFrame,
      group: String,
      perFold: (PeriodFold, DataFrame) => DataFrame): DataFrame = {
    checkGroup(group)
    folds.map { f =>
      perFold(f, df.filter(groupPredicate(f, group))).withColumn("fold", lit(f.index))
    }.reduceOption(_ unionByName _).getOrElse(df.sparkSession.emptyDataFrame)
  }

  /** `df` joined on its period to a broadcast fold-membership table of
    * `entries` (period, fold index named `foldCol`, then `fields`), keeping a
    * fold's rows only where the snapshot column equals that fold's snapshot.
    * The join adds no shuffle: the table is tiny (periods × folds).
    */
  private def joinMembership(
      df: DataFrame, foldCol: String, fields: Seq[StructField], entries: Seq[Row]): DataFrame = {
    val schema = StructType(StructField("__m_period", df.schema(periodsCol).dataType) +:
      StructField(foldCol, IntegerType, nullable = false) +: fields)
    val membership = df.sparkSession.createDataFrame(entries.asJava, schema)
    val joined = df.join(broadcast(membership), col(periodsCol) === col("__m_period"), "inner")
      .drop("__m_period")
    snapshotCol.fold(joined) { sc =>
      joined.filter(folds.map { f =>
        val inFold = col(foldCol) === f.index
        f.snapshot.fold(inFold)(sv => inFold && col(sc) === lit(sv))
      }.reduceOption(_ || _).getOrElse(lit(true)))
    }
  }

  /** Fold expansion: every fold's (train ∪ test) rows tagged with `split` and
    * `snapshot_period` — rows deliberately duplicate across folds
    * (`cross_validation.py:355-428`).
    *
    * Implemented as ONE scan + broadcast hash join against a tiny
    * (period → split, snapshot_period) membership table, instead of the
    * reference's n_splits re-reads — the single-scan path of SURVEY §7.3. At
    * 100 TB the duplication cost is inherent to the semantics; the join adds
    * no shuffle (fold side broadcasts).
    *
    * `snapshot_period` = max period value *present in the fold's rows*
    * (`cross_validation.py:413-414` takes the max over the selected rows, not
    * over the fold spec), computed from the tiny distinct-period set of `df`.
    */
  def genSnapshots(df: DataFrame, periodCol: Option[String] = None): DataFrame = {
    val pc = periodCol.getOrElse(periodsCol)
    // distinct (fold-period, snapshot-period, snapshot-filter value) triples
    // actually present — tiny. The third element carries the snapshot column
    // so the per-fold max is taken over the SNAPSHOT-FILTERED rows, matching
    // the reference (`cross_validation.py:407-414` computes the max over the
    // selected rows, which in snapshot mode are already vintage-filtered).
    val snapExpr = snapshotCol.map(col).getOrElse(lit(null))
    val presentTriples: Seq[(Any, Any, Any)] =
      df.select(col(periodsCol), col(pc), snapExpr).distinct().collect()
        .map(r => (r.get(0), r.get(1), r.get(2))).toSeq

    val entries = folds.flatMap { f =>
      val foldPeriods = (f.trainPeriods ++ f.testPeriods).distinct
      val present = presentTriples.filter { case (p, _, s) =>
        foldPeriods.contains(p) && ((snapshotCol, f.snapshot) match {
          case (Some(_), Some(sv)) => s == sv
          case _                   => true
        })
      }
      if (present.isEmpty) Nil
      else {
        val last = present.map(_._2).max(PanelSplit.anyOrdering)
        foldPeriods.map(p => Row(p, f.index, last))
      }
    }
    joinMembership(df, "split", Seq(StructField("snapshot_period", df.schema(pc).dataType)), entries)
  }

  /** Intended semantics of the reference's `drop_splits`
    * (`cross_validation.py:431-470`): drop every fold whose train or test side
    * is empty or has ≤ 1 distinct non-degenerate `y` value. The reference
    * mutates its fold list while iterating (skipping the element after each
    * drop); we evaluate ALL folds — documented divergence (SURVEY §4).
    *
    * Two physical plans, same semantics: up to [[PanelSplit.DROP_SPLITS_CONDITIONAL_MAX]]
    * folds, one scan with conditional aggregates (4 per fold — each
    * `countDistinct` adds an Expand branch, so plan width is O(nSplits));
    * beyond that, a broadcast fold-membership join + ONE `groupBy(fold,
    * side)` aggregation whose plan is constant-width regardless of fold
    * count (rows duplicate by fold membership instead — the right trade at
    * hundreds of folds).
    */
  def dropSplits(df: DataFrame, yCol: String): PanelSplit = {
    val counts =
      if (folds.size <= PanelSplit.DROP_SPLITS_CONDITIONAL_MAX) dropSplitCountsConditional(df, yCol)
      else dropSplitCountsExploded(df, yCol)
    val kept = folds.filter { f =>
      val (trN, trU) = counts.getOrElse((f.index, "train"), (0L, 0L))
      val (teN, teU) = counts.getOrElse((f.index, "test"), (0L, 0L))
      !(trN == 0 || teN == 0 || trU == 1 || teU == 1)
    }
    folds.diff(kept).foreach { f =>
      // match the reference's user-visible notice (printed, not thrown)
      System.err.println(
        s"Dropping split ${f.index} as either the test or train set is either empty or contains only one unique value.")
    }
    new PanelSplit(kept, periodsCol, snapshotCol)
  }

  /** (fold, side) → (rowCount, distinct-y-with-null) via per-fold
    * conditional aggregates in one scan.
    */
  private[cv] def dropSplitCountsConditional(df: DataFrame, yCol: String): Map[(Int, String), (Long, Long)] = {
    val aggs = folds.flatMap { f =>
      val tr = f.trainPredicate(periodsCol, snapshotCol)
      val te = f.testPredicate(periodsCol, snapshotCol)
      // "distinct y" counts null as one extra value — np.unique keeps NaN
      // (`cross_validation.py:23-38`), countDistinct drops nulls.
      def uniq(pred: Column) =
        (countDistinct(when(pred, col(yCol))) +
          coalesce(max(when(pred && col(yCol).isNull, 1).otherwise(0)), lit(0))).cast("long")
      Seq(
        count(when(tr, 1)).as(s"tr_n_${f.index}"),
        count(when(te, 1)).as(s"te_n_${f.index}"),
        uniq(tr).as(s"tr_u_${f.index}"),
        uniq(te).as(s"te_u_${f.index}"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    folds.flatMap { f =>
      Seq(
        (f.index, "train") -> ((row.getAs[Long](s"tr_n_${f.index}"), row.getAs[Long](s"tr_u_${f.index}"))),
        (f.index, "test") -> ((row.getAs[Long](s"te_n_${f.index}"), row.getAs[Long](s"te_u_${f.index}"))))
    }.toMap
  }

  /** Same counts via the broadcast (period → fold, side) membership join
    * and a single constant-width aggregation — scales to any fold count.
    * Sides missing from the result are genuinely empty.
    */
  private[cv] def dropSplitCountsExploded(df: DataFrame, yCol: String): Map[(Int, String), (Long, Long)] = {
    val entries = folds.flatMap { f =>
      f.trainPeriods.map(p => Row(p, f.index, "train")) ++ f.testPeriods.map(p => Row(p, f.index, "test"))
    }
    joinMembership(df, "__ds_fold", Seq(StructField("__ds_side", StringType, nullable = false)), entries)
      .groupBy(col("__ds_fold"), col("__ds_side"))
      .agg(
        count(lit(1)).as("__n"),
        (countDistinct(col(yCol)) +
          coalesce(max(when(col(yCol).isNull, 1).otherwise(0)), lit(0))).cast("long").as("__u"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
  }
}

object PanelSplit {

  /** Fold-count ceiling for the conditional-aggregate dropSplits plan;
    * above it the constant-width explode-join plan takes over.
    */
  val DROP_SPLITS_CONDITIONAL_MAX = 24

  /** Reconstruct from an explicit fold list (persistence / tests). */
  private[graft] def fromFolds(
      folds: Vector[PeriodFold],
      periodsCol: String,
      snapshotCol: Option[String]): PanelSplit =
    new PanelSplit(folds, periodsCol, snapshotCol)

  /** Ordering over the collected period values (Int / Long / Date / Timestamp
    * / String — anything Comparable), used only for tiny driver-side sets.
    */
  val anyOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Comparable[_], y) =>
        x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
      case _ => throw new IllegalArgumentException(s"Unorderable period value: $a")
    }
  }

  /** Build folds from a DataFrame: collects the distinct sorted period axis
    * (small by construction — years/months, not rows) and runs the
    * expanding-window arithmetic on the driver. Row-level membership stays
    * lazy.
    */
  def apply(
      df: DataFrame,
      periodsCol: String,
      snapshotCol: Option[String] = None,
      nSplits: Int = 2,
      gap: Int = 0,
      testSize: Int = 1,
      maxTrainSize: Option[Int] = None,
      includeFirstTrainInTest: Boolean = false,
      includeTrainInTest: Boolean = false,
      uniquePeriods: Option[Vector[Any]] = None): PanelSplit = {

    val axis: Vector[Any] = uniquePeriods.getOrElse {
      // one partition sorted locally: no range-sampling job, no second shuffle
      df.select(col(periodsCol)).na.drop().distinct()
        .coalesce(1).sortWithinPartitions(col(periodsCol))
        .collect().map(_.get(0)).toVector
    }
    val minSnapshot: Option[Any] = snapshotCol.map { sc =>
      df.agg(min(col(sc))).head().get(0)
    }
    fromAxis(axis, periodsCol, snapshotCol, minSnapshot, nSplits, gap, testSize,
      maxTrainSize, includeFirstTrainInTest, includeTrainInTest)
  }

  /** Pure-driver construction from an already-known sorted period axis (used
    * by tests and by callers that manage the axis themselves).
    */
  def fromAxis(
      axis: Vector[Any],
      periodsCol: String,
      snapshotCol: Option[String] = None,
      minSnapshot: Option[Any] = None,
      nSplits: Int = 2,
      gap: Int = 0,
      testSize: Int = 1,
      maxTrainSize: Option[Int] = None,
      includeFirstTrainInTest: Boolean = false,
      includeTrainInTest: Boolean = false): PanelSplit = {

    val firstInTest = includeFirstTrainInTest || includeTrainInTest
    val axisFolds = TimeSeriesSplit.split(
      axis.size, nSplits, gap, Some(testSize), maxTrainSize)

    val folds = axisFolds.zipWithIndex.map { case (af, i) =>
      val trainP = af.train.map(axis).toVector
      var testP = af.test.map(axis).toVector
      // include-train-in-test variants (cross_validation.py:139-157):
      // fold 0 merges train into test when includeFirstTrainInTest; every
      // fold merges when includeTrainInTest (which forces the first flag).
      if ((i == 0 && firstInTest) || (i > 0 && includeTrainInTest))
        testP = trainP ++ testP
      // snapshot resolution with clamp (cross_validation.py:172-184)
      val snap = minSnapshot.map { mn =>
        val maxTest = testP.max(anyOrdering)
        if (anyOrdering.gteq(maxTest, mn)) maxTest
        else {
          System.err.println(
            s"The maximum period value $maxTest for split $i is less than the minimum snapshot value $mn. " +
              s"Defaulting to minimum snapshot value for split $i.")
          mn
        }
      }
      PeriodFold(i, trainP, testP, snap)
    }
    new PanelSplit(folds, periodsCol, snapshotCol)
  }
}
