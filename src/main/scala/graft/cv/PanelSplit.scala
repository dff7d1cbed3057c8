package graft.cv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * distinct sorted period axis, mapped back to row space as predicates.
  *
  * Mirrors the reference `PanelSplit` (`panelsplit/cross_validation.py:41-201`)
  * including the include-train-in-test variants (`:139-157`) and snapshot
  * clamping (`:172-184`), re-expressed Spark-first: the period axis (small by
  * construction) is collected once on the driver; all row-level work stays
  * lazy DataFrame predicates.
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

  /** The rows of `df` in any fold's members, each exploded into one row per
    * member `(code, predicate)` of `members(fold)` that holds for it, with
    * that code in a non-nullable int column `codeCol` (which replaces in
    * place a column of that name). One scan with the predicates inline: the
    * rows of any member pass first (so a source can still prune by them),
    * under the same SQL semantics as each predicate's own filter. Codes must
    * be ≥ 0; the splitter must have folds.
    */
  private def tag(df: DataFrame, codeCol: String, members: PeriodFold => Seq[(Int, Column)]): DataFrame = {
    // the non-null -1 keeps the code non-nullable; a filter after the
    // explode drops it, where a lambda filter inside would leave
    // whole-stage codegen
    val codes = explode(array(folds.flatMap(members).map { case (i, p) => when(p, i).otherwise(-1) }: _*))
    genLabels(df, members(_).map(_._2).reduce(_ || _))
      .withColumn(codeCol, codes).filter(col(codeCol) >= 0)
  }

  /** Every fold's `group` ("test" or "train") rows of `df`, tagged with the
    * fold's index in a non-nullable `fold` column, which replaces in place
    * a `fold` column the rows already have. A row in several folds' groups
    * appears once per fold; out-of-fold reassembly
    * (`application.py:142-157,228-297`) is these rows, from one scan of
    * `df`. No folds give an empty frame.
    */
  def foldRows(df: DataFrame, group: String = "test"): DataFrame = {
    checkGroup(group)
    if (folds.isEmpty) df.sparkSession.emptyDataFrame
    else tag(df, "fold", f => Seq(f.index -> groupPredicate(f, group)))
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

  /** A row of fold `f`: on its train or its test side. */
  private def member(f: PeriodFold): Column =
    f.trainPredicate(periodsCol, snapshotCol) || f.testPredicate(periodsCol, snapshotCol)

  /** Fold expansion: every fold's (train ∪ test) rows tagged with `split` and
    * `snapshot_period` — rows deliberately duplicate across folds
    * (`cross_validation.py:355-428`). One scan of `df`, each row exploded
    * into the folds it is a member of (the single-scan plan of SURVEY
    * §7.3), instead of the reference's n_splits re-reads; at 100 TB the
    * duplication cost is inherent to the semantics.
    *
    * `snapshot_period` = max non-null `periodCol` value *of the fold's rows*
    * (`cross_validation.py:413-414` takes the max over the selected rows,
    * which in snapshot mode are already vintage-filtered — not over the fold
    * spec), one aggregate per fold from one job over `df`, then a `CASE`
    * over `split`. No folds give no rows, with the same columns.
    */
  def genSnapshots(df: DataFrame, periodCol: Option[String] = None): DataFrame = {
    val pc = periodCol.getOrElse(periodsCol)
    val periodType = df.schema(pc).dataType
    if (folds.isEmpty)
      df.filter(lit(false)).withColumn("split", lit(0))
        .withColumn("snapshot_period", lit(null).cast(periodType))
    else {
      val lasts = folds.map(f => max(when(member(f), col(pc))))
      val last = df.agg(lasts.head, lasts.tail: _*).head()
      val snapshot = folds.zipWithIndex.map { case (f, i) => (col("split") === f.index, lit(last.get(i))) }
      tag(df, "split", f => Seq(f.index -> member(f))).withColumn("snapshot_period",
        snapshot.tail.foldLeft(when(snapshot.head._1, snapshot.head._2)) { case (c, (k, v)) => c.when(k, v) }
          .cast(periodType))
    }
  }

  /** Intended semantics of the reference's `drop_splits`
    * (`cross_validation.py:431-470`): drop every fold whose train or test side
    * is empty or has ≤ 1 distinct non-degenerate `y` value. The reference
    * mutates its fold list while iterating (skipping the element after each
    * drop); we evaluate ALL folds — documented divergence (SURVEY §4).
    *
    * One scan: each row is tagged with every fold side it is in (train
    * `2·index`, test `2·index + 1`), then one `groupBy` of the sides counts
    * rows and distinct `y`, a plan whose width does not grow with the fold
    * count. A side with no rows has no group and counts as empty.
    */
  def dropSplits(df: DataFrame, yCol: String): PanelSplit = {
    val counts = sideCounts(df, yCol)
    val kept = folds.filter { f =>
      val (trN, trU) = counts.getOrElse(2 * f.index, (0L, 0L))
      val (teN, teU) = counts.getOrElse(2 * f.index + 1, (0L, 0L))
      !(trN == 0 || teN == 0 || trU == 1 || teU == 1)
    }
    folds.diff(kept).foreach { f =>
      // match the reference's user-visible notice (printed, not thrown)
      System.err.println(
        s"Dropping split ${f.index} as either the test or train set is either empty or contains only one unique value.")
    }
    new PanelSplit(kept, periodsCol, snapshotCol)
  }

  /** Side code (train `2·index`, test `2·index + 1`) → (row count, distinct
    * `y` counting null as one more value, as np.unique keeps NaN —
    * `cross_validation.py:23-38`) for every side with rows.
    */
  private[cv] def sideCounts(df: DataFrame, yCol: String): Map[Int, (Long, Long)] =
    if (folds.isEmpty) Map.empty
    else {
      val y = col(yCol)
      tag(df, "__side", f => Seq(
        2 * f.index -> f.trainPredicate(periodsCol, snapshotCol),
        2 * f.index + 1 -> f.testPredicate(periodsCol, snapshotCol)))
        .groupBy(col("__side"))
        .agg(count(lit(1)), (countDistinct(y) + max(when(y.isNull, 1).otherwise(0))).cast("long"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    }
}

object PanelSplit {

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
