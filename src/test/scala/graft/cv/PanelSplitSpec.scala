package graft.cv

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PanelSplitSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private lazy val sp = spark
  import sp.implicits._

  test("doctest oracle: periods [1,1,2,2,3,3], nSplits=2 (cross_validation.py:85-90)") {
    val df = Seq((0, 1), (1, 1), (2, 2), (3, 2), (4, 3), (5, 3)).toDF("id", "period")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val splits = ps.split(df).map { case (tr, te) =>
      (tr.select("id").as[Int].collect().sorted.toVector,
       te.select("id").as[Int].collect().sorted.toVector)
    }
    assert(splits == Seq(
      (Vector(0, 1), Vector(2, 3)),
      (Vector(0, 1, 2, 3), Vector(4, 5))))
  }

  test("two entities x 10 dates, 3 splits (tests/test_PanelSplit.py:29-49)") {
    val rows = for (e <- 0 until 2; d <- 0 until 10) yield (e * 10 + d, java.sql.Date.valueOf(f"2022-01-${d + 1}%02d"))
    val df = rows.toDF("pos", "date")
    val ps = PanelSplit(df, "date", nSplits = 3, testSize = 1)
    val train = ps.genTrainLabels(df).select("pos").as[Int].collect().sorted.toVector
    val test = ps.genTestLabels(df).select("pos").as[Int].collect().sorted.toVector
    assert(train == ((0 to 8) ++ (10 to 18)).toVector)
    assert(test == Vector(7, 8, 9, 17, 18, 19))
  }

  test("include_first_train_in_test merges fold 0 train into test; include_train_in_test merges all and forces first") {
    val df = (1 to 5).map(p => (p, p)).toDF("id", "period")
    val psFirst = PanelSplit(df, "period", nSplits = 2, testSize = 1, includeFirstTrainInTest = true)
    assert(psFirst.folds(0).testPeriods.toSet == Set(1, 2, 3, 4))
    assert(psFirst.folds(1).testPeriods.toSet == Set(5))
    val psAll = PanelSplit(df, "period", nSplits = 2, testSize = 1, includeTrainInTest = true)
    assert(psAll.folds(0).testPeriods.toSet == Set(1, 2, 3, 4))
    assert(psAll.folds(1).testPeriods.toSet == Set(1, 2, 3, 4, 5))
  }

  test("gen_snapshots doctest (cross_validation.py:378-393): duplicates rows per split with split + snapshot_period") {
    val df = Seq((Some(10), 1), (None, 2), (Some(30), 3)).toDF("value", "period")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val snap = ps.genSnapshots(df, Some("period"))
      .select("value", "period", "split", "snapshot_period")
      .collect().map(r => (Option(r.get(0)), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._3, t._2)).toVector
    assert(snap == Vector(
      (Some(10), 1, 0, 2), (None, 2, 0, 2),
      (Some(10), 1, 1, 3), (None, 2, 1, 3), (Some(30), 3, 1, 3)))
  }

  test("dropSplits: intended semantics evaluates every fold (divergence from cross_validation.py:460-466 pop-while-iterating)") {
    // Reference doctest y=[0,NaN,1]: its pop-inside-enumerate skips fold 1
    // after dropping fold 0, so fold 1 survives despite a 1-distinct test
    // side. Intended semantics (SURVEY §4) evaluates every fold: both are
    // degenerate here (null counts as a distinct value, like np.unique).
    val df = Seq((Some(0), 1), (Option.empty[Int], 2), (Some(1), 3)).toDF("y", "period")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val kept = ps.dropSplits(df, "y")
    assert(kept.nSplits == 0)

    // non-degenerate folds survive: 2 rows per period with distinct ys
    val df2 = (for (p <- 1 to 3; i <- 0 to 1) yield (p * 10 + i, p)).toDF("y", "period")
    val ps2 = PanelSplit(df2, "period", nSplits = 2, testSize = 1)
    assert(ps2.dropSplits(df2, "y").nSplits == 2)
  }

  test("snapshot semantics: fold keeps only rows whose snapshot equals max test period, clamped to min snapshot") {
    // periods 1..3, snapshots equal to period value; fold snapshot = max test period
    val rows = for (p <- 1 to 3; s <- 1 to 3) yield (p * 10 + s, p, s)
    val df = rows.toDF("id", "period", "snap")
    val ps = PanelSplit(df, "period", snapshotCol = Some("snap"), nSplits = 2, testSize = 1)
    // fold 0: train {1}, test {2}, snapshot = 2 -> train rows: period 1 & snap 2
    val splits = ps.split(df).map { case (tr, te) =>
      (tr.select("id").as[Int].collect().sorted.toVector,
       te.select("id").as[Int].collect().sorted.toVector)
    }
    assert(splits(0) == (Vector(12), Vector(22)))
    assert(splits(1) == (Vector(13, 23), Vector(33)))
  }

  test("dropSplits: degenerate when a fold side is empty") {
    // periods [1,2,3] but no rows in period 2 for y-subset... simulate by
    // empty test side: period 2 rows filtered out of df entirely means axis
    // comes from remaining data; instead pass uniquePeriods explicitly.
    val df = Seq((1, 1, 1.0), (2, 1, 2.0), (3, 3, 3.0), (4, 3, 4.0))
      .toDF("id", "period", "y")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1,
      uniquePeriods = Some(Vector(1, 2, 3)))
    // fold 0: train {1} test {2} -> test empty -> dropped; fold 1 survives
    val kept = ps.dropSplits(df, "y")
    assert(kept.nSplits == 1 && kept.folds.head.testPeriods == Vector(3))
  }

  test("dropSplits at wide fold counts: side counts match each fold's own filter") {
    // 40 periods -> 38 folds: the first 6 periods carry a constant y
    // (degenerate while they dominate the train side), nulls sprinkle extra
    // distinct values, period 35 has no rows at all (empty test side for
    // its fold)
    val rows = for {
      p <- (1 to 40) if p != 35
      i <- 0 to 1
    } yield {
      val y: Option[Double] =
        if (p <= 6) Some(1.0)
        else if (i == 0 && p % 7 == 0) None
        else Some(p * 10.0 + i)
      (p * 100 + i, p, y)
    }
    val df = rows.toDF("id", "period", "y")
    val ps = PanelSplit(df, "period", nSplits = 38, testSize = 1,
      uniquePeriods = Some((1 to 40).map(_.asInstanceOf[Any]).toVector))
    assert(ps.nSplits == 38)
    // (rows, distinct y with null as one value) of one side, from its own
    // filter: one group per distinct y, null included
    def own(pred: org.apache.spark.sql.Column): (Long, Long) = {
      val byY = df.filter(pred).groupBy("y").count().collect()
      (byY.map(_.getLong(1)).sum, byY.length.toLong)
    }
    val counts = ps.sideCounts(df, "y")
    val expected = ps.folds.map { f =>
      f.index -> (own(f.trainPredicate("period")), own(f.testPredicate("period")))
    }.toMap
    for ((i, (tr, te)) <- expected) {
      assert(counts.getOrElse(2 * i, (0L, 0L)) == tr, s"train side of fold $i")
      assert(counts.getOrElse(2 * i + 1, (0L, 0L)) == te, s"test side of fold $i")
    }
    assert(!counts.contains(2 * 32 + 1)) // fold 32 tests the empty period 35
    val keptIdx = ps.dropSplits(df, "y").folds.map(_.index).toSet
    val manual = expected.collect { case (i, ((trN, trU), (teN, teU)))
      if !(trN == 0 || teN == 0 || trU == 1 || teU == 1) => i }.toSet
    assert(keptIdx == manual)
    // constant-y trains (folds 0-4) and the empty test side (fold 32) drop;
    // a null beside one value (test periods 14, 21, 28) keeps its fold
    assert(keptIdx == (5 until 38).toSet - 32)
  }

  test("dropSplits on a splitter with no folds returns the empty splitter") {
    val df = Seq((Some(0), 1), (Option.empty[Int], 2), (Some(1), 3)).toDF("y", "period")
    val none = PanelSplit(df, "period", nSplits = 2, testSize = 1).dropSplits(df, "y")
    assert(none.nSplits == 0)
    val again = none.dropSplits(df, "y")
    assert(again.nSplits == 0 && again.periodsCol == "period")
  }

  test("genSnapshots: snapshot_period is the max of the fold's non-null period values") {
    // every period holds a null c beside a non-null one
    val df = Seq((1, Some(10)), (1, None), (2, Some(20)), (2, None), (3, Some(30)), (3, None))
      .toDF("period", "c")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val snap = ps.genSnapshots(df, Some("c"))
      .select("split", "period", "c", "snapshot_period")
      .collect().map(r => (r.getInt(0), r.getInt(1), Option(r.get(2)), r.getInt(3)))
      .sortBy(t => (t._1, t._2, t._3.isDefined)).toVector
    assert(snap == Vector(
      (0, 1, None, 20), (0, 1, Some(10), 20), (0, 2, None, 20), (0, 2, Some(20), 20),
      (1, 1, None, 30), (1, 1, Some(10), 30), (1, 2, None, 30), (1, 2, Some(20), 30),
      (1, 3, None, 30), (1, 3, Some(30), 30)))
  }

  test("genSnapshots keeps df's columns, then a non-nullable int split and a nullable snapshot_period, at zero folds too") {
    import org.apache.spark.sql.types._
    val df = Seq((Some(0), java.sql.Date.valueOf("2024-01-01")), (None, java.sql.Date.valueOf("2024-01-02")),
      (Some(1), java.sql.Date.valueOf("2024-01-03"))).toDF("y", "period")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val none = ps.dropSplits(df, "y")
    assert(none.nSplits == 0)
    val want = StructType(df.schema.fields ++ Seq(
      StructField("split", IntegerType, nullable = false),
      StructField("snapshot_period", DateType, nullable = true)))
    assert(ps.genSnapshots(df).schema == want)
    val empty = none.genSnapshots(df)
    assert(empty.schema == want)
    assert(empty.collect().isEmpty)
  }
}
