package graft.cv

import graft.SparkTestBase

/** Period-dtype sweep — the analog of the reference's dataframe-agnosticism
  * tests (`tests/test_narwhals_compatibility.py:228-250`): identical folds
  * whether periods are ints, strings, dates, or timestamps (any orderable
  * column type).
  */
class PeriodDtypeSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  private def idsOf(ps: PanelSplit, df: org.apache.spark.sql.DataFrame): Seq[(Vector[Int], Vector[Int])] =
    ps.split(df).map { case (tr, te) =>
      (tr.select("id").as[Int].collect().sorted.toVector,
       te.select("id").as[Int].collect().sorted.toVector)
    }

  test("int, string, date, and timestamp periods produce identical row folds") {
    val base = for (p <- 1 to 6; i <- 0 to 1) yield ((p - 1) * 2 + i, p)

    val asInt = base.toDF("id", "period")
    val asStr = base.map { case (id, p) => (id, f"2024-01-0$p%01d") }.toDF("id", "period")
    val asDate = base.map { case (id, p) => (id, java.sql.Date.valueOf(f"2024-01-0$p%01d")) }
      .toDF("id", "period")
    val asTs = base.map { case (id, p) =>
      (id, java.sql.Timestamp.valueOf(f"2024-01-0$p%01d 00:00:00")) }.toDF("id", "period")

    val expected = idsOf(PanelSplit(asInt, "period", nSplits = 3, testSize = 1), asInt)
    for (df <- Seq(asStr, asDate, asTs)) {
      val got = idsOf(PanelSplit(df, "period", nSplits = 3, testSize = 1), df)
      assert(got == expected, s"folds differ for ${df.schema("period").dataType}")
    }
  }

  test("unsorted input periods still produce a sorted distinct axis") {
    val df = Seq((0, 3), (1, 1), (2, 2), (3, 1), (4, 3), (5, 2)).toDF("id", "period")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    assert(ps.folds(0).trainPeriods == Vector(1) && ps.folds(0).testPeriods == Vector(2))
    assert(ps.folds(1).trainPeriods == Vector(1, 2) && ps.folds(1).testPeriods == Vector(3))
  }

  test("null periods are excluded from the axis") {
    val df = Seq((0, Some(1)), (1, None), (2, Some(2)), (3, Some(3))).toDF("id", "period")
    val ps = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    assert(ps.folds.map(_.testPeriods) == Vector(Vector(2), Vector(3)))
  }

  test("the axis of a cached multi-partition frame is collected sorted, in two jobs") {
    val df = (0 until 120).map(i => (i, (i * 37) % 29)).toDF("id", "period").repartition(4).cache()
    df.count()
    val (ps, work) = jobsDuring(PanelSplit(df, "period", nSplits = 28, testSize = 1))
    assert(work.jobs == 2)
    assert(ps.folds.map(_.testPeriods.head) == (1 until 29).toVector)
    df.unpersist()
  }
}
