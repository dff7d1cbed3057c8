package graft

/** Local equivalent of the driver's t1 smoke: run `SparkEntry.entry` on
  * sf0.001 and assert rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(20, truncate = false)
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry() must return rows")
    spark.stop()
  }
}
