package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measured evidence for the round-5 Catalyst extensions: the custom
  * per-key top-k physical operator vs the rank-window formulation, and the
  * optimizer-rewritten declarative range join vs the BroadcastNestedLoopJoin
  * fallback — same session, cached input, reps alternated.
  * Usage: runMain graft.tools.OpCompare [sfDir] [reps]
  */
object OpCompare {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.sources.Tables

    val ev = Tables.cached(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    ev.count() // materialize the table cache outside the timings

    def time(label: String)(f: => Long): Unit = {
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val secs = runs.map(_._2).map(s => f"$s%.2f").mkString(",")
      println(f"""{"op":"$label","rows":${runs.head._1},"secs":[$secs]}""")
    }

    time("topk_window") {
      ev.withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))))
        .filter(col("rn") <= 3).drop("rn").count()
    }
    time("topk_heap") {
      graft.plans.TopKPerKey(ev, Seq("user_id"),
        Seq(("value", false), ("event_id", true)), 3).count()
    }

    val hourUs = 3600L * 1000000L
    val evTs = Tables.cached(spark, sfDir, "events").withColumn("ts_us", unix_micros(col("ts")))
    val iv = evTs.select(to_date(col("ts")).as("day")).distinct()
      .withColumn("start_us", unix_micros(col("day").cast("timestamp")) + lit(6 * hourUs))
      .withColumn("end_us", unix_micros(col("day").cast("timestamp")) + lit(18 * hourUs))
    def declarative = evTs.join(iv,
      col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))

    spark.conf.unset(graft.plans.RangeJoinRewrite.BUCKET_CONF)
    time("range_bnlj") { declarative.count() }
    spark.conf.set(graft.plans.RangeJoinRewrite.BUCKET_CONF, (12 * hourUs).toString)
    spark.conf.set(graft.plans.RangeJoinRewrite.MAXB_CONF, "3")
    time("range_rewritten") { declarative.count() }

    // the quadratic cliff: 2000 one-hour maintenance windows instead of 30
    // day-intervals — BNLJ does |events|·|intervals| compares regardless of
    // how few pairs match; the bucketed plan's work tracks the OUTPUT
    val epoch0 = evTs.agg(min(col("ts_us"))).head().getLong(0)
    val ivWide = spark.range(2000)
      .select((lit(epoch0) + col("id") * (13L * 60L * 1000000L)).as("start_us"))
      .withColumn("end_us", col("start_us") + lit(hourUs))
    def declWide = evTs.join(ivWide,
      evTs("ts_us") >= ivWide("start_us") && evTs("ts_us") < ivWide("end_us"))
    spark.conf.unset(graft.plans.RangeJoinRewrite.BUCKET_CONF)
    time("range_wide_bnlj") { declWide.count() }
    spark.conf.set(graft.plans.RangeJoinRewrite.BUCKET_CONF, hourUs.toString)
    spark.conf.set(graft.plans.RangeJoinRewrite.MAXB_CONF, "3")
    time("range_wide_rewritten") { declWide.count() }
    spark.stop()
  }
}
