package graft.tools

import graft.SparkEntry

/** Per-decade scaling probe: run a set of gate queries across several scale
  * directories in ONE JVM and print a JSON line of per-(query, scale) best-of
  * timings. The point is the EXPONENT — time ratio per 10× input decade — not
  * absolute numbers, so one warm JVM per probe is the right trade: codegen and
  * table-cache spin-up are shared by every (query, scale) cell instead of
  * biasing the smallest one.
  *
  * `runMain graft.tools.Scaling q_a,q_b dir1,dir2,dir3 [reps]` — reports the
  * MIN over reps per cell (the noise floor of a shared box is one-sided).
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Scaling <q1,q2,...> <dir1,dir2,...> [reps]")
    val names = args(0).split(",").toSeq
    val dirs = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // one warmup pass at the smallest dir, untimed
    try SparkEntry.queries.get("q_fold_periods").foreach(_(spark, dirs.head).count())
    catch { case _: Throwable => () }
    val cells = for (dir <- dirs; name <- names) yield {
      val fn = SparkEntry.queries(name)
      val best = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"SCALING $name @ $dir: $best%.2fs (min of $reps)")
      (name, dir, best)
    }
    val json = cells.map { case (n, d, t) => s"""{"query":"$n","dir":"$d","sec":$t}""" }
      .mkString("[", ",", "]")
    println("SCALING_JSON " + json)
    spark.stop()
  }
}
