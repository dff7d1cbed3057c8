package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` plans for named driver-contract queries into
  * <planDir>/<query>_<tag>.txt, under the bench's session config
  * (`GraftExtensions` included) — the before/after plan evidence kept
  * under `plans/`.
  * Usage: runMain graft.tools.Explain <planDir> <tag> <sfDir> <query...>
  * (streaming gates execute on construction — pass batch gates only).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: Explain <planDir> <tag> <sfDir> <query...>")
    val Array(planDir, tag, dir) = args.take(3)
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(planDir))
    args.drop(3).foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val out = Paths.get(planDir, s"${name}_$tag.txt")
        Files.writeString(out, df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        println(s"[explain] wrote $out")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
