package org.apache.spark

/** Spark's temp-dir utilities are `private[spark]`, hence this package. */
object SparkLocalDir {
  /** A fresh directory `<prefix>-<uuid>` under one of the context's local
    * dirs (`spark.local.dir` / `SPARK_LOCAL_DIRS`), deleted at JVM shutdown.
    */
  def createTemp(sc: SparkContext, prefix: String): java.io.File =
    util.Utils.createTempDir(util.Utils.getLocalDir(sc.conf), prefix)
}
