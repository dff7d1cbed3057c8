package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TablesSpec extends SparkTestBase {

  test("cached: a directory-shaped table is spread by the bytes of its files") {
    // one ~2 MB parquet file inside a table directory: a single scan split,
    // so only the cache spread can give it more than one partition
    val dir = s"target/test_tables/${System.nanoTime()}"
    spark.range(40000).select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      .coalesce(1).write.parquet(s"$dir/wide.parquet")
    assert(spark.read.parquet(s"$dir/wide.parquet").rdd.getNumPartitions == 1)
    val cached = Tables.cached(spark, dir, "wide")
    try {
      assert(cached.rdd.getNumPartitions > 1)
      assert(cached.count() == 40000L)
    } finally cached.unpersist()
  }
}
