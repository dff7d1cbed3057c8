package graft
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Mirror of [[SparkEntry.normalizeZeroSign]] on the DuckDB side, widened
    * to ALL numeric columns: wrap the oracle SQL (per the SPARK result
    * schema, the contract's source of truth for names/types) so that
    *   - every float column gets `+ 0.0` (−0.0 → +0.0 before the driver
    *     hashes bit patterns), and
    *   - every integer column is CAST back to the Spark width — DuckDB
    *     silently widens `SUM(BIGINT) OVER`, `//`, `%` etc. to HUGEINT
    *     (int128), which hash-mismatches Spark's LongType even when values
    *     are identical (the round-3 q_pack_* / q_sample_stratified reds).
    * Arrays are normalized element-wise via list_transform, recursively.
    */
  private[graft] def wrapOracle(sql: String, schema: StructType): String = {
    def dq(n: String) = "\"" + n.replace("\"", "\"\"") + "\""
    // Normalization expression for `e` of Spark type `dt`, or None if the
    // type needs none. `depth` keeps nested lambda variables distinct.
    def norm(e: String, dt: DataType, depth: Int): Option[String] = dt match {
      case DoubleType => Some(s"($e + 0.0)")
      case FloatType => Some(s"CAST($e + 0.0 AS FLOAT)")
      case LongType => Some(s"CAST($e AS BIGINT)")
      case IntegerType => Some(s"CAST($e AS INTEGER)")
      case ShortType => Some(s"CAST($e AS SMALLINT)")
      case ByteType => Some(s"CAST($e AS TINYINT)")
      case ArrayType(el, _) =>
        val v = s"__zx$depth"
        norm(v, el, depth + 1).map(inner => s"list_transform($e, $v -> $inner)")
      case _ => None
    }
    val cols = schema.fields.map { f =>
      norm(dq(f.name), f.dataType, 0)
        .map(e => s"$e AS ${dq(f.name)}")
        .getOrElse(dq(f.name))
    }
    if (cols.sameElements(schema.fields.map(f => dq(f.name)))) sql
    else s"SELECT ${cols.mkString(", ")} FROM (\n${sql.trim.stripSuffix(";")}\n) __graft_norm"
  }

  def main(args: Array[String]): Unit = {
    // optional third arg: regex over query names — subset runs for scale
    // probes beyond the driver's gate scale (e.g. the non-quadratic tree
    // at 10× sf0.1). oracle_sql.json is filtered to the selected subset so
    // check_oracle verifies exactly what ran.
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o) => (s, o, (_: String) => true)
      case Array(s, o, re) => val p = re.r; (s, o, (n: String) => p.findFirstIn(n).isDefined)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [nameRegex]")
    }
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val schemas = scala.collection.mutable.Map.empty[String, StructType]
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        schemas(name) = df.schema
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => nameFilter(kv._1))
      .map { case (k, v) =>
        val sql = schemas.get(k).map(s => wrapOracle(v, s)).getOrElse(v)
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
