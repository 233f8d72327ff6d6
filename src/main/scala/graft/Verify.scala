package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query-name filter (dev-only
    // fast path; the driver always runs the full surface)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and every control char: a tab
    // or CR in an oracle's SQL must not break a consumer's JSON parser
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = om.createObjectNode()
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      om.writeValueAsString(json))
    spark.stop()
  }
}
