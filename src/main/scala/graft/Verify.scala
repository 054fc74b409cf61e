package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Every query
  * that can run is dumped; the process exits 1 afterwards if any failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: only run queries whose name contains the filter
    // (dev loop; the driver passes two args and gets the full dump)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = if (args.length > 2) args(2) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => nameFilter.isEmpty || name.contains(nameFilter) }
      .count { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          false
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          true
        }
      }
    val json = compact(render(JObject(
      SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed")
      sys.exit(1)
    }
  }
}
