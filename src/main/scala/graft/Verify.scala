package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, only @ _*) = args.toSeq: @unchecked
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.contains).toMap
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // the shared mapper escapes every control character, so a tab in an
    // oracle's SQL cannot break the driver's json.load
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.lineage.LineageJson.mapper.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
