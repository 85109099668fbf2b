package graft.tools

import graft.GraftSession

/** Dev tool: write `.explain("formatted")` for named SparkEntry queries
  * to files (plans/<tag>/<name>_<suffix>.txt) — the evidence artifact
  * the optimization rounds commit so plan claims are checkable without
  * running Spark. Usage:
  *   PlanDump <outDir> <suffix> <query>[,query...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1); cores as in [[GraftSession.cpus]].
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
