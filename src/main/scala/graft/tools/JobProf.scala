package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.GraftSession

/** Dev tool: per-job wall-time breakdown for named SparkEntry queries —
  * prints one line per Spark job (duration + description/callsite) so
  * multi-job iterative queries (localCheckpoint rounds, memo builds)
  * show where the seconds go. Usage: JobProf <query>[,query...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1); cores as in [[GraftSession.cpus]].
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.get(j.jobId)).foreach { case (t0, desc) =>
          println(f"  job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc")
        }
      }
    })
    args.head.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warmup
      spark.catalog.clearCache()
      fn(spark, sfDir).queryExecution.toRdd.count()
      println(s"=== $name (timed run after warmup) ===")
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      println(f"=== $name total ${(System.nanoTime() - t0) / 1e9}%.2f s ===")
    }
    spark.stop()
  }
}
