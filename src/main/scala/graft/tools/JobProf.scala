package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import graft.GraftSession

/** Dev tool: per-job wall-time breakdown for named SparkEntry queries —
  * prints one line per Spark job (duration + its result stage's name,
  * e.g. `localCheckpoint at Graph.scala:65`; `shuffle` for an AQE
  * query stage's job; a broadcast's collect runs on an exchange thread
  * and shows that thread's `$anonfun$withThreadLocalCaptured$2`) and,
  * per query, a tally of the jobs by the call that ran them
  * (`localCheckpoint`, `parquet`, `shuffle`, …), so
  * multi-job iterative queries show where the seconds go and two runs
  * can be diffed job for job. Usage: JobProf <query>[,query...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1); cores as in [[GraftSession.cpus]].
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // a job's final stage is created after its parents: the highest
        // id. AQE runs each query stage's shuffle as a job of its own,
        // whose final stage is a map stage named after an async callsite
        val name = j.stageInfos.maxByOption(_.stageId)
          .map(st => if (GraftBridge.isShuffleMapStage(st)) "shuffle" else st.name).getOrElse("?")
        calls.add(name.split(" at ").head)
        starts.put(j.jobId, (System.nanoTime(), name))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.get(j.jobId)).foreach { case (t0, name) =>
          println(f"  job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $name")
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
      calls.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val tally = calls.toArray(Array.empty[String]).groupBy(identity).toSeq.sortBy(_._1)
        .map { case (c, js) => s"$c ${js.length}" }.mkString(", ")
      println(f"=== $name total ${(System.nanoTime() - t0) / 1e9}%.2f s, jobs: $tally ===")
    }
    spark.stop()
  }
}
