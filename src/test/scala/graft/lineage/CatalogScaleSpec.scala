package graft.lineage

import java.util.concurrent.ConcurrentHashMap

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** Catalog-scale lineage: a 100k-record persisted catalog loads and
  * reduces to its edges entirely as DataFrames, and the first walk reads
  * those edges once into the catalog's shared, partitioned edge index
  * (both graphs, kept until the catalog's files change), in which every
  * walk of either kind looks up each level's frontier — the driver holds
  * the frontier and the closure's depth map, never the record set
  * ([[LineageCatalog.load]]'s collect is the small-catalog convenience path;
  * [[LineageGraph.edgesDf]]/[[LineageGraph.downstreamCatalog]] are the
  * scale path this spec exercises).
  */
class CatalogScaleSpec extends AnyFunSpec with SparkTestBase {

  /** 100k JSONL lines: 1000 fan-out chains root -> c_j -> g_j, each edge
    * record repeated 50x (a real catalog re-runs the same job daily). */
  private def writeCatalog(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(f), 1 << 20))
    try {
      var rep = 0
      while (rep < 50) {
        var j = 0
        while (j < 1000) {
          w.println(s"""{"status":"success","inputs":[{"name":"root"}],""" +
            s""""output":{"name":"c$j"},"columnLineage":[{"output":"v","sources":["root.pii"]}]}""")
          w.println(s"""{"status":"success","inputs":[{"name":"c$j"}],""" +
            s""""output":{"name":"g$j"},"columnLineage":[{"output":"w","sources":["c$j.v"]}]}""")
          j += 1
        }
        rep += 1
      }
    } finally w.close()
  }

  /** Runs `body` under job group `group`; returns its result with the
    * map tasks and shuffle records written of the jobs it ran. */
  private def shuffleRecords[T](group: String)(body: => T): (T, Long, Long) = {
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val done = new ConcurrentHashMap[Int, (Long, Long)]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          j.stageInfos.foreach(i => stages.add(i.stageId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val records = i.taskMetrics.shuffleWriteMetrics.recordsWritten
        done.put(i.stageId, (if (records > 0) i.numTasks.toLong else 0L, records))
      }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val result = body
      def ran = stages.toArray(Array.empty[Integer]).map(_.intValue)
        .filter(done.containsKey).map(done.get)
      // one shuffle: its map stage's completion carries every record
      assert(eventually()(ran.exists(_._2 > 0)), "no stage of the walk shuffled")
      (result, ran.map(_._1).sum, ran.map(_._2).sum)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  it("walks a 100k-record catalog without collecting it") {
    withTempDir { dir =>
      val path = new java.io.File(dir, "catalog.jsonl")
      writeCatalog(path)
      val p = path.getAbsolutePath
      assert(LineageCatalog.loadDf(spark, p).count() == 100000L)
      // distinct edges: 2000 (the 50x re-runs collapse in the distinct)
      assert(LineageGraph.edgesDf(LineageCatalog.loadDf(spark, p)).count() == 2000L)
      val (cone, mapTasks, shuffled) = shuffleRecords("cold-catalog-walk") {
        LineageGraph.downstreamCatalog(spark, p, "root")
      }
      // 200k edge rows (100k per graph), but each map task sends each of
      // the 2002 srcs (root, c_j, root.pii, c_j.v) at most once
      assert(mapTasks * 2002L < 100000L, s"$mapTasks map tasks: the bound below tells nothing")
      assert(shuffled <= mapTasks * 2002L,
        s"the cold index build shuffled $shuffled records from $mapTasks map tasks")
      val byDepth = cone.groupBy("depth").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(byDepth == Map(0 -> 1L, 1 -> 1000L, 2 -> 1000L),
        s"closure depths wrong: $byDepth")
    }
  }

  it("column walks and PII taint run off the same persisted catalog") {
    withTempDir { dir =>
      val path = new java.io.File(dir, "catalog.jsonl")
      writeCatalog(path)
      val p = path.getAbsolutePath
      val cols = LineageGraph.downstreamColumnsCatalog(spark, p, "c7.v")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(cols == Map("c7.v" -> 0, "g7.w" -> 1), cols.toString)
      // pii root taints every chain: root.pii -> c_j.v -> g_j.w
      val taint = LineageGraph.piiTaintCatalog(spark, p, Seq("root.pii"))
        .filter(col("depth") > 0)
      assert(taint.count() == 2000L,
        "root.pii must taint all 1000 c.v and 1000 g.w columns")
    }
  }
}
