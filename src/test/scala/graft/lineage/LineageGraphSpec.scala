package graft.lineage

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funspec.AnyFunSpec

/** Impact analysis over captured lineage: a real pipeline (chain +
  * diamond) written through the listener, then the downstream closure and
  * blast-radius report queried back from the emitted records.
  */
class LineageGraphSpec extends AnyFunSpec with SparkTestBase {

  /** Runs a 4-stage pipeline under a sync listener and returns its
    * records: raw → a; a → b; a → c; (b, c) → d (a diamond below a). */
  private def capturedPipeline(dir: java.io.File): Seq[LineageRecord] = {
    val sink = new InMemorySink
    val l = Lineage.installSync(spark, sink)
    try {
      val base = dir.getAbsolutePath
      spark.read.parquet(s"$sfDir/region.parquet")
        .write.mode("overwrite").parquet(s"$base/a")
      spark.read.parquet(s"$base/a").filter(col("r_regionkey") >= 0)
        .write.mode("overwrite").parquet(s"$base/b")
      spark.read.parquet(s"$base/a")
        .select(col("r_regionkey"), col("r_name").as("c_name"))
        .write.mode("overwrite").parquet(s"$base/c")
      spark.read.parquet(s"$base/b")
        .join(spark.read.parquet(s"$base/c"), "r_regionkey")
        .write.mode("overwrite").parquet(s"$base/d")
      assert(eventually()(sink.records.count(_.output.isDefined) >= 4),
        "pipeline writes not captured")
      sink.records
    } finally Lineage.uninstall(spark, l)
  }

  it("downstream closure finds the full cone at min-hop depths and nothing upstream") {
    withTempDir { dir =>
      val records = capturedPipeline(dir)
      val base = dir.getAbsolutePath
      val a = records.flatMap(_.output).map(_.name).find(_.endsWith("/a")).get
      val cone = LineageGraph.downstream(spark, records, a).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      def at(suffix: String): Option[Int] =
        cone.collectFirst { case (k, v) if k.endsWith(suffix) => v }
      assert(at("/a").contains(0))
      assert(at("/b").contains(1))
      assert(at("/c").contains(1))
      assert(at("/d").contains(2), s"diamond join must sit at min-hop 2: $cone")
      // nothing upstream of a leaks into the cone
      assert(!cone.keys.exists(_.contains("region.parquet")))
      // a leaf has a trivial cone
      val d = records.flatMap(_.output).map(_.name).find(_.endsWith("/d")).get
      val leaf = LineageGraph.downstream(spark, records, d).collect()
      assert(leaf.length == 1 && leaf.head.getInt(1) == 0)
      assert(base.nonEmpty)
    }
  }

  it("column-level closure tracks a column through renames and derivations, not siblings") {
    withTempDir { dir =>
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try {
        val base = dir.getAbsolutePath
        spark.read.parquet(s"$sfDir/region.parquet")
          .select(col("r_regionkey"), col("r_name"))
          .write.mode("overwrite").parquet(s"$base/a")
        spark.read.parquet(s"$base/a")
          .select(col("r_regionkey").as("rk2"),
            concat(col("r_name"), lit("!")).as("decorated"))
          .write.mode("overwrite").parquet(s"$base/b")
        assert(eventually()(sink.records.count(r =>
          r.output.isDefined && r.columnLineage.nonEmpty) >= 2))
        val records = sink.records
        // find the exact source-column id the extractor used for r_name in /a
        val aRec = records.find(_.output.exists(_.name.endsWith("/a"))).get
        val nameSrc = aRec.columnLineage.find(_.output == "r_name").get.sources.head
        val cone = LineageGraph.downstreamColumns(spark, records, nameSrc).collect()
          .map(r => r.getString(0) -> r.getInt(1)).toMap
        def at(suffix: String) = cone.collectFirst { case (k, v) if k.endsWith(suffix) => v }
        assert(at("/a.r_name").contains(1), s"cone: $cone")
        assert(at("/b.decorated").contains(2), s"derivation lost: $cone")
        assert(!cone.keys.exists(_.endsWith(".rk2")),
          s"sibling column leaked into the cone: $cone")
      } finally Lineage.uninstall(spark, l)
    }
  }

  it("PII taint propagates through derivations to the entity report, sparing clean columns") {
    withTempDir { dir =>
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try {
        val base = dir.getAbsolutePath
        // r_name is "PII"; r_regionkey is clean. b derives from both;
        // c derives ONLY from the clean key — must stay untainted.
        spark.read.parquet(s"$sfDir/region.parquet")
          .select(col("r_regionkey"), col("r_name"))
          .write.mode("overwrite").parquet(s"$base/a")
        spark.read.parquet(s"$base/a")
          .select(col("r_regionkey").as("rk"),
            upper(col("r_name")).as("name_upper"))
          .write.mode("overwrite").parquet(s"$base/b")
        spark.read.parquet(s"$base/a")
          .select((col("r_regionkey") * 2).as("rk2"))
          .write.mode("overwrite").parquet(s"$base/c")
        spark.read.parquet(s"$base/b")
          .select(concat(col("name_upper"), lit("?")).as("greeting"))
          .write.mode("overwrite").parquet(s"$base/d")
        assert(eventually()(sink.records.count(r =>
          r.output.isDefined && r.columnLineage.nonEmpty) >= 4))
        val records = sink.records
        val aRec = records.find(_.output.exists(_.name.endsWith("/a"))).get
        val piiRoot = aRec.columnLineage.find(_.output == "r_name").get.sources.head
        val taint = LineageGraph.piiTaint(spark, records, Seq(piiRoot)).collect()
          .map(r => (r.getString(1), r.getInt(2)))
        def at(suffix: String) =
          taint.collectFirst { case (c, d) if c.endsWith(suffix) => d }
        assert(at("/a.r_name").contains(1), s"taint: ${taint.toSeq}")
        assert(at("/b.name_upper").contains(2), s"taint: ${taint.toSeq}")
        assert(at("/d.greeting").contains(3), s"taint: ${taint.toSeq}")
        assert(!taint.exists(t => t._1.endsWith(".rk") || t._1.endsWith(".rk2")),
          s"clean columns tainted: ${taint.toSeq}")
        val report = LineageGraph.piiTaintReport(spark, records, Seq(piiRoot))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(report.keys.exists(_.endsWith("/b")) &&
          report.keys.exists(_.endsWith("/d")), s"report: $report")
        assert(!report.keys.exists(_.endsWith("/c")),
          s"clean entity in PII report: $report")
        assert(report.values.forall(_ == 1))
      } finally Lineage.uninstall(spark, l)
    }
  }

  it("impact report ranks the shared upstream highest") {
    withTempDir { dir =>
      val records = capturedPipeline(dir)
      val report = LineageGraph.impactReport(spark, records).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(report.nonEmpty)
      // the source table feeds everything: downstream cone of size 4 (a..d)
      val top = report.head
      assert(top._1.contains("region.parquet"), s"unexpected top impact: $top")
      assert(top._3 == 4, s"source cone should cover a,b,c,d: $top")
      // direct consumers of a are b and c
      val aRow = report.find(_._1.endsWith("/a")).get
      assert(aRow._2 == 2 && aRow._3 == 3, s"a: $aRow")
    }
  }

  /** One closure three ways — the dataset, column and PII walks over the
    * same (src, dst) frame — each as node -> min-hop depth. */
  private def closures(e: DataFrame, root: String): Seq[Map[String, Int]] = {
    def depths(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    Seq(depths(LineageGraph.downstreamOverEdges(spark, e, root)),
      depths(LineageGraph.downstreamColumnsOverEdges(spark, e, root)),
      depths(LineageGraph.piiTaintOverEdges(spark, e, Seq(root)).drop("pii_root")))
  }

  private def edgeFrame(pairs: (String, String)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  it("a cycle and a self-edge stop every walk at min-hop depths") {
    val cycle = edgeFrame("a" -> "b", "b" -> "c", "c" -> "a")
    closures(cycle, "a").foreach(c => assert(c == Map("a" -> 0, "b" -> 1, "c" -> 2), c))
    val selfEdge = edgeFrame("a" -> "a", "a" -> "b", "b" -> "b")
    closures(selfEdge, "a").foreach(c => assert(c == Map("a" -> 0, "b" -> 1), c))
  }

  it("a chain deeper than maxDepth stops every walk at exactly depths 0..20") {
    val chain = edgeFrame((0 until 24).map(i => s"n$i" -> s"n${i + 1}"): _*)
    val want = (0 to 20).map(i => s"n$i" -> i).toMap
    closures(chain, "n0").foreach(c => assert(c == want, c))
  }

  it("a walk leaves a caller-cached edge frame cached") {
    val e = edgeFrame("a" -> "b", "b" -> "c").cache()
    try {
      closures(e, "a")
      assert(e.storageLevel != StorageLevel.NONE, "the walk evicted the caller's cache")
    } finally e.unpersist()
  }

  it("catalog edges with a null endpoint never reach a closure") {
    withTempDir { dir =>
      val path = new java.io.File(dir, "catalog.jsonl")
      val w = new java.io.PrintWriter(path)
      try {
        // an input without a name; a mapping with a null source; a mapping
        // without an output
        w.println("""{"status":"success","inputs":[{"name":"a"},{"kind":"path"}],""" +
          """"output":{"name":"b"},"columnLineage":[{"output":"x","sources":["a.x",null]},""" +
          """{"sources":["a.y"]}]}""")
      } finally w.close()
      val p = path.getAbsolutePath
      def pairs(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getString(1)).toSet
      val catalog = LineageCatalog.loadDf(spark, p)
      assert(pairs(LineageGraph.edgesDf(catalog)) == Set("a" -> "b"))
      assert(pairs(LineageGraph.columnEdgesDf(catalog)) == Set("a.x" -> "b.x"))
      val records = LineageCatalog.load(spark, p)
      assert(pairs(LineageGraph.edges(spark, records)) == Set("a" -> "b"))
      assert(pairs(LineageGraph.columnEdges(spark, records)) == Set("a.x" -> "b.x"))
      val cols = LineageGraph.downstreamColumnsCatalog(spark, p, "a.y").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(cols == Map("a.y" -> 0), s"null node in the closure: $cols")
      val taint = LineageGraph.piiTaintCatalog(spark, p, Seq("a.x", "a.y")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(taint == Set(("a.x", "a.x", 0), ("a.x", "b.x", 1), ("a.y", "a.y", 0)),
        s"taint: $taint")
    }
  }

  it("a catalog walk runs one action per level") {
    withTempDir { dir =>
      val k = 5
      val path = new java.io.File(dir, "catalog.jsonl")
      val w = new java.io.PrintWriter(path)
      try (0 until k).foreach { i =>
        w.println(s"""{"status":"success","inputs":[{"name":"n$i"}],"output":{"name":"n${i + 1}"}}""")
      } finally w.close()
      val marker = "graft-action-count-marker"
      val actions = new java.util.concurrent.atomic.AtomicInteger
      @volatile var markerSeen = false
      val listener = new QueryExecutionListener {
        private def seen(qe: QueryExecution): Unit =
          if (qe.analyzed.toString.contains(marker)) markerSeen = true
          else actions.incrementAndGet()
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
      }
      spark.listenerManager.register(listener)
      try {
        val cone = LineageGraph.downstreamCatalog(spark, path.getAbsolutePath, "n0").collect()
          .map(r => r.getString(0) -> r.getInt(1)).toMap
        assert(cone == (0 to k).map(i => s"n$i" -> i).toMap, cone)
        // callbacks arrive in order on the listener bus: once the marker's
        // has, every action of the walk has been counted
        spark.range(1).select(lit(marker)).collect()
        assert(eventually()(markerSeen), "marker action never reached the listener")
        // k levels that find an edge, one that finds none, the caller's collect
        assert(actions.get <= k + 2, s"${actions.get} actions for a $k-level walk")
      } finally spark.listenerManager.unregister(listener)
    }
  }
}
