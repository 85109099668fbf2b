package graft.lineage

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
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

  it("a caller frame's null endpoints never reach a closure") {
    val e = edgeFrame("a" -> "b", "a" -> null, (null, "a"), "b" -> null)
    closures(e, "a").foreach(c => assert(c == Map("a" -> 0, "b" -> 1), c))
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

  /** Writes `records` (JSON objects) as a catalog in `dir`; returns its path. */
  private def catalogFile(dir: java.io.File, records: Seq[String]): String = {
    val path = new java.io.File(dir, "catalog.jsonl")
    val w = new java.io.PrintWriter(path)
    try records.foreach(w.println) finally w.close()
    path.getAbsolutePath
  }

  /** A successful run reading `inputs` and writing `output`. */
  private def runJson(inputs: Seq[String], output: String): String =
    inputs.map(i => s"""{"name":"$i"}""").mkString(
      """{"status":"success","inputs":[""", ",", s"""],"output":{"name":"$output"}}""")

  /** Runs `body`; returns its result, the SQL actions it ran (callbacks
    * of a `QueryExecutionListener`) and the result tasks of its jobs.
    * Callbacks reach listeners in order, but late: marker actions before
    * and after `body`, which run no task themselves, bound what counts. */
  private def counted[T](body: => T): (T, Int, Int) = {
    import spark.implicits._
    val (start, end) = ("graft-count-start-marker", "graft-count-end-marker")
    def mark(tag: String): Unit = {
      Seq(1).toDF("i").select(lit(tag)).collect()
      spark.sparkContext.setJobDescription(tag)
      try spark.sparkContext.emptyRDD[Int].count()
      finally spark.sparkContext.setJobDescription(null)
    }
    val actions, tasks = new AtomicInteger
    // 1 once the start marker's callback has arrived, 2 once the end one's has
    @volatile var sqlPhase = 0
    @volatile var jobPhase = 0
    def phase(tag: String): Int = if (tag.contains(start)) 1 else if (tag.contains(end)) 2 else 0
    val sql = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit = phase(qe.analyzed.toString) match {
        case 0 => if (sqlPhase == 1) actions.incrementAndGet()
        case p => sqlPhase = sqlPhase.max(p)
      }
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
    }
    val jobs = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (jobPhase == 1 && t.taskType == "ResultTask") tasks.incrementAndGet()
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobPhase = jobPhase.max(phase(String.valueOf(
          Option(j.properties).map(_.getProperty("spark.job.description")).orNull)))
    }
    spark.listenerManager.register(sql)
    spark.sparkContext.addSparkListener(jobs)
    try {
      mark(start)
      val result = body
      mark(end)
      assert(eventually()(sqlPhase == 2 && jobPhase == 2), "markers never reached the listeners")
      (result, actions.get, tasks.get)
    } finally {
      spark.listenerManager.unregister(sql)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  it("a catalog walk runs two SQL actions, one task per level") {
    Seq(5, 15).foreach { k =>
      withTempDir { dir =>
        val path = catalogFile(dir, (0 until k).map(i => runJson(Seq(s"n$i"), s"n${i + 1}")))
        val (cone, actions, tasks) = counted(
          LineageGraph.downstreamCatalog(spark, path, "n0").collect()
            .map(r => r.getString(0) -> r.getInt(1)).toMap)
        assert(cone == (0 to k).map(i => s"n$i" -> i).toMap, cone)
        // the edge index's read of the catalog, and the caller's collect
        assert(actions <= 2, s"$actions SQL actions for a $k-level walk")
        // a chain's frontier is one node: k levels that find an edge and
        // one that finds none, each one task on the node's partition
        assert(tasks <= k + 1, s"$tasks level tasks for a $k-level walk")
      }
    }
  }

  /** The impact report computed on the driver: per source entity, its
    * distinct direct consumers and its min-hop cone below it, ordered by
    * cone size, then entity. */
  private def referenceReport(edges: Seq[(String, String)]): Seq[(String, Long, Long)] = {
    val out = edges.distinct.groupMap(_._1)(_._2)
    out.keys.toSeq.map { root =>
      val seen = mutable.Set(root)
      var frontier = Seq(root)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(out.getOrElse(_, Nil)).distinct.filter(seen.add)
      }
      (root, out(root).distinct.size.toLong, (seen.size - 1).toLong)
    }.sortBy(r => (-r._3, r._1))
  }

  private def report(records: Seq[LineageRecord]): Seq[(String, Long, Long)] =
    LineageGraph.impactReport(spark, records).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  it("impact report rows match a driver-side reference") {
    withTempDir { dir =>
      // a diamond, a cycle back to its root, a self-edge, two components
      val runs = Seq(Seq("a") -> "b", Seq("a") -> "c", Seq("b", "c") -> "d",
        Seq("d") -> "a", Seq("d") -> "d", Seq("x") -> "y", Seq("y", "a") -> "z")
      val records = LineageCatalog.load(spark,
        catalogFile(dir, runs.map { case (in, out) => runJson(in, out) }))
      val edges = runs.flatMap { case (in, out) => in.map(_ -> out) }
      assert(report(records) == referenceReport(edges))
    }
  }

  it("impact report SQL actions do not grow with its roots") {
    // `roots` sources feed one hub that feeds a 3-node chain
    def actions(roots: Int): Int = withTempDir { dir =>
      val runs = (0 until roots).map(i => runJson(Seq(s"s$i"), "h")) ++
        Seq(runJson(Seq("h"), "t0"), runJson(Seq("t0"), "t1"), runJson(Seq("t1"), "t2"))
      val records = LineageCatalog.load(spark, catalogFile(dir, runs))
      val (rows, n, _) = counted(report(records))
      assert(rows.size == roots + 3, rows)
      n
    }
    val few = actions(2)
    val many = actions(8)
    assert(many == few, s"$few SQL actions for 2 roots, $many for 8")
  }

  it("closure rows and their order do not depend on partitions") {
    withTempDir { dir =>
      // a root fanning out to 40 children that fan in to 7 grandchildren,
      // with a column mapping per run
      val runs = (0 until 40).map(i =>
        s"""{"status":"success","inputs":[{"name":"r"}],"output":{"name":"c$i"},""" +
          s""""columnLineage":[{"output":"x","sources":["r.x","r.y"]}]}""") ++
        (0 until 40).map(i =>
          s"""{"status":"success","inputs":[{"name":"c$i"}],"output":{"name":"g${i % 7}"},""" +
            s""""columnLineage":[{"output":"x","sources":["c$i.x"]}]}""")
      val path = catalogFile(dir, runs)
      def closures(partitions: Int): Seq[Seq[Row]] = {
        val before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
        try Seq(LineageGraph.downstreamCatalog(spark, path, "r"),
          LineageGraph.downstreamColumnsCatalog(spark, path, "r.x"),
          LineageGraph.piiTaintCatalog(spark, path, Seq("r.y", "r.x"))).map(_.collect().toSeq)
        finally spark.conf.set("spark.sql.shuffle.partitions", before)
      }
      val one = closures(1)
      assert(one.map(_.size) == Seq(48, 48, 96), one.map(_.size))
      Seq(4, 7).foreach(n => assert(closures(n) == one, s"rows differ at $n partitions"))
    }
  }
}
