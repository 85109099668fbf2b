package graft.lineage

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

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

  it("a caller frame's numeric endpoints walk as their string names") {
    import spark.implicits._
    val e = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L).toDF("src", "dst")
    closures(e, "1").foreach(c => assert(c == Map("1" -> 0, "2" -> 1, "3" -> 1), c))
    val ints = Seq(7 -> 8, 8 -> 9).toDF("src", "dst")
    closures(ints, "7").foreach(c => assert(c == Map("7" -> 0, "8" -> 1, "9" -> 2), c))
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
        // without an output; a mapping without sources
        w.println("""{"status":"success","inputs":[{"name":"a"},{"kind":"path"}],""" +
          """"output":{"name":"b"},"columnLineage":[{"output":"x","sources":["a.x",null]},""" +
          """{"sources":["a.y"]},{"output":"z"}]}""")
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

  /** Writes `records` (JSON objects) as the catalog `name` in `dir`;
    * returns its path. */
  private def catalogFile(dir: java.io.File, records: Seq[String],
      name: String = "catalog.jsonl"): String = {
    val path = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(path)
    try records.foreach(w.println) finally w.close()
    path.getAbsolutePath
  }

  /** A successful run reading `inputs` and writing `output`, with one
    * column mapping `output.x <- input.x` when `columns` is set. */
  private def runJson(inputs: Seq[String], output: String, columns: Boolean = false): String = {
    val mapping =
      if (columns) inputs.map(i => s""""$i.x"""").mkString(
        ""","columnLineage":[{"output":"x","sources":[""", ",", "]}]")
      else ""
    inputs.map(i => s"""{"name":"$i"}""").mkString(
      """{"status":"success","inputs":[""", ",", s"""],"output":{"name":"$output"}$mapping}""")
  }

  /** What a body ran: SQL actions (`QueryExecutionListener` callbacks),
    * Spark jobs, their result tasks, the shuffle bytes its tasks wrote,
    * and its shuffle map stages. */
  private case class Counts(actions: Int, jobs: Int, resultTasks: Int, shuffleBytes: Long,
      mapStages: Int)

  /** Runs `body`; returns its result and what it ran. Callbacks reach
    * listeners in order, but late: marker actions before and after
    * `body`, which run no task themselves, bound what counts. */
  private def counted[T](body: => T): (T, Counts) = {
    import spark.implicits._
    val (start, end) = ("graft-count-start-marker", "graft-count-end-marker")
    def mark(tag: String): Unit = {
      Seq(1).toDF("i").select(lit(tag)).collect()
      spark.sparkContext.setJobDescription(tag)
      try spark.sparkContext.emptyRDD[Int].count()
      finally spark.sparkContext.setJobDescription(null)
    }
    val actions, jobCount, tasks = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val mapStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
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
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (jobPhase == 1) {
        if (t.taskType == "ResultTask") tasks.incrementAndGet()
        if (t.taskType == "ShuffleMapTask") mapStages.add(t.stageId)
        Option(t.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        phase(String.valueOf(
          Option(j.properties).map(_.getProperty("spark.job.description")).orNull)) match {
          case 0 => if (jobPhase == 1) jobCount.incrementAndGet()
          case p => jobPhase = jobPhase.max(p)
        }
    }
    spark.listenerManager.register(sql)
    spark.sparkContext.addSparkListener(jobs)
    try {
      mark(start)
      val result = body
      mark(end)
      assert(eventually()(sqlPhase == 2 && jobPhase == 2), "markers never reached the listeners")
      (result, Counts(actions.get, jobCount.get, tasks.get, shuffleBytes.get, mapStages.size))
    } finally {
      spark.listenerManager.unregister(sql)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  it("a catalog walk runs two SQL actions, one task per level") {
    Seq(5, 15).foreach { k =>
      withTempDir { dir =>
        val path = catalogFile(dir, (0 until k).map(i => runJson(Seq(s"n$i"), s"n${i + 1}")))
        val (cone, n) = counted(
          LineageGraph.downstreamCatalog(spark, path, "n0").collect()
            .map(r => r.getString(0) -> r.getInt(1)).toMap)
        assert(cone == (0 to k).map(i => s"n$i" -> i).toMap, cone)
        // the caller's collect; the index's read of the catalog runs
        // through `toRdd`, no SQL action
        assert(n.actions <= 2, s"${n.actions} SQL actions for a $k-level walk")
        // a chain's frontier is one node: k levels that find an edge and
        // one that finds none, each one task on the node's partition
        assert(n.resultTasks <= k + 1, s"${n.resultTasks} level tasks for a $k-level walk")
      }
    }
  }

  it("a second walk of an unchanged catalog reads nothing but its levels") {
    Seq(5, 15).foreach { k =>
      withTempDir { dir =>
        val path = catalogFile(dir,
          (0 until k).map(i => runJson(Seq(s"n$i"), s"n${i + 1}", columns = true)))
        def depths(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
        // the first call, of one kind, builds the index of both graphs
        depths(LineageGraph.downstreamCatalog(spark, path, "n0"))
        val (cone, n) = counted(depths(LineageGraph.downstreamCatalog(spark, path, "n0")))
        assert(cone == (0 to k).map(i => s"n$i" -> i).toMap, cone)
        assert(n.actions == 1, s"${n.actions} SQL actions for a warm $k-level walk")
        assert(n.shuffleBytes == 0, s"a warm walk wrote ${n.shuffleBytes} shuffle bytes")
        assert(n.resultTasks <= k + 1, s"${n.resultTasks} level tasks for a $k-level walk")
        val (cols, c) = counted(depths(LineageGraph.downstreamColumnsCatalog(spark, path, "n0.x")))
        assert(cols == (0 to k).map(i => s"n$i.x" -> i).toMap, cols)
        assert(c.actions == 1 && c.shuffleBytes == 0,
          s"the first column walk after a dataset walk ran $c")
      }
    }
  }

  it("an append to the catalog reaches the next walk and releases the old index") {
    withTempDir { dir =>
      val path = catalogFile(dir, (0 until 3).map(i => runJson(Seq(s"n$i"), s"n${i + 1}")))
      def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      def cone() = LineageGraph.downstreamCatalog(spark, path, "n0").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      val before = stored
      assert(cone() == (0 to 3).map(i => s"n$i" -> i).toMap)
      val index = stored -- before
      assert(index.nonEmpty, "the walk's index holds no blocks")
      val w = new java.io.FileWriter(path, true)
      try w.write(runJson(Seq("n3"), "n4") + "\n") finally w.close()
      assert(cone() == (0 to 4).map(i => s"n$i" -> i).toMap, "the appended edge is not seen")
      assert((stored & index).isEmpty, s"the replaced index's RDDs ${stored & index} still hold blocks")
    }
  }

  it("two threads making the first call on one catalog build its index once") {
    withTempDir { dir =>
      val k = 6
      val path = catalogFile(dir,
        (0 until k).map(i => runJson(Seq(s"n$i"), s"n${i + 1}", columns = true)))
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        def call(f: => DataFrame) = Future { start.await(); f.collect().length }
        val (sizes, n) = counted {
          val calls = Seq(call(LineageGraph.downstreamCatalog(spark, path, "n0")),
            call(LineageGraph.downstreamColumnsCatalog(spark, path, "n0.x")))
          start.countDown()
          Await.result(Future.sequence(calls), 120.seconds)
        }
        assert(sizes == Seq(k + 1, k + 1))
        // one read and shuffle of the catalog's edges, which both walks share
        assert(n.mapStages == 1, s"${n.mapStages} shuffle map stages over the catalog")
      } finally pool.shutdown()
    }
  }

  it("graft records no read of its own, and a user's read of the catalog still") {
    withTempDir { dir =>
      val path = catalogFile(dir, (0 until 3).map(i => runJson(Seq(s"n$i"), s"n${i + 1}")),
        "own-reads-catalog.jsonl")
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try {
        // a cold walk: the index build reads the catalog
        assert(LineageGraph.downstreamCatalog(spark, path, "n0").collect().length == 4)
        assert(LineageCatalog.loadDf(spark, path).count() == 3L)
        def naming = sink.records.filter(_.inputs.exists(_.name.contains("own-reads-catalog")))
          .map(_.funcName)
        // callbacks arrive in order: once the user's count is recorded,
        // any record of the walk has arrived too
        assert(eventually()(naming.contains("count")), "the user's read of the catalog is not recorded")
        assert(naming == Seq("count"), s"records naming the catalog: $naming")
      } finally Lineage.uninstall(spark, l)
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
    def counts(roots: Int): Counts = withTempDir { dir =>
      val runs = (0 until roots).map(i => runJson(Seq(s"s$i"), "h")) ++
        Seq(runJson(Seq("h"), "t0"), runJson(Seq("t0"), "t1"), runJson(Seq("t1"), "t2"))
      val records = LineageCatalog.load(spark, catalogFile(dir, runs))
      val (rows, n) = counted(report(records))
      assert(rows.size == roots + 3, rows)
      n
    }
    val few = counts(2)
    val many = counts(8)
    assert(many.actions == few.actions, s"${few.actions} SQL actions for 2 roots, ${many.actions} for 8")
    assert(many.jobs == few.jobs, s"${few.jobs} Spark jobs for 2 roots, ${many.jobs} for 8")
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
      def closures(partitions: Int): Seq[Seq[Row]] = {
        // a fresh catalog file per partition count: each builds its own index
        val path = catalogFile(dir, runs, s"catalog-$partitions.jsonl")
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
