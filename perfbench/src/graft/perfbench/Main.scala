package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry
import graft.lineage._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}

/** One op: a registry query (DataFrame build plus its write) or one
  * impact-analysis call, timed on the client thread. */
final case class OpRec(id: String, name: String, module: String, round: Int,
    startUs: Long, builtUs: Long, endUs: Long, error: Option[String],
    verify: Option[String], out: Option[String], levels: Int, memo: String,
    spanId: Long)

/** The JVM side of the benchmark. It measures and records; `run.py`
  * aggregates the raw file it writes and checks query outputs.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <warmDataDir>
  *   <launchEpochUs>
  */
object Main {
  val Cpus = 4

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, data, warmData, launchS) = argv
    val b = new Bench(workload, seedS.toLong, secondsS.toDouble, traceS == "1", work, data,
      warmData, launchS.toLong)
    val code = try { b.run(); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }
}

final class Bench(workload: String, seed: Long, seconds: Double, traced: Boolean,
    work: String, data: String, warmData: String, launchUs: Long) {
  private val rec = new Recorder(traced)
  private val lineagePath = s"$work/lineage.jsonl"
  private val sink = new TimingSink(new JsonlFileSink(lineagePath), rec)
  private var spark: SparkSession = _
  private var installed = List.empty[(SparkSession, LineageListener, PreProbe, PostProbe)]
  private var opSeq = 0
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val warm = mutable.ArrayBuffer.empty[OpRec]
  private val queries = Workloads.named(workload)
  private lazy val dag = CatalogDag.generate(seed, nLayers = 6, width = 120, runsPerDataset = 2)
  private val catalogPath = s"$work/catalog.jsonl"

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Main.Cpus}]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Main.Cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${128 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Enable graft the way its README does, between the two probes. */
  private def attach(s: SparkSession): Unit = {
    val pre = new PreProbe(rec)
    s.listenerManager.register(pre)
    val l = Lineage.install(s, sink)
    val post = new PostProbe(rec)
    s.listenerManager.register(post)
    installed ::= ((s, l, pre, post))
  }

  private def detachAll(): Unit = {
    installed.foreach { case (s, l, pre, post) =>
      Lineage.uninstall(s, l)
      s.listenerManager.unregister(pre)
      s.listenerManager.unregister(post)
    }
    installed = Nil
  }

  /** Wait until the listener bus and the async sink have caught up:
    * every job ended and every listener callback's record arrived. */
  private def quiesce(): Unit = {
    def snap = (rec.qeEvents.size, rec.arrivals.size, rec.jobs.size, rec.jobEnds.get)
    val deadline = Clock.us() + 15000000L
    var last = snap
    var stableSince = Clock.us()
    var done = false
    while (!done && Clock.us() < deadline) {
      Thread.sleep(10)
      val s = snap
      if (s != last) { last = s; stableSince = Clock.us() }
      else if (s._2 >= s._1 && s._4 >= s._3 && Clock.us() - stableSince > 100000L) done = true
    }
  }

  private def runOp(name: String, module: String, round: Int, memos: Seq[String], s: SparkSession)(
      build: => DataFrame)(act: (DataFrame, String) => Any)(verify: Any => Option[String]): OpRec = {
    val id = synchronized { opSeq += 1; f"$opSeq%05d" }
    rec.currentOp = id
    s.sparkContext.setLocalProperty("perfbench.op", id)
    val before = Workloads.artifactRuns()
    val t0 = Clock.us()
    var tb = -1L
    var result: Any = null
    val err = try {
      val df = build
      tb = Clock.us()
      result = act(df.as(OpTag.alias(id)), id)
      None
    } catch { case e: Throwable =>
      Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    val t1 = Clock.us()
    if (tb < 0) tb = t1
    s.sparkContext.setLocalProperty("perfbench.op", null)
    if (err.isEmpty && round >= 0) rec.awaitRecord(id, 2000L)
    val opSpan = rec.span("op", id, 0L, t0, t1)
    rec.span("operators.plan_build", id, opSpan, t0, tb)
    rec.span("action", id, opSpan, tb, t1)
    val after = Workloads.artifactRuns()
    val label =
      if (memos.isEmpty) "no_memo"
      else if (memos.exists(m => after(m) > before(m))) "memo_build"
      else "memo_hit"
    val checked = if (err.isEmpty) verify(result) else None
    val out = if (workload == "capture") Some(s"$work/out/$id") else None
    val levels = result match {
      case rows: Array[org.apache.spark.sql.Row] if workload == "catalog" && rows.nonEmpty =>
        rows.map(r => r.getInt(r.fieldIndex("depth"))).max + 1
      case _ => 0
    }
    val r = OpRec(id, name, module, round, t0, tb, t1, err, checked, out, levels, label, opSpan)
    synchronized { if (round >= 0) ops += r else warm += r }
    r
  }

  /** The round's seeded query order. Queries that read shared artifacts
    * keep their registry order among themselves (the seed places them
    * among the others), so the same query builds each artifact in every
    * run and each op's latency does not depend on the seed. */
  private def perm(xs: Seq[Query], round: Int): Seq[Query] = {
    val consumers = xs.filter(_.memos.nonEmpty).iterator
    new Random(seed * 1000003L + round).shuffle(xs)
      .map(q => if (q.memos.nonEmpty) consumers.next() else q)
  }

  // ---- workloads -------------------------------------------------------

  private def queryOp(q: Query, round: Int, s: SparkSession): OpRec =
    runOp(q.name, q.module, round, q.memos, s)(SparkEntry.queries(q.name)(s, data)) {
      (df, id) =>
        if (workload == "capture") df.write.mode("overwrite").parquet(s"$work/out/$id")
        else df.write.format("noop").mode("overwrite").save()
    }(_ => None)

  /** A warm-up op: the query on the warm-up inputs, its result written
    * as parquet for the output check. */
  private def warmOp(q: Query, s: SparkSession): OpRec =
    runOp(q.name, q.module, -1, Nil, s)(SparkEntry.queries(q.name)(s, warmData)) {
      (df, _) => df.write.mode("overwrite").parquet(s"$work/warm/${q.name}")
    }(_ => None)

  private val catalogRoots = mutable.Map.empty[Int, Seq[(String, Seq[String])]]

  /** Roots for impact analysis: source datasets and source columns whose
    * lineage reaches the last layer, so every closure walks the same
    * number of levels whatever the seed picks. */
  private lazy val (deepDatasets, deepColumns) = {
    val last = dag.layers.size - 1
    def deep(g: Map[String, Set[String]], r: String) = dag.bfs(g, r).values.max == last
    (dag.layers(0).filter(deep(dag.edges, _)),
      dag.layers(0).flatMap(d => dag.columns(d).map(c => s"$d.$c")).filter(deep(dag.columnEdges, _)))
  }

  /** The seeded (kind, roots) ops of one catalog round: four calls whose
    * kinds continue the cycle of the previous round. */
  private def catalogRound(round: Int): Seq[(String, Seq[String])] =
    catalogRoots.getOrElseUpdate(round, {
      val rng = new Random(seed * 7919L + round)
      def pick(xs: IndexedSeq[String]) = xs(rng.nextInt(xs.size))
      val kinds = Workloads.catalogKinds
      val ops = (0 until 4).map(i => kinds(Math.floorMod(4 * round + i, kinds.size))).map {
        case "downstream" => "downstream" -> Seq(pick(deepDatasets))
        case "columns" => "columns" -> Seq(pick(deepColumns))
        case k => k -> Seq.fill(3)(pick(deepColumns)).distinct
      }
      rng.shuffle(ops)
    })

  private def catalogOp(kind: String, roots: Seq[String], round: Int, s: SparkSession): OpRec =
    runOp(kind, "LineageGraph", round, Nil, s)(kind match {
      case "downstream" => LineageGraph.downstreamCatalog(s, catalogPath, roots.head)
      case "columns" => LineageGraph.downstreamColumnsCatalog(s, catalogPath, roots.head)
      case _ => LineageGraph.piiTaintCatalog(s, catalogPath, roots)
    })((df, _) => df.collect()) { res =>
      val rows = res.asInstanceOf[Array[org.apache.spark.sql.Row]]
      val got: Set[(String, String, Int)] = kind match {
        case "pii" => rows.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
        case _ => rows.map(r => (roots.head, r.getString(0), r.getInt(1))).toSet
      }
      val g = if (kind == "downstream") dag.edges else dag.columnEdges
      val want = roots.flatMap(r => dag.bfs(g, r).map { case (n, d) => (r, n, d) }).toSet
      if (got == want) None
      else Some(s"closure mismatch: ${got.size} rows vs ${want.size} reference, " +
        s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
    }

  private def prepare(): Unit =
    if (workload == "catalog") {
      Files.deleteIfExists(Paths.get(catalogPath))
      val w = new JsonlFileSink(catalogPath)
      dag.records.foreach(w.emit)
      w.close()
    }

  /** Warm-up (JIT and codegen cache): every curation query on the small
    * inputs (sf0.01), whose outputs are the ones checked, since timed
    * curation ops write `noop`; the first capture query of four operator
    * modules; or three closures. Warm-up ops are mostly driver work
    * (planning, code generation, scheduling) on little data, so two
    * clients issue them; nothing of them is measured but their outputs. */
  private def warmup(): Unit = {
    val tasks: Seq[() => OpRec] = workload match {
      case "catalog" => catalogRound(-1).take(3).map { case (k, r) => () => catalogOp(k, r, -1, spark) }
      case "curation" => queries.map(q => () => warmOp(q, spark))
      case _ => queries.distinctBy(_.module).take(4).map(q => () => warmOp(q, spark))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try tasks.map(f => pool.submit(new java.util.concurrent.Callable[OpRec] { def call() = f() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  /** One round: every op of the workload once, in a seeded order. A
    * curation round runs in a fresh session, so each shared artifact is
    * built once by its first consumer and hit by the others. */
  private def round(r: Int): Unit = workload match {
    case "curation" =>
      detachAll()
      spark = spark.newSession()
      attach(spark)
      // initialise the new session's state outside any op: a session's
      // one-time cost is not the cost of whichever query runs first
      spark.range(1).queryExecution.executedPlan
      perm(queries, r).foreach(queryOp(_, r, spark))
    case "capture" => perm(queries, r).foreach(queryOp(_, r, spark))
    case "catalog" => catalogRound(r).foreach { case (k, roots) => catalogOp(k, roots, r, spark) }
  }

  // ---- run -------------------------------------------------------------

  def run(): Unit = {
    Files.createDirectories(Paths.get(work))
    // Set-up, from the JVM's launch to the first timed op: session,
    // graft installed, inputs, warm-up.
    spark = session()
    spark.sparkContext.addSparkListener(new SparkProbe(rec))
    attach(spark)
    prepare()
    warmup()
    quiesce()
    rec.clear()
    val artifactsBefore = Workloads.artifactRuns()
    val rounds = math.max(1, math.round(seconds / Workloads.roundSeconds(workload)).toInt)
    val timedStart = Clock.us()
    val setupS = (timedStart - launchUs) / 1e6
    (0 until rounds).foreach(round)
    val timedEnd = Clock.us()
    quiesce()
    val artifactsAfter = Workloads.artifactRuns()

    detachAll()

    // Every record the sink wrote must parse under the catalog schema.
    val parsed = LineageCatalog.loadDf(spark, lineagePath)
      .select(col("durationNs"), col("status"), size(col("inputs")).as("n_inputs"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        Option(r.getString(1)), if (r.isNullAt(2)) -1 else r.getInt(2)))
    val byDuration = parsed.groupBy(_._1)
    val tagged = Collections.list(rec.qeEvents).filter(_.tagged).groupBy(_.op)
    val arrivals = Collections.list(rec.arrivals)
    val arrivalBy = arrivals.groupBy(_.durationNs)
    val lineageCheck = ops.map { o =>
      val evs = tagged.getOrElse(o.id, Nil)
      val res: Either[String, Double] =
        if (o.error.isDefined) Left("op failed")
        else if (evs.size != 1) Left(s"${evs.size} listener callbacks for the last action")
        else {
          val d = evs.head.durationNs
          val recs = byDuration.getOrElse(d, Array.empty)
          val needInputs = workload != "catalog"
          if (recs.length != 1) Left(s"${recs.length} records for the last action")
          else if (!recs.head._2.contains("success")) Left(s"record status ${recs.head._2}")
          else if (needInputs && recs.head._3 <= 0) Left("record has no inputs")
          else arrivalBy.get(d) match {
            case Some(a) => Right((a.head.endUs - o.endUs) / 1000.0)
            case None => Left("record never reached the sink")
          }
        }
      o.id -> res
    }.toMap

    spark.catalog.clearCache()
    val storage = spark.sparkContext.getRDDStorageInfo
    val retained = storage.map(i => i.memSize + i.diskSize).sum
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS,
      "timed_start_us" -> timedStart, "timed_end_us" -> timedEnd, "rounds" -> rounds,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "vmhwm_kb" -> hwmKb,
      "artifacts" -> Map(
        "builds" -> artifactsAfter.map { case (k, v) => k -> (v - artifactsBefore(k)) },
        "retained_bytes" -> retained, "retained_rdds" -> storage.length),
      "warm_ops" -> warm.map(o => Map("name" -> o.name, "error" -> o.error.orElse(o.verify),
        "wall_ms" -> (o.endUs - o.startUs) / 1000.0)),
      "oracle_sql" -> queries.map(q => q.name -> SparkEntry.oracleSql(q.name)).toMap,
      "records_parsed" -> parsed.length,
      "records_malformed" -> parsed.count(_._2.isEmpty),
      "sink_file_bytes" -> Files.size(Paths.get(lineagePath)),
      "ops" -> ops.map(o => opJson(o, lineageCheck(o.id))),
      "qe_events" -> Collections.list(rec.qeEvents).map(e => Map(
        "op" -> e.op, "tagged" -> e.tagged, "func" -> e.funcName, "ok" -> e.ok,
        "duration_ns" -> e.durationNs, "start_us" -> e.startUs, "end_us" -> e.endUs,
        "phases" -> e.phases, "split" -> e.split)),
      "arrivals" -> arrivals.map(a => Map("duration_ns" -> a.durationNs, "status" -> a.status,
        "start_us" -> a.startUs, "end_us" -> a.endUs, "to_json_ms" -> a.toJsonMs)),
      "jobs" -> Collections.list(rec.jobs.values).map(j => Map("id" -> j.id, "op" -> j.op,
        "start_us" -> j.startUs, "end_us" -> j.endUs)),
      "stages" -> Collections.list(rec.stages).map(s => Map("id" -> s.id, "op" -> s.op,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "scans_files" -> s.scansFiles)),
      "tasks" -> Collections.list(rec.taskAgg.entrySet).map(e => e.getKey -> {
        val a = e.getValue
        Map("tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
          "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
          "spill" -> a.spill, "peak_mem" -> a.peakMem, "bytes_written" -> a.bytesWritten)
      }).toMap,
      "spans" -> Collections.list(rec.spans).map(s => Map("id" -> s.id, "name" -> s.name,
        "op" -> s.op, "parent" -> s.parent, "start_us" -> s.startUs, "end_us" -> s.endUs)),
      "trace_cost_us" -> rec.traceCostUs.get)
    Files.writeString(Paths.get(s"$work/raw.json"), Json(raw + ("post_s" -> (Clock.us() - timedEnd) / 1e6)))
    sink.close()
    spark.stop()
  }

  private def opJson(o: OpRec, lineage: Either[String, Double]): Map[String, Any] = Map(
    "id" -> o.id, "name" -> o.name, "module" -> o.module, "round" -> o.round,
    "start_us" -> o.startUs, "built_us" -> o.builtUs, "end_us" -> o.endUs,
    "error" -> o.error, "verify" -> o.verify, "out" -> o.out, "levels" -> o.levels,
    "memo" -> o.memo, "span" -> o.spanId,
    "lineage_error" -> lineage.left.toOption, "lag_ms" -> lineage.toOption)
}
