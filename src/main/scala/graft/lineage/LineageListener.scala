package graft.lineage

import scala.util.control.NonFatal

import graft.meta.MetadataExtractor
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's heart: a `QueryExecutionListener` that turns every Spark
  * SQL action into a `LineageRecord` — inputs (with pruned columns),
  * output target, column-level lineage, schema fingerprint, run metrics —
  * and fans it out to the configured sinks.
  *
  * Guarantees: never throws into the query path; extraction is
  * driver-side plan walking only (zero executor/data-path overhead).
  */
final class LineageListener(private[lineage] val sinks: Seq[LineageSink]) extends QueryExecutionListener {

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    safeEmit(build(funcName, qe, durationNs, None))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    safeEmit(build(funcName, qe, 0L, Some(exception)))

  private def safeEmit(r: => Option[LineageRecord]): Unit =
    try r.foreach(rec => sinks.foreach(s => try s.emit(rec) catch { case NonFatal(_) => () }))
    catch { case NonFatal(_) => () }

  /** Every node of the executed plan, INCLUDING the subtrees hidden
    * behind adaptive-execution leaves: `AdaptiveSparkPlanExec` and each
    * `QueryStageExec` are leaf nodes to `collect`, so any write whose
    * child contains an exchange (AQE wraps it by default) would
    * otherwise hide all of its scans — exactly the expensive queries
    * whose metrics matter. The listener fires post-execution, so the
    * adaptive plan is final.
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case q: QueryStageExec        => q +: allNodes(q.plan)
      case n                        => Seq(n)
    }

  private def build(
      funcName: String,
      qe: QueryExecution,
      durationNs: Long,
      error: Option[Exception]): Option[LineageRecord] = {
    val spark = qe.sparkSession
    val analyzed = qe.analyzed
    val shape = PlanShape.of(analyzed)
    val rows = try {
      qe.executedPlan.metrics.get("numOutputRows").map(_.value)
    } catch { case NonFatal(_) => None }
    // Executed-plan metrics: numOutputBytes is populated by the write-path
    // stats tracker on the root command node; filesSize is each scan's
    // post-pruning input size — summed over scans = bytes read.
    val bytesOut = try {
      qe.executedPlan.metrics.get("numOutputBytes").map(_.value)
    } catch { case NonFatal(_) => None }
    val planNodes = try allNodes(qe.executedPlan) catch { case NonFatal(_) => Seq.empty }
    val bytesIn = {
      val vals = planNodes.collect {
        case p if p.metrics.contains("filesSize") => p.metrics("filesSize").value
      }
      if (vals.nonEmpty) Some(vals.sum) else None
    }
    // Per-entity attribution: each file scan's (filesSize, numOutputRows,
    // partition filters, partitions read) keyed by the same name
    // PlanExtractor derives from the logical relation — table identifier
    // when cataloged, root path(s) otherwise. Two scans of one entity
    // (self-join) sum counts and union filters. Partition evidence comes
    // from the PHYSICAL scan: pruning predicates live in
    // FileSourceScanExec.partitionFilters and the post-pruning partition
    // count in its driver-side numPartitions metric (present only on
    // Hive-partitioned layouts).
    case class ScanStat(bytes: Long, rows: Long,
        partFilters: Seq[String], parts: Option[Long])
    val scanStats: Map[String, ScanStat] = planNodes
      .collect {
        case f: FileSourceScanExec =>
          val name = PlanExtractor.fileRelationName(f.tableIdentifier, f.relation)
          val filters = try f.partitionFilters.map(_.sql)
            catch { case NonFatal(_) => Seq.empty[String] }
          name -> ScanStat(
            f.metrics.get("filesSize").map(_.value).getOrElse(0L),
            f.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
            filters,
            f.metrics.get("numPartitions").map(_.value))
      }
      .groupBy(_._1)
      .map { case (n, xs) =>
        val ss = xs.map(_._2)
        n -> ScanStat(ss.map(_.bytes).sum, ss.map(_.rows).sum,
          ss.flatMap(_.partFilters).distinct,
          if (ss.exists(_.parts.isDefined)) Some(ss.flatMap(_.parts).sum) else None)
      }
    val inputs = PlanExtractor.inputs(analyzed).map { in =>
      scanStats.get(in.name) match {
        case Some(st) => in.copy(bytesRead = Some(st.bytes), rowsRead = Some(st.rows),
          partitionFilters = st.partFilters, partitionsRead = st.parts)
        case None => in
      }
    }
    // dynamic-partition writes report how many partition dirs the commit
    // touched (the write stats tracker's numParts metric)
    val partsWritten = try {
      qe.executedPlan.metrics.get("numParts").map(_.value).filter(_ > 0)
    } catch { case NonFatal(_) => None }
    // Executor-level run metrics (r11 VERDICT item 4): the catalog
    // question "which job blew up the cluster" needs shuffle and memory
    // pressure, not just rows/bytes. Summed over the SAME AQE-aware node
    // walk as the scan stats, deduped by accumulator id — a
    // ReusedExchangeExec shares its child's SQLMetric objects, so
    // summing by node would double-count every reused exchange. Size
    // metrics initialize to -1 ("no task updated me"); those are
    // filtered, and a query with no matching metric at all reports None
    // (a scan-only plan has no exchange: shuffle fields stay null
    // rather than lying 0).
    def sumMetric(names: String*): Option[Long] = try {
      val ms = planNodes
        .flatMap(n => names.flatMap(n.metrics.get))
        .distinctBy(_.id)
        .map(_.value).filter(_ >= 0L)
      if (ms.isEmpty) None else Some(ms.sum)
    } catch { case NonFatal(_) => None }
    val shufWrite = sumMetric("shuffleBytesWritten")
    val shufRead  = sumMetric("localBytesRead", "remoteBytesRead")
    // per-operator task peaks summed = the plan's aggregate memory
    // footprint (each SQLMetric already sums its per-task peaks)
    val peakMem   = sumMetric("peakMemory")
    val spilled   = sumMetric("spillSize")
    Some(LineageRecord(
      appId = spark.sparkContext.applicationId,
      appName = spark.sparkContext.appName,
      user = spark.sparkContext.sparkUser,
      funcName = funcName,
      status = if (error.isEmpty) "success" else "failure",
      error = error.map(e => Option(e.getMessage).getOrElse(e.getClass.getName)),
      durationNs = durationNs,
      timestampMs = System.currentTimeMillis(),
      inputs = inputs,
      output = PlanExtractor.output(analyzed)
        .map(o => if (partsWritten.isDefined) o.copy(partitionsWritten = partsWritten) else o),
      outputColumns = shape.outputColumns,
      columnLineage = shape.columnLineage,
      schemaFingerprint = shape.schemaFingerprint,
      rowsWritten = rows,
      bytesWritten = bytesOut,
      bytesRead = bytesIn,
      shuffleBytesWritten = shufWrite,
      shuffleBytesRead = shufRead,
      peakMemoryBytes = peakMem,
      spillBytes = spilled,
      planFingerprint = LineageListener.planFingerprint(analyzed),
      queryText = LineageListener.queryText(spark, analyzed),
      observed = LineageListener.harvestObserved(qe)))
  }
}

/** What a record says about an action's result: output column names,
  * column lineage and schema fingerprint. Columns and schema come from
  * the query body below any write command (a write node has no output
  * attributes), so batch writes, plain actions and streaming
  * micro-batches (whose analyzed root is a `WriteToStream`) agree. */
private[lineage] final case class PlanShape(outputColumns: Seq[String],
    columnLineage: Seq[ColumnMapping], schemaFingerprint: String)

private[lineage] object PlanShape {
  val empty: PlanShape = PlanShape(Nil, Nil, "")

  def of(analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): PlanShape = {
    val body = PlanExtractor.queryBody(analyzed)
    PlanShape(body.output.map(_.name), ColumnLineage.forPlan(analyzed),
      MetadataExtractor.schemaFingerprint(body.schema))
  }
}

object LineageListener {

  /** `Dataset.observe()` metrics of the finished run, flattened to
    * (metricSet.column, value-string) entries — the in-plan data-quality
    * gate values (CollectMetrics accumulates them executor-side for
    * free; no extra pass over the data). Sorted for record determinism.
    */
  private[lineage] def harvestObserved(qe: QueryExecution): Seq[Observed] =
    try {
      qe.observedMetrics.toSeq.flatMap { case (name, row) =>
        row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          Observed(s"$name.$f", String.valueOf(row.get(i)))
        }
      }.sortBy(_.name)
    } catch { case NonFatal(_) => Seq.empty }

  /** Cap on the recorded query text — a catalog field, not a plan dump.
    * 8 KiB holds any hand-written SQL and the head of a generated plan;
    * a million-record JSONL catalog stays loadable. */
  private[lineage] val QUERY_TEXT_MAX = 8192

  /** Credential shapes masked even when the session sets no redaction
    * regex — `k=v` pairs whose key smells like a secret (JDBC URLs,
    * option maps rendered into plan strings). */
  private val CREDENTIAL_RE =
    "(?i)\\b(password|passwd|secret|token|credential|access[._-]?key|api[._-]?key)\\b\\s*[=:]\\s*[^,;\\s)\"]+".r

  /** The record's "what did this job DO" field: the ORIGINAL SQL text
    * when the plan was parsed from SQL (`Origin.sqlText`, present on
    * `spark.sql(...)` plans), else a plan excerpt — the analyzed plan's
    * node tree, which names every operation, table and expression the
    * job ran. Both are sanitized (the session's
    * `spark.sql.redaction.string.regex` plus the built-in credential
    * mask) and hard-capped at [[QUERY_TEXT_MAX]] chars with an explicit
    * truncation marker, so a 10k-column plan can't bloat the catalog.
    */
  private[lineage] def queryText(
      spark: org.apache.spark.sql.SparkSession,
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] =
    try {
      val sql = analyzed.collectFirst {
        case n if n.origin.sqlText.isDefined => n.origin.sqlText.get
      }
      val raw = sql match {
        case Some(text) => "sql: " + text
        case None       => "plan: " + analyzed.toString
      }
      val masked = CREDENTIAL_RE.replaceAllIn(raw, m => m.group(1) + "=*REDACTED*")
      val redacted = spark.conf.getOption("spark.sql.redaction.string.regex") match {
        case Some(p) if p.nonEmpty =>
          try p.r.replaceAllIn(masked, "*REDACTED*") catch { case NonFatal(_) => masked }
        case _ => masked
      }
      Some(
        if (redacted.length <= QUERY_TEXT_MAX) redacted
        else redacted.take(QUERY_TEXT_MAX) + " ...[truncated]")
    } catch { case NonFatal(_) => None }

  /** Recurring-query identity for the catalog side: sha-256 of the
    * CANONICALIZED analyzed plan — `canonicalized` normalizes attribute
    * ids and alias names, so re-running the same job (fresh session,
    * fresh exprIds) yields the same fingerprint, while any structural
    * change (different filter, extra column, other table) changes it.
    * Literal-sensitive by design: a catalog wanting parameterized-job
    * grouping groups on (inputs, outputs, columnLineage) instead.
    */
  private[lineage] def planFingerprint(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String =
    try MetadataExtractor.sha256Hex(analyzed.canonicalized.toString)
    catch { case NonFatal(_) => "" }
}

/** One-line enablement, mirroring the reference's install-and-forget UX.
  * Sinks are wrapped in [[AsyncSink]] so emission is non-blocking for the
  * query path; use `installSync` when deterministic in-line delivery is
  * wanted (tests). Both variants also attach a
  * [[StreamingLineageListener]] to the same sinks, so Structured
  * Streaming writes (invisible to `QueryExecutionListener`) appear in
  * the same lineage feed.
  */
object Lineage {
  // batch listener -> its paired streaming listener, so uninstall can
  // detach both given only the value install returned
  private val streamingFor =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[LineageListener, StreamingLineageListener]())

  def install(spark: SparkSession, sinks: LineageSink*): LineageListener = {
    val effective = if (sinks.nonEmpty) sinks else Seq(new Slf4jSink)
    register(spark, new LineageListener(effective.map(new AsyncSink(_))))
  }

  /** Synchronous variant: records reach the given sinks on the listener
    * bus thread itself (still off the query's action thread). */
  def installSync(spark: SparkSession, sinks: LineageSink*): LineageListener = {
    val effective = if (sinks.nonEmpty) sinks else Seq(new Slf4jSink)
    register(spark, new LineageListener(effective))
  }

  /** Batch-only install for the auto-attach extensions path: the
    * streaming listener is NOT registered here. `spark.streams
    * .addListener` pins the session's StreamingQueryListenerBus onto the
    * SparkContext-wide LiveListenerBus with no automatic detach, so a
    * JVM churning through sessions that never stream would accumulate a
    * bus registration per session. The extension attaches streaming
    * lazily via [[attachStreaming]] on the first analyzed streaming
    * plan instead (see `GraftExtensions`). */
  private[graft] def installBatch(spark: SparkSession): LineageListener = {
    val l = new LineageListener(Seq(new AsyncSink(new Slf4jSink)))
    spark.listenerManager.register(l)
    l
  }

  /** Idempotent: attach the streaming bridge for `l` to this session's
    * streaming listener bus (at most once per batch listener). */
  private[graft] def attachStreaming(spark: SparkSession, l: LineageListener): Unit =
    streamingFor.computeIfAbsent(l, _ => {
      val sl = new StreamingLineageListener(spark, l.sinks)
      spark.streams.addListener(sl)
      sl
    })

  /** Whether `l` has a streaming bridge attached (leak/laziness specs). */
  private[graft] def streamingAttached(l: LineageListener): Boolean =
    streamingFor.containsKey(l)

  private def register(spark: SparkSession, l: LineageListener): LineageListener = {
    spark.listenerManager.register(l)
    attachStreaming(spark, l)
    l
  }

  /** Fully detaches both listeners. NOTE for explicitly-installed
    * listeners this is required for complete detach: the streaming bus
    * registration (context-wide) is not weakly held by Spark, so a
    * session dropped without `uninstall` leaves its streaming listener
    * on the shared bus. */
  def uninstall(spark: SparkSession, l: LineageListener): Unit = {
    spark.listenerManager.unregister(l)
    Option(streamingFor.remove(l)).foreach(spark.streams.removeListener)
  }
}
