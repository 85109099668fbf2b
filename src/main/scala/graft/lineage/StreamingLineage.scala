package graft.lineage

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming half of the lineage surface: `QueryExecutionListener` never
  * fires for Structured Streaming writes, so without this bridge every
  * incremental pipeline runs invisible to the engine's own lineage
  * records. Each `StreamingQueryProgress` (one per micro-batch) becomes a
  * `LineageRecord`: sources with per-source rows read, the sink as output
  * entity, rows written, the trigger's execution time — and the query's
  * COLUMN lineage + schema fingerprint, resolved once per run from the
  * micro-batch's `IncrementalExecution` (a `QueryExecution`, so the
  * batch listener's [[PlanShape]] applies verbatim;
  * the streaming DAG is fixed across batches, so one resolution per runId
  * is cached, not recomputed per micro-batch). A terminated query with an
  * exception emits a failure record.
  *
  * Installed alongside the batch listener by [[Lineage.install]] (and so
  * by `graft.plans.GraftExtensions`); shares the same sinks, so one
  * consumer sees batch and streaming lineage in one feed.
  */
final class StreamingLineageListener private (
    appId: String, appName: String, user: String, sinks: Seq[LineageSink],
    session: java.lang.ref.WeakReference[SparkSession])
  extends StreamingQueryListener {

  // capture identity STRINGS and a WEAK session ref, never the session
  // itself: streaming listeners end up on the SparkContext-wide listener
  // bus, so a strong reference here would pin every churned session
  // against GC (and defeat the weak-keyed registries in
  // Lineage/GraftExtensions). The weak ref is only dereferenced to look
  // up the running query's plan; a collected session simply degrades the
  // record to rows-only (column lineage empty), never an error.
  def this(spark: SparkSession, sinks: Seq[LineageSink]) =
    this(spark.sparkContext.applicationId, spark.sparkContext.appName,
      spark.sparkContext.sparkUser, sinks,
      new java.lang.ref.WeakReference(spark))

  /** Output columns + column lineage + schema fingerprint, per runId. */
  private val planInfo =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, PlanShape]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    safeEmit {
      val p = e.progress
      val inputs = p.sources.toSeq.map { s =>
        InputEntity("stream", s.description, None, Nil,
          rowsRead = Some(s.numInputRows).filter(_ >= 0L))
      }
      val rowsOut = Option(p.sink).map(_.numOutputRows).filter(_ >= 0L)
      val durNs = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue() * 1000000L).getOrElse(0L)
      val info = resolvePlanInfo(p.id, p.runId)
      // Watermark-lateness observability: every production stream
      // eventually needs to know how many rows its watermark silently
      // discarded — surfaced per micro-batch on the lineage record (the
      // monitoring twin of the batch listener's observe() gates).
      // numRowsDroppedByWatermark is summed across stateful operators;
      // the current watermark rides along so a consumer can correlate a
      // drop spike with a watermark jump.
      val dropped = p.stateOperators.toSeq.map(_.numRowsDroppedByWatermark).sum
      val observed =
        (if (p.stateOperators.nonEmpty)
          Seq(Observed("rowsDroppedByWatermark", dropped.toString)) else Nil) ++
        Option(p.eventTime.get("watermark")).map(Observed("watermark", _))
      LineageRecord(
        appId = appId,
        appName = appName,
        user = user,
        funcName = s"streaming:${p.name}:batch=${p.batchId}",
        status = "success",
        error = None,
        durationNs = durNs,
        timestampMs = System.currentTimeMillis(),
        inputs = inputs,
        output = Option(p.sink).map(s => OutputEntity("stream", s.description, None, None)),
        outputColumns = info.outputColumns,
        columnLineage = info.columnLineage,
        schemaFingerprint = info.schemaFingerprint,
        rowsWritten = rowsOut,
        observed = observed)
    }

  /** Resolve (and cache) the run's column lineage from the live query's
    * last micro-batch execution. Cached only on success, so a progress
    * event racing the first batch's execution retries on the next one.
    */
  private def resolvePlanInfo(id: java.util.UUID, runId: java.util.UUID): PlanShape = {
    val cached = planInfo.get(runId)
    if (cached != null) cached
    else {
      val computed =
        try {
          for {
            sess <- Option(session.get())
            query <- Option(sess.streams.get(id))
            exec <- lastExecution(query)
          } yield PlanShape.of(exec.analyzed)
        } catch { case NonFatal(_) => None }
      computed match {
        case Some(info) => planInfo.put(runId, info); info
        case None => PlanShape.empty
      }
    }
  }

  /** Unwrap the public handle to the engine's StreamExecution and take
    * its latest IncrementalExecution (null before the first batch). */
  private def lastExecution(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.execution.QueryExecution] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution)
    case se: org.apache.spark.sql.execution.streaming.runtime.StreamExecution =>
      Option(se.lastExecution)
    case _ => None
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    planInfo.remove(e.runId)
    e.exception.foreach { err =>
      safeEmit(LineageRecord(
        appId = appId,
        appName = appName,
        user = user,
        funcName = s"streaming:run=${e.runId}",
        status = "failure",
        error = Some(err),
        durationNs = 0L,
        timestampMs = System.currentTimeMillis(),
        inputs = Nil, output = None, outputColumns = Nil,
        columnLineage = Nil, schemaFingerprint = "", rowsWritten = None))
    }
  }

  private def safeEmit(r: => LineageRecord): Unit =
    try {
      val rec = r
      sinks.foreach(s => try s.emit(rec) catch { case NonFatal(_) => () })
    } catch { case NonFatal(_) => () }
}
