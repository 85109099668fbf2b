package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.lineage.{ColumnLineage, LineageRecord, LineageSink, PlanExtractor}
import graft.meta.MetadataExtractor
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds at `System.nanoTime` resolution, so driver-side
  * intervals and Spark's epoch-millisecond event times share one axis. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def us(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** The op a DataFrame's final action belongs to is carried by a
  * `SubqueryAlias` named after it: the analyzer keeps the alias in the
  * plan every listener sees, and the optimizer removes it before
  * execution, so the tag costs the query nothing. */
object OpTag {
  private val Prefix = "perfbench_op_"
  def alias(op: String): String = Prefix + op
  def of(qe: QueryExecution): Option[String] =
    try qe.analyzed.collectFirst {
      case s: SubqueryAlias if s.alias.startsWith(Prefix) => s.alias.stripPrefix(Prefix)
    } catch { case _: Throwable => None }
}

/** One QueryExecutionListener callback, as seen by the probes installed
  * before (`startUs`) and after (`endUs`) graft's `LineageListener` on
  * the same session: the gap is the listener's record build. */
final case class QeEvent(
    op: String, tagged: Boolean, funcName: String, ok: Boolean, durationNs: Long,
    startUs: Long, endUs: Long, phases: Map[String, (Long, Long)],
    split: Map[String, Double])

/** One record handed to the sink, with the time the wrapped sink spent
  * writing it and (traced runs) the cost of its JSON rendering. */
final case class Arrival(durationNs: Long, status: String, startUs: Long, endUs: Long,
    toJsonMs: Double)

final case class JobRec(id: Int, op: String, startUs: Long, var endUs: Long)

final case class StageRec(id: Int, op: String, startUs: Long, endUs: Long, scansFiles: Boolean)

/** Task-metric totals per op (spark layer). */
final class TaskAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
  var bytesWritten = 0L
}

final case class Span(id: Long, name: String, op: String, parent: Long, startUs: Long, endUs: Long)

/** Everything the probes observe during one benchmark run. All
  * collections are append-only and thread-safe: the op thread, Spark's
  * listener bus and the async sink thread write concurrently. */
final class Recorder(val traced: Boolean) {
  @volatile var currentOp: String = "setup"
  val qeEvents = new ConcurrentLinkedQueue[QeEvent]()
  val arrivals = new ConcurrentLinkedQueue[Arrival]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val stageOp = new ConcurrentHashMap[Int, String]()
  val taskAgg = new ConcurrentHashMap[String, TaskAgg]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong(0)
  private val preSeen = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  // op -> durationNs of its last action, and the durations that arrived
  private val lastActions = new ConcurrentHashMap[String, java.lang.Long]()
  private val arrived = new java.util.HashSet[Long]()
  /** Microseconds spent inside trace-only instrumentation. */
  val traceCostUs = new AtomicLong(0)
  val jobEnds = new AtomicLong(0)

  def nextSpanId(): Long = spanIds.incrementAndGet()
  def span(name: String, op: String, parent: Long, startUs: Long, endUs: Long): Long = {
    val id = nextSpanId()
    if (traced) spans.add(Span(id, name, op, parent, startUs, endUs))
    id
  }

  def pre(qe: QueryExecution): Unit = preSeen.put(qe, Clock.us())

  def post(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val end = Clock.us()
    val start = Option(preSeen.remove(qe)).map(_.longValue).getOrElse(end)
    val tag = OpTag.of(qe)
    val phases = try qe.tracker.phases.map { case (k, v) =>
      k -> ((v.startTimeMs * 1000L, v.endTimeMs * 1000L)) }
    catch { case _: Throwable => Map.empty[String, (Long, Long)] }
    qeEvents.add(QeEvent(tag.getOrElse(currentOp), tag.isDefined, funcName, ok,
      durationNs, start, end, phases, if (traced) lineageSplit(qe) else Map.empty))
    tag.foreach(t => lastActions.put(t, durationNs))
  }

  /** Traced runs only: re-run the record-build phases graft's listener
    * runs on this action, through the same public entry points, to split
    * its build time by phase. */
  private def lineageSplit(qe: QueryExecution): Map[String, Double] = {
    val t0 = System.nanoTime()
    def timed(f: => Any): Double = {
      val s = System.nanoTime(); try f catch { case _: Throwable => () }
      (System.nanoTime() - s) / 1e6
    }
    val analyzed = qe.analyzed
    val m = Map(
      "inputs" -> timed(PlanExtractor.inputs(analyzed)),
      "column_lineage" -> timed(ColumnLineage.forPlan(analyzed)),
      "schema_fp" -> timed(MetadataExtractor.schemaFingerprint(
        PlanExtractor.queryBody(analyzed).schema)))
    traceCostUs.addAndGet((System.nanoTime() - t0) / 1000L)
    m
  }

  def arrive(a: Arrival): Unit = {
    arrivals.add(a)
    arrived.synchronized(arrived.add(a.durationNs))
  }

  /** The client waits for its op's lineage record to reach the sink
    * before issuing the next op (read-your-lineage), so the record's
    * build never competes with the next op. */
  def awaitRecord(op: String, timeoutMs: Long): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def landed = Option(lastActions.get(op))
      .exists(d => arrived.synchronized(arrived.contains(d.longValue)))
    while (!landed && System.nanoTime() < deadline)
      java.util.concurrent.locks.LockSupport.parkNanos(100000L)
  }

  def clear(): Unit = {
    qeEvents.clear(); arrivals.clear(); jobs.clear(); stages.clear()
    stageOp.clear(); taskAgg.clear(); spans.clear(); preSeen.clear()
    arrived.synchronized(arrived.clear()); lastActions.clear()
    traceCostUs.set(0); jobEnds.set(0)
  }
}

/** Registered before `Lineage.install` on a session: stamps when the
  * listener bus starts delivering an action's callback. */
final class PreProbe(rec: Recorder) extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec.pre(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec.pre(qe)
}

/** Registered after `Lineage.install`: stamps when graft's listener has
  * built and queued the record, and reads Catalyst's phase tracker. */
final class PostProbe(rec: Recorder) extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    rec.post(f, qe, d, ok = true)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    rec.post(f, qe, 0L, ok = false)
}

/** Wraps the user's sink: `Lineage.install` puts graft's `AsyncSink`
  * in front of it, so `emit` runs on the async sink thread and its
  * entry is the record's arrival after the queue. */
final class TimingSink(delegate: LineageSink, rec: Recorder) extends LineageSink {
  override def emit(r: LineageRecord): Unit = {
    val t0 = Clock.us()
    val toJsonMs = if (rec.traced) {
      val s = System.nanoTime(); r.toJson; (System.nanoTime() - s) / 1e6
    } else 0.0
    if (rec.traced) rec.traceCostUs.addAndGet((toJsonMs * 1000).toLong)
    delegate.emit(r)
    rec.arrive(Arrival(r.durationNs, r.status, t0, Clock.us(), toJsonMs))
  }
  override def close(): Unit = delegate.close()
}

/** Jobs, stages and task metrics, attributed to the op whose thread
  * submitted them (the `perfbench.op` local property). */
final class SparkProbe(rec: Recorder) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      .getOrElse("unattributed")
    rec.jobs.put(e.jobId, JobRec(e.jobId, op, e.time * 1000L, -1L))
    e.stageIds.foreach(s => rec.stageOp.put(s, op))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(rec.jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
    rec.jobEnds.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val op = Option(rec.stageOp.get(si.stageId)).getOrElse("unattributed")
    val scans = si.rddInfos.exists(_.name.contains("FileScanRDD"))
    rec.stages.add(StageRec(si.stageId, op,
      si.submissionTime.getOrElse(0L) * 1000L, si.completionTime.getOrElse(0L) * 1000L, scans))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val op = Option(rec.stageOp.get(e.stageId)).getOrElse("unattributed")
      val a = rec.taskAgg.computeIfAbsent(op, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Minimal JSON rendering for the raw run file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case (a, b) => apply(Seq(a, b))
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Collections {
  def list[T](q: java.util.Collection[T]): List[T] = q.asScala.toList
}
