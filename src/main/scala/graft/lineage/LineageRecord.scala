package graft.lineage

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Structured lineage/metadata record emitted once per Spark SQL action —
  * the engine's equivalent of the reference listener's report payload.
  * These case classes are the record's only format statement: the JSONL
  * line ([[LineageRecord.toJson]]), the catalog schema and the catalog
  * reader ([[LineageCatalog]]) all derive from them, so a new field is
  * added here and nowhere else.
  */
final case class InputEntity(
    kind: String,            // "path" | "table" | "v2" | "inline"
    name: String,            // path(s) or catalog identifier
    format: Option[String],  // parquet/csv/... when known
    columnsRead: Seq[String],// pruned column set actually referenced
    bytesRead: Option[Long] = None, // this entity's scan filesSize (post-pruning)
    rowsRead: Option[Long] = None,  // rows its scan produced (post-pushdown)
    // Hive-partition pruning evidence: the partition predicates the scan
    // applied, and how many partitions it actually read after pruning
    partitionFilters: Seq[String] = Nil,
    partitionsRead: Option[Long] = None
)

final case class OutputEntity(
    kind: String,           // "path" | "table" | "v2"
    name: String,
    format: Option[String],
    mode: Option[String],   // append/overwrite/... when known
    // Hive-partitioned write evidence: layout columns, any static
    // partition pins ("col=val"), and how many partition directories the
    // committed write actually touched
    partitionColumns: Seq[String] = Nil,
    staticPartitions: Seq[String] = Nil,
    partitionsWritten: Option[Long] = None
)

final case class ColumnMapping(
    output: String,
    sources: Seq[String], // "table_or_path.column"
    // derivation expression (Catalyst SQL) when the column is COMPUTED;
    // None for identity reads and pure renames — rename chains resolve
    // through to the underlying derivation or source column
    expression: Option[String] = None
)

final case class LineageRecord(
    appId: String,
    appName: String,
    user: String,
    funcName: String,          // collect/save/count/... (the triggering action)
    status: String,            // "success" | "failure"
    error: Option[String],
    durationNs: Long,
    timestampMs: Long,
    inputs: Seq[InputEntity],
    output: Option[OutputEntity],
    outputColumns: Seq[String],
    columnLineage: Seq[ColumnMapping],
    schemaFingerprint: String,
    rowsWritten: Option[Long],
    bytesWritten: Option[Long] = None,
    bytesRead: Option[Long] = None,
    // Executor-level pressure of the run, aggregated over the executed
    // plan's SQL metrics (AQE-aware, reuse-deduped): total shuffle bytes
    // written / read across all exchanges, the sum of per-operator
    // per-task peak execution memory, and bytes spilled to disk. None =
    // the plan had no operator carrying that metric (scan-only plans
    // have no exchange), NOT zero observed.
    shuffleBytesWritten: Option[Long] = None,
    shuffleBytesRead: Option[Long] = None,
    peakMemoryBytes: Option[Long] = None,
    spillBytes: Option[Long] = None,
    planFingerprint: String = "",
    // "What did this job DO?" — the catalog user's first question at an
    // unexpected record. The original SQL text when the plan was parsed
    // from SQL (Origin.sqlText), else a one-line-per-node excerpt of the
    // analyzed plan. Sanitized (session redaction regex + credential
    // patterns masked) and length-capped at the emitter, never raw.
    queryText: Option[String] = None,
    // Dataset.observe() metrics harvested from the run — the in-plan
    // data-quality gates (row counts, violation sums) a pipeline attaches
    // with CollectMetrics, flowing to the catalog with the run record
    observed: Seq[Observed] = Seq.empty
) {

  /** One JSONL catalog line: every field under its case-class name, in
    * declaration order, `None` as `null`. */
  def toJson: String = LineageJson.mapper.writeValueAsString(this)
}

/** One `Dataset.observe()` metric of a run (`metricSet.column`, value). */
final case class Observed(name: String, value: String)

/** The one JSON writer for everything graft emits: records, OpenLineage
  * events and `Verify`'s oracle file. Configured once, then only read,
  * so every thread shares it. */
private[graft] object LineageJson {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
