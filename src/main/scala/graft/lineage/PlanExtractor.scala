package graft.lineage

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation, SaveIntoDataSourceCommand}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.sources.BaseRelation

/** Logical-plan walkers extracting input/output entities from an analyzed
  * plan — the core of the reference's "metadata extraction from Spark
  * queries". Works purely on the analyzed `LogicalPlan`, so every API
  * (DataFrame, SQL, Dataset) is covered uniformly.
  */
object PlanExtractor {

  /** All source entities under `plan`, with the pruned column set each
    * contributes (columns referenced anywhere above the leaf; falls back
    * to the full output for pass-through scans like count(*) over *).
    * One entry per (kind, name, format): an entity scanned twice (a
    * self-join, a union of two projections of one file) is one input
    * whose columns are the union of both scans', in first-seen order —
    * per-entity scan stats and run diffs key inputs by name.
    */
  def inputs(plan: LogicalPlan): Seq[InputEntity] = {
    // subquery expressions (scalar / IN / EXISTS) hold whole plans of
    // their own — their scans are inputs too. V2 CTAS/RTAS are
    // AnalysisOnlyCommands whose children are HIDDEN post-analysis, so
    // the query body must be walked explicitly or their sources vanish.
    val body = queryBody(plan)
    val roots = if (body eq plan) Seq(plan) else Seq(plan, body)
    val plans = roots ++ roots.flatMap(_.subqueriesAll)
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[(String, String, Option[String]), InputEntity]
    plans.flatMap(inputsOf).foreach { in =>
      val key = (in.kind, in.name, in.format)
      merged(key) = merged.get(key).fold(in)(seen =>
        seen.copy(columnsRead = (seen.columnsRead ++ in.columnsRead).distinct))
    }
    merged.values.toSeq
  }

  private def inputsOf(plan: LogicalPlan): Seq[InputEntity] = {
    // union of attributes referenced by any non-leaf expression
    val referenced = AttributeSet(plan.collect {
      case p if p.children.nonEmpty => p.expressions.flatMap(_.references)
    }.flatten)

    plan.collect {
      case lr: LogicalRelation =>
        val cols = readColumns(lr.output, referenced)
        lr.relation match {
          case fs: HadoopFsRelation =>
            val kind = if (lr.catalogTable.isDefined) "table" else "path"
            InputEntity(kind, fileRelationName(lr.catalogTable.map(_.identifier), fs),
              Some(fs.fileFormat.toString.toLowerCase), cols)
          case other =>
            jdbcName(other) match {
              case Some(name) => InputEntity("jdbc", name, Some("jdbc"), cols)
              case None =>
                InputEntity("table",
                  lr.catalogTable.map(_.identifier.unquotedString).getOrElse(other.toString),
                  None, cols)
            }
        }
      case dv2: DataSourceV2Relation =>
        InputEntity("v2", dv2.name, None, readColumns(dv2.output, referenced))
      case ht: HiveTableRelation =>
        InputEntity("table", ht.tableMeta.identifier.unquotedString,
          ht.tableMeta.storage.serde, readColumns(ht.output, referenced))
      case _: LocalRelation =>
        InputEntity("inline", "local", None, Nil)
    }
  }

  /** An entity read through files: its catalog identifier when it has
    * one, else its root paths joined by `,`. The listener keys each
    * physical scan's stats by this same name. */
  private[lineage] def fileRelationName(table: Option[TableIdentifier], fs: HadoopFsRelation): String =
    table.map(_.unquotedString).getOrElse(fs.location.rootPaths.map(_.toString).mkString(","))

  /** A JDBC relation's stable, credential-free identity,
    * `scheme://host/db!table`; None for any other relation. */
  private def jdbcName(rel: BaseRelation): Option[String] =
    org.apache.spark.sql.GraftBridge.jdbcIdentity(rel)
      .map { case (url, table) => s"${scrubJdbcUrl(url)}!$table" }

  /** Credential-free JDBC url: drops the query string and any
    * user:password@ userinfo — secrets travel in url params
    * (`?user=u&password=p`) or userinfo, never in the scheme/host/db
    * path a catalog needs for identity. */
  private[lineage] def scrubJdbcUrl(url: String): String =
    url.split('?').head.split(';').head
      .replaceAll("//[^/@]*@", "//")

  private def readColumns(
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      referenced: AttributeSet): Seq[String] = {
    val used = output.filter(referenced.contains).map(_.name)
    if (used.nonEmpty) used else output.map(_.name)
  }

  /** The write target of `plan`, when the action is a write command. */
  def output(plan: LogicalPlan): Option[OutputEntity] = plan match {
    case c: InsertIntoHadoopFsRelationCommand =>
      Some(OutputEntity(
        if (c.catalogTable.isDefined) "table" else "path",
        c.catalogTable.map(_.identifier.unquotedString).getOrElse(c.outputPath.toString),
        Some(c.fileFormat.toString.toLowerCase), Some(c.mode.toString.toLowerCase),
        partitionColumns = c.partitionColumns.map(_.name),
        staticPartitions = c.staticPartitions.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }))
    case c: CreateDataSourceTableAsSelectCommand =>
      Some(OutputEntity("table", c.table.identifier.unquotedString,
        c.table.provider, Some(c.mode.toString.toLowerCase)))
    case c: SaveIntoDataSourceCommand =>
      // dataSource.toString is an object ref (unstable across runs);
      // prefer the target path/table/url from the save options
      val name = c.options.get("path")
        .orElse(c.options.get("dbtable"))
        .orElse(c.options.get("url"))
        .getOrElse(c.dataSource.getClass.getName)
      Some(OutputEntity("path", name,
        Some(c.dataSource.getClass.getSimpleName.toLowerCase),
        Some(c.mode.toString.toLowerCase)))
    case a: AppendData =>
      Some(OutputEntity("v2", a.table.name, None, Some("append")))
    case o: OverwriteByExpression =>
      Some(OutputEntity("v2", o.table.name, None, Some("overwrite")))
    case o: OverwritePartitionsDynamic =>
      Some(OutputEntity("v2", o.table.name, None, Some("overwrite_dynamic")))
    case c: CreateTableAsSelect =>
      Some(OutputEntity("v2", v2IdentName(c.name), None, Some("create")))
    case r: ReplaceTableAsSelect =>
      Some(OutputEntity("v2", v2IdentName(r.name), None, Some("replace")))
    // row-level V2 commands: the analyzed forms (DELETE/UPDATE/MERGE) and
    // the optimizer's row-level rewrites for tables that support them
    // (group-based ReplaceData, delta-based WriteDelta) — a MERGE-heavy
    // lakehouse writes through these, not AppendData
    case d: DeleteFromTable =>
      Some(OutputEntity("v2", v2TargetName(d.table), None, Some("delete")))
    case u: UpdateTable =>
      Some(OutputEntity("v2", v2TargetName(u.table), None, Some("update")))
    case m: MergeIntoTable =>
      Some(OutputEntity("v2", v2TargetName(m.targetTable), None, Some("merge")))
    case r: ReplaceData =>
      Some(OutputEntity("v2", v2TargetName(r.originalTable), None,
        Some("replace_data")))
    case w: WriteDelta =>
      Some(OutputEntity("v2", v2TargetName(w.originalTable), None,
        Some("write_delta")))
    case other =>
      other.children.iterator.map(output).collectFirst { case Some(o) => o }
  }

  /** Catalog-qualified name for a V2 CTAS/RTAS target (the `name` child
    * is a ResolvedIdentifier after analysis; its toString is an object
    * dump, not an identifier). */
  private def v2IdentName(name: LogicalPlan): String = name match {
    case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier =>
      s"${r.catalog.name}.${r.identifier}"
    case o => o.toString
  }

  /** Target name of a row-level command: the V2 relation under the
    * (possibly aliased) target plan. */
  private def v2TargetName(target: LogicalPlan): String =
    target.collectFirst { case dv2: DataSourceV2Relation => dv2.name }
      .getOrElse(leafName(target))

  /** The "query body" below any write command — what column lineage and
    * output columns should be computed against. */
  def queryBody(plan: LogicalPlan): LogicalPlan = plan match {
    case c: InsertIntoHadoopFsRelationCommand  => c.query
    case c: CreateDataSourceTableAsSelectCommand => c.query
    case c: SaveIntoDataSourceCommand          => c.query
    case a: AppendData                         => a.query
    case o: OverwriteByExpression              => o.query
    case o: OverwritePartitionsDynamic         => o.query
    case c: CreateTableAsSelect                => c.query
    case r: ReplaceTableAsSelect               => r.query
    // MERGE's "query" for lineage purposes is its source side; DELETE /
    // UPDATE have no separate query (conditions/assignments read the
    // target itself, which inputs() already walks). The row-level
    // rewrites carry a real replacement query.
    case m: MergeIntoTable                     => m.sourceTable
    case r: ReplaceData                        => r.query
    case w: WriteDelta                         => w.query
    // streaming write wrappers (a micro-batch's analyzed plan root)
    case w: org.apache.spark.sql.catalyst.streaming.WriteToStream => queryBody(w.inputQuery)
    case w: org.apache.spark.sql.execution.streaming.sources.WriteToMicroBatchDataSource => queryBody(w.child)
    case w: org.apache.spark.sql.execution.streaming.sources.WriteToMicroBatchDataSourceV1 => queryBody(w.child)
    case other                                 => other
  }

  /** Stable display name for a leaf node (used by column lineage). */
  def leafName(leaf: LogicalPlan): String = leaf match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fileRelationName(lr.catalogTable.map(_.identifier), fs)
      case o => lr.catalogTable.map(_.identifier.unquotedString)
        .orElse(jdbcName(o)).getOrElse(o.toString)
    }
    case dv2: DataSourceV2Relation => dv2.name
    case ht: HiveTableRelation => ht.tableMeta.identifier.unquotedString
    case _: LocalRelation => "local"
    case o => o.nodeName
  }
}
