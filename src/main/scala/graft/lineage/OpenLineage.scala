package graft.lineage

import scala.collection.immutable.ListMap

/** Renders a [[LineageRecord]] as an OpenLineage RunEvent — the public,
  * vendor-neutral lineage wire format (openlineage.io, spec 1-0-5) that
  * catalog collectors (Marquez-style services) ingest natively. This is
  * a pure formatter: the listener pipeline stays format-agnostic and
  * the sink picks the dialect (`HttpSink.asyncOpenLineage`).
  *
  * Mapping choices:
  *  - status success/failure → eventType COMPLETE/FAIL. Marquez-style
  *    consumers additionally expect a START so they can compute run
  *    durations server-side: [[toStartEvent]] back-dates one from the
  *    record (eventTime = end − durationNs), sharing the runId, and
  *    [[toRunEventPair]] ships START + COMPLETE/FAIL as one ndjson pair
  *    — no second listener hook needed, and the pair is emitted
  *    atomically (a crash can't orphan a START).
  *  - run.runId is the spec-required UUID, derived deterministically
  *    (name-UUID of appId:timestamp:funcName) so re-renders of the same
  *    record agree — and the START/COMPLETE pair agrees by construction.
  *  - job = (namespace "graft", name "appName.funcName").
  *  - inputs/outputs carry the spec's `schema` dataset facet (pruned
  *    columns read / output columns), `columnLineage` facet with
  *    per-field inputFields, and outputStatistics (rowCount/size).
  *  - FAIL events carry the `errorMessage` run facet.
  */
object OpenLineage {

  private val Producer = "urn:graft:spark-lineage"
  private val SchemaUrl =
    "https://openlineage.io/spec/1-0-5/OpenLineage.json#/definitions/RunEvent"
  private def facetUrl(defn: String): String =
    s"https://openlineage.io/spec/facets/1-0-0/$defn.json"

  // events are ordered maps, so keys appear in the order built here
  private type Obj = ListMap[String, Any]
  private def obj(fields: (String, Any)*): Obj = ListMap(fields: _*)
  private def write(event: Obj): String = LineageJson.mapper.writeValueAsString(event)

  private def facet(defn: String, extra: (String, Any)*): Obj =
    obj(Seq("_producer" -> Producer, "_schemaURL" -> facetUrl(defn)) ++ extra: _*)

  private def schemaFacet(cols: Seq[String]): (String, Obj) =
    "schema" -> facet("SchemaDatasetFacet", "fields" -> cols.map(c => obj("name" -> c)))

  /** Dataset naming: split "scheme-less path or table" into the spec's
    * (namespace, name) pair — paths namespace under "file", tables and
    * everything else under the job namespace. */
  private def datasetRef(kind: String, name: String): (String, String) =
    if (kind == "path") ("file", name) else ("graft", name)

  private def runIdOf(r: LineageRecord): String =
    java.util.UUID.nameUUIDFromBytes(
      s"${r.appId}:${r.timestampMs}:${r.funcName}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** The START half of the run: back-dated to the action's start
    * (record timestamp − duration), same runId as the terminal event,
    * inputs with schema facets (known at start), no outputs/statistics
    * (end-of-run knowledge). */
  def toStartEvent(r: LineageRecord): String = {
    val startMs = r.timestampMs - math.max(0L, r.durationNs / 1000000L)
    val inputs = r.inputs.map { i =>
      val (ns, name) = datasetRef(i.kind, i.name)
      obj("namespace" -> ns, "name" -> name, "facets" -> obj(schemaFacet(i.columnsRead)))
    }
    write(obj(
      "eventType" -> "START",
      "eventTime" -> java.time.Instant.ofEpochMilli(startMs).toString,
      "run" -> obj("runId" -> runIdOf(r)),
      "job" -> obj("namespace" -> "graft", "name" -> s"${r.appName}.${r.funcName}"),
      "inputs" -> inputs,
      "outputs" -> Nil,
      "producer" -> Producer,
      "schemaURL" -> SchemaUrl))
  }

  /** START + COMPLETE/FAIL as one ndjson pair (two lines) — the shape
    * `HttpSink.asyncOpenLineage` ships, so duration-computing consumers
    * see the spec's full run lifecycle. */
  def toRunEventPair(r: LineageRecord): String =
    toStartEvent(r) + "\n" + toRunEvent(r)

  def toRunEvent(r: LineageRecord): String = {
    val eventType = if (r.status == "success") "COMPLETE" else "FAIL"
    val eventTime = java.time.Instant.ofEpochMilli(r.timestampMs).toString

    val runFacets = r.error.map(e => "errorMessage" -> facet("ErrorMessageRunFacet",
      "message" -> e, "programmingLanguage" -> "scala")).toSeq

    val inputs = r.inputs.map { i =>
      val (ns, name) = datasetRef(i.kind, i.name)
      val stats = Seq(i.rowsRead.map("rowCount" -> _), i.bytesRead.map("size" -> _)).flatten
      obj(Seq(
        "namespace" -> ns, "name" -> name,
        "facets" -> obj(schemaFacet(i.columnsRead))) ++
        (if (stats.isEmpty) Nil
         else Seq("inputFacets" -> obj(
           "inputStatistics" -> facet("InputStatisticsInputDatasetFacet", stats: _*)))): _*)
    }

    val outputs = r.output.toSeq.map { o =>
      val (ns, name) = datasetRef(o.kind, o.name)
      val colLineage =
        if (r.columnLineage.isEmpty) Nil
        else Seq("columnLineage" -> facet("ColumnLineageDatasetFacet",
          "fields" -> obj(r.columnLineage.map { m =>
            m.output -> obj(Seq("inputFields" -> m.sources.map { src =>
              // sources are "table_or_path.column": split on the LAST dot
              val cut = src.lastIndexOf('.')
              val (ds, field) =
                if (cut < 0) (src, src) else (src.substring(0, cut), src.substring(cut + 1))
              obj("namespace" -> "graft", "name" -> ds, "field" -> field)
            }) ++ (m.expression match {
              // spec's per-field transformation slots: IDENTITY for plain
              // reads/renames, the Catalyst SQL derivation otherwise
              case Some(e) => Seq(
                "transformationType" -> "EXPRESSION",
                "transformationDescription" -> e)
              case None => Seq("transformationType" -> "IDENTITY")
            }): _*)
          }: _*)))
      val stats = Seq(r.rowsWritten.map("rowCount" -> _), r.bytesWritten.map("size" -> _)).flatten
      obj(Seq(
        "namespace" -> ns, "name" -> name,
        "facets" -> obj(schemaFacet(r.outputColumns) +: colLineage: _*)) ++
        (if (stats.isEmpty) Nil
         else Seq("outputFacets" -> obj(
           "outputStatistics" -> facet("OutputStatisticsOutputDatasetFacet", stats: _*)))): _*)
    }

    write(obj(
      "eventType" -> eventType,
      "eventTime" -> eventTime,
      "run" -> obj(Seq("runId" -> runIdOf(r)) ++
        (if (runFacets.isEmpty) Nil else Seq("facets" -> obj(runFacets: _*))): _*),
      "job" -> obj("namespace" -> "graft", "name" -> s"${r.appName}.${r.funcName}"),
      "inputs" -> inputs,
      "outputs" -> outputs,
      "producer" -> Producer,
      "schemaURL" -> SchemaUrl))
  }
}
