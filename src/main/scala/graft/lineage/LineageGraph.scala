package graft.lineage

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Impact analysis over emitted lineage records: the dataset-level
  * dependency graph (input entity → output entity per successful run) and
  * its downstream transitive closure — "if this table is late/wrong, what
  * breaks?", the question a lineage catalog exists to answer.
  *
  * Scale design: the edge set lives in a DataFrame (a production catalog
  * accumulates millions of runs) that is read once per walk into an edge
  * index: the edges hash-partitioned on `src`, one `src -> sorted dsts`
  * map per partition, persisted for the walk and released after it.
  * Closure is a min-hop frontier walk whose every level is ONE small job
  * over only the partitions holding frontier nodes, each task returning
  * just its nodes' consumers; the driver keeps the frontier and the depth
  * map, which is the closure itself. At impact-analysis sizes the fixed
  * cost of a Spark query, not the edge volume, decides latency, so a
  * level skips Catalyst analysis, planning and codegen, and does
  * |frontier| hash lookups instead of a scan of every edge. Sorted
  * consumers make the closure's row order independent of partitioning.
  * A depth cap with a warning stops a cyclic or adversarial graph from
  * looping the driver. Depth counts are MIN-hop (BFS order guarantees
  * first discovery is shortest).
  */
object LineageGraph {

  /** Distinct (src, dst) dataset edges from successful runs that wrote an
    * output. Self-edges (a job that compacts a table in place) are kept —
    * the closure treats them as already-visited and terminates. */
  def edges(s: SparkSession, records: Seq[LineageRecord]): DataFrame = {
    import s.implicits._
    written(records)
      .flatMap { case (r, out) => r.inputs.map(_.name).filter(_ != null).map(_ -> out) }
      .distinct
      .toDF("src", "dst")
  }

  /** Successful runs that wrote a named output, with that name. */
  private def written(records: Seq[LineageRecord]): Seq[(LineageRecord, String)] =
    records.filter(_.status == "success")
      .flatMap(r => r.output.map(_.name).filter(_ != null).map(r -> _))

  /** Distinct (src, dst) rows of an edge frame, null endpoints dropped. */
  private def distinctEdges(e: DataFrame): DataFrame =
    e.filter(col("src").isNotNull && col("dst").isNotNull).distinct()

  /** Dataset edges straight off a catalog DataFrame
    * ([[LineageCatalog.loadDf]]) — the million-record path: the catalog
    * never materializes on the driver; extraction is a filter + two
    * explodes + distinct, all distributed. Same edge semantics as
    * [[edges]] (successful runs that wrote an output; self-edges kept).
    * Both drop edges with a null endpoint: a catalog is outside input, and
    * an input without a name or a column mapping without an output or
    * with a null source must not put a null node into a closure.
    */
  def edgesDf(catalog: DataFrame): DataFrame =
    catalog
      .filter(col("status") === "success" && col("output.name").isNotNull)
      .select(explode(col("inputs")).as("in"), col("output.name").as("dst"))
      .select(col("in.name").as("src"), col("dst"))
      .transform(distinctEdges)

  /** Column edges off a catalog DataFrame — [[columnEdges]] without the
    * driver round-trip: explode the columnLineage mappings, then their
    * source lists. */
  def columnEdgesDf(catalog: DataFrame): DataFrame =
    catalog
      .filter(col("status") === "success" && col("output.name").isNotNull)
      .select(col("output.name").as("out"), explode(col("columnLineage")).as("m"))
      .select(explode(col("m.sources")).as("src"),
        concat(col("out"), lit("."), col("m.output")).as("dst"))
      .transform(distinctEdges)

  /** [[downstream]] over a persisted catalog path — loads the JSONL as a
    * distributed scan and walks [[edgesDf]]; the driver holds only the
    * frontier and the closure, never the record set. */
  def downstreamCatalog(s: SparkSession, catalogPath: String, root: String,
      maxDepth: Int = 20): DataFrame =
    downstreamOverEdges(s, edgesDf(LineageCatalog.loadDf(s, catalogPath)),
      root, maxDepth)

  /** Entities reachable downstream of `root` with their minimum hop
    * depth (root itself at depth 0). */
  def downstream(s: SparkSession, records: Seq[LineageRecord], root: String,
      maxDepth: Int = 20): DataFrame =
    downstreamOverEdges(s, edges(s, records), root, maxDepth)

  /** The closure walk itself, over any (src, dst) edge frame. */
  def downstreamOverEdges(s: SparkSession, edgeFrame: DataFrame, root: String,
      maxDepth: Int = 20): DataFrame = {
    import s.implicits._
    indexed(edgeFrame)(walk(_, Seq(root), maxDepth, s"lineage closure below '$root'"))
      .map { case ((_, node), depth) => (node, depth) }.toDF("entity", "depth")
  }

  /** Distinct COLUMN-level edges from successful runs: one
    * `src = "entity.column"` → `dst = "outputEntity.column"` edge per
    * column-lineage mapping — the column-granular graph under the
    * dataset-level one above. */
  def columnEdges(s: SparkSession, records: Seq[LineageRecord]): DataFrame = {
    import s.implicits._
    written(records)
      .flatMap { case (r, out) =>
        r.columnLineage.filter(_.output != null)
          .flatMap(m => m.sources.filter(_ != null).map(_ -> s"$out.${m.output}"))
      }
      .distinct
      .toDF("src", "dst")
  }

  /** Columns reachable downstream of `rootColumn` ("entity.column") with
    * min-hop depth — "every report field this column feeds", the
    * column-granular blast radius a schema change review needs. Same
    * frontier-expansion discipline as [[downstream]]. */
  def downstreamColumns(s: SparkSession, records: Seq[LineageRecord],
      rootColumn: String, maxDepth: Int = 20): DataFrame =
    downstreamColumnsOverEdges(s, columnEdges(s, records), rootColumn, maxDepth)

  /** [[downstreamColumns]] over a persisted catalog path (no driver
    * materialization of the record set). */
  def downstreamColumnsCatalog(s: SparkSession, catalogPath: String,
      rootColumn: String, maxDepth: Int = 20): DataFrame =
    downstreamColumnsOverEdges(s,
      columnEdgesDf(LineageCatalog.loadDf(s, catalogPath)), rootColumn, maxDepth)

  def downstreamColumnsOverEdges(s: SparkSession, edgeFrame: DataFrame,
      rootColumn: String, maxDepth: Int = 20): DataFrame = {
    import s.implicits._
    indexed(edgeFrame)(walk(_, Seq(rootColumn), maxDepth,
      s"column lineage closure below '$rootColumn'"))
      .map { case ((_, column), depth) => (column, depth) }.toDF("column", "depth")
  }

  /** PII taint propagation — the governance crossover between the column
    * lineage graph and the privacy surface: given the columns a
    * classifier (or a steward) marked as PII at the sources, every
    * downstream column DERIVED from them is tainted, through renames,
    * expressions and joins alike. One multi-root frontier walk over
    * [[columnEdges]] (state = (root, column) pairs — all roots propagate
    * through the same index lookup per level, not one BFS per root); min-hop depth
    * per (root, column). Returns (pii_root, column, depth) with depth 0
    * rows for the roots themselves.
    */
  def piiTaint(s: SparkSession, records: Seq[LineageRecord],
      taintedRoots: Seq[String], maxDepth: Int = 20): DataFrame =
    piiTaintOverEdges(s, columnEdges(s, records), taintedRoots, maxDepth)

  /** [[piiTaint]] over a persisted catalog path. */
  def piiTaintCatalog(s: SparkSession, catalogPath: String,
      taintedRoots: Seq[String], maxDepth: Int = 20): DataFrame =
    piiTaintOverEdges(s, columnEdgesDf(LineageCatalog.loadDf(s, catalogPath)),
      taintedRoots, maxDepth)

  def piiTaintOverEdges(s: SparkSession, edgeFrame: DataFrame,
      taintedRoots: Seq[String], maxDepth: Int = 20): DataFrame = {
    import s.implicits._
    indexed(edgeFrame)(walk(_, taintedRoots, maxDepth, "PII taint closure"))
      .map { case ((root, column), depth) => (root, column, depth) }
      .toDF("pii_root", "column", "depth")
  }

  /** The adjacency of a (src, dst) edge frame, built for one walk (or
    * one report) and released after it: the edges hash-partitioned on
    * `src` into `spark.sql.shuffle.partitions` partitions, each holding
    * one `src -> sorted distinct dsts` map, persisted. Never kept across
    * calls, so a walk always sees the frame as it is now. */
  private final class EdgeIndex(edgeFrame: DataFrame) {
    private val partitioner = new HashPartitioner(
      edgeFrame.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    private val adjacency = edgeFrame.select("src", "dst").rdd
      .collect { case Row(src: String, dst: String) => src -> dst } // no null endpoint
      .partitionBy(partitioner)
      .mapPartitions(it => Iterator(it.toSeq.groupMap(_._1)(_._2).map { case (src, dsts) =>
        src -> dsts.distinct.sorted.toArray }))
      .persist()

    /** The sorted consumers of each node that has any: one job whose
      * tasks run only on the partitions holding the nodes (which ship with
      * the job), each looking up its own nodes in its partition's map. */
    def consumers(nodes: Seq[String]): Map[String, Array[String]] = {
      val wanted = nodes.distinct.groupBy(partitioner.getPartition)
      adjacency.sparkContext.runJob(adjacency,
        (ctx: TaskContext, it: Iterator[Map[String, Array[String]]]) => {
          val adj = it.next()
          wanted(ctx.partitionId()).flatMap(n => adj.get(n).map(n -> _)).toArray
        }, wanted.keys.toSeq.sorted).iterator.flatten.toMap
    }

    def close(): Unit = adjacency.unpersist()
  }

  private def indexed[T](edgeFrame: DataFrame)(f: EdgeIndex => T): T = {
    val index = new EdgeIndex(edgeFrame)
    try f(index) finally index.close()
  }

  /** Min-hop closure from every root over an [[EdgeIndex]], as
    * ((root, node), depth) in discovery order, roots at depth 0. Each
    * level is one lookup of the frontier's consumers; the driver keeps
    * the frontier and the depth map, which is the closure the caller
    * collects anyway. Consumers come sorted, so the order depends only on
    * the roots and the edges, never on partitioning. */
  private def walk(index: EdgeIndex, roots: Seq[String], maxDepth: Int,
      what: String): Seq[((String, String), Int)] = {
    val depth = mutable.LinkedHashMap.empty[(String, String), Int]
    var frontier = roots.distinct.map(r => (r, r))
    frontier.foreach(depth(_) = 0)
    var level = 0
    while (frontier.nonEmpty && level < maxDepth) {
      level += 1
      val out = index.consumers(frontier.map(_._2))
      frontier = frontier
        .flatMap { case (root, node) => out.getOrElse(node, Array.empty[String]).map(root -> _) }
        .distinct.filterNot(depth.contains(_))
      frontier.foreach(depth(_) = level)
    }
    if (frontier.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"$what capped at depth $maxDepth")
    depth.toSeq
  }

  /** Entity rollup of [[piiTaint]]: per output entity, how many of its
    * columns are PII-derived and from which roots — the table a privacy
    * review reads to find datasets that silently re-materialize PII. */
  def piiTaintReport(s: SparkSession, records: Seq[LineageRecord],
      taintedRoots: Seq[String], maxDepth: Int = 20): DataFrame = {
    val taint = piiTaint(s, records, taintedRoots, maxDepth)
      .filter(col("depth") > 0)
      .withColumn("entity",
        regexp_extract(col("column"), "^(.*)\\.[^.]+$", 1))
    taint.groupBy("entity")
      .agg(countDistinct("column").as("n_tainted_columns"),
        sort_array(collect_set("pii_root")).as("pii_roots"))
      .orderBy(desc("n_tainted_columns"), col("entity"))
  }

  /** Fan-out report: every entity with its direct consumer count and the
    * size of its full downstream cone — the blast-radius ranking a data
    * platform reviews before a risky backfill. */
  def impactReport(s: SparkSession, records: Seq[LineageRecord],
      maxDepth: Int = 20): DataFrame = {
    import s.implicits._
    val e = edges(s, records).cache()
    try {
      val roots = e.select(col("src").as("entity")).distinct()
        .collect().map(_.getString(0))
      // one walk per root, all over one index built here: a root's walk
      // costs one small job per level, not a query over the edge frame
      val cones = indexed(e) { index =>
        roots.map { r =>
          (r, walk(index, Seq(r), maxDepth, s"lineage closure below '$r'").count(_._2 > 0).toLong)
        }
      }.toSeq.toDF("entity", "downstream_count")
      val direct = e.groupBy("src").agg(countDistinct("dst").as("direct_consumers"))
        .withColumnRenamed("src", "entity")
      direct.join(cones, "entity")
        .orderBy(desc("downstream_count"), col("entity"))
    } finally e.unpersist()
  }
}
