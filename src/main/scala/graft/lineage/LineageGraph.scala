package graft.lineage

import scala.collection.mutable

import graft.SharedArtifacts
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Impact analysis over emitted lineage records: the dataset-level
  * dependency graph (input entity → output entity per successful run) and
  * its downstream transitive closure — "if this table is late/wrong, what
  * breaks?", the question a lineage catalog exists to answer.
  *
  * Scale design: the edge set lives in a DataFrame (a production catalog
  * accumulates millions of runs) that is read into an edge index: the
  * edges hash-partitioned on `src` in one shuffle, one
  * `(graph, src) -> sorted distinct dsts` map per partition, persisted.
  * A catalog's index outlives a call: it is a [[SharedArtifacts]] entry
  * keyed by the catalog path's file fingerprint and holds both graphs
  * (dataset and column edges), so the first closure of any kind reads
  * and shuffles the catalog once, concurrent first callers share that
  * stage, and every later walk of the unchanged catalog reads no record
  * and shuffles nothing. An append (any change to the catalog's files)
  * releases it and the next walk builds afresh, so a walk always sees
  * the catalog as it is now. The reuse pays only while the catalog stays
  * unchanged between queries: a catalog that is also the live sink of
  * the session querying it gains a record with every action (the
  * caller's own collect included), so each query misses and builds the
  * index of both graphs again. A caller's edge frame has no fingerprint,
  * so its index is built for one walk and released after it.
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

  /** Successful runs of a catalog frame that wrote a named output. */
  private def writtenDf(catalog: DataFrame): DataFrame =
    catalog.filter(col("status") === "success" && col("output.name").isNotNull)

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
    writtenDf(catalog)
      .select(explode(col("inputs")).as("in"), col("output.name").as("dst"))
      .select(col("in.name").as("src"), col("dst"))
      .transform(distinctEdges)

  /** Column edges off a catalog DataFrame — [[columnEdges]] without the
    * driver round-trip: explode the columnLineage mappings, then their
    * source lists. */
  def columnEdgesDf(catalog: DataFrame): DataFrame =
    writtenDf(catalog)
      .select(col("output.name").as("out"), explode(col("columnLineage")).as("m"))
      .select(explode(col("m.sources")).as("src"),
        concat(col("out"), lit("."), col("m.output")).as("dst"))
      .transform(distinctEdges)

  /** The graphs of an [[EdgeIndex]]: a catalog's index holds both, a
    * caller's edge frame is indexed as the one its walk reads. */
  private val Datasets = 0
  private val Columns = 1

  /** The shared edge index of the catalog at `path`, both graphs, kept
    * until the catalog's files change. The first walk's first level reads
    * it: one stage scans the catalog once for both graphs' edges and
    * shuffles them once, with no `distinct` exchange: the shuffle
    * combines duplicate edges map-side. */
  private def catalogIndex(s: SparkSession, path: String): EdgeIndex =
    SharedArtifacts(s, "catalog_edge_index", path) {
      new EdgeIndex(catalogEdges(LineageCatalog.loadDf(s, path)), partitions(s))
    }(_.close())

  /** Both graphs' edges of a catalog frame from one scan, as
    * (src, (graph, dst)): the edges of [[edgesDf]] and [[columnEdgesDf]]
    * before their `distinct`, null endpoints dropped the same way. */
  private def catalogEdges(catalog: DataFrame): RDD[(String, (Int, String))] =
    rowsOf(writtenDf(catalog).select(col("output.name"), col("inputs.name"),
      col("columnLineage.output"), col("columnLineage.sources")))
      .flatMap { r =>
        val out = r.getUTF8String(0).toString
        def strings(a: ArrayData): Seq[String] =
          (0 until a.numElements()).filterNot(a.isNullAt).map(a.getUTF8String(_).toString)
        val inputs = if (r.isNullAt(1)) Nil else strings(r.getArray(1)).map(_ -> (Datasets, out))
        // a mapping's output and its sources sit at one index of arrays 2 and 3
        val mapped = if (r.isNullAt(2)) Nil else {
          val (outs, sources) = (r.getArray(2), r.getArray(3))
          (0 until outs.numElements()).filterNot(i => outs.isNullAt(i) || sources.isNullAt(i))
            .flatMap { i =>
              val dst = s"$out.${outs.getUTF8String(i)}"
              strings(sources.getArray(i)).map(_ -> (Columns, dst))
            }
        }
        inputs ++ mapped
      }

  /** A caller's (src, dst) frame as `graph` edges, (src, (graph, dst)),
    * endpoints read as strings whatever their column type, null endpoints
    * dropped. */
  private def frameEdges(edgeFrame: DataFrame, graph: Int): RDD[(String, (Int, String))] =
    rowsOf(edgeFrame.select(col("src").cast("string"), col("dst").cast("string")))
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some(r.getUTF8String(0).toString -> (graph, r.getUTF8String(1).toString))
      }

  /** The rows of `df` through its plan's `toRdd`, which runs no SQL action
    * (`Dataset.rdd` would run one): graft's own read of edges reaches no
    * lineage listener, so no sink records it. Rows are reused: copy what
    * outlives a row. */
  private def rowsOf(df: DataFrame): RDD[InternalRow] = df.queryExecution.toRdd

  private def partitions(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** [[downstream]] over a persisted catalog path — walks the catalog's
    * shared edge index; the driver holds only the frontier and the
    * closure, never the record set. */
  def downstreamCatalog(s: SparkSession, catalogPath: String, root: String,
      maxDepth: Int = 20): DataFrame =
    downstreamOver(s, catalogIndex(s, catalogPath), root, maxDepth)

  /** Entities reachable downstream of `root` with their minimum hop
    * depth (root itself at depth 0). */
  def downstream(s: SparkSession, records: Seq[LineageRecord], root: String,
      maxDepth: Int = 20): DataFrame =
    downstreamOverEdges(s, edges(s, records), root, maxDepth)

  /** The closure walk itself, over any (src, dst) edge frame. */
  def downstreamOverEdges(s: SparkSession, edgeFrame: DataFrame, root: String,
      maxDepth: Int = 20): DataFrame =
    indexed(edgeFrame, Datasets)(downstreamOver(s, _, root, maxDepth))

  private def downstreamOver(s: SparkSession, index: EdgeIndex, root: String,
      maxDepth: Int): DataFrame = {
    import s.implicits._
    walk(index, Datasets, Seq(root), maxDepth, s"lineage closure below '$root'")
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
    downstreamColumnsOver(s, catalogIndex(s, catalogPath), rootColumn, maxDepth)

  def downstreamColumnsOverEdges(s: SparkSession, edgeFrame: DataFrame,
      rootColumn: String, maxDepth: Int = 20): DataFrame =
    indexed(edgeFrame, Columns)(downstreamColumnsOver(s, _, rootColumn, maxDepth))

  private def downstreamColumnsOver(s: SparkSession, index: EdgeIndex,
      rootColumn: String, maxDepth: Int): DataFrame = {
    import s.implicits._
    walk(index, Columns, Seq(rootColumn), maxDepth,
      s"column lineage closure below '$rootColumn'")
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
    piiTaintOver(s, catalogIndex(s, catalogPath), taintedRoots, maxDepth)

  def piiTaintOverEdges(s: SparkSession, edgeFrame: DataFrame,
      taintedRoots: Seq[String], maxDepth: Int = 20): DataFrame =
    indexed(edgeFrame, Columns)(piiTaintOver(s, _, taintedRoots, maxDepth))

  private def piiTaintOver(s: SparkSession, index: EdgeIndex,
      taintedRoots: Seq[String], maxDepth: Int): DataFrame = {
    import s.implicits._
    walk(index, Columns, taintedRoots, maxDepth, "PII taint closure")
      .map { case ((root, column), depth) => (root, column, depth) }
      .toDF("pii_root", "column", "depth")
  }

  /** The adjacency of (src, (graph, dst)) edges: hash-partitioned on
    * `src` into `partitions` partitions, each holding one
    * `(graph, src) -> sorted distinct dsts` map, persisted until
    * [[close]]. One shuffle, combined map-side: each map task sends each
    * src once with its distinct (graph, dst) set, so a catalog that
    * re-runs a job daily shuffles and buffers its distinct edges, not its
    * records. */
  private final class EdgeIndex(edges: RDD[(String, (Int, String))], partitions: Int) {
    private val partitioner = new HashPartitioner(partitions)
    private val adjacency = edges
      .combineByKey[Set[(Int, String)]](Set(_), _ + _, _ ++ _, partitioner)
      .mapPartitions(it => Iterator(it.toSeq
        .flatMap { case (src, out) => out.toSeq.map { case (graph, dst) => (graph, src) -> dst } }
        .groupMap(_._1)(_._2)
        .map { case (key, dsts) => key -> dsts.sorted.toArray }))
      .persist()

    /** The sorted consumers in `graph` of each node that has any: one job
      * whose tasks run only on the partitions holding the nodes (which
      * ship with the job), each looking up its own nodes in its
      * partition's map. */
    def consumers(graph: Int, nodes: Seq[String]): Map[String, Array[String]] = {
      val wanted = nodes.distinct.groupBy(partitioner.getPartition)
      adjacency.sparkContext.runJob(adjacency,
        (ctx: TaskContext, it: Iterator[Map[(Int, String), Array[String]]]) => {
          val adj = it.next()
          wanted(ctx.partitionId()).flatMap(n => adj.get((graph, n)).map(n -> _)).toArray
        }, wanted.keys.toSeq.sorted).iterator.flatten.toMap
    }

    def close(): Unit = adjacency.unpersist()
  }

  /** Runs `f` over an index of a caller's (src, dst) frame as `graph`,
    * built for this call and released after it. */
  private def indexed[T](edgeFrame: DataFrame, graph: Int)(f: EdgeIndex => T): T = {
    val index = new EdgeIndex(frameEdges(edgeFrame, graph), partitions(edgeFrame.sparkSession))
    try f(index) finally index.close()
  }

  /** Min-hop closure from every root over one graph of an [[EdgeIndex]],
    * as ((root, node), depth) in discovery order, roots at depth 0. Each
    * level is one lookup of the frontier's consumers; the driver keeps
    * the frontier and the depth map, which is the closure the caller
    * collects anyway. Consumers come sorted, so the order depends only on
    * the roots and the edges, never on partitioning. */
  private def walk(index: EdgeIndex, graph: Int, roots: Seq[String], maxDepth: Int,
      what: String): Seq[((String, String), Int)] = {
    val depth = mutable.LinkedHashMap.empty[(String, String), Int]
    var frontier = roots.distinct.map(r => (r, r))
    frontier.foreach(depth(_) = 0)
    var level = 0
    while (frontier.nonEmpty && level < maxDepth) {
      level += 1
      val out = index.consumers(graph, frontier.map(_._2))
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
    * platform reviews before a risky backfill. One multi-root walk
    * computes every cone, so the report runs one small job per level
    * whatever its number of roots; the price is driver memory: the walk's
    * depth map holds every root's whole cone at once, O(sum of cone
    * sizes) (root, node) pairs, where a walk per root held one cone at a
    * time. */
  def impactReport(s: SparkSession, records: Seq[LineageRecord],
      maxDepth: Int = 20): DataFrame = {
    import s.implicits._
    val e = edges(s, records).cache()
    try {
      val roots = e.select(col("src").as("entity")).distinct()
        .collect().map(_.getString(0)).toSeq
      // one multi-root walk: a report costs one small job per level,
      // whatever its number of roots
      val below = indexed(e, Datasets)(walk(_, Datasets, roots, maxDepth, "impact report closure"))
        .collect { case ((root, _), d) if d > 0 => root }
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      val cones = roots.map(r => r -> below.getOrElse(r, 0L)).toDF("entity", "downstream_count")
      val direct = e.groupBy("src").agg(countDistinct("dst").as("direct_consumers"))
        .withColumnRenamed("src", "entity")
      direct.join(cones, "entity")
        .orderBy(desc("downstream_count"), col("entity"))
    } finally e.unpersist()
  }
}
