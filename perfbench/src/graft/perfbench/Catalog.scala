package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import graft.lineage._

/** A seeded synthetic lineage catalog: datasets in layers, runs that
  * read 1-3 datasets of lower layers and write one of the next, with
  * column mappings; plus failed runs and read-only runs, which the
  * catalog's edge extraction must skip. The reference closures are plain
  * breadth-first searches over the generator's own edge lists, written
  * independently of `LineageGraph`. */
final case class CatalogDag(records: Seq[LineageRecord], layers: IndexedSeq[IndexedSeq[String]],
    columns: Map[String, Seq[String]]) {

  private def ok = records.filter(r => r.status == "success" && r.output.isDefined)

  lazy val edges: Map[String, Set[String]] =
    ok.flatMap(r => r.inputs.map(i => i.name -> r.output.get.name))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  lazy val columnEdges: Map[String, Set[String]] =
    ok.flatMap(r => r.columnLineage.flatMap(m =>
        m.sources.map(s => s -> s"${r.output.get.name}.${m.output}")))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  /** Min-hop depth of every node reachable from `root` (root at 0). */
  def bfs(g: Map[String, Set[String]], root: String): Map[String, Int] = {
    val depth = mutable.Map(root -> 0)
    var frontier = Seq(root)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(n => g.getOrElse(n, Set.empty)).distinct
        .filterNot(depth.contains)
      frontier.foreach(n => depth(n) = d)
    }
    depth.toMap
  }
}

object CatalogDag {
  def generate(seed: Long, nLayers: Int, width: Int, runsPerDataset: Int): CatalogDag = {
    val rng = new Random(seed)
    val layers = (0 until nLayers).map(l => (0 until width).map(i => s"lake/l$l/ds$i"))
    val columns = layers.flatten.map(d => d -> (0 until 4 + rng.nextInt(4)).map(j => s"c$j")).toMap
    def hex(n: Int) = Seq.fill(n)(f"${rng.nextInt(256)}%02x").mkString
    def record(status: String, ins: Seq[String], out: Option[String]): LineageRecord = {
      val mappings = out.toSeq.flatMap(o => columns(o).map { c =>
        val srcs = Seq.fill(1 + rng.nextInt(2)) {
          val in = ins(rng.nextInt(ins.size)); s"$in.${columns(in)(rng.nextInt(columns(in).size))}"
        }.distinct.sorted
        ColumnMapping(c, srcs, if (srcs.size > 1) Some(s"coalesce(${srcs.mkString(", ")})") else None)
      })
      LineageRecord(
        appId = s"app-${rng.nextInt(50)}", appName = "pipeline", user = "etl",
        funcName = if (out.isDefined) "save" else "collect", status = status,
        error = if (status == "failure") Some("Job aborted: stage failure") else None,
        durationNs = 1000000L + rng.nextInt(1000000000),
        timestampMs = 1700000000000L + rng.nextInt(1000000000),
        inputs = ins.map(i => InputEntity("path", i, Some("parquet"), columns(i),
          Some(rng.nextInt(1 << 30).toLong), Some(rng.nextInt(1 << 20).toLong))),
        output = out.map(o => OutputEntity("path", o, Some("parquet"), Some("overwrite"))),
        outputColumns = out.map(columns).getOrElse(Nil),
        columnLineage = mappings,
        schemaFingerprint = hex(32),
        rowsWritten = out.map(_ => rng.nextInt(1 << 24).toLong),
        bytesWritten = out.map(_ => rng.nextInt(1 << 30).toLong),
        planFingerprint = hex(32),
        queryText = Some(s"sql: INSERT OVERWRITE ${out.getOrElse("-")} SELECT ... FROM " +
          ins.mkString(", ") + " WHERE " + Seq.fill(8)(hex(4)).mkString(" AND ")))
    }
    val recs = mutable.ArrayBuffer.empty[LineageRecord]
    for (l <- 1 until nLayers; out <- layers(l); _ <- 0 until runsPerDataset) {
      val ins = Seq.fill(1 + rng.nextInt(3)) {
        val from = if (rng.nextDouble() < 0.8) l - 1 else rng.nextInt(l)
        layers(from)(rng.nextInt(width))
      }.distinct
      recs += record("success", ins, Some(out))
      // one run in ten failed, one in ten only read (no output)
      if (rng.nextDouble() < 0.1) recs += record("failure", ins, Some(layers(l)(rng.nextInt(width))))
      if (rng.nextDouble() < 0.1) recs += record("success", ins, None)
    }
    CatalogDag(rng.shuffle(recs.toSeq), layers, columns)
  }
}
