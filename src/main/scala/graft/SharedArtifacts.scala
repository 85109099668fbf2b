package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Registry of the trained artifacts the operators share across queries:
  * the IVF quantizer, the PQ codebooks, the probe weights, the dedup
  * verdict and the phash pair census. At 100 TB each is a persisted model
  * table that every consumer joins and no query recomputes; in-process an
  * entry plays that role.
  *
  * Operating contract:
  *  - An entry is keyed by (session, artifact name, dir, fingerprint of
  *    `dir/table.parquet`). The name is part of the key because artifacts
  *    over different tables (the quantizer over `embeddings`, the verdict
  *    over `documents`) share one (session, dir).
  *  - An entry lives until its table's fingerprint changes (an in-place
  *    rewrite) or its SparkContext stops. An entry replaced by a rewrite
  *    is released: its frame is unpersisted, and so are the RDDs behind
  *    the `LogicalRDD` leaves of its plan, which hold `localCheckpoint`
  *    blocks.
  *  - The first consumer builds and the rest read the materialized frame,
  *    so in a timed run the first consumer pays the build and the others
  *    time a hit.
  *  - The builder materializes its own output. Builds run outside the
  *    map's lock, one slot per key: distinct artifacts never wait on each
  *    other, concurrent callers of one key build once, and a build that
  *    throws leaves no entry, so the next call builds again.
  */
object SharedArtifacts {
  private type Key = (SparkSession, String, String, String)

  /** One key's frame, built by the first `get` under the slot's own lock. */
  private final class Slot(build: () => DataFrame) {
    @volatile private var df: DataFrame = _

    def get: DataFrame = {
      if (df == null) synchronized { if (df == null) df = build() }
      df
    }

    def release(): Unit = Option(df).foreach { d =>
      d.queryExecution.analyzed.collectLeaves().foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ =>
      }
      d.unpersist(blocking = false)
    }
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** The artifact `name` of `dir`, built by `build` unless an entry for
    * the current contents of `dir/table.parquet` already exists. */
  def apply(s: SparkSession, name: String, dir: String, table: String)(
      build: => DataFrame): DataFrame = {
    val fp = fingerprint(dir, table)
    val it = slots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (ks, kname, kdir, kfp) = e.getKey
      if (ks.sparkContext.isStopped) it.remove()
      else if ((ks eq s) && kname == name && kdir == dir && kfp != fp) {
        it.remove()
        e.getValue.release()
      }
    }
    val key = (s, name, dir, fp)
    val slot = slots.computeIfAbsent(key, _ => new Slot(() => build))
    try slot.get
    catch { case t: Throwable => slots.remove(key, slot); throw t }
  }

  /** Metadata-only fingerprint of one table's backing files (paths, sizes,
    * mtimes): stable while the data is, different the moment any part
    * file is rewritten, added or removed. O(#files) driver work, no reads. */
  private def fingerprint(dir: String, table: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
      else Seq(f)
    val parts = walk(new java.io.File(dir, s"$table.parquet"))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").sorted
    java.util.UUID.nameUUIDFromBytes(parts.mkString("\n").getBytes).toString
  }
}
