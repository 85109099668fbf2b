package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Registry of the artifacts queries share across calls: the IVF
  * quantizer, the PQ codebooks, the probe weights, the dedup verdict, the
  * phash pair census and the lineage catalog's edge index. At 100 TB each
  * is a persisted model table or index that every consumer reads and no
  * query recomputes; in-process an entry plays that role.
  *
  * Operating contract:
  *  - An entry is keyed by (session, artifact name, path, fingerprint of
  *    the files under the path). The name is part of the key because
  *    artifacts over different data (the quantizer over `embeddings`, the
  *    verdict over `documents`) can share one path's directory. The path
  *    is a file, a directory or a glob, resolved through the Hadoop
  *    `FileSystem` the way a reader resolves it.
  *  - An entry's value comes with its own release routine. A frame
  *    artifact releases its persisted frame and the RDDs behind the
  *    `LogicalRDD` leaves of its plan, which hold `localCheckpoint`
  *    blocks; an index releases its persisted partitions.
  *  - An entry lives until its path's fingerprint changes or its
  *    SparkContext stops. Any change to the files (an in-place rewrite, a
  *    record appended to a catalog, a part file added or removed) changes
  *    the fingerprint, so the next call builds afresh and releases the
  *    entry it replaces: a consumer always sees the data as it is now.
  *  - The first consumer builds and the rest read the built value, so in
  *    a timed run the first consumer pays the build and the others time a
  *    hit.
  *  - A frame's builder materializes its own output; an index is
  *    computed by the first job that reads it, which concurrent first
  *    callers share. Builds run outside the map's lock, one slot per key:
  *    distinct artifacts never wait on each other, concurrent callers of
  *    one key build once, and a build that throws leaves no entry, so the
  *    next call builds again.
  */
object SharedArtifacts {
  private type Key = (SparkSession, String, String, String)

  /** One key's value, built by the first `get` under the slot's own lock. */
  private final class Slot(build: () => AnyRef, releaseValue: AnyRef => Unit) {
    @volatile private var value: AnyRef = _

    def get: AnyRef = {
      if (value == null) synchronized { if (value == null) value = build() }
      value
    }

    def release(): Unit = Option(value).foreach(releaseValue)
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** The artifact `name` over `path`, built by `build` unless an entry
    * for the current files under `path` already exists; `release` frees
    * the value once a change to those files replaces it. */
  def apply[T <: AnyRef](s: SparkSession, name: String, path: String)(build: => T)(
      release: T => Unit): T = {
    val fp = fingerprint(s, path)
    val it = slots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (ks, kname, kpath, kfp) = e.getKey
      if (ks.sparkContext.isStopped) it.remove()
      else if ((ks eq s) && kname == name && kpath == path && kfp != fp) {
        it.remove()
        e.getValue.release()
      }
    }
    val key = (s, name, path, fp)
    val slot = slots.computeIfAbsent(key,
      _ => new Slot(() => build, v => release(v.asInstanceOf[T])))
    try slot.get.asInstanceOf[T]
    catch { case t: Throwable => slots.remove(key, slot); throw t }
  }

  /** The frame artifact `name` of `dir`, keyed on `dir/table.parquet`. */
  def apply(s: SparkSession, name: String, dir: String, table: String)(
      build: => DataFrame): DataFrame =
    apply[DataFrame](s, name, s"$dir/$table.parquet")(build)(releaseFrame)

  private def releaseFrame(d: DataFrame): Unit = {
    d.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
    d.unpersist(blocking = false)
  }

  /** Metadata-only fingerprint of the files under `path` (paths, sizes,
    * mtimes): stable while the data is, different the moment any file is
    * rewritten, appended to, added or removed. O(#files) driver work, no
    * reads. A path that matches nothing has the empty listing's print. */
  private def fingerprint(s: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(dir: Path): Seq[String] = {
      val it = fs.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").toSeq
    }
    val parts = Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(st => if (st.isDirectory) files(st.getPath)
        else Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}"))
      .sorted
    java.util.UUID.nameUUIDFromBytes(parts.mkString("\n").getBytes).toString
  }
}
