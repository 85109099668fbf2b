package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's own entry points (`Bench`, `Verify`, `ScaleUp`,
  * `LineageDemo`, the dev tools) and the test suite build a session, so the
  * correctness run checks the same partitioning the bench times. Library
  * users keep their own sessions; nothing here is needed to install
  * lineage.
  */
object GraftSession {

  /** Local-mode parallelism: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // split scans at 8 MB, not the 128 MB default: the testdata ships
      // one file per table, and at sf1 (80 MB lineitem) the default left
      // every first-stage scan in 1-2 tasks — partitions must track the
      // corpus, not the file count
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      // default openCostInBytes (4 MB) floors the split target at 4 MB,
      // so a byte-light CPU-heavy table (sf1 documents: 1 MB of text
      // feeding regex-per-row pipelines) still scanned in ONE task even
      // with many row groups. 128 KB lets the split target follow
      // bytes/parallelism down to row-group granularity; dims keep one
      // row group and are unaffected.
      .config("spark.sql.files.openCostInBytes", s"${128 * 1024}")
      .config("spark.ui.enabled", "false")
      // nanosAsLong is a no-op on TIMESTAMP(MICROS) data but kept so a
      // regenerated TIMESTAMP(NANOS) events file still reads (the vectorized
      // reader hard-rejects NANOS without it); EventOps.events branches on
      // the loaded dtype either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
