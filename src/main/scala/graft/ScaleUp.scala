package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale amplifier for robustness sweeps: replicates the
  * driver's read-only testdata `factor`× with referential integrity
  * preserved — every copy shifts each table's keys by copy-index ×
  * (max-key+1), fact foreign keys shift in lockstep with their
  * dimension, and entity NAMES are suffixed per copy so name-blocked
  * operators (entity resolution) scale linearly instead of densifying
  * their blocks. Dimension tables `region`/`nation` stay fixed (they are
  * broadcast dims at every scale). Document text and embeddings are
  * copied verbatim: ×F exact copies per text is itself the stress the
  * dedup family's exact-collapse path exists for.
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <destDir> <factor>` — writes
  * one single-file `<table>.parquet` per table (the same layout the
  * driver ships, so `Verify` + `tools/check.py` run against the output
  * unchanged). NOT part of the library surface; a test/bench utility.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(src, dest, fStr) = args
    val factor = fStr.toInt
    val spark = GraftSession.local(GraftSession.cpus)
    amplify(spark, src, dest, factor)
    spark.stop()
  }

  def amplify(spark: SparkSession, src: String, dest: String, factor: Int): Unit = {
    new java.io.File(dest).mkdirs()
    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def keyOff(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

    // per-table key strides, computed once from the source maxima
    val cOff = keyOff(tbl("customer"), "c_custkey")
    val sOff = keyOff(tbl("supplier"), "s_suppkey")
    val pOff = keyOff(tbl("part"), "p_partkey")
    val oOff = keyOff(tbl("orders"), "o_orderkey")
    val eOff = keyOff(tbl("events"), "event_id")
    val uOff = keyOff(tbl("events"), "user_id")
    val dOff = keyOff(tbl("documents"), "doc_id")
    val vOff = keyOff(tbl("embeddings"), "vec_id")

    def copies(df: DataFrame): DataFrame =
      df.withColumn("cp", explode(sequence(lit(0L), lit(factor - 1L))))
    def shift(c: String, off: Long) = col(c) + col("cp") * off
    def tag(c: String) =
      when(col("cp") === 0L, col(c)).otherwise(concat(col(c), lit("_"), col("cp")))

    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$dest/_tmp_$name"
      // Small row groups (4 MB; 128 KB for the byte-light CPU-heavy
      // text/embedding tables), NOT the 128 MB default: a single-file
      // table with one row group cannot be split, so every first-stage
      // scan of the amplified data ran in ONE task — the r11 sf1 bench
      // measured 24-109 s on queries whose heavy work sat before the
      // first exchange. Multiple row groups restore byte-range splits
      // (the true 100 TB setting: thousands of row groups per table)
      // while keeping the single-file layout Verify/check.py expect.
      // documents/embeddings compress to ~1 MB at sf1 yet carry the
      // engine's heaviest per-row work (regex text passes, 64-dim
      // cosine kernels) — at 4 MB they were back to one row group, one
      // task; 128 KB gives them the ~8-way split a multi-file corpus
      // would have natively.
      val blockBytes =
        if (name == "documents" || name == "embeddings") 128L * 1024
        else 4L * 1024 * 1024
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", blockBytes)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dest/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }

    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(copies(tbl("customer")).select(
      shift("c_custkey", cOff).as("c_custkey"), tag("c_name").as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")
    write(copies(tbl("supplier")).select(
      shift("s_suppkey", sOff).as("s_suppkey"), tag("s_name").as("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier")
    write(copies(tbl("part")).select(
      shift("p_partkey", pOff).as("p_partkey"), tag("p_name").as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")), "part")
    write(copies(tbl("orders")).select(
      shift("o_orderkey", oOff).as("o_orderkey"),
      shift("o_custkey", cOff).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")
    write(copies(tbl("lineitem")).select(
      shift("l_orderkey", oOff).as("l_orderkey"),
      shift("l_partkey", pOff).as("l_partkey"),
      shift("l_suppkey", sOff).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")
    write(copies(tbl("events")).select(
      shift("event_id", eOff).as("event_id"), col("ts"),
      shift("user_id", uOff).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")
    write(copies(tbl("documents")).select(
      shift("doc_id", dOff).as("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars")), "documents")
    write(copies(tbl("embeddings")).select(
      shift("vec_id", vOff).as("vec_id"), col("embedding"), col("label")),
      "embeddings")
  }
}
