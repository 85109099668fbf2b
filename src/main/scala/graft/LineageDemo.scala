package graft

import graft.lineage._
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Usage sample for the lineage surface: install-and-forget listener with
  * an async JSONL sink, one real write, one execution-time failure — the
  * two record shapes a catalog consumer ingests. Run with
  * `sbt "runMain graft.LineageDemo"`.
  */
object LineageDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    val out = java.nio.file.Files.createTempDirectory("graft-demo")
    val jsonl = s"$out/lineage.jsonl"
    Lineage.install(spark, new JsonlFileSink(jsonl))

    // a real write: captured with inputs, pruned columns, lineage, metrics
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .write.mode("overwrite").parquet(s"$out/net.parquet")

    // an execution-time failure: captured via onFailure with the error
    val boom = udf((i: Int) => { if (i >= 0) throw new RuntimeException("demo-boom"); i })
    try spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(boom(col("o_orderkey").cast("int"))).collect()
    catch { case NonFatal(_) => () }

    Thread.sleep(3000) // listener bus + async sink drain
    println(s"=== $jsonl ===")
    scala.io.Source.fromFile(jsonl).getLines().foreach(println)
    spark.stop()
  }
}
