package graft.lineage

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** Dataset.observe() gates flow into lineage records: the in-plan
  * data-quality counters a pipeline attaches ride the run record to the
  * catalog — no extra pass over the data.
  */
class ObservedMetricsSpec extends AnyFunSpec with SparkTestBase {

  it("captures observe() metrics on a write record, JSON included") {
    val sink = new InMemorySink
    val l = Lineage.installSync(spark, sink)
    try withTempDir { dir =>
      val out = s"${dir.getAbsolutePath}/out"
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .observe("gate",
          count(lit(1)).as("rows_in"),
          sum(when(col("l_quantity") < 0, 1L).otherwise(0L)).as("neg_qty"))
        .filter(col("l_quantity") > 25)
        .write.mode("overwrite").parquet(out)
      assert(eventually()(sink.records.exists(r =>
        r.output.isDefined && r.observed.nonEmpty)),
        "no record with observed metrics arrived")
      val rec = sink.records.find(r => r.output.isDefined && r.observed.nonEmpty).get
      val obs = rec.observed.map(o => o.name -> o.value).toMap
      val total = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      assert(obs("gate.rows_in") == total.toString, s"observed: $obs")
      assert(obs("gate.neg_qty") == "0")
      assert(rec.toJson.contains("\"gate.rows_in\""))
    } finally Lineage.uninstall(spark, l)
  }

  it("records without observe() carry an empty observed list") {
    val sink = new InMemorySink
    val l = Lineage.installSync(spark, sink)
    try withTempDir { dir =>
      spark.read.parquet(s"$sfDir/region.parquet")
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/out")
      assert(eventually()(sink.records.exists(_.output.isDefined)))
      assert(sink.records.find(_.output.isDefined).get.observed.isEmpty)
    } finally Lineage.uninstall(spark, l)
  }
}
