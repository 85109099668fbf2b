package graft.lineage

import graft.SparkTestBase
import graft.streaming.StreamOps.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** Watermark-lateness observability: per-micro-batch dropped-late-row
  * counts (and the batch's watermark) ride the streaming lineage record's
  * `observed` metrics — the monitoring twin every production stream needs
  * to know what its watermark silently discarded.
  */
class WatermarkDropSpec extends AnyFunSpec with SparkTestBase {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  it("a late arrival past the watermark surfaces as rowsDroppedByWatermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val sink = new InMemorySink
    val l = Lineage.installSync(spark, sink)
    val stream = MemoryStream[Ev]
    val q = stream.toDF()
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "60 seconds"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      // batch 0 sets max event time 1000s -> watermark 990s after commit
      stream.addData(Ev(1, 1, ts(1000), 1.0))
      q.processAllAvailable()
      // batch 1: one on-time row and one 900s-late row (< watermark);
      // the late row is dropped by the stateful operator and must be
      // COUNTED on that batch's lineage record
      stream.addData(Ev(2, 2, ts(1010), 2.0), Ev(3, 3, ts(100), 3.0))
      q.processAllAvailable()
      // one more batch so every progress event has flushed
      stream.addData(Ev(4, 4, ts(1020), 4.0))
      q.processAllAvailable()

      assert(eventually()(sink.records.exists(r =>
          r.funcName.startsWith("streaming:wm_out") &&
            r.observed.exists { case Observed(k, v) =>
              k == "rowsDroppedByWatermark" && v.toLong >= 1L })),
        "no record counted the watermark-dropped row; observed=" +
          sink.records.filter(_.funcName.startsWith("streaming:wm_out"))
            .map(r => r.funcName -> r.observed).mkString("; "))

      // the watermark itself rides along for correlation
      assert(sink.records.exists(r =>
          r.funcName.startsWith("streaming:wm_out") &&
            r.observed.exists { case Observed(k, v) => k == "watermark" && v.nonEmpty }),
        "watermark missing from observed metrics")

      // a batch that dropped nothing reports an explicit zero, not absence
      assert(sink.records.exists(r =>
          r.funcName.startsWith("streaming:wm_out") &&
            r.observed.contains(Observed("rowsDroppedByWatermark", "0"))),
        "drop-free batches must still report the counter (as 0)")
    } finally {
      q.stop()
      Lineage.uninstall(spark, l)
    }
  }
}
