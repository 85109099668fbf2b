package graft.lineage

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** The reference's core surface: a real write command captured end-to-end
  * through the listener — inputs with pruned columns, output entity,
  * column lineage, run metrics — delivered to an in-memory sink.
  */
class LineageListenerSpec extends AnyFunSpec with SparkTestBase {

  describe("LineageListener round-trip") {

    it("captures a parquet write: inputs, pruned columns, output, lineage, metrics") {
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try withTempDir { dir =>
        val out = s"${dir.getAbsolutePath}/out"
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .filter(col("l_quantity") > 25)
          .select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
          .write.mode("overwrite").parquet(out)

        assert(eventually()(sink.records.exists(_.output.isDefined)),
          "no write record arrived on the listener bus")
        val rec = sink.records.find(_.output.isDefined).get
        assert(rec.status == "success")

        // input entity: the lineitem path, with ONLY the referenced columns
        assert(rec.inputs.size == 1)
        val in = rec.inputs.head
        assert(in.kind == "path")
        assert(in.name.contains("lineitem.parquet"))
        assert(in.format.exists(_.contains("parquet")))
        assert(in.columnsRead.toSet ==
          Set("l_orderkey", "l_extendedprice", "l_discount", "l_quantity"))

        // output entity: path + format + save mode
        val o = rec.output.get
        assert(o.kind == "path")
        assert(o.name.endsWith("/out"))
        assert(o.format.exists(_.contains("parquet")))
        assert(o.mode.contains("overwrite"))

        // column lineage: net <- {extendedprice, discount}; passthrough key
        assert(rec.outputColumns == Seq("l_orderkey", "net"))
        val lin = rec.columnLineage.map(m => m.output -> m.sources.toSet).toMap
        assert(lin("net").exists(_.endsWith(".l_extendedprice")))
        assert(lin("net").exists(_.endsWith(".l_discount")))
        assert(lin("net").size == 2)
        assert(lin("l_orderkey").size == 1)
        assert(lin("l_orderkey").head.endsWith(".l_orderkey"))

        // run metrics
        val written = spark.read.parquet(out).count()
        assert(rec.rowsWritten.contains(written))
        assert(rec.bytesWritten.exists(_ > 0L), s"bytesWritten=${rec.bytesWritten}")
        assert(rec.bytesRead.exists(_ > 0L), s"bytesRead=${rec.bytesRead}")
        assert(rec.schemaFingerprint.length == 64) // sha-256 hex
        assert(rec.funcName.nonEmpty)
        assert(rec.appId.nonEmpty && rec.user.nonEmpty)
      } finally Lineage.uninstall(spark, l)
    }

    it("captures a failing action via onFailure") {
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try {
        val boom = udf((i: Int) => {
          if (i >= 0) throw new RuntimeException("graft-test-boom"); i
        })
        intercept[Exception] {
          spark.read.parquet(s"$sfDir/orders.parquet")
            .select(boom(col("o_orderkey").cast("int")).as("x")).collect()
        }
        assert(eventually()(sink.records.exists(_.status == "failure")),
          "no failure record arrived")
        val rec = sink.records.find(_.status == "failure").get
        assert(rec.error.isDefined)
        assert(rec.inputs.exists(_.name.contains("orders.parquet")))
      } finally Lineage.uninstall(spark, l)
    }

    it("collects inputs from scalar/EXISTS subqueries, not just the main plan") {
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try {
        spark.read.parquet(s"$sfDir/lineitem.parquet").createOrReplaceTempView("li_v")
        spark.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("o_v")
        spark.sql(
          """SELECT l_orderkey FROM li_v
            |WHERE l_quantity > (SELECT avg(o_totalprice) / 10000 FROM o_v)
            |LIMIT 5""".stripMargin).collect()
        assert(eventually()(sink.records.exists(_.inputs.size >= 2)),
          s"subquery input missing: ${sink.records.map(_.inputs.map(_.name))}")
        val rec = sink.records.find(_.inputs.size >= 2).get
        assert(rec.inputs.exists(_.name.contains("lineitem.parquet")))
        assert(rec.inputs.exists(_.name.contains("orders.parquet")),
          "the scalar subquery's scan must appear as an input")
        // pruning still applies per branch
        val ordIn = rec.inputs.find(_.name.contains("orders.parquet")).get
        assert(ordIn.columnsRead == Seq("o_totalprice"))
      } finally {
        Lineage.uninstall(spark, l)
        spark.catalog.dropTempView("li_v"); spark.catalog.dropTempView("o_v")
      }
    }

    it("attributes bytes/rows read per input entity through an AQE-wrapped join write") {
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try withTempDir { dir =>
        val out = s"${dir.getAbsolutePath}/joined"
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        // the join forces an exchange, so AQE (on by default) wraps the
        // write's child in AdaptiveSparkPlanExec — the case where a
        // naive executedPlan.collect sees no scans at all
        orders.join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
          .write.mode("overwrite").parquet(out)

        assert(eventually()(sink.records.exists(r =>
          r.output.isDefined && r.inputs.size == 2)), "no 2-input write record")
        val rec = sink.records.find(r => r.output.isDefined && r.inputs.size == 2).get

        val oIn = rec.inputs.find(_.name.contains("orders.parquet")).get
        val cIn = rec.inputs.find(_.name.contains("customer.parquet")).get
        assert(oIn.bytesRead.exists(_ > 0L), s"orders bytesRead=${oIn.bytesRead}")
        assert(cIn.bytesRead.exists(_ > 0L), s"customer bytesRead=${cIn.bytesRead}")
        assert(oIn.rowsRead.contains(orders.count()), s"orders rowsRead=${oIn.rowsRead}")
        assert(cIn.rowsRead.contains(cust.count()), s"customer rowsRead=${cIn.rowsRead}")
        // the record-level total is the sum over scans, AQE included
        assert(rec.bytesRead.contains(oIn.bytesRead.get + cIn.bytesRead.get))
      } finally Lineage.uninstall(spark, l)
    }

    it("names a self-joined file once, with both sides' columns and the scans' total bytes") {
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try withTempDir { dir =>
        val out = s"${dir.getAbsolutePath}/self"
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        orders.select(col("o_orderkey"), col("o_custkey"))
          .join(orders.select(col("o_orderkey"), col("o_totalprice")), "o_orderkey")
          .write.mode("overwrite").parquet(out)

        assert(eventually()(sink.records.exists(_.output.isDefined)), "no write record")
        val rec = sink.records.find(_.output.isDefined).get
        assert(rec.inputs.map(_.name).count(_.contains("orders.parquet")) == 1,
          s"orders named more than once: ${rec.inputs.map(_.name)}")
        assert(rec.inputs.size == 1)
        val in = rec.inputs.head
        assert(in.columnsRead == Seq("o_orderkey", "o_custkey", "o_totalprice"),
          s"columnsRead=${in.columnsRead}")
        // both scans' stats land on the one entry, once
        assert(in.bytesRead.exists(_ > 0L) && in.bytesRead == rec.bytesRead,
          s"input bytesRead=${in.bytesRead} record bytesRead=${rec.bytesRead}")
      } finally Lineage.uninstall(spark, l)
    }

    it("aggregates executor metrics: shuffle bytes on an exchange plan, null on scan-only") {
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try {
        // aggregate forces an exchange: partial aggs shuffle to finals
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy("l_returnflag").agg(sum("l_quantity")).collect()
        assert(eventually()(sink.records.exists(_.shuffleBytesWritten.exists(_ > 0L))),
          s"no record with shuffle write bytes: ${sink.records.map(_.shuffleBytesWritten)}")
        val agg = sink.records.find(_.shuffleBytesWritten.exists(_ > 0L)).get
        assert(agg.shuffleBytesRead.exists(_ > 0L),
          s"exchange read side missing: ${agg.shuffleBytesRead}")
        assert(agg.peakMemoryBytes.isDefined, "hash aggregate carries a peak-memory metric")
        sink.clear()

        // scan-only plan: no exchange anywhere — the executor-pressure
        // fields must be None (nothing observed), not a lying zero
        spark.read.parquet(s"$sfDir/region.parquet").collect()
        assert(eventually()(sink.records.nonEmpty), "no scan record arrived")
        val scan = sink.records.head
        assert(scan.shuffleBytesWritten.isEmpty && scan.shuffleBytesRead.isEmpty,
          s"scan-only plan reported shuffle: $scan")
        // the JSON carries the new fields with stable keys
        assert(agg.toJson.contains("\"shuffleBytesWritten\":") &&
          agg.toJson.contains("\"peakMemoryBytes\":"))
      } finally Lineage.uninstall(spark, l)
    }

    it("never fails the query when a sink throws") {
      val throwing = new LineageSink {
        override def emit(r: LineageRecord): Unit = throw new IllegalStateException("sink down")
      }
      val l = Lineage.installSync(spark, throwing)
      try {
        // would surface as a listener exception if unguarded; query must succeed
        val n = spark.read.parquet(s"$sfDir/region.parquet").count()
        assert(n > 0)
      } finally Lineage.uninstall(spark, l)
    }

    it("plan fingerprints identify recurring jobs across sessions' exprIds") {
      val sink = new InMemorySink
      val l = Lineage.installSync(spark, sink)
      try {
        def runJob(): Unit = spark.read.parquet(s"$sfDir/orders.parquet")
          .filter(col("o_orderstatus") === "O")
          .groupBy("o_orderpriority").count().collect()
        runJob()
        runJob() // fresh DataFrame, fresh exprIds — same job
        spark.read.parquet(s"$sfDir/orders.parquet")
          .filter(col("o_orderstatus") === "F") // different literal = different job
          .groupBy("o_orderpriority").count().collect()
        assert(eventually()(sink.records.count(_.planFingerprint.nonEmpty) >= 3))
        val fps = sink.records.filter(_.funcName == "collect").map(_.planFingerprint)
        assert(fps.forall(_.matches("[0-9a-f]{64}")))
        assert(fps(0) == fps(1), "re-run of the same job changed fingerprint")
        assert(fps(2) != fps(0), "different job collided")
      } finally Lineage.uninstall(spark, l)
    }
  }
}
