package graft.lineage

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestBase
import org.scalatest.funspec.AnyFunSpec

import scala.jdk.CollectionConverters._

/** The JSONL catalog line's format, pinned by lines the earlier
  * hand-written writer produced: such a line loads to its record, and
  * [[LineageRecord.toJson]] renders that record to the same JSON tree
  * (key order aside). A malformed line and a line missing keys load as
  * they always did: a null-status record, and empty lists, zeros and
  * `None` for whatever the line lacks.
  */
class LineageFormatSpec extends AnyFunSpec with SparkTestBase {

  private val om = new ObjectMapper()

  private def load(lines: String*): Seq[LineageRecord] = withTempDir { dir =>
    val path = new java.io.File(dir, "catalog.jsonl").toPath
    Files.write(path, lines.asJava)
    LineageCatalog.load(spark, path.toString)
  }

  /** Every optional field set, control characters in strings. */
  private val allSet = LineageRecord(
    appId = "app-\u0001\u001f", appName = "n \"q\" \\ \b\f", user = "u\tv",
    funcName = "save", status = "failure", error = Some("boom\r\nline2"),
    durationNs = 123456789L, timestampMs = 1700000000123L,
    inputs = Seq(
      InputEntity("path", "/d/a.parquet", Some("parquet"), Seq("x", "y\n"),
        Some(2048L), Some(10L), Seq("(p = 1)"), Some(3L)),
      InputEntity("jdbc", "jdbc:derby:memory:db!T", None, Nil)),
    output = Some(OutputEntity("path", "/out", Some("parquet"), Some("overwrite"),
      Seq("p"), Seq("p=1"), Some(1L))),
    outputColumns = Seq("x", "y\n"),
    columnLineage = Seq(
      ColumnMapping("x", Seq("/d/a.parquet.x")),
      ColumnMapping("y\n", Seq("/d/a.parquet.x", "/d/a.parquet.y\n"), Some("(x + 1)\t"))),
    schemaFingerprint = "ab" * 32, rowsWritten = Some(7L),
    bytesWritten = Some(1024L), bytesRead = Some(2048L),
    shuffleBytesWritten = Some(11L), shuffleBytesRead = Some(12L),
    peakMemoryBytes = Some(13L), spillBytes = Some(0L),
    planFingerprint = "cd" * 32, queryText = Some("sql: SELECT\t1\n"),
    observed = Seq(Observed("gate.rows_in", "10"), Observed("gate.neg\u0002", "0")))

  private val allSetLine =
    "{\"appId\":\"app-\\u0001\\u001f\",\"appName\":\"n \\\"q\\\" \\\\ \\u0008\\u000c\",\"user\":\"u\\tv\"" +
    ",\"observed\":[{\"name\":\"gate.rows_in\",\"value\":\"10\"},{\"name\":\"gate.neg\\u0002\"" +
    ",\"value\":\"0\"}],\"funcName\":\"save\",\"status\":\"failure\",\"error\":\"boom\\r\\nline2\"" +
    ",\"durationNs\":123456789,\"timestampMs\":1700000000123,\"inputs\":[{\"kind\":\"path\"" +
    ",\"name\":\"/d/a.parquet\",\"format\":\"parquet\",\"columnsRead\":[\"x\",\"y\\n\"]" +
    ",\"bytesRead\":2048,\"rowsRead\":10,\"partitionFilters\":[\"(p = 1)\"]" +
    ",\"partitionsRead\":3},{\"kind\":\"jdbc\",\"name\":\"jdbc:derby:memory:db!T\"" +
    ",\"format\":null,\"columnsRead\":[],\"bytesRead\":null,\"rowsRead\":null" +
    ",\"partitionFilters\":[],\"partitionsRead\":null}],\"output\":{\"kind\":\"path\"" +
    ",\"name\":\"/out\",\"format\":\"parquet\",\"mode\":\"overwrite\",\"partitionColumns\":[\"p\"]" +
    ",\"staticPartitions\":[\"p=1\"],\"partitionsWritten\":1},\"outputColumns\":[\"x\",\"y\\n\"]" +
    ",\"columnLineage\":[{\"output\":\"x\",\"sources\":[\"/d/a.parquet.x\"]" +
    ",\"expression\":null},{\"output\":\"y\\n\",\"sources\":[\"/d/a.parquet.x\"" +
    ",\"/d/a.parquet.y\\n\"],\"expression\":\"(x + 1)\\t\"}]" +
    ",\"schemaFingerprint\":\"abababababababababababababababababababababababababababababababab\"" +
    ",\"rowsWritten\":7,\"bytesWritten\":1024,\"bytesRead\":2048,\"shuffleBytesWritten\":11" +
    ",\"shuffleBytesRead\":12,\"peakMemoryBytes\":13,\"spillBytes\":0" +
    ",\"planFingerprint\":\"cdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcd\"" +
    ",\"queryText\":\"sql: SELECT\\t1\\n\"}"

  /** Every optional field unset. */
  private val allUnset = LineageRecord(
    appId = "app-2", appName = "n", user = "u", funcName = "collect",
    status = "success", error = None, durationNs = 0L, timestampMs = 1700000000000L,
    inputs = Nil, output = None, outputColumns = Nil, columnLineage = Nil,
    schemaFingerprint = "", rowsWritten = None)

  private val allUnsetLine =
    "{\"appId\":\"app-2\",\"appName\":\"n\",\"user\":\"u\",\"observed\":[],\"funcName\":\"collect\"" +
    ",\"status\":\"success\",\"error\":null,\"durationNs\":0,\"timestampMs\":1700000000000" +
    ",\"inputs\":[],\"output\":null,\"outputColumns\":[],\"columnLineage\":[]" +
    ",\"schemaFingerprint\":\"\",\"rowsWritten\":null,\"bytesWritten\":null,\"bytesRead\":null" +
    ",\"shuffleBytesWritten\":null,\"shuffleBytesRead\":null,\"peakMemoryBytes\":null" +
    ",\"spillBytes\":null,\"planFingerprint\":\"\",\"queryText\":null}"

  it("a line of the earlier writer loads to its record and is written back as the same JSON tree") {
    assert(load(allSetLine, allUnsetLine) == Seq(allSet, allUnset))
    Seq(allSetLine -> allSet, allUnsetLine -> allUnset).foreach { case (line, r) =>
      assert(om.readTree(r.toJson) == om.readTree(line), r.toJson)
    }
  }

  it("a malformed line and a line missing keys load as null-status and empty records") {
    val Seq(malformed, sparse) = load(
      """{"appId":"x","durationNs":""",
      """{"appId":"m","status":"success","inputs":[{"kind":"path","name":"p"}],""" +
        """"output":{"kind":"path","name":"o"},"columnLineage":[{"output":"c"}]}""")
    assert(malformed == LineageRecord(null, null, null, null, null, None, 0L, 0L,
      Nil, None, Nil, Nil, null, None, planFingerprint = null))
    assert(sparse == LineageRecord("m", null, null, null, "success", None, 0L, 0L,
      Seq(InputEntity("path", "p", None, Nil)),
      Some(OutputEntity("path", "o", None, None)), Nil,
      Seq(ColumnMapping("c", Nil)), null, None, planFingerprint = null))
  }
}
