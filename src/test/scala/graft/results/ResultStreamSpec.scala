package graft.results

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Metrics, QueryResult}

/** CSV formatting matrix ported from the reference
  * (reference: tests/test_export.py:69-127) and NDJSON protocol order
  * (reference: tests/test_query_api.py:600-918). */
class ResultStreamSpec extends AnyFunSuite {

  private def completed(schema: StructType, rows: Seq[Row]): QueryResult = {
    val r = new QueryResult("SELECT 1")
    r.setRunning()
    r.setCompleted(rows.toIndexedSeq, schema)
    r
  }

  // --- CSV value formatting (test_export.py:69-127) ---------------------
  test("csv values: null empty, booleans lowercase, bytes hex, ts ISO") {
    assert(ValueFormat.csvValue(null) === "")
    assert(ValueFormat.csvValue(true) === "true")
    assert(ValueFormat.csvValue(false) === "false")
    assert(ValueFormat.csvValue(Array[Byte](0x01, 0xab.toByte)) === "01ab")
    assert(ValueFormat.csvValue(Timestamp.valueOf("2024-01-15 10:30:00")) ===
      "2024-01-15T10:30:00")
    assert(ValueFormat.csvValue(
      Timestamp.valueOf("2024-01-15 10:30:00.123456")) ===
      "2024-01-15T10:30:00.123456")
    assert(ValueFormat.csvValue(42) === "42")
    assert(ValueFormat.csvValue(new java.math.BigDecimal("12.30")) === "12.30")
  }

  test("csv quoting: commas/quotes/newlines quoted, quotes doubled, CRLF rows") {
    assert(ValueFormat.csvField("plain") === "plain")
    assert(ValueFormat.csvField("a,b") === "\"a,b\"")
    assert(ValueFormat.csvField("say \"hi\"") === "\"say \"\"hi\"\"\"")
    assert(ValueFormat.csvField("line\nbreak") === "\"line\nbreak\"")
    assert(ValueFormat.csvRow(Seq("a", "b,c")) === "a,\"b,c\"\r\n")
  }

  test("csv stream: header + rows, special chars survive") {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("flag", BooleanType)))
    val r = completed(schema, Seq(
      Row(1, "alpha", true), Row(2, "be,ta", false), Row(3, null, null)))
    val out = ResultStream.csv(r).map(new String(_, "UTF-8")).mkString
    assert(out ===
      "id,name,flag\r\n1,alpha,true\r\n2,\"be,ta\",false\r\n3,,\r\n")
  }

  test("csv byte cap aborts export (reference: export.py:136-142)") {
    val schema = StructType(Seq(StructField("s", StringType)))
    val r = completed(schema, (1 to 1000).map(i => Row("x" * 100)))
    val it = ResultStream.csv(r, maxSizeBytes = 2048)
    intercept[ResultStream.CsvExportError] { it.foreach(_ => ()) }
  }

  test("csv on failed query raises (reference: export.py:103-108)") {
    val r = new QueryResult("SELECT 1")
    r.setRunning(); r.setFailed("boom")
    val e = intercept[ResultStream.CsvExportError] { ResultStream.csv(r) }
    assert(e.getMessage.contains("boom"))
  }

  test("filename sanitization (reference: export.py:214-217)") {
    assert(ValueFormat.sanitizeFilename("a/b\\c:d*e?f\"g<h>i|j") ===
      "a_b_c_d_e_f_g_h_i_j")
    assert(ValueFormat.sanitizeFilename("x" * 300).length === 200)
  }

  // --- NDJSON protocol (test_query_api.py:600-918) ----------------------
  private val twoColSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("ndjson order: metadata, data(100-row batches)+progress, complete") {
    val r = completed(twoColSchema,
      (1 to 250).map(i => Row(i.toLong, s"n$i")))
    val lines = ResultStream.ndjson(Some(r), "qid-1", pageSize = 250).toSeq
    // 1 metadata + 3 data/progress pairs (100+100+50) + 1 complete
    assert(lines.length === 1 + 3 * 2 + 1)
    assert(lines.head.startsWith("""{"type":"metadata","query_id":"qid-1""""))
    assert(lines.head.contains(""""total_rows":250"""))
    assert(lines.head.contains(
      """{"name":"id","type":"bigint"},{"name":"name","type":"string"}"""))
    assert(lines(1).startsWith("""{"type":"data","rows":[[1,"n1"],"""))
    assert(lines(1).endsWith(""""batch_index":0}"""))
    assert(lines(2) === """{"type":"progress","rows_sent":100,"total_rows":250}""")
    assert(lines(5).contains(""""batch_index":2"""))
    assert(lines.last.startsWith("""{"type":"complete","query_id":"qid-1","rows_returned":250"""))
  }

  test("ndjson offset skips rows; progress is offset-inclusive") {
    val r = completed(twoColSchema,
      (1 to 300).map(i => Row(i.toLong, s"n$i")))
    val lines = ResultStream.ndjson(Some(r), "q", pageSize = 100,
      offset = 150).toSeq
    assert(lines(1).contains("""[151,"n151"]"""))
    assert(lines(2) === """{"type":"progress","rows_sent":250,"total_rows":300}""")
    assert(lines.last.contains(""""rows_returned":100"""))
  }

  test("ndjson page_size caps rows returned") {
    val r = completed(twoColSchema,
      (1 to 500).map(i => Row(i.toLong, s"n$i")))
    val lines = ResultStream.ndjson(Some(r), "q", pageSize = 100).toSeq
    assert(lines.count(_.startsWith("""{"type":"data""")) === 1)
    assert(lines.last.contains(""""rows_returned":100"""))
  }

  test("invalid page size rejected (reference: query.py:255-258)") {
    val r = completed(twoColSchema, Seq(Row(1L, "a")))
    intercept[ResultStream.InvalidPageSizeError] {
      ResultStream.ndjson(Some(r), "q", pageSize = 123)
    }
  }

  test("unknown query → single error line (reference: query.py:105-109)") {
    val lines = ResultStream.ndjson(None, "nope").toSeq
    assert(lines === Seq("""{"type":"error","error":"Query not found: nope"}"""))
  }

  test("failed query → error with status (reference: query.py:111-120)") {
    val r = new QueryResult("SELECT 1")
    r.setRunning(); r.setFailed("kaput")
    val lines = ResultStream.ndjson(Some(r), "q").toSeq
    assert(lines === Seq("""{"type":"error","error":"kaput","status":"failed"}"""))
  }

  test("json values: timestamps ISO, bytes hex, arrays nested, NaN quoted") {
    assert(ValueFormat.jsonValue(Timestamp.valueOf("2024-06-01 01:02:03")) ===
      "\"2024-06-01T01:02:03\"")
    assert(ValueFormat.jsonValue(Array[Byte](0x0f)) === "\"0f\"")
    assert(ValueFormat.jsonValue(Seq(1, 2, 3)) === "[1,2,3]")
    assert(ValueFormat.jsonValue(Double.NaN) === "\"NaN\"")
    assert(ValueFormat.jsonValue("tab\there") === "\"tab\\there\"")
  }

  test("csvForSql: inline-SQL export arm executes then streams") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val executor = new graft.engine.QueryExecutor(spark)
    val out = ResultStream.csvForSql(executor,
      "SELECT id, id * 2 AS d FROM range(3) ORDER BY id")
      .map(new String(_, "UTF-8")).mkString
    assert(out === "id,d\r\n0,0\r\n1,2\r\n2,4\r\n")
    intercept[graft.engine.InvalidSqlError] {
      ResultStream.csvForSql(executor, "DELETE FROM t")
    }
  }

  test("csvForSql de-registers the result it exported") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val executor = new graft.engine.QueryExecutor(spark)
    val seen = Metrics.recentSpans.map(_.queryId).toSet
    val out = ResultStream.csvForSql(executor,
      "SELECT id FROM range(3) ORDER BY id")
      .map(new String(_, "UTF-8")).mkString
    assert(out === "id\r\n0\r\n1\r\n2\r\n")
    val ids = Metrics.recentSpans.map(_.queryId).filterNot(seen)
    assert(ids.size === 1)
    assert(executor.getStatus(java.util.UUID.fromString(ids.head)).isEmpty)
  }
}
