package graft.engine

import graft.SparkSuite
import graft.results.ResultStream
import graft.tables.Tables

/** Full query-lifecycle integration: gate → async execute → status poll →
  * NDJSON stream → CSV export → cleanup — the reference's main serving
  * path (SURVEY §3.1) driven end-to-end through the real engine. */
class LifecycleE2ESpec extends SparkSuite {

  private lazy val executor = {
    Tables.register(spark, sf)
    new QueryExecutor(spark)
  }

  test("async execute: poll to completion, stream NDJSON, export CSV, cleanup") {
    val r = executor.executeAsync(
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 150")
    val qid = r.queryId

    // A18: results arrive after a bounded wait even if still running now
    val lines = ResultStream.ndjsonAwait(
      () => executor.getStatus(qid), qid.toString, pageSize = 100).toSeq
    assert(lines.head.contains("\"type\":\"metadata\""))
    assert(lines.head.contains("\"total_rows\":150"))
    assert(lines.count(_.contains("\"type\":\"data\"")) === 1) // page of 100
    assert(lines.last.contains("\"type\":\"complete\""))

    // terminal result also serves CSV
    val done = executor.getStatus(qid).get
    val csvText = ResultStream.csv(done).map(new String(_, "UTF-8")).mkString
    assert(csvText.startsWith("o_orderkey,o_totalprice\r\n"))
    assert(csvText.linesIterator.size === 151) // header + 150 rows

    // A5 cleanup de-registers
    executor.cleanup(qid)
    assert(executor.getStatus(qid).isEmpty)
  }

  test("async execute records failure; ndjsonAwait reports it") {
    val r = executor.executeAsync("SELECT * FROM no_such_table_xyz")
    val terminal = ResultStream.awaitCompletion(
      () => executor.getStatus(r.queryId), maxWaitSec = 60).get
    assert(terminal.state === QueryState.Failed)
    val lines = ResultStream.ndjsonAwait(
      () => executor.getStatus(r.queryId), r.queryId.toString).toSeq
    assert(lines.length === 1)
    assert(lines.head.contains("\"type\":\"error\""))
    assert(lines.head.contains("\"status\":\"failed\""))
  }

  test("async timeout: the deadline fails the query and its span reads timeout") {
    val fast = new QueryExecutor(spark, QueryConfig(minTimeout = 1))
    spark.udf.register("spec_sleep_udf", (x: Long) => { Thread.sleep(5); x })
    val t0 = System.nanoTime()
    val r = fast.executeAsync(
      "SELECT sum(spec_sleep_udf(id)) FROM range(20000)", timeout = Some(1))
    val terminal = ResultStream.awaitCompletion(
      () => fast.getStatus(r.queryId), maxWaitSec = 30)
    assert((System.nanoTime() - t0) / 1e9 < 30)
    assert(terminal.exists(_.state === QueryState.Failed), terminal)
    assert(terminal.flatMap(_.errorMessage).contains("Query timeout exceeded"))
    // the waiter thread records the span just after the transition
    def span = Metrics.recentSpans.find(_.queryId == r.queryId.toString)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (span.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(span.exists(s => s.status == "timeout" && s.statusCode == "ERROR"), span)
  }

  test("gate rejects before any registration on the async path too") {
    intercept[InvalidSqlError] { executor.executeAsync("DROP TABLE orders") }
    assert(executor.activeQueryIds.isEmpty)
  }
}
