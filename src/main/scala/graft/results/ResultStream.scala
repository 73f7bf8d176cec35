package graft.results

import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.engine.{QueryResult, QueryState}
import ValueFormat._

/**
 * Result-delivery operators A15-A17: offset/page pagination, the ordered
 * NDJSON message protocol, and the streaming bounded CSV renderer
 * (reference: src/iceberg_explorer/api/routes/query.py:83-231,
 * api/routes/export.py:47-150; message schemas models/query.py:56-91).
 *
 * All functions are lazy `Iterator[String]`/`Iterator[Array[Byte]]`
 * producers over an already-buffered (bounded, max_rows-capped)
 * QueryResult — the reference's semantics, with the 100 TB caveat that the
 * buffer upstream is produced by one row-capped action in
 * [[graft.engine.QueryExecutor]], never an unbounded collect
 * (SURVEY §7.5(3)).
 */
object ResultStream {

  /** Valid page sizes (reference: api/routes/query.py:35). */
  val ValidPageSizes: Set[Int] = Set(100, 250, 500, 1000)

  /** Rows per NDJSON `data` message (reference: query.py:168). */
  val JsonBatchSize = 100

  /** CSV flush threshold in bytes (reference: export.py:135). */
  val CsvChunkBytes = 8192

  final class InvalidPageSizeError(val pageSize: Int) extends Exception(
    s"Invalid page_size. Must be one of: ${ValidPageSizes.toSeq.sorted.mkString("[", ", ", "]")}")

  final class CsvExportError(msg: String) extends Exception(msg)

  private def errorLine(msg: String, status: Option[String] = None): String = {
    val statusPart = status.map(s => s""","status":${jsonString(s)}""").getOrElse("")
    s"""{"type":"error","error":${jsonString(msg)}$statusPart}"""
  }

  /**
   * NDJSON stream for a query's results — ordered protocol:
   * metadata → (data, progress)* → complete; errors as single
   * `{"type":"error"}` lines (reference: query.py:83-231).
   *
   * Message field order and semantics match the reference models:
   *  - metadata: query_id, columns [{name,type}], total_rows
   *  - data: rows (arrays), batch_index
   *  - progress: rows_sent (offset-inclusive), total_rows
   *  - complete: query_id, rows_returned (this page), duration_seconds
   */
  def ndjson(result: Option[QueryResult], queryId: String,
             pageSize: Int = 100, offset: Int = 0): Iterator[String] = {
    if (!ValidPageSizes.contains(pageSize))
      throw new InvalidPageSizeError(pageSize)

    result match {
      case None =>
        Iterator.single(errorLine(s"Query not found: $queryId"))
      case Some(r) if r.state == QueryState.Completed =>
        completedStream(r, queryId, pageSize, offset)
      case Some(r) =>
        val msg = r.errorMessage.getOrElse(s"Query not ready: ${r.state.value}")
        Iterator.single(errorLine(msg, Some(r.state.value)))
    }
  }

  private def completedStream(r: QueryResult, queryId: String,
                              pageSize: Int, offset: Int): Iterator[String] = {
    val schema = r.schema.getOrElse(StructType(Nil))
    val columnsJson = schema.fields.map(f =>
      s"""{"name":${jsonString(f.name)},"type":${jsonString(f.dataType.sql.toLowerCase)}}""")
      .mkString("[", ",", "]")
    val totalRows = r.rows.length

    val metadata = Iterator.single(
      s"""{"type":"metadata","query_id":${jsonString(queryId)},"columns":$columnsJson,"total_rows":$totalRows}""")

    val page = r.rows.iterator.slice(offset, offset + pageSize)
    var rowsSent = 0
    var batchIndex = -1
    val dataAndProgress = page.grouped(JsonBatchSize).flatMap { chunk =>
      rowsSent += chunk.length
      batchIndex += 1
      val rowsJson = chunk.map(row =>
        row.toSeq.map(jsonValue).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      Iterator(
        s"""{"type":"data","rows":$rowsJson,"batch_index":$batchIndex}""",
        s"""{"type":"progress","rows_sent":${rowsSent + offset},"total_rows":$totalRows}""")
    }

    // `complete` must observe the final rowsSent → compute lazily after the
    // data iterator is drained.
    val complete = Iterator.single(()).map { _ =>
      s"""{"type":"complete","query_id":${jsonString(queryId)},"rows_returned":$rowsSent,"duration_seconds":${r.metrics.durationSeconds}}"""
    }
    metadata ++ dataAndProgress ++ complete
  }

  /**
   * A18 blocking wait-for-completion: wait for a pending/running query to
   * reach a terminal state, up to `maxWaitSec` (reference: results and
   * CSV endpoints poll at 100 ms up to 3600 s,
   * api/routes/query.py:122-136, api/routes/export.py:90-101).
   * Returns the terminal result, or None on wait timeout.
   */
  def awaitCompletion(status: () => Option[QueryResult],
                      maxWaitSec: Int = 3600): Option[QueryResult] =
    status().filter(_.await(maxWaitSec.seconds))

  /** NDJSON stream that first waits for a running query like the
    * reference's results endpoint: terminal → stream; wait timeout →
    * single error line. */
  def ndjsonAwait(status: () => Option[QueryResult], queryId: String,
                  pageSize: Int = 100, offset: Int = 0,
                  maxWaitSec: Int = 3600): Iterator[String] =
    status() match {
      case Some(r) if !r.await(maxWaitSec.seconds) =>
        Iterator.single(errorLine("Timeout waiting for query completion"))
      case result => ndjson(result, queryId, pageSize, offset)
    }

  /** CSV export for inline SQL — the reference's `POST /export/csv`
    * accepts sql XOR query_id (reference: export.py:153-228); this is the
    * sql arm: validate+execute synchronously, then stream. The client never
    * sees the query id, so the result is de-registered at once; the
    * returned iterator keeps its rows. */
  def csvForSql(executor: graft.engine.QueryExecutor, sql: String,
                maxSizeBytes: Long = 1073741824L): Iterator[Array[Byte]] = {
    val r = executor.execute(sql)
    executor.cleanup(r.queryId)
    csv(r, maxSizeBytes)
  }

  /**
   * Streaming CSV export with byte cap — header, per-row formatting via
   * [[ValueFormat.csvValue]], flushed in ~8 KiB chunks, aborting when the
   * total exceeds `maxSizeBytes` (reference: export.py:47-150; default cap
   * 1 GiB, config.py:110-114).
   */
  def csv(result: QueryResult,
          maxSizeBytes: Long = 1073741824L): Iterator[Array[Byte]] = {
    result.state match {
      case QueryState.Cancelled =>
        throw new CsvExportError("Query was cancelled")
      case QueryState.Failed =>
        throw new CsvExportError(
          s"Query failed: ${result.errorMessage.getOrElse("Unknown error")}")
      case QueryState.Completed => ()
      case other =>
        throw new CsvExportError(s"Query in unexpected state: ${other.value}")
    }
    val schema = result.schema.getOrElse(StructType(Nil))
    if (schema.isEmpty) return Iterator.empty

    var bytesWritten = 0L
    def guarded(chunk: Array[Byte]): Array[Byte] = {
      bytesWritten += chunk.length
      if (bytesWritten > maxSizeBytes)
        throw new CsvExportError(
          s"Export size exceeds maximum of $maxSizeBytes bytes")
      chunk
    }

    val header = Iterator.single(
      guarded(csvRow(schema.fieldNames.toSeq).getBytes("UTF-8")))

    // Accumulate rows until the buffer crosses the chunk threshold, then
    // flush — the reference's 8 KiB batching (export.py:127-143).
    val rowChunks = new Iterator[Array[Byte]] {
      private val rows = result.rows.iterator
      private val buf = new StringBuilder
      def hasNext: Boolean = rows.hasNext || buf.nonEmpty
      def next(): Array[Byte] = {
        while (rows.hasNext && buf.length < CsvChunkBytes)
          buf.append(csvRow(rows.next().toSeq.map(csvValue)))
        val out = buf.toString.getBytes("UTF-8")
        buf.clear()
        guarded(out)
      }
    }
    header ++ rowChunks
  }
}
