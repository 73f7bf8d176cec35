package org.apache.spark.sql

import java.io.OutputStream

import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.arrow.ArrowBatchStreamWriter

/**
 * Bridge into Spark's `private[sql]` Arrow transport
 * (`Dataset.toArrowBatchRdd` + `ArrowBatchStreamWriter` — the machinery
 * behind `collectAsArrowToPython`, sql/core
 * `Dataset.scala` / `arrow/ArrowConverters.scala`). Lives in
 * `org.apache.spark.sql` solely to satisfy the `private[sql]` access
 * scope, the same pattern Spark ecosystem connectors use; everything
 * referenced is Spark's own public-source code, no behavior is copied or
 * overridden.
 *
 * Why: the reference engine buffers query results as Arrow RecordBatches
 * (iceberg-explorer `query/executor.py:254-260`) and serves columnar
 * pages from them. Spark's row transport (`QueryExecutor`'s row-capped
 * `collect`) remains the serving default here, but the Arrow export path
 * streams the SAME columnar IPC format — batches are produced by
 * executors straight from Tungsten rows, roll through the driver one
 * batch at a time, and the result is a fully-formed Arrow IPC stream
 * (schema message, record batches, end-of-stream) any Arrow reader can
 * consume.
 */
object GraftArrow {

  /** Write `df` to `out` as an Arrow IPC stream; returns the batch count.
    * The caller bounds the row count (e.g. `.limit(maxRows)`) — batches
    * stream through the driver one at a time, so driver memory is one
    * batch, not the result. */
  def writeIpcStream(df: DataFrame, out: OutputStream): Long = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val tz = ds.sparkSession.sessionState.conf.sessionLocalTimeZone
    val writer = new ArrowBatchStreamWriter(ds.schema, out, tz,
      true /* errorOnDuplicatedFieldNames */, false /* largeVarTypes */)
    var n = 0L
    writer.writeBatches(ds.toArrowBatchRdd.toLocalIterator.map { b =>
      n += 1; b
    })
    writer.end()
    n
  }
}
