package graft.engine

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Query execution with lifecycle, timeout, and cancellation —
 * operators A2–A5 (reference: src/iceberg_explorer/query/executor.py:119-347).
 *
 * Spark-first translation of the reference's threading model:
 *  - the reference runs each query on a daemon thread so the caller can
 *    `wait(timeout)` and `conn.interrupt()` — here the worker thread tags
 *    itself with a Spark job group (= the query UUID) and `cancelJobGroup`
 *    is the interrupt. Cancellation lands at task boundaries (Spark
 *    semantics); the state machine is identical.
 *  - the reference serializes every query behind one connection lock
 *    (engine.py:139-164) because DuckDB connections aren't thread-safe.
 *    SparkSession IS thread-safe, so queries here run concurrently —
 *    the registry and metrics are lock-free concurrent structures.
 *  - results are buffered bounded by ONE Spark action,
 *    `limit(maxRows + 1).collect()`, never an unbounded collect (100 TB
 *    design rule). Each task returns at most `maxRows + 1` rows, the
 *    driver merges them down to `maxRows + 1` (the extra row only
 *    detects truncation), and `spark.driver.maxResultSize` fails an
 *    oversized statement cleanly instead of exhausting driver memory.
 *    An `ORDER BY` plans as `TakeOrderedAndProject`: no range-partition
 *    sample job and no shuffle, so a small statement is one job. The
 *    reference's `max_rows` config was dead code; we enforce it
 *    (SURVEY §2.A note).
 */
final class QueryExecutor(
    spark: SparkSession,
    config: QueryConfig = QueryConfig()) {

  private val activeQueries = new ConcurrentHashMap[UUID, QueryResult]()
  private val cancelFlags = new ConcurrentHashMap[UUID, AtomicBoolean]()

  def validateTimeout(timeout: Option[Int]): Int = config.clampTimeout(timeout)

  /** Validate, execute with timeout, return the terminal QueryResult.
    * Throws like the reference: InvalidSqlError before registration,
    * QueryTimeoutError / QueryCancelledError / the query's own failure
    * after (state is recorded on the result first).
    *
    * `params` binds positional `?` placeholders (the reference passes
    * DuckDB positional parameters, e.g. api/routes/catalog.py:236; Spark 4
    * `spark.sql(sql, args)` is the native equivalent — literals are bound
    * post-gate, so parameter VALUES can never smuggle keywords past A1). */
  def execute(sql: String, timeout: Option[Int] = None,
              params: Seq[Any] = Seq.empty): QueryResult = {
    SqlGate.validate(sql)
    val timeoutSec = validateTimeout(timeout)

    val result = new QueryResult(sql)
    val boundParams = params.toArray
    val cancelled = new AtomicBoolean(false)
    activeQueries.put(result.queryId, result)
    cancelFlags.put(result.queryId, cancelled)

    Metrics.incrementActiveQueries()
    try {
      result.setRunning()
      runWithTimeout(result, timeoutSec, cancelled, boundParams)
      Metrics.recordQueryDuration(result.metrics.durationSeconds, result.state.value)
      Metrics.recordQueryRows(result.metrics.rowsReturned)
      emitSpan(result, timeoutSec, result.state.value, None)
      result
    } catch {
      case e: QueryTimeoutError =>
        Metrics.recordQueryDuration(timeoutSec.toDouble, "timeout")
        emitSpan(result, timeoutSec, "timeout", Some("Query timeout")); throw e
      case e: QueryCancelledError =>
        Metrics.recordQueryDuration(result.metrics.durationSeconds, "cancelled")
        emitSpan(result, timeoutSec, "cancelled", None); throw e
      case NonFatal(e) =>
        Metrics.recordQueryDuration(result.metrics.durationSeconds, "failed")
        emitSpan(result, timeoutSec, "failed",
          Some(Option(e.getMessage).getOrElse(e.toString))); throw e
    } finally {
      Metrics.decrementActiveQueries()
      cancelFlags.remove(result.queryId)
    }
  }

  /** Gate-validated DataFrame for columnar export: the same A1 gate and
    * maxRows bound as [[execute]], but the result stays a logical plan so
    * the Arrow transport can stream executor-produced IPC batches without
    * a driver Row-buffer detour (the reference buffers Arrow
    * RecordBatches the same way, executor.py:254-260). */
  def dataFrameForExport(sql: String): org.apache.spark.sql.DataFrame = {
    SqlGate.validate(sql)
    spark.sql(sql).limit(config.maxRows)
  }

  /** One trace record per execution, with the reference span's attribute
    * set and OK/ERROR status semantics (reference: executor.py:181-222 —
    * timeout/failure are ERROR, cancellation is OK). */
  private def emitSpan(result: QueryResult, timeoutSec: Int,
                       status: String, error: Option[String]): Unit =
    Metrics.recordSpan(QuerySpan(
      name = "spark.query",
      queryId = result.queryId.toString,
      timeoutSeconds = timeoutSec,
      status = status,
      durationSeconds = Some(result.metrics.durationSeconds),
      rowsReturned =
        if (status == "completed") Some(result.metrics.rowsReturned) else None,
      statusCode =
        if (status == "failed" || status == "timeout") "ERROR" else "OK",
      statusDescription = error))

  private def runWithTimeout(
      result: QueryResult, timeoutSec: Int, cancelled: AtomicBoolean,
      params: Array[Any] = Array.empty): Unit = {
    val done = new CountDownLatch(1)
    val errorHolder = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val jobGroup = result.queryId.toString

    val worker = new Thread(() => {
      try {
        if (!cancelled.get()) {
          // job group tags every job this thread triggers; cancelJobGroup
          // with interruptOnCancel kills the running tasks.
          spark.sparkContext.setJobGroup(jobGroup, result.sql, interruptOnCancel = true)
          val df = if (params.isEmpty) spark.sql(result.sql)
                   else spark.sql(result.sql, params)
          val schema = df.schema
          if (!cancelled.get()) {
            val rows = df.limit(config.maxRows + 1).collect()
            if (!cancelled.get())
              result.setCompleted(rows.iterator.take(config.maxRows).toVector,
                schema, truncated = rows.length > config.maxRows)
          }
        }
      } catch {
        case NonFatal(e) => if (!cancelled.get()) errorHolder.set(e)
      } finally {
        spark.sparkContext.clearJobGroup()
        done.countDown()
      }
    }, s"graft-query-$jobGroup")
    worker.setDaemon(true)
    worker.start()

    val completed = done.await(timeoutSec.toLong, TimeUnit.SECONDS)

    if (!completed) {
      cancelled.set(true)
      // AndFutureJobs: also kills jobs the worker submits AFTER this call
      // (cancel can land between planning and job submission).
      spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
      result.setFailed("Query timeout exceeded")
      throw new QueryTimeoutError(s"Query exceeded ${timeoutSec}s timeout")
    }
    if (cancelled.get()) {
      result.setCancelled()
      throw new QueryCancelledError("Query was cancelled")
    }
    Option(errorHolder.get()).foreach { e =>
      result.setFailed(e.getMessage)
      throw e
    }
  }

  /**
   * Fire-and-poll execution — registers the query and returns its (live)
   * QueryResult immediately; state transitions happen on a daemon worker.
   * This is the reference's actual serving shape: the execute endpoint
   * dispatches to a thread and other endpoints poll `get_status` while the
   * query runs (reference: api/routes/query.py:64,122-136). Terminal
   * outcome (including timeout/cancel/failure) is recorded on the result;
   * nothing is thrown to the caller.
   */
  def executeAsync(sql: String, timeout: Option[Int] = None,
                   params: Seq[Any] = Seq.empty): QueryResult = {
    SqlGate.validate(sql)
    val timeoutSec = validateTimeout(timeout)
    val result = new QueryResult(sql)
    val cancelled = new AtomicBoolean(false)
    activeQueries.put(result.queryId, result)
    cancelFlags.put(result.queryId, cancelled)
    Metrics.incrementActiveQueries()
    val runner = new Thread(() => {
      try {
        result.setRunning()
        runWithTimeout(result, timeoutSec, cancelled, params.toArray)
        Metrics.recordQueryDuration(result.metrics.durationSeconds, result.state.value)
        Metrics.recordQueryRows(result.metrics.rowsReturned)
        emitSpan(result, timeoutSec, result.state.value, None)
      } catch {
        // outcome already recorded on the result; span mirrors it
        case _: QueryTimeoutError =>
          Metrics.recordQueryDuration(timeoutSec.toDouble, "timeout")
          emitSpan(result, timeoutSec, "timeout", Some("Query timeout"))
        case _: QueryCancelledError =>
          Metrics.recordQueryDuration(result.metrics.durationSeconds, "cancelled")
          emitSpan(result, timeoutSec, "cancelled", None)
        case NonFatal(e) =>
          Metrics.recordQueryDuration(result.metrics.durationSeconds, "failed")
          emitSpan(result, timeoutSec, "failed",
            Some(Option(e.getMessage).getOrElse(e.toString)))
      } finally {
        Metrics.decrementActiveQueries()
        cancelFlags.remove(result.queryId)
      }
    }, s"graft-async-${result.queryId}")
    runner.setDaemon(true)
    runner.start()
    result
  }

  /** Cancel a running query — idempotent; false if unknown or terminal
    * (reference: executor.py:294-324). */
  def cancel(queryId: UUID): Boolean = {
    val result = activeQueries.get(queryId)
    val flag = cancelFlags.get(queryId)
    if (result == null || flag == null) return false
    if (result.isTerminal) return false
    flag.set(true)
    // AndFutureJobs closes the plan-time race: a job group cancel issued
    // while the query is still being planned would otherwise be a no-op
    // and the action would run to completion once submitted.
    spark.sparkContext.cancelJobGroupAndFutureJobs(queryId.toString)
    if (result.state == QueryState.Running) result.setCancelled()
    true
  }

  /** Lifecycle lookup (reference: executor.py:326-335). */
  def getStatus(queryId: UUID): Option[QueryResult] =
    Option(activeQueries.get(queryId))

  /** IDs of queries currently registered and not yet cleaned up. */
  def activeQueryIds: Seq[UUID] = {
    import scala.jdk.CollectionConverters._
    activeQueries.entrySet().asScala
      .filter(e => !e.getValue.isTerminal).map(_.getKey).toSeq
  }

  /** De-register and free buffered results (reference: executor.py:337-347). */
  def cleanup(queryId: UUID): Unit = {
    activeQueries.remove(queryId)
    cancelFlags.remove(queryId)
  }
}
