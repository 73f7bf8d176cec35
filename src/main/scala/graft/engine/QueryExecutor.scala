package graft.engine

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.duration._
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
 *
 * One lifecycle serves both entry points: `launch` registers the result,
 * marks it Running and starts its one `graft-query-*` worker; `finish`
 * waits for the outcome and records it. `execute` is `finish(launch(…))`
 * on the caller's thread, `executeAsync` runs `finish` on one daemon
 * thread. The [[QueryResult]] holds the state machine. Three parties may
 * move it out of Running, and the first terminal transition wins; the
 * others are refused and change nothing:
 *  - the worker, to Completed or Failed (the statement's own error);
 *  - the deadline in `finish`, to Failed "Query timeout exceeded", which
 *    then cancels the job group;
 *  - [[cancel]], to Cancelled, which then cancels the job group.
 * Completed and Cancelled results stay registered until [[cleanup]]: the
 * caller holds their id. A Failed or timed-out synchronous `execute`
 * reaches its caller only as a throw, so it is de-registered first; an
 * async result stays registered whatever its outcome, since
 * `executeAsync` has returned its id.
 */
final class QueryExecutor(
    spark: SparkSession,
    config: QueryConfig = QueryConfig()) {

  private val activeQueries = new ConcurrentHashMap[UUID, QueryResult]()

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
    val run = launch(sql, timeout, params)
    try finish(run)
    finally if (run.result.state == QueryState.Failed) cleanup(run.result.queryId)
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
    val run = launch(sql, timeout, params)
    val waiter = new Thread(() =>
      try finish(run) catch { case NonFatal(_) => () }, // outcome is on the result
      s"graft-async-${run.result.queryId}")
    waiter.setDaemon(true)
    waiter.start()
    run.result
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

  /** A launched statement: its registered result, its clamped timeout, and
    * the worker's own exception, kept so `finish` can rethrow it. */
  private final class Run(val result: QueryResult, val timeoutSec: Int) {
    @volatile var failure: Throwable = _
  }

  private def launch(sql: String, timeout: Option[Int], params: Seq[Any]): Run = {
    SqlGate.validate(sql)
    val run = new Run(new QueryResult(sql), validateTimeout(timeout))
    val result = run.result
    val jobGroup = result.queryId.toString
    val boundParams = params.toArray
    activeQueries.put(result.queryId, result)
    result.setRunning()
    Metrics.incrementActiveQueries()

    val worker = new Thread(() => {
      try {
        // job group tags every job this thread triggers; cancelJobGroup
        // with interruptOnCancel kills the running tasks.
        spark.sparkContext.setJobGroup(jobGroup, sql, interruptOnCancel = true)
        val df = if (boundParams.isEmpty) spark.sql(sql) else spark.sql(sql, boundParams)
        val rows = df.limit(config.maxRows + 1).collect()
        result.setCompleted(rows.iterator.take(config.maxRows).toVector,
          df.schema, truncated = rows.length > config.maxRows)
      } catch {
        // any throwable, fatal ones too: a worker that dies without a
        // transition would leave its caller waiting out the whole timeout
        case e: Throwable =>
          run.failure = e
          result.setFailed(Option(e.getMessage).getOrElse(e.toString))
      } finally spark.sparkContext.clearJobGroup()
    }, s"graft-query-$jobGroup")
    worker.setDaemon(true)
    worker.start()
    run
  }

  /** Waits out the statement's timeout, records its outcome once — the
    * duration histogram, the rows counter, one span with the reference's
    * attribute set and OK/ERROR status semantics (executor.py:181-222:
    * timeout and failure are ERROR, cancellation is OK) and the active
    * gauge — and throws by outcome. */
  private def finish(run: Run): QueryResult = {
    val result = run.result
    val timedOut = !result.await(run.timeoutSec.seconds) &&
      result.setFailed("Query timeout exceeded")
    // AndFutureJobs: also kills jobs the worker submits AFTER this call
    // (the deadline can land between planning and job submission).
    if (timedOut) spark.sparkContext.cancelJobGroupAndFutureJobs(result.queryId.toString)

    val (status, error) =
      if (timedOut) ("timeout", Some("Query timeout"))
      else if (result.state == QueryState.Failed) ("failed", result.errorMessage)
      else (result.state.value, None)
    Metrics.recordQueryDuration(
      if (timedOut) run.timeoutSec.toDouble else result.metrics.durationSeconds, status)
    Metrics.recordQueryRows(result.metrics.rowsReturned)
    Metrics.recordSpan(QuerySpan(
      name = "spark.query",
      queryId = result.queryId.toString,
      timeoutSeconds = run.timeoutSec,
      status = status,
      durationSeconds = Some(result.metrics.durationSeconds),
      rowsReturned =
        if (status == "completed") Some(result.metrics.rowsReturned) else None,
      statusCode = if (error.isDefined) "ERROR" else "OK",
      statusDescription = error))
    Metrics.decrementActiveQueries()

    status match {
      case "timeout" =>
        throw new QueryTimeoutError(s"Query exceeded ${run.timeoutSec}s timeout")
      case "cancelled" => throw new QueryCancelledError("Query was cancelled")
      case "failed" => throw run.failure
      case _ => result
    }
  }

  /** Cancel a running query — idempotent; false if unknown or terminal
    * (reference: executor.py:294-324). */
  def cancel(queryId: UUID): Boolean = {
    val cancelled = Option(activeQueries.get(queryId)).exists(_.setCancelled())
    // AndFutureJobs closes the plan-time race: a job group cancel issued
    // while the query is still being planned would otherwise be a no-op
    // and the action would run to completion once submitted.
    if (cancelled) spark.sparkContext.cancelJobGroupAndFutureJobs(queryId.toString)
    cancelled
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
  def cleanup(queryId: UUID): Unit = activeQueries.remove(queryId)
}
