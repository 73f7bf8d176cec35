package graft.engine

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Query lifecycle states
  * (reference: src/iceberg_explorer/query/models.py:21-28). */
sealed abstract class QueryState(val value: String)
object QueryState {
  case object Pending   extends QueryState("pending")
  case object Running   extends QueryState("running")
  case object Completed extends QueryState("completed")
  case object Failed    extends QueryState("failed")
  case object Cancelled extends QueryState("cancelled")
}

/** Wall-clock execution metrics
  * (reference: src/iceberg_explorer/query/models.py:31-48). */
final case class ExecutionMetrics(
    startTime: Long = System.currentTimeMillis(),
    endTime: Option[Long] = None,
    rowsReturned: Long = 0L) {
  def durationSeconds: Double =
    (endTime.getOrElse(System.currentTimeMillis()) - startTime) / 1000.0
}

final class QueryTimeoutError(msg: String) extends Exception(msg)
final class QueryCancelledError(msg: String) extends Exception(msg)

/**
 * Mutable, thread-safe query lifecycle record — the Spark equivalent of the
 * reference's QueryResult dataclass
 * (reference: src/iceberg_explorer/query/models.py:52-111).
 *
 * Result rows are buffered on the driver like the reference buffers Arrow
 * batches — but bounded: the executor keeps at most `maxRows` rows of one
 * row-capped action (see [[QueryExecutor]]), never an unbounded
 * `collect()`. At 100 TB the result surface (pagination/CSV/NDJSON) only
 * ever pulls bounded pages, and `truncated` records that a cap was hit
 * (the reference's `query.max_rows` config existed but was dead code — we
 * enforce it and note the divergence, SURVEY §2.A).
 */
final class QueryResult(val sql: String, val queryId: UUID = UUID.randomUUID()) {
  @volatile private var _state: QueryState = QueryState.Pending
  @volatile private var _metrics: ExecutionMetrics = ExecutionMetrics()
  @volatile private var _error: Option[String] = None
  @volatile private var _rows: IndexedSeq[Row] = Vector.empty
  @volatile private var _schema: Option[StructType] = None
  @volatile private var _truncated: Boolean = false
  private val done = new CountDownLatch(1)

  def state: QueryState = _state
  def metrics: ExecutionMetrics = _metrics
  def errorMessage: Option[String] = _error
  def rows: IndexedSeq[Row] = _rows
  def schema: Option[StructType] = _schema
  def truncated: Boolean = _truncated

  /** Starts the clock; a terminal result keeps its state and metrics. */
  def setRunning(): Unit = synchronized {
    if (!isTerminal) {
      _state = QueryState.Running
      _metrics = ExecutionMetrics(startTime = System.currentTimeMillis())
    }
  }

  /** The terminal setters move a non-terminal result to its end state and
    * return true; on a result that is already terminal they change nothing
    * and return false, so the first terminal transition wins. */
  def setCompleted(rows: IndexedSeq[Row], schema: StructType,
                   truncated: Boolean = false): Boolean =
    terminate(QueryState.Completed) {
      _rows = rows
      _schema = Some(schema)
      _truncated = truncated
      _metrics = _metrics.copy(rowsReturned = rows.length.toLong)
    }

  def setFailed(error: String): Boolean =
    terminate(QueryState.Failed) { _error = Some(error) }

  def setCancelled(): Boolean = terminate(QueryState.Cancelled) {}

  private def terminate(to: QueryState)(record: => Unit): Boolean = synchronized {
    if (isTerminal) false
    else {
      record
      _metrics = _metrics.copy(endTime = Some(System.currentTimeMillis()))
      _state = to
      done.countDown()
      true
    }
  }

  def isTerminal: Boolean = _state match {
    case QueryState.Completed | QueryState.Failed | QueryState.Cancelled => true
    case _ => false
  }

  /** Blocks until the result is terminal or `timeout` passes; true when
    * terminal. */
  def await(timeout: FiniteDuration): Boolean =
    done.await(timeout.toNanos, TimeUnit.NANOSECONDS)
}
