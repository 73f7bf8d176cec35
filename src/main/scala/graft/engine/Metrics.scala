package graft.engine

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/**
 * Per-query trace record — the engine-side equivalent of the reference's
 * OTel span around each execution (reference: query/executor.py:181-222
 * opens a `duckdb.query` CLIENT span and sets `db.system`, `query.id`,
 * `query.timeout_seconds`, then `query.status` / `query.duration_seconds` /
 * `query.rows_returned` on completion, with an ERROR status code on
 * timeout/failure). Attribute names are kept verbatim so an OTel bridge is
 * a rename-free mapping.
 */
final case class QuerySpan(
    name: String,                       // "spark.query" (ref: "duckdb.query")
    queryId: String,                    // query.id
    timeoutSeconds: Int,                // query.timeout_seconds
    status: String,                     // query.status: completed|failed|cancelled|timeout
    durationSeconds: Option[Double],    // query.duration_seconds
    rowsReturned: Option[Long],         // query.rows_returned
    statusCode: String,                 // OK | ERROR (span status code)
    statusDescription: Option[String])  // error message, if any

/**
 * In-process metrics registry — operator A19.
 *
 * Keeps the reference's instrument names and shapes
 * (reference: src/iceberg_explorer/observability.py:213-228 —
 * `query_duration_seconds` histogram with a status attribute,
 * `query_rows_returned` counter, `active_queries` up-down counter;
 * observability.py:67-101 record helpers) without an OTel dependency:
 * the histogram uses the OTel SDK's default explicit bucket boundaries
 * scaled to seconds (see [[DurationBuckets]]), and the per-query spans
 * are kept in a bounded ring exposed to tests/exporters.
 */
object Metrics {

  /** The OTel SDK's default explicit-bucket boundaries (0, 5, 10, … 10,000)
    * divided by 1,000: 0 s … 10 s. The reference's unconfigured
    * `create_histogram` exports the SDK default as is, but those bounds
    * are meant for milliseconds, and `query_duration_seconds` records
    * seconds, so every query under 5 s would land in one bucket. */
  val DurationBuckets: Array[Double] =
    Array(0.0, 0.005, 0.01, 0.025, 0.05, 0.075, 0.1, 0.25, 0.5, 0.75,
      1.0, 2.5, 5.0, 7.5, 10.0)

  private final class Histogram {
    val bucketCounts = new Array[AtomicLong](DurationBuckets.length + 1)
    (0 until bucketCounts.length).foreach(i => bucketCounts(i) = new AtomicLong(0))
    val count = new AtomicLong(0)
    val sumMicros = new AtomicLong(0) // integer accumulation: atomic, no CAS-loop doubles

    def record(seconds: Double): Unit = {
      // bucket i = first boundary >= value (OTel explicit-bucket rule)
      var i = 0
      while (i < DurationBuckets.length && seconds > DurationBuckets(i)) i += 1
      bucketCounts(i).incrementAndGet()
      count.incrementAndGet()
      sumMicros.addAndGet((seconds * 1e6).toLong)
    }
  }

  private val active = new AtomicInteger(0)
  private val rowsReturned = new AtomicLong(0L)
  private val durations =
    new java.util.concurrent.ConcurrentHashMap[String, Histogram]()

  // bounded ring of recent query spans (newest last)
  private val SpanCapacity = 1000
  private val spans = new java.util.ArrayDeque[QuerySpan]()

  def incrementActiveQueries(): Unit = active.incrementAndGet()
  def decrementActiveQueries(): Unit = active.decrementAndGet()
  def activeQueries: Int = active.get()

  def recordQueryRows(n: Long): Unit = rowsReturned.addAndGet(n)
  def totalRowsReturned: Long = rowsReturned.get()

  /** `query_duration_seconds` histogram point with a status attribute. */
  def recordQueryDuration(seconds: Double, status: String): Unit =
    durations.computeIfAbsent(status, _ => new Histogram).record(seconds)

  /** Per-status (count, sum-seconds). */
  def durationStats: Map[String, (Long, Double)] =
    durations.asScala.map { case (k, h) =>
      k -> (h.count.get(), h.sumMicros.get() / 1e6)
    }.toMap

  /** Per-status bucket counts, aligned to [[DurationBuckets]] plus one
    * overflow bucket (value > last boundary). */
  def durationHistogram(status: String): Option[Seq[Long]] =
    Option(durations.get(status)).map(_.bucketCounts.toSeq.map(_.get()))

  // optional live exporter hook (the OTLP activation path — see
  // graft.engine.OtlpBinding): None in-process, set iff an exporter is
  // bound; every recorded span forwards to it after entering the ring
  @volatile private var sink: Option[QuerySpan => Unit] = None

  /** Install a live span exporter (OtlpBinding.bind); pass None to
    * return to in-process-only recording. Exporter failures never
    * propagate into the query path. */
  def setSpanSink(f: Option[QuerySpan => Unit]): Unit = sink = f

  /** Is a live exporter installed? */
  def spanSinkInstalled: Boolean = sink.isDefined

  /** Record one per-query span (reference: executor.py:181-222). */
  def recordSpan(span: QuerySpan): Unit = {
    spans.synchronized {
      if (spans.size >= SpanCapacity) spans.pollFirst()
      spans.addLast(span)
    }
    sink.foreach(f => try f(span) catch { case _: Exception => () })
  }

  /** Recent spans, oldest first. */
  def recentSpans: Seq[QuerySpan] = spans.synchronized { spans.asScala.toSeq }

  def reset(): Unit = {
    active.set(0); rowsReturned.set(0); durations.clear()
    spans.synchronized(spans.clear())
    sink = None
  }
}
