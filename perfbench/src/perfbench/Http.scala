package perfbench

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

/** One timed HTTP exchange. `firstDataNs` is when the first complete
  * NDJSON `data` line had been read (-1 when none was asked for or seen). */
final case class Resp(status: Int, body: Array[Byte], startNs: Long, endNs: Long,
    firstDataNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def text: String = new String(body, UTF_8)
}

/** One connection's worth of client: a JDK HTTP/1.1 client that reads every
  * body to the end, so a request's time covers the whole transfer. */
final class Http private (port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val DataPrefix = "{\"type\":\"data\"".getBytes(UTF_8)

  def get(path: String, watchData: Boolean = false): Resp = send("GET", path, null, watchData)
  def post(path: String, body: String): Resp = send("POST", path, body, watchData = false)
  def delete(path: String): Resp = send("DELETE", path, null, watchData = false)

  def send(method: String, path: String, body: String, watchData: Boolean): Resp = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(150))
    val req = method match {
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body)).build()
      case "DELETE" => b.DELETE().build()
      case _ => b.GET().build()
    }
    val start = System.nanoTime()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val in = resp.body()
    val out = new ByteArrayOutputStream()
    val chunk = new Array[Byte](65536)
    var firstData = -1L
    var lineStart = 0
    var n = in.read(chunk)
    while (n >= 0) {
      val from = out.size()
      out.write(chunk, 0, n)
      if (watchData && firstData < 0) {
        val bytes = out.toByteArray
        var i = from
        while (i < bytes.length && firstData < 0) {
          if (bytes(i) == '\n') {
            if (bytes.length - lineStart >= DataPrefix.length &&
                java.util.Arrays.equals(bytes, lineStart, lineStart + DataPrefix.length,
                  DataPrefix, 0, DataPrefix.length))
              firstData = System.nanoTime()
            lineStart = i + 1
          }
          i += 1
        }
      }
      n = in.read(chunk)
    }
    in.close()
    Resp(resp.statusCode(), out.toByteArray, start, System.nanoTime(), firstData)
  }
}

object Http {
  private val clients = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Http]()

  /** The client of connection `slot` to `port`, made once and kept: the
    * warm-up and the window share connections, and the heap reading always
    * counts the same clients. */
  def apply(port: Int, slot: Int): Http = clients.computeIfAbsent((port, slot), _ => new Http(port))
}

/** One timed request as the workload saw it. */
final case class Sample(kind: String, startNs: Long, endNs: Long, bytes: Long,
    ok: Boolean, arg: String, queryId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Thread-safe collection point for everything the clients observe. */
final class Recorder {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val ttfrMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val healthMs = new ConcurrentLinkedQueue[java.lang.Double]()
  /** How late the open-loop prober sent each request, in ms. */
  val probeLateMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val delivered = new ConcurrentLinkedQueue[Delivered]()
  val statements = new ConcurrentLinkedQueue[String]()
  val cycles = new LongAdder
  val cycleNs = new LongAdder
  val transferBytes = new LongAdder
  val transferNs = new LongAdder
  /** Record `r` as a `kind` request; `ok` is the status/shape check. */
  def add(kind: String, r: Resp, ok: Boolean, arg: String = "", queryId: String = ""): Resp = {
    samples.add(Sample(kind, r.startNs, r.endNs, r.body.length.toLong, ok, arg, queryId))
    r
  }

  /** A request that did not complete at all (connection or timeout). */
  def failure(e: Throwable): Unit = {
    val now = System.nanoTime()
    samples.add(Sample("error", now, now, 0, ok = false, e.toString, ""))
  }

  /** A result-bearing body: counted toward delivered bytes and kept for
    * the output checks after the window. */
  def result(kind: String, r: Resp, sql: String, offset: Int, pageSize: Int): Unit = {
    transferBytes.add(r.body.length.toLong)
    transferNs.add(r.endNs - r.startNs)
    if (r.status == 200) delivered.add(Delivered(kind, sql, offset, pageSize, r.body))
  }

  /** Move the delivered bodies to `path`, keeping only what they were. */
  def spill(path: java.nio.file.Path): Unit = {
    val kept = delivered.asScala.toVector
    Spill.write(path, kept)
    delivered.clear()
    kept.foreach(d => delivered.add(d.copy(body = Array.emptyByteArray)))
  }

  def all: Seq[Sample] = samples.asScala.toSeq
  def doubles(q: ConcurrentLinkedQueue[java.lang.Double]): Seq[Double] =
    q.asScala.toSeq.map(_.doubleValue)
}
