package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.scheduler._

import graft.engine.{GraftEngine, SqlGate}
import graft.results.ResultStream

/** Job, stage and task counters per Spark job group. A stage belongs to the
  * first job that lists it. Times are epoch milliseconds. */
final class JobListener extends SparkListener {
  final case class Job(group: String, startMs: Long, stages: Seq[Int])
  final case class StageAgg(tasks: Long, runMs: Long, cpuNs: Long, input: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val jobEnd = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(group, e.time, e.stageIds))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, StageAgg(i.numTasks.toLong, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Job ids of one group, in start order. */
  def jobsOf(group: String): Seq[Int] =
    jobs.asScala.collect { case (id, j) if j.group == group => id }.toSeq.sorted

  /** Jobs that started after job `last`, in start order. */
  def jobsAfter(last: Int): Seq[Int] = jobs.keySet.asScala.filter(_ > last).toSeq.sorted

  def lastJob: Int = jobs.keySet.asScala.maxOption.getOrElse(-1)

  /** Counters summed over some jobs and their completed stages. */
  def counters(ids: Seq[Int]): Map[String, Double] = {
    val owned = ids.flatMap(id => jobs.get(id).stages.filter(s => stageOwner.get(s) == id))
    val done = owned.flatMap(s => Option(stages.get(s)))
    def sum(f: StageAgg => Long) = done.map(f).sum.toDouble
    Map(
      "spark.jobs" -> ids.length.toDouble,
      "spark.stages" -> done.length.toDouble,
      "spark.tasks" -> sum(_.tasks),
      "spark.executor_run_ms" -> sum(_.runMs),
      "spark.executor_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "spark.input_bytes" -> sum(_.input),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.spill_bytes" -> sum(_.spill))
  }

  /** Total length of the union of some jobs' intervals, in ms. */
  def busyMs(ids: Seq[Int]): Double = {
    val iv = ids.map(id => (jobs.get(id).startMs,
      Option(jobEnd.get(id)).map(_.longValue).getOrElse(jobs.get(id).startMs))).sortBy(_._1)
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      if (s > hi) { if (hi > lo) total += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (hi > lo) total += hi - lo
    total.toDouble
  }
}

/** A timed span: name, start, end (ns on the benchmark's clock), parent
  * span id (-1 for roots) and the request it belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int,
    request: Long) {
  def json: String = Json.render(Map("id" -> id, "name" -> name, "start_ns" -> startNs,
    "end_ns" -> endNs, "parent" -> parent, "request" -> request))
}

final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  def add(name: String, startNs: Long, endNs: Long, parent: Int, request: Long): Int =
    synchronized {
      val id = all.length
      all += Span(id, name, startNs, endNs, parent, request)
      id
    }
  /** Time `body` as a span and return (result, elapsed ms). */
  def time[A](name: String, parent: Int, request: Long)(body: => A): (A, Double) = {
    val s = System.nanoTime()
    val a = body
    val e = System.nanoTime()
    add(name, s, e, parent, request)
    (a, (e - s) / 1e6)
  }
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.map(_.json).asJava)
  }
}

/** The traced run's second half: replays each request's inputs through
  * the layer functions beneath the façade, on the same session and
  * executor, and derives the per-layer metrics. Times are medians over
  * calls, counters are means per request; a layer the workload does not
  * touch reports 0. */
final class Replay(serving: Serving, listener: JobListener, rec: Recorder, spans: Spans,
    clockOffsetMs: Double, seed: Long) {
  private val spark = serving.spark
  private val executor = serving.executor
  private val provider = serving.provider
  private val MaxStatements = 24

  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def put(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private val direct = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Double]]
  private def putDirect(kind: String, arg: String, ms: Double): Unit =
    direct.getOrElseUpdate((kind, arg), mutable.ArrayBuffer.empty) += ms
  /** Replay requests are numbered after the window's. */
  private var request = rec.samples.size.toLong
  private def root(name: String): Int = {
    request += 1
    val now = System.nanoTime()
    spans.add(name, now, now, -1, request)
  }

  private def catalogCalls(): Unit =
    rec.all.filter(s => Set("namespaces", "tables", "schema", "details")(s.kind))
      .map(s => (s.kind, s.arg)).distinct.foreach { case (kind, arg) =>
        val p = root(s"replay.$kind")
        val parts = arg.split('.').toSeq
        (0 until 5).foreach { _ =>
          val (_, ms) = spans.time(s"catalog.$kind", p, request) {
            kind match {
              case "namespaces" => provider.listNamespaces(None)
              case "tables" => provider.listTables(parts)
              case "schema" => provider.tableSchema(parts.init, parts.last)
              case "details" => provider.tableDetails(parts.init, parts.last)
            }
          }
          put(kind match {
            case "namespaces" => "catalog.list_namespaces_ms"
            case "tables" => "catalog.list_tables_ms"
            case "schema" => "catalog.table_schema_ms"
            case "details" => "catalog.table_details_ms"
          }, ms)
          putDirect(kind, arg, ms)
        }
      }

  private def healthCalls(): Unit = (0 until 10).foreach { i =>
    val group = s"perfbench-health-$i"
    val p = root("replay.health")
    spark.sparkContext.setJobGroup(group, "health")
    val (_, ms) = try spans.time("engine.health", p, request)(GraftEngine.healthCheck(spark))
      finally spark.sparkContext.clearJobGroup()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    put("engine.health_ms", ms)
    put("engine.health_jobs", listener.jobsOf(group).length.toDouble)
    putDirect("health", "", ms)
  }

  private def statementCalls(): Unit = {
    val delivered = rec.delivered.asScala.toSeq
    rec.statements.asScala.toSeq.distinct.take(MaxStatements).foreach { sql =>
      val p = root("replay.statement")
      val gateReps = 200
      val (_, gateMs) = spans.time("engine.gate", p, request)((0 until gateReps).foreach(_ => SqlGate.validate(sql)))
      put("engine.gate_us", gateMs * 1000.0 / gateReps)
      val (qe, _) = spans.time("engine.catalyst", p, request) {
        val df = spark.sql(sql)
        df.queryExecution.executedPlan
        df.queryExecution
      }
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        put(s"engine.${ph}_ms", phases.get(ph).map(_.durationMs.toDouble).getOrElse(0.0))
      }
      val (r, execMs) = spans.time("engine.execute", p, request)(executor.execute(sql))
      put("engine.execute_ms", execMs)
      put("engine.buffered_rows", r.rows.length.toDouble)
      putDirect("execute", sql, execMs)
      val id = r.queryId.toString
      delivered.filter(d => d.arg == sql && d.kind == "page").map(d => (d.offset, d.pageSize)).distinct
        .foreach { case (offset, size) =>
          val (bytes, ms) = spans.time("results.ndjson", p, request) {
            ResultStream.ndjson(Some(r), id, size, offset).map(_.getBytes("UTF-8").length + 1L).sum
          }
          put("results.ndjson_ms", ms); put("results.ndjson_bytes", bytes.toDouble)
          putDirect("results", sql, ms)
        }
      if (delivered.exists(d => d.arg == sql && d.kind == "csv")) {
        val (bytes, ms) = spans.time("results.csv", p, request)(ResultStream.csv(r).map(_.length.toLong).sum)
        put("results.csv_ms", ms); put("results.csv_bytes", bytes.toDouble)
        putDirect("csv_id", sql, ms)
      }
      if (delivered.exists(d => d.arg == sql && d.kind == "arrow")) {
        val sink = new CountingSink
        val (batches, ms) = spans.time("results.arrow", p, request) {
          org.apache.spark.sql.GraftArrow.writeIpcStream(executor.dataFrameForExport(sql), sink)
        }
        put("results.arrow_ms", ms); put("results.arrow_batches", batches.toDouble)
        putDirect("arrow", sql, ms)
      }
      executor.cleanup(r.queryId)
    }
  }

  /** Spark counters of the timed window, attributed by job group: the
    * executor runs each query under its query id. */
  private def windowCounters(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    rec.all.filter(s => s.kind == "execute" && s.queryId.nonEmpty).foreach { s =>
      val ids = listener.jobsOf(s.queryId)
      listener.counters(ids).foreach { case (k, v) => put(k, v) }
      put("spark.driver_gap_ms", s.ms - listener.busyMs(ids))
      val parent = spans.all.find(x => x.name == "execute" && x.startNs == s.startNs)
      ids.foreach { id =>
        val j = listener.jobs.get(id)
        val end = Option(listener.jobEnd.get(id)).map(_.longValue).getOrElse(j.startMs)
        spans.add("spark.job", ((j.startMs - clockOffsetMs) * 1e6).toLong,
          ((end - clockOffsetMs) * 1e6).toLong, parent.map(_.id).getOrElse(-1),
          parent.map(_.request).getOrElse(-1L))
      }
    }
  }

  /** The op routes, timed over HTTP on the otherwise idle façade against
    * the artifacts registered at set-up, with seeded parameters. Nothing
    * else is in flight, so a route's Spark jobs are the ones that started
    * while it ran. Each response is checked, ann-search row by row against
    * the same operator called directly. Returns (requests, failed). */
  private def opCalls(): (Int, Int) = {
    import Serving.Namespace
    val http = Http(serving.port, 0)
    val r = new scala.util.Random(seed)
    val docs = s"$Namespace.documents"
    val nDocs = spark.table(docs).count()
    def long(o: JsonNode, f: String) = o.get(f).asLong
    def ann(k: Int, nprobe: Int): (String, JsonNode => Boolean) =
      (s"/api/v1/catalog/tables/$Namespace.ann_queries/ann-search?index=$Namespace.ann_assign" +
        s"&centroids=$Namespace.ann_cent&vec=embedding&id=vec_id&k=$k&nprobe=$nprobe", o => {
        val want = graft.ops.Similarity.ivfTopKPartitioned(spark.table(s"$Namespace.ann_assign"),
          "vec", "id", "cid", spark.table(s"$Namespace.ann_queries"), "embedding", "vec_id",
          spark.table(s"$Namespace.ann_cent"), "cvec", "cid", k = k, nprobe = nprobe)
          .limit(1000).collect().toSeq
          .map(x => (String.valueOf(x.get(0)), x.getInt(1).toLong, String.valueOf(x.get(2)), x.getDouble(3)))
        val got = o.get("results").elements.asScala.map(x => (x.get("query_id").asText,
          x.get("rk").asLong, x.get("id").asText, x.get("sim").asDouble)).toSeq
        long(o, "n_results") == got.length && got == want
      })
    val requests: Seq[(String, (String, JsonNode => Boolean))] =
      Seq.fill(3)("ann_search" -> ann(Seq(5, 10)(r.nextInt(2)), 1 + r.nextInt(3))) ++ Seq(
        "substring_dedup" -> (s"/api/v1/catalog/tables/$docs/substring-dedup?text=text&id=doc_id" +
          s"&anchor=${4 + r.nextInt(3)}&limit=20", (o: JsonNode) =>
          long(o, "n_docs") == nDocs && long(o, "n_docs_affected") <= nDocs &&
            long(o, "total_dropped") <= long(o, "total_words") &&
            long(o, "drop_ppm") == (if (long(o, "total_words") == 0) 0L
              else 1000000L * long(o, "total_dropped") / long(o, "total_words")) &&
            o.get("most_affected").size == math.min(20L, nDocs)),
        "data_card" -> (s"/api/v1/catalog/tables/$docs/data-card?text=text&id=doc_id&domain=lang" +
          s"&length=n_chars&budget=${Seq(50000, 70000, 90000)(r.nextInt(3))}", (o: JsonNode) =>
          long(o, "n_docs") == nDocs && long(o, "n_kept_docs") <= nDocs &&
            long(o, "max_pos") == long(o, "total_copies") - 1))
    val failed = requests.count { case (route, (path, check)) =>
      val p = root(s"replay.ops.$route")
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val before = listener.lastJob
      val resp = http.get(path)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val ids = listener.jobsAfter(before)
      spans.add(s"ops.$route", resp.startNs, resp.endNs, p, request)
      put(s"ops.${route}_ms", resp.ms)
      listener.counters(ids).foreach { case (k, v) => put(s"ops.$route.$k", v) }
      put(s"ops.$route.spark.driver_gap_ms", resp.ms - listener.busyMs(ids))
      val ok = resp.status == 200 &&
        (try check(Json.parse(resp.text)) catch { case NonFatal(_) => false })
      if (!ok) Main.log(s"op route $route failed: ${resp.status} ${resp.text.take(200)}")
      !ok
    }
    (requests.length, failed)
  }

  /** Returns the per-layer metrics, the op requests made and how many failed. */
  def run(registrySamples: Seq[Double]): (Map[String, Double], Int, Int) = {
    rec.all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      spans.add(s.kind, s.startNs, s.endNs, -1, i.toLong)
    }
    windowCounters()
    catalogCalls()
    healthCalls()
    statementCalls()
    val (opRequests, opFailed) = opCalls()
    val selfMs = rec.all.flatMap { s =>
      val below = s.kind match {
        case "status" | "delete" => Some(0.0)
        case "health" | "ready" => direct.get(("health", "")).map(b => Stats.median(b.toSeq))
        case k => direct.get((k, s.arg)).map(b => Stats.median(b.toSeq))
      }
      below.map(s.ms - _)
    }
    val times = Set("engine.gate_us", "engine.analysis_ms", "engine.optimization_ms",
      "engine.planning_ms", "engine.execute_ms", "engine.health_ms", "spark.driver_gap_ms",
      "catalog.list_namespaces_ms", "catalog.list_tables_ms", "catalog.table_schema_ms",
      "catalog.table_details_ms", "results.ndjson_ms", "results.csv_ms", "results.arrow_ms") ++
      Replay.OpRoutes.flatMap(r => Seq(s"ops.${r}_ms", s"ops.$r.spark.driver_gap_ms"))
    val measured = layer.map { case (k, vs) =>
      k -> (if (times(k)) Stats.median(vs.toSeq) else Stats.mean(vs.toSeq))
    }.toMap
    (Replay.Names.map(n => n -> measured.getOrElse(n, 0.0)).toMap ++ Map(
      "api.self_ms" -> (if (selfMs.isEmpty) 0.0 else Stats.median(selfMs)),
      "api.bytes_out" -> Stats.mean(rec.all.map(_.bytes.toDouble)),
      "engine.registry_size" -> Stats.mean(registrySamples)), opRequests, opFailed)
  }
}

object Replay {
  /** The op routes a traced run calls, as they appear in metric names. */
  val OpRoutes: Seq[String] = Seq("ann_search", "substring_dedup", "data_card")

  private val SparkUnits: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.input_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.driver_gap_ms" -> "ms")

  /** Every per-layer metric a traced run reports, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "api.self_ms" -> "ms", "api.bytes_out" -> "bytes",
    "engine.gate_us" -> "us", "engine.analysis_ms" -> "ms", "engine.optimization_ms" -> "ms",
    "engine.planning_ms" -> "ms", "engine.execute_ms" -> "ms", "engine.buffered_rows" -> "count",
    "engine.registry_size" -> "count", "engine.health_ms" -> "ms", "engine.health_jobs" -> "count") ++
    SparkUnits ++ Seq(
    "catalog.list_namespaces_ms" -> "ms", "catalog.list_tables_ms" -> "ms",
    "catalog.table_schema_ms" -> "ms", "catalog.table_details_ms" -> "ms",
    "results.ndjson_ms" -> "ms", "results.ndjson_bytes" -> "bytes", "results.csv_ms" -> "ms",
    "results.csv_bytes" -> "bytes", "results.arrow_ms" -> "ms", "results.arrow_batches" -> "count") ++
    OpRoutes.flatMap(r => (s"ops.${r}_ms" -> "ms") +: SparkUnits.map { case (k, u) => (s"ops.$r.$k", u) }) :+
    ("trace.req_ms_p50" -> "ms")
  val Names: Seq[String] = Units.map(_._1)
}

/** An OutputStream that only counts. */
final class CountingSink extends java.io.OutputStream {
  var bytes = 0L
  override def write(b: Int): Unit = bytes += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
}
