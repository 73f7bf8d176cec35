package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.engine.QueryConfig

/** Serving benchmark: sets up the façade in this process, drives one
  * workload over HTTP for a fixed window, checks every delivered result
  * and prints the metrics, with the result object as the last line.
  *
  * {{{
  *   Main --workload browse|analyze --seed N --seconds S --trace 0|1
  *        --data DIR --work DIR
  *   Main --prepare --data DIR      (write the sf0.1 tables once)
  *   Main --selftest                (the benchmark's own checks)
  * }}}
  */
object Main {

  val SetupRepeats = 4

  /** The end-to-end metrics of BENCHMARK.json, with their units: the ones
    * that stay steady when the host slows the whole machine for minutes.
    * Latency and throughput figures that move with it are printed in the
    * report but not listed. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "light_ms_p50" -> "ms", "heap_used_mb" -> "MiB")

  /** Routes that launch no Spark job: what a UI waits on between queries. */
  val LightRoutes = Set("namespaces", "tables", "schema", "details", "status", "results",
    "csv_id", "delete")

  /** Published targets of the reference (BASELINE.md), graded without gates. */
  val Targets: Seq[(String, String, Double)] = Seq(
    ("browse", "meta_ms_tail", 1000.0), ("analyze", "ttfr_ms_tail", 500.0),
    ("browse", "req_ms_p50", 100.0))

  def main(args: Array[String]): Unit = {
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") =>
        args(i).stripPrefix("--") ->
          args.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("1")
    }.toMap
    val code =
      if (opts.contains("selftest")) SelfTest.run(opts)
      else if (opts.contains("prepare")) { prepare(opts("data")); 0 }
      else run(opts)
    System.out.flush()
    System.exit(code)
  }

  private def prepare(dir: String): Unit = {
    val spark = graft.engine.GraftEngine.buildSession(appName = "perfbench-data")
    DataGen.write(spark, dir)
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
      metrics: Seq[(String, Double, String)], report: Map[String, Any])

  def run(opts: Map[String, String]): Int = {
    val workload = opts("workload")
    val shape = Shapes.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val dataDir = opts("data")
    val workDir = opts("work")
    require(Files.exists(Paths.get(dataDir, "READY")), s"no prepared data in $dataDir")
    Files.createDirectories(Paths.get(workDir))
    val o = measure(shape, seed, seconds, trace, dataDir, workDir, tamper = false)
    o.report.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$workload $k ${Json.render(v)}") }
    val out = Paths.get(workDir, s"report-$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    Files.writeString(out, Json.render(o.report))
    println(Json.render(Map(
      "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> o.metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    0
  }

  /** One run. `tamper` corrupts every expected hash (see [[Checker]]). */
  def measure(shape: Shape, seed: Long, seconds: Double, trace: Boolean, dataDir: String,
      workDir: String, tamper: Boolean): Outcome = {
    // the first set-up, from process start; the others follow the heap reading
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val serving = Serving.start(dataDir, workDir)
    val setups = collection.mutable.ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val setupsCpu = collection.mutable.ArrayBuffer(os.getProcessCpuTime / 1e9)
    val phaseStart = System.nanoTime()
    def phase(name: String): Unit = log(f"$name done at +${(System.nanoTime() - phaseStart) / 1e9}%.1f s")

    val used = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    warmUp(serving, shape, seed, used, math.min(1.5, seconds / 4))
    val listener = if (trace) {
      val l = new JobListener
      serving.spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val registry = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var sampling = trace
    val sampler = new Thread(() => while (sampling) {
      registry.add(serving.executor.activeQueryIds.size.toDouble)
      Thread.sleep(20)
    }, "bench-registry-sampler")
    if (trace) sampler.start()
    val clockOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val rec = new Recorder
    val cpu0 = os.getProcessCpuTime
    val elapsed = new Driver(serving.port, rec, seed, used)
      .run(shape, System.nanoTime() + (seconds * 1e9).toLong)
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    sampling = false
    if (trace) sampler.join()
    phase("window")

    // the heap the server holds after the run: the kept bodies go to disk
    // first, and nothing the checks build exists yet. Spark's ContextCleaner
    // frees the state of collected queries after a collection, on its own
    // thread, so the third reading, a second after the first, is the one
    // that no longer falls.
    val spill = Paths.get(workDir, "delivered.bin")
    rec.spill(spill)
    val heapMb = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(500)
      liveHeapBytes()
    }.last / 1048576.0

    // output checks, against the same statements run after the window
    val checker = new Checker(serving.spark, QueryConfig().maxRows, tamper)
    val delivered = rec.delivered.asScala.toSeq
    checker.prefetch(delivered.filter(d => Set("page", "csv", "arrow")(d.kind)).map(_.arg), 3)
    val contentFailures = Spill.read(spill)(_.count(d => !checker.check(d)))
    checker.problems.take(5).foreach(p => log(s"check: $p"))
    val samples = rec.all
    val statusFailures = samples.count(!_.ok)
    samples.filter(!_.ok).take(5).foreach(s => log(s"failed request: ${s.kind} ${s.arg.take(100)}"))
    phase("checks")

    val layers = listener.map { l =>
      val spans = new Spans
      val out = new Replay(serving, l, rec, spans, clockOffsetMs, seed)
        .run(registry.asScala.toSeq.map(_.doubleValue))
      spans.write(Paths.get(workDir, s"spans-${shape.name}-seed$seed.jsonl"))
      phase("replay")
      out
    }
    serving.stop()
    (1 until SetupRepeats).foreach { _ =>
      System.gc()
      val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
      val again = Serving.start(dataDir, workDir)
      setups += (System.nanoTime() - t0) / 1e9
      setupsCpu += (os.getProcessCpuTime - c0) / 1e9
      again.stop()
    }
    log(f"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s, CPU ${setupsCpu.map(s => f"$s%.2f").mkString(" ")} s")
    val (opRequests, opFailures) = layers.map(l => (l._2, l._3)).getOrElse((0, 0))
    val attempted = samples.length.toLong + opRequests
    val failed = (statusFailures + contentFailures + opFailures).toLong

    val timed = samples.filter(_.kind != "error")
    val req = timed.map(_.ms)
    val meta = timed.filter(s => Set("namespaces", "tables", "schema", "details")(s.kind)).map(_.ms)
    val ttfr = rec.doubles(rec.ttfrMs)
    val health = rec.doubles(rec.healthMs)
    val statements = rec.statements.asScala.toSeq
    val transferS = rec.transferNs.sum() / 1e9

    def tail(name: String, xs: Seq[Double]): (String, Any) = {
      val level = Shapes.TailLevel
      if (xs.nonEmpty && Stats.beyond(xs.length, level) < 10)
        log(s"$name: only ${Stats.beyond(xs.length, level)} samples beyond p$level")
      name -> Map("value" -> Stats.percentile(xs, level), "percentile" -> level, "n" -> xs.length,
        "rule_level" -> Stats.tailLevel(xs.length).map(_.toString).getOrElse("none"))
    }
    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.median(setupsCpu.toSeq),
      "setup_wall_s" -> Stats.median(setups.toSeq),
      "req_ms_p50" -> Stats.median(req),
      "light_ms_p50" -> Stats.median(timed.filter(s => LightRoutes(s.kind)).map(_.ms)),
      "req_ms_tail" -> Stats.percentile(req, Shapes.TailLevel),
      "ttfr_ms_p50" -> Stats.median(ttfr),
      "health_ms_p50" -> Stats.median(health),
      "queries_per_s" -> shape.clients * rec.cycles.sum() / (rec.cycleNs.sum() / 1e9),
      "cpu_ms_per_req" -> cpuMs / math.max(1, timed.length),
      "export_mb_per_s" -> (if (transferS > 0) rec.transferBytes.sum() / 1e6 / transferS else 0.0),
      "heap_used_mb" -> heapMb)
    val extra: Map[String, Double] = Map(
      "meta_ms_p50" -> Stats.median(meta),
      "meta_ms_tail" -> Stats.percentile(meta, Shapes.TailLevel),
      "ttfr_ms_tail" -> Stats.percentile(ttfr, Shapes.TailLevel),
      "health_ms_tail" -> Stats.percentile(health, Shapes.TailLevel),
      "fail_ratio" -> failed.toDouble / math.max(1L, attempted))
    val grades = Targets.collect { case (w, m, bound) if w == shape.name =>
      val v = (e2e ++ extra)(m)
      s"grade.$m" -> Map("value" -> v, "target" -> bound, "meets" -> (v <= bound))
    }
    val report: Map[String, Any] = (e2e ++ extra).map { case (k, v) => k -> v } ++ Seq(
      tail("tail.req_ms", req), tail("tail.meta_ms", meta),
      tail("tail.ttfr_ms", ttfr), tail("tail.health_ms", health)) ++
      grades ++ Map(
        "probe_late_ms_max" -> rec.doubles(rec.probeLateMs).maxOption.getOrElse(0.0),
        "setups_wall_s" -> setups.toSeq, "setups_cpu_s" -> setupsCpu.toSeq, "window_s" -> elapsed, "cycles" -> rec.cycles.sum(),
        "requests" -> attempted, "failed" -> failed, "content_checks" -> delivered.length,
        "statements" -> statements.length, "distinct_statements" -> statements.distinct.length,
        "statement_repeat_share" ->
          (if (statements.isEmpty) 0.0 else 1.0 - statements.distinct.length.toDouble / statements.length),
        "per_kind_p50_ms" -> timed.groupBy(_.kind).map { case (k, ss) => k -> Stats.median(ss.map(_.ms)) })

    val (metrics, fullReport) = layers match {
      case None =>
        (EndToEnd.map { case (k, u) => (k, e2e(k), u) }, report)
      case Some((measured, _, _)) =>
        val all = measured + ("trace.req_ms_p50" -> e2e("req_ms_p50"))
        (Replay.Units.map { case (k, u) => (k, all(k), u) },
          report ++ all.map { case (k, v) => s"layer.$k" -> v })
    }
    Outcome(attempted, failed, failed == 0, metrics, fullReport)
  }

  /** Bytes of the objects alive after a full collection, as the JVM's class
    * histogram counts them: exact object sizes, not the heap regions the
    * collector has in use. */
  def liveHeapBytes(): Long = {
    val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName))
    val total = histogram.toString.linesIterator.filter(_.trim.startsWith("Total")).toSeq.last
    total.trim.split("\\s+").last.toLong
  }

  /** A short run on a different request stream, so that the window starts
    * warm; what it records is dropped with it. */
  private def warmUp(serving: Serving, shape: Shape, seed: Long, used: java.util.Set[String],
      seconds: Double): Unit = {
    val driver = new Driver(serving.port, new Recorder, seed ^ 0x5DEECE66DL, used)
    if (shape.name == "browse") driver.prime()
    driver.run(shape, System.nanoTime() + (seconds * 1e9).toLong)
  }
}
