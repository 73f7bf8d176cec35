package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Session construction and engine health — operators A6/A8
 * (reference: src/iceberg_explorer/query/engine.py:60-211).
 *
 * The reference opens one in-memory DuckDB with `SET memory_limit` /
 * `SET threads` and ATTACHes an Iceberg catalog; the Spark equivalent is
 * a local[threads] session with AQE on and a catalog registration hook.
 * On a real cluster the same builder config (minus master) applies —
 * shuffle partitions sized to cores, UTC session timezone for oracle
 * parity, adaptive execution for skew/coalesce at scale.
 *
 * Every session in the program is built here, from one conf list:
 * [[batchConf]] is the base, and [[servingConf]] adds the serving
 * entries to it.
 *
 * `buildSession` builds serving sessions: the HTTP façade's `main`,
 * `graft.Cli` and the serving benchmark use it. A serving session runs
 * with whole-stage codegen (WSCG) off ([[ServingCodegen]]). Every request
 * is a new read-only statement, and with WSCG on each new statement text
 * pays a fixed cost before its first row: Janino compiles the fused stage
 * classes generated for that one statement, and HotSpot then JIT-compiles
 * them. That cost repays itself only through a per-row gain, which only
 * large scans recoup. Measured per new statement text, one client
 * running the serving benchmark's 16 analyze templates at sf0.1 on
 * local[4] (statements 33–96, two runs each, WSCG on → off): generated
 * classes 1.19–1.25 → 0.67–0.70, Janino 8.7–8.9 → 3.6–4.5 ms, HotSpot
 * JIT (process-wide) 158–164 → 96–110 ms, process CPU 284 → 229–239 ms;
 * the per-row side of the trade is Spark task CPU, 59–62 → 71–74 ms.
 * Operators then run through their interpreted iterators with small
 * generated expression classes (projections, predicates, orderings), so
 * the generated-class cache also holds fewer and smaller classes.
 *
 * `batchSession` builds the batch mains' sessions (`graft.Bench`,
 * `graft.Verify`, `graft.ScaleGen`, `graft.QueryProfile`). They keep
 * WSCG: their plans scan whole tables, the case the per-row gain serves.
 */
object GraftEngine {

  /** The serving session's whole-stage codegen switch (see the object's
    * scaladoc for the trade-off). A SQL conf, so it can also be set on a
    * session that shares this one's SparkContext. */
  val ServingCodegen: (String, String) = "spark.sql.codegen.wholeStage" -> "false"

  /** The conf every session starts from, and all of a batch session's. */
  private[engine] def batchConf(threads: Int, appName: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$threads]",
    "spark.app.name" -> appName,
    "spark.sql.shuffle.partitions" -> threads.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // The generated-class cache defaults to 100 entries. A serving engine
    // compiles expression classes (projections, predicates, orderings) for
    // every distinct query shape it hosts, and even a 12-query bench chunk
    // compiles dozens of codegen stages; at the default they are evicted
    // and each re-arrival pays its Janino compile again.
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** A serving session's conf: [[batchConf]] plus the serving entries. */
  private[engine] def servingConf(config: AppConfig, appName: String): Seq[(String, String)] =
    batchConf(config.engine.threads, appName) ++ Seq(
      "spark.driver.memory" -> config.engine.memoryLimit,
      ServingCodegen,
      // Spark's live status store keeps up to 1000 jobs, stages and SQL
      // executions (with their task and plan-metric wrappers) even with the
      // UI off. Nothing in the engine reads the store, so at the default a
      // long-running server's heap grows with every request it completes.
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100",
      "spark.sql.ui.retainedExecutions" -> "100")

  def buildSession(config: AppConfig = AppConfig.fromEnv(), appName: String = "graft"): SparkSession = {
    // observability first, like the reference's setup_opentelemetry on
    // app startup: a no-op unless otel.enabled AND the SDK is present
    // (OtlpBinding scaladoc; reference observability.py:183-186)
    OtlpBinding.bind(config.otel)
    build(servingConf(config, appName))
  }

  /** A batch main's session on `SPARK_GRAFT_CPUS` cores, or on all of the
    * machine's cores when it is unset. */
  def batchSession(appName: String): SparkSession = {
    val threads = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    build(batchConf(threads, appName))
  }

  private def build(conf: Seq[(String, String)]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /**
   * Health check — engine liveness then catalog reachability, rolled up to
   * healthy/degraded/unhealthy like the reference
   * (reference: engine.py:166-211, api/routes/health.py:44-93).
   *
   *  - engine: the SparkContext is not stopped, and a `SELECT 1` over a
   *    local relation goes through parsing, analysis, optimization and
   *    planning and returns its row;
   *  - catalog: the current catalog answers a namespace-existence lookup
   *    for the current namespace.
   *
   * Neither probe launches a Spark job. `/health` and `/ready` must answer
   * while the workload holds every core, so a probe that queued a task
   * behind the workload's tasks would report the load, not the engine.
   * `SELECT 1` without a FROM plans to an RDD scan of `OneRowRelation`,
   * which is a job; a local relation is collected on the driver.
   * `listDatabases` runs `SHOW NAMESPACES` through a collect, another job.
   */
  def healthCheck(spark: SparkSession): Map[String, String] = {
    val engineOk =
      try {
        !spark.sparkContext.isStopped &&
          spark.sql("SELECT * FROM VALUES (1)").collect().length == 1
      } catch { case NonFatal(_) => false }
    val catalogOk =
      try spark.catalog.databaseExists(spark.catalog.currentDatabase)
      catch { case NonFatal(_) => false }
    Map(
      "engine" -> (if (engineOk) "healthy" else "unhealthy"),
      "catalog" -> (if (catalogOk) "healthy" else "unhealthy"),
      "status" -> ((engineOk, catalogOk) match {
        case (true, true) => "healthy"
        case (true, false) => "degraded"
        case _ => "unhealthy"
      }))
  }
}
