package graft.engine

import java.util.UUID
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.SECONDS

import scala.concurrent.Await
import scala.concurrent.duration._

import graft.SparkSuite
import graft.tables.Tables

/** Holds the thread-budget statement's worker inside its UDF. */
object ThreadBudgetGate {
  @volatile var latch = new CountDownLatch(1)
}

/** Lifecycle/state-machine + real-engine integration tests
  * (reference: tests/test_executor.py:204-245, 341-383, 411-465). */
class QueryExecutorSpec extends SparkSuite {

  private lazy val executor = new QueryExecutor(spark)

  /** Jobs the status store has recorded under `group`. A sentinel job in
    * the same group comes last: the store takes listener events in order,
    * so once it has the sentinel it has every earlier job of the group. */
  private def jobsOfGroup(group: String): Seq[Int] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "job count sentinel", interruptOnCancel = false)
    val sentinel =
      try {
        val f = sc.parallelize(Seq(1), 1).countAsync()
        Await.result(f, 60.seconds)
        f.jobIds.head
      } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (!sc.statusTracker.getJobIdsForGroup(group).contains(sentinel) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq
    assert(jobs.contains(sentinel), s"sentinel job $sentinel never recorded")
    jobs.filterNot(_ == sentinel)
  }

  /** Jobs one served statement runs: the executor tags them with the
    * query id as job group. */
  private def jobsOfStatement(sql: String): Seq[Int] = {
    val r = executor.execute(sql)
    assert(r.state == QueryState.Completed)
    jobsOfGroup(r.queryId.toString)
  }

  // --- QueryResult state machine ------------------------------------------
  test("initial state is pending") {
    val r = new QueryResult("SELECT 1")
    assert(r.state == QueryState.Pending && !r.isTerminal)
  }

  test("setRunning transitions state") {
    val r = new QueryResult("SELECT 1")
    r.setRunning()
    assert(r.state == QueryState.Running && !r.isTerminal)
  }

  test("setCompleted records rows, schema, metrics") {
    val r = new QueryResult("SELECT 1")
    r.setRunning()
    val df = spark.range(1).toDF("value")
    r.setCompleted(df.collect().toVector, df.schema)
    assert(r.state == QueryState.Completed && r.isTerminal)
    assert(r.rows.length == 1 && r.schema.contains(df.schema))
    assert(r.metrics.rowsReturned == 1)
  }

  test("setFailed records error") {
    val r = new QueryResult("SELECT 1")
    r.setFailed("Something went wrong")
    assert(r.state == QueryState.Failed && r.isTerminal)
    assert(r.errorMessage.contains("Something went wrong"))
  }

  test("setCancelled is terminal") {
    val r = new QueryResult("SELECT 1")
    r.setCancelled()
    assert(r.state == QueryState.Cancelled && r.isTerminal)
  }

  test("a terminal transition after another is refused") {
    val r = new QueryResult("SELECT 1")
    r.setRunning()
    assert(r.setCancelled())
    val df = spark.range(3).toDF("value")
    assert(!r.setCompleted(df.collect().toVector, df.schema))
    assert(r.state == QueryState.Cancelled && r.rows.isEmpty && r.schema.isEmpty)
    assert(r.metrics.rowsReturned == 0)

    val c = new QueryResult("SELECT 1")
    c.setRunning()
    assert(c.setCompleted(df.collect().toVector, df.schema))
    assert(!c.setFailed("late"))
    assert(!c.setCancelled())
    assert(c.state == QueryState.Completed && c.errorMessage.isEmpty)
    assert(c.rows.length == 3)
  }

  test("setRunning on a terminal result changes nothing") {
    val r = new QueryResult("SELECT 1")
    r.setFailed("boom")
    val metrics = r.metrics
    r.setRunning()
    assert(r.state == QueryState.Failed && r.isTerminal)
    assert(r.metrics == metrics)
  }

  test("await is true at once on a terminal result, false after the timeout " +
      "on a running one") {
    val done = new QueryResult("SELECT 1")
    done.setCancelled()
    val t0 = System.nanoTime()
    assert(done.await(10.seconds))
    assert((System.nanoTime() - t0).nanos < 5.seconds)

    val running = new QueryResult("SELECT 1")
    running.setRunning()
    val t1 = System.nanoTime()
    assert(!running.await(200.millis))
    assert((System.nanoTime() - t1).nanos >= 200.millis)
    assert(running.state == QueryState.Running)
  }

  // --- real execution (reference runs these against in-memory DuckDB) -----
  test("aggregation query completes with correct values") {
    // reference asserts COUNT=10 / SUM=45 over range(10)
    val r = executor.execute("SELECT count(*) AS c, sum(id) AS s FROM range(10)")
    assert(r.state == QueryState.Completed)
    val row = r.rows.head
    assert(row.getLong(0) == 10 && row.getLong(1) == 45)
  }

  test("CTE query returns expected rows") {
    val r = executor.execute(
      "WITH t AS (SELECT id, id * 2 AS dbl FROM range(5)) SELECT * FROM t")
    assert(r.rows.length == 5)
    assert(r.rows.map(_.getLong(1)).sorted == Vector(0L, 2L, 4L, 6L, 8L))
  }

  test("query over fixture tables") {
    Tables.register(spark, sf)
    val r = executor.execute("SELECT count(*) AS n FROM lineitem")
    assert(r.state == QueryState.Completed && r.rows.head.getLong(0) == 6000L)
  }

  test("invalid SQL rejected before registration") {
    intercept[InvalidSqlError](executor.execute("DROP TABLE lineitem"))
  }

  test("failed query records error state") {
    val ex = intercept[Exception](
      executor.execute("SELECT * FROM nonexistent_table_xyz"))
    assert(ex.getMessage != null)
  }

  test("metrics are tracked") {
    val r = executor.execute("SELECT * FROM range(100)")
    assert(r.metrics.rowsReturned == 100)
    assert(r.metrics.endTime.isDefined)
  }

  test("one span per execute with the reference's attributes (A19)") {
    val before = Metrics.recentSpans.size
    val r = executor.execute("SELECT * FROM range(42)")
    val spans = Metrics.recentSpans
    assert(spans.size == before + 1, "exactly one span per execution")
    val s = spans.last
    assert(s.name == "spark.query")
    assert(s.queryId == r.queryId.toString)
    assert(s.status == "completed" && s.statusCode == "OK")
    assert(s.rowsReturned.contains(42L))
    assert(s.durationSeconds.exists(_ >= 0.0))
    assert(s.timeoutSeconds == executor.validateTimeout(None))
    // failed execution → ERROR span with the failure message
    intercept[Exception](executor.execute("SELECT 1/0 AS x FROM range(1)"))
    val f = Metrics.recentSpans.last
    assert(f.status == "failed" && f.statusCode == "ERROR")
    assert(f.statusDescription.isDefined)
  }

  test("query_duration_seconds uses the OTel default bucket boundaries") {
    Metrics.recordQueryDuration(0.3, "spec_status")
    Metrics.recordQueryDuration(7.0, "spec_status")
    Metrics.recordQueryDuration(99999.0, "spec_status")
    val h = Metrics.durationHistogram("spec_status").get
    assert(h.length == Metrics.DurationBuckets.length + 1)
    assert(h(8) == 1)        // 0.25 < 0.3 <= 0.5
    assert(h(13) == 1)       // 5 < 7 <= 7.5
    assert(h.last == 1)      // overflow bucket
    assert(h.sum == 3)
    val (count, sum) = Metrics.durationStats("spec_status")
    assert(count == 3 && sum > 100006.0 && sum < 100007.0)
  }

  test("query_duration_seconds separates sub-second from multi-second queries") {
    Metrics.recordQueryDuration(0.2, "spec_split")
    Metrics.recordQueryDuration(3.0, "spec_split")
    val h = Metrics.durationHistogram("spec_split").get
    val b = Metrics.DurationBuckets
    assert(b.head == 0.0 && b.last == 10.0, b.mkString(","))
    assert(h(7) == 1)        // 0.1 < 0.2 <= 0.25
    assert(h(12) == 1)       // 2.5 < 3 <= 5
    assert(h.sum == 2)
  }

  test("max_rows cap truncates driver buffering (enforced, unlike reference)") {
    val small = new QueryExecutor(spark, QueryConfig(maxRows = 50))
    val r = small.execute("SELECT * FROM range(1000)")
    assert(r.rows.length == 50 && r.truncated)
  }

  test("max_rows cap keeps the first rows of an ordered result") {
    val small = new QueryExecutor(spark, QueryConfig(maxRows = 50))
    val r = small.execute("SELECT id FROM range(1000) ORDER BY id DESC")
    assert(r.rows.map(_.getLong(0)) == (999L to 950L by -1L))
    assert(r.truncated)
  }

  test("a result of exactly max_rows rows is not truncated") {
    val small = new QueryExecutor(spark, QueryConfig(maxRows = 50))
    val r = small.execute("SELECT * FROM range(50)")
    assert(r.rows.length == 50 && !r.truncated)
  }

  test("max_rows leaves room for the row that detects truncation") {
    intercept[IllegalArgumentException](QueryConfig(maxRows = Int.MaxValue))
    intercept[IllegalArgumentException](QueryConfig(maxRows = -1))
  }

  test("a single-partition ORDER BY statement runs exactly one job") {
    Tables.register(spark, sf)
    val jobs = jobsOfStatement(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_name")
    assert(jobs.size == 1, s"jobs=$jobs")
  }

  test("a broadcast join statement runs exactly two jobs") {
    Tables.register(spark, sf)
    // the broadcast build side, then the result
    val jobs = jobsOfStatement(
      "SELECT n.n_name, r.r_name FROM nation n JOIN region r " +
        "ON n.n_regionkey = r.r_regionkey ORDER BY n.n_name")
    assert(jobs.size == 2, s"jobs=$jobs")
  }

  test("an ORDER BY statement plans as a top-k over the scan, " +
      "with no range-partitioning exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
      SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    Tables.register(spark, sf)
    val sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_name"
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains("r_name")) seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val qe =
      try {
        executor.execute(sql)
        seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      } finally spark.listenerManager.unregister(listener)
    assert(qe != null, "the statement's action never reported its plan")
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
    assert(root.isInstanceOf[TakeOrderedAndProjectExec], root.treeString)
    assert(nodes(root).exists(_.isInstanceOf[FileSourceScanExec]),
      root.treeString)
    assert(!nodes(root).exists(_.isInstanceOf[ShuffleExchangeExec]),
      root.treeString)
  }

  test("get_status returns tracked query; cleanup removes it") {
    val r = executor.execute("SELECT 1 AS one")
    assert(executor.getStatus(r.queryId).contains(r))
    executor.cleanup(r.queryId)
    assert(executor.getStatus(r.queryId).isEmpty)
  }

  test("positional parameters bind ? placeholders post-gate") {
    val r = executor.execute(
      "SELECT id FROM range(10) WHERE id > ? AND id < ? ORDER BY id",
      params = Seq(3, 7))
    assert(r.state == QueryState.Completed)
    assert(r.rows.map(_.getLong(0)) === Seq(4L, 5L, 6L))
    // parameter values never reach the gate: a keyword as a VALUE is fine
    val r2 = executor.execute(
      "SELECT ? AS s", params = Seq("DROP TABLE t"))
    assert(r2.rows.head.getString(0) == "DROP TABLE t")
  }

  test("cancel unknown query returns false") {
    assert(!executor.cancel(UUID.randomUUID()))
  }

  test("cancel terminal query returns false") {
    val r = executor.execute("SELECT 1 AS one")
    assert(!executor.cancel(r.queryId))
  }

  test("timeout kills a long query and records failed state") {
    val fast = new QueryExecutor(spark, QueryConfig(minTimeout = 1))
    // interruptible long query (see the cancel test below for why a pure
    // codegen loop would leave zombie tasks starving the suite): ~25 s of
    // per-row sleeps across 4 threads, killed instantly by the job-group
    // cancel's thread interrupt
    spark.udf.register("spec_sleep_udf", (x: Long) => { Thread.sleep(5); x })
    val t0 = System.nanoTime()
    intercept[QueryTimeoutError] {
      fast.execute("SELECT sum(spec_sleep_udf(id)) FROM range(20000)",
        timeout = Some(1))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 30, s"timeout took ${elapsed}s — job group cancel not effective")
  }

  test("a failed or timed-out execute leaves no registry entry behind") {
    val fast = new QueryExecutor(spark, QueryConfig(minTimeout = 1))
    spark.udf.register("spec_sleep_udf", (x: Long) => { Thread.sleep(5); x })
    val seen = Metrics.recentSpans.map(_.queryId).toSet
    intercept[Exception](fast.execute("SELECT * FROM nonexistent_table_xyz"))
    intercept[QueryTimeoutError] {
      fast.execute("SELECT sum(spec_sleep_udf(id)) FROM range(20000)",
        timeout = Some(1))
    }
    val spans = Metrics.recentSpans.filterNot(s => seen(s.queryId))
    assert(spans.map(_.status).toSet == Set("failed", "timeout"), spans)
    spans.foreach { s =>
      assert(fast.getStatus(UUID.fromString(s.queryId)).isEmpty, s)
    }
  }

  test("thread budget: execute starts one graft-query thread, " +
      "executeAsync at most two lifecycle threads") {
    import scala.jdk.CollectionConverters._
    def lifecycleThreads: Set[String] =
      Thread.getAllStackTraces.keySet.asScala.map(_.getName)
        .filter(_.startsWith("graft-")).toSet
    // the statement holds its worker until the test has counted threads
    spark.udf.register("spec_gate_udf",
      (x: Int) => { ThreadBudgetGate.latch.await(60, SECONDS); x })
    val sql = "SELECT spec_gate_udf(1) AS one"
    def startedBy(run: () => Unit): Set[String] = {
      ThreadBudgetGate.latch = new CountDownLatch(1)
      val before = lifecycleThreads
      val caller = new Thread(() => run(), "spec-caller")
      caller.start()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!(lifecycleThreads -- before).exists(_.startsWith("graft-query-")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      Thread.sleep(200) // room for any later hop to show up
      val started = lifecycleThreads -- before
      ThreadBudgetGate.latch.countDown()
      caller.join(60000)
      started
    }
    @volatile var served: Option[QueryResult] = None
    val sync = startedBy(() => served = Some(executor.execute(sql)))
    assert(sync.size == 1 && sync.head.startsWith("graft-query-"), sync)
    assert(served.exists(_.rows.head.getInt(0) == 1))

    @volatile var async: Option[QueryResult] = None
    val asyncThreads = startedBy(() => async = Some(executor.executeAsync(sql)))
    assert(asyncThreads.count(_.startsWith("graft-query-")) == 1, asyncThreads)
    assert(asyncThreads.size <= 2, asyncThreads)
    assert(async.exists(_.await(60.seconds)))
    assert(async.exists(_.state == QueryState.Completed))
  }

  test("cancel from another thread transitions a running query to cancelled") {
    val ex2 = new QueryExecutor(spark)
    // the long query must be INTERRUPTIBLE: a pure codegen cross-join loop
    // has no interrupt checks between task boundaries, so its cancelled
    // tasks can occupy every local executor thread for minutes and starve
    // the rest of the suite (observed: a later SELECT 1 health check queued
    // behind 4 zombie tasks). A per-row sleep makes the job-group cancel's
    // thread interrupt land in Thread.sleep and kill tasks immediately —
    // and even a lost interrupt bounds the tail at ~25 s.
    spark.udf.register("spec_sleep_udf",
      (x: Long) => { Thread.sleep(5); x })
    @volatile var caught: Option[Throwable] = None
    @volatile var started: Option[java.util.UUID] = None
    val runner = new Thread(() => {
      try ex2.execute(
        "SELECT sum(spec_sleep_udf(id)) FROM range(20000)")
      catch { case t: Throwable => caught = Some(t) }
    })
    runner.start()
    // wait for the query to register
    val deadline = System.currentTimeMillis() + 30000
    while (started.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      started = ex2.activeQueryIds.headOption
    }
    assert(started.isDefined, "query never registered")
    assert(ex2.cancel(started.get))
    // the semantic under test: cancel() transitioned the lifecycle
    assert(ex2.getStatus(started.get).exists(_.state == QueryState.Cancelled))
    // worker exit is cooperative (next task/row boundary) — under suite
    // load the codegen'd cross-join can take minutes to reach one, so the
    // caller-side observations are asserted only if the worker returned
    runner.join(60000)
    if (!runner.isAlive) {
      assert(caught.isDefined, "execute returned normally despite cancel")
      assert(caught.exists(_.isInstanceOf[QueryCancelledError]),
        s"caught=$caught")
    }
  }

  test("health check healthy on live session") {
    val h = GraftEngine.healthCheck(spark)
    assert(h("engine") == "healthy" && h("status") == "healthy")
  }

  test("health check launches no Spark job") {
    val sc = spark.sparkContext
    val group = s"health-no-job-${UUID.randomUUID()}"
    sc.setJobGroup(group, "health check job count", interruptOnCancel = false)
    try {
      (1 to 3).foreach { _ =>
        assert(GraftEngine.healthCheck(spark)("status") == "healthy")
      }
    } finally sc.clearJobGroup()
    assert(jobsOfGroup(group).isEmpty)
  }

  test("health check degrades when the catalog is unreachable") {
    val h = GraftEngine.healthCheck(UnreachableCatalog.session(spark))
    assert(h("engine") == "healthy", h)
    assert(h("catalog") == "unhealthy", h)
    assert(h("status") == "degraded", h)
  }
}
