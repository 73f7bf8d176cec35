package graft.engine

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite
import graft.tables.Tables

/** The serving session's SQL conf ([[GraftEngine.ServingCodegen]]), applied
  * to a `newSession()` of the shared session. `buildSession` itself is
  * never called here: its `getOrCreate` would set the conf on the JVM's
  * shared session too. */
class ServingSessionSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** The serving benchmark's 16 analyze templates
    * (`perfbench/src/perfbench/Workloads.scala`, `Requests.analyzeTemplates`),
    * each with one of its literal values. */
  private val analyzeStatements: Seq[String] = Seq(
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'N' ORDER BY l_orderkey, l_linenumber, l_quantity",
    "SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderstatus = 'O' AND o.o_totalprice > 100000 ORDER BY o.o_orderkey",
    "SELECT r.r_name, n.n_name, count(*) AS n FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 0 GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name",
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS total, avg(CAST(l_discount AS DECIMAL(4,2))) AS avg_disc, min(l_quantity) AS minq, max(l_quantity) AS maxq FROM lineitem WHERE l_quantity <= 25 GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT o_orderstatus, count(DISTINCT o_custkey) AS custs FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderstatus ORDER BY o_orderstatus",
    "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) >= 11 ORDER BY o_custkey",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey LIMIT 100 OFFSET 250",
    "WITH big AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend FROM orders GROUP BY o_custkey) SELECT c.c_name, b.spend FROM big b JOIN customer c ON c.c_custkey = b.o_custkey WHERE b.spend > 1500000 ORDER BY c.c_name",
    "SELECT p_partkey, upper(substr(p_name, 1, 5)) AS pfx, length(p_name) AS len, translate(p_brand, '#', '-') AS brand2, concat(p_type, '/', p_brand) AS tb FROM part WHERE p_name LIKE '%a%' AND p_size <= 20 ORDER BY p_partkey",
    "SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(10,2))) AS sv, CAST(min(ts) AS DATE) AS first_day FROM events WHERE value > 25 GROUP BY event_type ORDER BY event_type",
    "SELECT n.n_nationkey, count(*) AS n_cust FROM customer c JOIN (SELECT n_nationkey, n_nationkey * 200 AS lo, n_nationkey * 200 + 199 AS hi FROM nation) n ON c.c_acctbal >= n.lo AND c.c_acctbal <= n.hi GROUP BY n.n_nationkey ORDER BY n.n_nationkey",
    "SELECT l_returnflag, count(*) AS n, min(l_quantity) AS minq, max(l_quantity) AS maxq FROM lineitem WHERE l_discount >= 0.02 GROUP BY l_returnflag ORDER BY l_returnflag",
    "SELECT o_orderpriority, count(*) AS n_all, count(*) FILTER (WHERE o_totalprice > 100000) AS n_big, count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS custs FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT c_custkey, (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n FROM customer c WHERE c_nationkey = 3 ORDER BY c_custkey",
    "SELECT event_id, CAST(get_json_object(props, '$.k') AS INT) AS k FROM events WHERE CAST(get_json_object(props, '$.k') AS INT) % 3 = 0 AND user_id < 100 ORDER BY event_id")

  /** Serves `sql` through a QueryExecutor on `session` and returns its rows
    * with the final physical plan of the statement's action. */
  private def serve(session: SparkSession, sql: String): (Seq[Seq[Any]], SparkPlan) = {
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      val r = new QueryExecutor(session).execute(sql)
      assert(r.state == QueryState.Completed, s"${r.errorMessage}: $sql")
      val qe = seen.poll(30, TimeUnit.SECONDS)
      assert(qe != null, s"the action never reported its plan: $sql")
      (r.rows.map(_.toSeq), qe.executedPlan)
    } finally session.listenerManager.unregister(listener)
  }

  /** Whole-stage codegen nodes anywhere in the final plan: inside AQE's
    * query stages and in subquery plans too. */
  private def fused(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case w: WholeStageCodegenExec => w }

  test("the serving conf runs every analyze statement without whole-stage " +
      "codegen and returns the shared session's rows") {
    assert(analyzeStatements.length == 16)
    val (key, value) = GraftEngine.ServingCodegen
    val serving = spark.newSession()
    serving.conf.set(key, value)
    Tables.register(spark, sf)
    Tables.register(serving, sf)
    var fusedOnShared = 0
    analyzeStatements.foreach { sql =>
      val (rows, plan) = serve(serving, sql)
      assert(fused(plan).isEmpty, s"$sql\n${plan.treeString}")
      val (expected, sharedPlan) = serve(spark, sql)
      if (fused(sharedPlan).nonEmpty) fusedOnShared += 1
      assert(rows.nonEmpty, sql)
      assert(rows == expected, sql)
    }
    // the plan check sees whole-stage codegen where it is on
    assert(fusedOnShared == analyzeStatements.length)
    assert(key == "spark.sql.codegen.wholeStage" && value == "false")
    assert(spark.conf.get(key) == "true")
  }
}
