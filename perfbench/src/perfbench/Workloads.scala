package perfbench

import scala.util.Random
import scala.util.control.NonFatal

/** Seeded request generation. Statement order, literal values, page offsets
  * and catalog targets all come from the seed; the server only ever sees
  * the generated requests. The relational templates are taken from the
  * query inventory's oracle SQL, with literal slots and decimal sums so
  * that every run of a text returns the same rows. */
object Requests {

  private def pick[A](r: Random, xs: A*): A = xs(r.nextInt(xs.length))

  /** The nine tiny statements over nation and region that browse runs.
    * Browse repeats them, so after the warm-up they hit cached generated
    * code; analyze is the workload whose statements are all new. */
  val tiny: IndexedSeq[String] = {
    Seq(0, 2, 4).map(k => s"SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey = $k ORDER BY n_nationkey") ++
      Seq(1, 2, 3).map(k => s"SELECT r_regionkey, r_name FROM region WHERE r_regionkey <= $k ORDER BY r_regionkey") ++
      Seq(0, 10, 20).map(k => s"SELECT n.n_name, r.r_name FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey WHERE n.n_nationkey >= $k ORDER BY n.n_name")
  }.toIndexedSeq

  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Relational statements for analyze (page 1 is read, then deleted).
    * Each template has at least six literal variants, more than a run
    * deals it, so no text needs to repeat within a run. */
  val analyzeTemplates: IndexedSeq[Random => String] = IndexedSeq(
    r => s"SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > ${pick(r, 30, 35, 40, 45, 48)} AND l_returnflag = '${pick(r, "A", "N", "R")}' ORDER BY l_orderkey, l_linenumber, l_quantity",
    r => s"SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderstatus = '${pick(r, "F", "O", "P")}' AND o.o_totalprice > ${pick(r, 100000, 200000, 300000, 400000)} ORDER BY o.o_orderkey",
    r => s"SELECT r.r_name, n.n_name, count(*) AS n FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey WHERE c.c_mktsegment = '${pick(r, segments: _*)}' AND c.c_acctbal > ${pick(r, 0, 5000)} GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name",
    r => s"SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS total, avg(CAST(l_discount AS DECIMAL(4,2))) AS avg_disc, min(l_quantity) AS minq, max(l_quantity) AS maxq FROM lineitem WHERE l_quantity <= ${pick(r, 10, 15, 20, 25, 30, 35, 40, 45, 50)} GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    r => s"SELECT o_orderstatus, count(DISTINCT o_custkey) AS custs FROM orders WHERE o_totalprice > ${pick(r, 50000, 100000, 150000, 200000, 250000, 300000, 350000, 400000)} GROUP BY o_orderstatus ORDER BY o_orderstatus",
    r => s"SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) >= ${11 + r.nextInt(10)} ORDER BY o_custkey",
    r => s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = '${pick(r, "F", "O", "P")}' ORDER BY o_totalprice DESC, o_orderkey LIMIT ${pick(r, 10, 50, 100)}",
    r => s"SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey LIMIT 100 OFFSET ${pick(r, 0, 250, 500, 1000, 2000, 5000, 10000, 20000)}",
    r => s"WITH big AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend FROM orders GROUP BY o_custkey) SELECT c.c_name, b.spend FROM big b JOIN customer c ON c.c_custkey = b.o_custkey WHERE b.spend > ${pick(r, 1500000, 2000000, 2500000, 3000000, 3500000, 4000000)} ORDER BY c.c_name",
    r => s"SELECT p_partkey, upper(substr(p_name, 1, 5)) AS pfx, length(p_name) AS len, translate(p_brand, '#', '-') AS brand2, concat(p_type, '/', p_brand) AS tb FROM part WHERE p_name LIKE '%${pick(r, "a", "e", "i", "o")}%' AND p_size <= ${pick(r, 10, 20, 30)} ORDER BY p_partkey",
    r => s"SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(10,2))) AS sv, CAST(min(ts) AS DATE) AS first_day FROM events WHERE value > ${pick(r, 10, 25, 50, 75, 100, 150, 200, 250)} GROUP BY event_type ORDER BY event_type",
    r => { val w = pick(r, 200, 250, 300, 350, 400, 450); s"SELECT n.n_nationkey, count(*) AS n_cust FROM customer c JOIN (SELECT n_nationkey, n_nationkey * $w AS lo, n_nationkey * $w + ${w - 1} AS hi FROM nation) n ON c.c_acctbal >= n.lo AND c.c_acctbal <= n.hi GROUP BY n.n_nationkey ORDER BY n.n_nationkey" },
    r => s"SELECT l_returnflag, count(*) AS n, min(l_quantity) AS minq, max(l_quantity) AS maxq FROM lineitem WHERE l_discount >= ${pick(r, "0.01", "0.02", "0.03", "0.04", "0.05", "0.06", "0.07", "0.08")} GROUP BY l_returnflag ORDER BY l_returnflag",
    r => s"SELECT o_orderpriority, count(*) AS n_all, count(*) FILTER (WHERE o_totalprice > ${pick(r, 100000, 250000, 400000)}) AS n_big, count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = '${pick(r, "F", "O")}') AS custs FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    r => s"SELECT c_custkey, (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n FROM customer c WHERE c_nationkey = ${r.nextInt(25)} ORDER BY c_custkey",
    r => s"SELECT event_id, CAST(get_json_object(props, '$$.k') AS INT) AS k FROM events WHERE CAST(get_json_object(props, '$$.k') AS INT) % ${pick(r, 3, 5, 7)} = 0 AND user_id < ${pick(r, 100, 200, 300)} ORDER BY event_id")

  def body(sql: String): String = Json.render(Map("sql" -> sql))
}

/** The shape of one workload: how many closed-loop clients it runs and the
  * open-loop /health prober rate (0 = none). */
final case class Shape(name: String, clients: Int, probeHz: Double)

object Shapes {
  val all: Map[String, Shape] = Seq(
    Shape("browse", clients = 1, probeHz = 0),
    Shape("analyze", clients = 3, probeHz = 2)
  ).map(s => s.name -> s).toMap

  /** The percentile every `_tail` reports: what the tail rule picks for
    * the 100-150 requests of a browse window, fixed so that a faster
    * program, with more samples, is not graded at a stricter percentile. */
  val TailLevel = 90
}

/** Drives one workload against a running façade until `deadlineNs`. A cycle
  * that started before the deadline runs to its end, so no query is left
  * registered. */
final class Driver(port: Int, rec: Recorder, seed: Long, used: java.util.Set[String]) {

  /** Statement templates are dealt from a seeded deck shared by all
    * clients, reshuffled when it runs out, so every run draws the whole
    * template mix evenly. Literal values are drawn per statement, redrawn
    * while the text was already used in this process, so analyze pays
    * compilation for every statement, the same share in every run. */
  private final class Deck(templates: IndexedSeq[Random => String]) {
    private val r = new Random(seed)
    private var order = List.empty[Int]
    def next(lit: Random): String = {
      val t = synchronized {
        if (order.isEmpty) order = r.shuffle(templates.indices.toList)
        val h = order.head
        order = order.tail
        h
      }
      Iterator.continually(templates(t)(lit)).take(50).find(used.add)
        .getOrElse(templates(t)(lit))
    }
  }
  private val analyzeDeck = new Deck(Requests.analyzeTemplates)

  private val lakeTables: IndexedSeq[String] =
    (graft.tables.Tables.names :+ Serving.IcebergTable).toIndexedSeq

  private def queryId(r: Resp): Option[String] =
    try {
      val o = Json.parse(r.text)
      if (r.status == 200 && o.path("status").asText == "completed") Some(o.get("query_id").asText)
      else None
    } catch { case NonFatal(_) => None }

  /** execute → status? → page reads → extra → delete. Returns false if the
    * execute failed (nothing to page or delete). `pages` are (offset,
    * page size); the first page's first data line ends time-to-first-row. */
  private def lifecycle(http: Http, sql: String, withStatus: Boolean,
      pages: Seq[(Int, Int)])(extra: String => Unit): Boolean = {
    rec.statements.add(sql)
    val ex = http.post("/api/v1/query/execute", Requests.body(sql))
    val id = queryId(ex)
    rec.add("execute", ex, id.isDefined, sql, id.getOrElse(""))
    id.foreach { qid =>
      if (withStatus) {
        val st = http.get(s"/api/v1/query/$qid/status")
        rec.add("status", st, st.status == 200 && st.text.contains("\"status\":\"completed\""), sql, qid)
      }
      pages.zipWithIndex.foreach { case ((offset, size), i) =>
        val pg = http.get(s"/api/v1/query/$qid/results?page_size=$size&offset=$offset",
          watchData = i == 0)
        rec.add("results", pg, pg.status == 200, sql, qid)
        rec.result("page", pg, sql, offset, size)
        if (i == 0 && pg.firstDataNs > 0) rec.ttfrMs.add((pg.firstDataNs - ex.startNs) / 1e6)
      }
      extra(qid)
      val del = http.delete(s"/api/v1/query/$qid")
      rec.add("delete", del, del.status == 200 && del.text.contains("\"cleaned\":true"), sql, qid)
    }
    id.isDefined
  }

  private def catalog(http: Http, kind: String, path: String, arg: String): Unit = {
    val r = http.get(path)
    rec.add(kind, r, r.status == 200, arg)
    if (r.status == 200) rec.delivered.add(Delivered(kind, arg, 0, 0, r.body))
  }

  private def browseCycle(http: Http, r: Random): Unit = {
    val t1 = lakeTables(r.nextInt(lakeTables.length))
    val t2 = if (r.nextInt(3) == 0) Serving.IcebergTable else lakeTables(r.nextInt(lakeTables.length))
    catalog(http, "namespaces", "/api/v1/catalog/namespaces", "")
    catalog(http, "tables", "/api/v1/catalog/namespaces/lake/tables", "lake")
    catalog(http, "schema", s"/api/v1/catalog/tables/lake.$t1/schema", s"lake.$t1")
    catalog(http, "details", s"/api/v1/catalog/tables/lake.$t2", s"lake.$t2")
    val sql = Requests.tiny(r.nextInt(Requests.tiny.length))
    val ok = lifecycle(http, sql, withStatus = true, Seq((0, 100))) { qid =>
      val csv = http.post("/api/v1/export/csv", s"""{"query_id": "$qid"}""")
      rec.add("csv_id", csv, csv.status == 200, sql, qid)
      rec.result("csv", csv, sql, 0, 0)
      val arrow = http.post("/api/v1/export/arrow", Requests.body(sql))
      rec.add("arrow", arrow, arrow.status == 200, sql)
      rec.result("arrow", arrow, sql, 0, 0)
    }
    val h = http.get("/health")
    rec.add("health", h, h.status == 200 && h.text.contains("\"status\":\"healthy\""))
    rec.healthMs.add(h.ms)
    val rd = http.get("/ready")
    rec.add("ready", rd, rd.status == 200 && rd.text.contains("\"ready\":true"))
    if (ok) rec.cycles.increment()
  }

  private def analyzeCycle(http: Http, r: Random): Unit =
    if (lifecycle(http, analyzeDeck.next(r), withStatus = false, Seq((0, 100)))(_ => ()))
      rec.cycles.increment()

  /** Execute and delete each browse statement once, so browse measures
    * the serving path with its generated code cached. */
  def prime(): Unit = {
    val http = Http(port, 0)
    Requests.tiny.foreach { sql =>
      queryId(http.post("/api/v1/query/execute", Requests.body(sql)))
        .foreach(id => http.delete(s"/api/v1/query/$id"))
    }
  }

  private def prober(http: Http, hz: Double, startNs: Long, deadlineNs: Long): Unit = {
    val periodNs = (1e9 / hz).toLong
    var k = 0L
    var sched = startNs
    while (sched < deadlineNs) {
      val wait = sched - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      try {
        val h = http.get("/health")
        rec.add("health", h, h.status == 200 && h.text.contains("\"status\":\"healthy\""))
        rec.healthMs.add((h.endNs - sched) / 1e6)
        rec.probeLateMs.add(math.max(0L, h.startNs - sched) / 1e6)
      } catch { case NonFatal(e) => rec.failure(e) }
      k += 1
      sched = startNs + k * periodNs
    }
  }

  /** Run `shape` from now until `deadlineNs`; returns the elapsed seconds
    * until the last client finished its last cycle. */
  def run(shape: Shape, deadlineNs: Long): Double = {
    val start = System.nanoTime()
    val cycle: (Http, Random) => Unit = shape.name match {
      case "browse" => browseCycle
      case "analyze" => analyzeCycle
    }
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case NonFatal(e) => errors.add(e) }, name)
      t.start(); t
    }
    val clients = (0 until shape.clients).map { c =>
      thread(s"bench-client-$c") {
        val http = Http(port, c)
        val r = new Random(seed * 1000003L + c)
        while (System.nanoTime() < deadlineNs) {
          val t0 = System.nanoTime()
          try cycle(http, r)
          catch { case NonFatal(e) => rec.failure(e) }
          rec.cycleNs.add(System.nanoTime() - t0)
        }
      }
    }
    val probe = if (shape.probeHz <= 0) None else Some(thread("bench-prober") {
      prober(Http(port, shape.clients), shape.probeHz, start, deadlineNs)
    })
    clients.foreach(_.join())
    val elapsed = (System.nanoTime() - start) / 1e9
    probe.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    elapsed
  }
}
