package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers

import graft.SparkSuite
import graft.catalog.SparkCatalogProvider
import graft.engine.QueryExecutor
import graft.tables.Tables

/** End-to-end drive of the HTTP façade with the JDK HTTP client —
  * execute → status → results → csv → cancel → delete, plus catalog and
  * health, against the reference's routes and status codes
  * (reference: tests/test_query_api.py shapes). */
class HttpFacadeSpec extends SparkSuite {

  private lazy val facade = {
    Tables.register(spark, sf)
    new HttpFacade(spark, new QueryExecutor(spark),
      new SparkCatalogProvider(spark))
  }
  private lazy val port: Int = facade.start(0)
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    facade.stop()
    super.afterAll()
  }

  private def url(path: String) = URI.create(s"http://127.0.0.1:$port$path")
  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(url(path)).GET.build(),
      BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(url(path))
      .POST(BodyPublishers.ofString(body)).build(), BodyHandlers.ofString())
  private def delete(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(url(path)).DELETE.build(),
      BodyHandlers.ofString())

  private def fieldOf(json: String, name: String): String = {
    val m = ("\"" + name + "\"\\s*:\\s*\"([^\"]*)\"").r
    m.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(fail(s"no string field '$name' in $json"))
  }

  test("execute -> status -> results -> delete round trip") {
    val exec = post("/api/v1/query/execute",
      """{"sql": "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"}""")
    assert(exec.statusCode === 200, exec.body)
    assert(fieldOf(exec.body, "status") === "completed")
    val qid = fieldOf(exec.body, "query_id")

    val st = get(s"/api/v1/query/$qid/status")
    assert(st.statusCode === 200)
    assert(st.body.contains("\"rows_processed\":25"))

    val res = get(s"/api/v1/query/$qid/results?page_size=100&offset=0")
    assert(res.statusCode === 200)
    val lines = res.body.split("\n").toSeq
    assert(lines.head.contains("\"type\":\"metadata\""))
    assert(lines.exists(_.contains("\"type\":\"data\"")))
    assert(lines.last.contains("\"type\":\"complete\""))

    val del = delete(s"/api/v1/query/$qid")
    assert(del.statusCode === 200 && del.body.contains("\"cleaned\":true"))
    assert(get(s"/api/v1/query/$qid/status").statusCode === 404)
  }

  test("invalid SQL is a 400 with the gate's message") {
    val r = post("/api/v1/query/execute", """{"sql": "DROP TABLE nation"}""")
    assert(r.statusCode === 400)
    assert(r.body.contains("detail"))
  }

  test("missing sql field and malformed ids are 400s") {
    assert(post("/api/v1/query/execute", """{}""").statusCode === 400)
    assert(get("/api/v1/query/not-a-uuid/status").statusCode === 400)
    assert(post("/api/v1/query/not-a-uuid/cancel", "").statusCode === 400)
    // a body that is not a flat JSON object is the caller's error, not a
    // 500 carrying the parser's message
    for {
      body <- Seq("not json", """{"sql":""",
        """{"sql":"SELECT 1","timeout":1.5}""")
      path <- Seq("/api/v1/query/execute", "/api/v1/export/csv",
        "/api/v1/export/arrow")
    } {
      val r = post(path, body)
      assert(r.statusCode === 400, s"$path $body: ${r.body}")
      assert(fieldOf(r.body, "detail") ===
        "Request body must be a flat JSON object")
    }
  }

  test("unknown query id is a 404; bad page size a 400") {
    val ghost = java.util.UUID.randomUUID().toString
    assert(get(s"/api/v1/query/$ghost/status").statusCode === 404)
    assert(post(s"/api/v1/query/$ghost/cancel", "").statusCode === 404)
    val exec = post("/api/v1/query/execute", """{"sql": "SELECT 1 AS x"}""")
    val qid = fieldOf(exec.body, "query_id")
    assert(get(s"/api/v1/query/$qid/results?page_size=7").statusCode === 400)
    Seq("page_size=abc" -> "page_size must be an integer",
        "offset=x" -> "offset must be an integer",
        "page_size=100&offset=1.5" -> "offset must be an integer",
        "offset=-1" -> "offset must be non-negative").foreach {
      case (q, msg) =>
        val r = get(s"/api/v1/query/$qid/results?$q")
        assert(r.statusCode === 400, s"$q: ${r.body}")
        assert(fieldOf(r.body, "detail") === msg)
    }
    assert(get(s"/api/v1/query/$qid/results?page_size=100&offset=0")
      .statusCode === 200)
  }

  test("keep-alive responses are not held back by Nagle's algorithm") {
    // Without TCP_NODELAY the body segment waits for the client's delayed
    // ACK of the header segment: a >= 40 ms floor on every response. The
    // JDK reads the switch once per JVM, when its server configuration
    // loads, so this also fails if a JDK HttpServer was created anywhere
    // in the JVM before HttpFacade.start set it.
    val one = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(url("/api/v1/catalog/namespaces"))
      .GET.build()
    def timed(): Double = {
      val t0 = System.nanoTime()
      val r = one.send(req, BodyHandlers.ofString())
      assert(r.statusCode === 200, r.body)
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 3).foreach(_ => timed()) // open and warm the connection
    val ms = Seq.fill(21)(timed()).sorted
    assert(ms(ms.size / 2) < 20.0,
      s"sorted latencies (ms): ${ms.map(m => f"$m%.1f").mkString(", ")}")
  }

  test("cancel on a finished query reports current state") {
    val exec = post("/api/v1/query/execute", """{"sql": "SELECT 1 AS x"}""")
    val qid = fieldOf(exec.body, "query_id")
    val c = post(s"/api/v1/query/$qid/cancel", "")
    assert(c.statusCode === 200)
    assert(fieldOf(c.body, "status") === "completed")
  }

  test("csv export: inline sql, query_id arm, and the XOR guard") {
    val inline = post("/api/v1/export/csv",
      """{"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}""")
    assert(inline.statusCode === 200)
    assert(inline.headers.firstValue("Content-Type").orElse("")
      .startsWith("text/csv"))
    val lines = inline.body.trim.split("\r\n").toSeq
    assert(lines.head === "r_regionkey,r_name")
    assert(lines.length === 6) // header + 5 regions

    val exec = post("/api/v1/query/execute",
      """{"sql": "SELECT n_name FROM nation ORDER BY n_name"}""")
    val qid = fieldOf(exec.body, "query_id")
    val byId = post("/api/v1/export/csv", s"""{"query_id": "$qid"}""")
    assert(byId.statusCode === 200)
    assert(byId.body.trim.split("\r\n").length === 26)

    assert(post("/api/v1/export/csv", "{}").statusCode === 400)
    assert(post("/api/v1/export/csv",
      s"""{"sql": "SELECT 1", "query_id": "$qid"}""").statusCode === 400)
  }

  test("arrow export: a real IPC stream any Arrow reader decodes") {
    val resp = client.send(
      HttpRequest.newBuilder(url("/api/v1/export/arrow"))
        .POST(BodyPublishers.ofString(
          """{"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}"""))
        .build(),
      BodyHandlers.ofByteArray())
    assert(resp.statusCode === 200)
    assert(resp.headers.firstValue("Content-Type").orElse("")
      === "application/vnd.apache.arrow.stream")
    // decode with the stock Arrow Java reader — proves the bytes are a
    // complete stream (schema message + batches + EOS), not raw batches
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(resp.body), alloc)
    try {
      val schema = reader.getVectorSchemaRoot.getSchema
      assert(schema.getFields.get(0).getName === "r_regionkey")
      assert(schema.getFields.get(1).getName === "r_name")
      var rows = 0
      val names = scala.collection.mutable.ArrayBuffer[String]()
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        val nameVec = root.getVector("r_name")
          .asInstanceOf[org.apache.arrow.vector.VarCharVector]
        for (i <- 0 until root.getRowCount)
          names += new String(nameVec.get(i), "UTF-8")
        rows += root.getRowCount
      }
      assert(rows === 5)
      assert(names.head === "AFRICA") // r_regionkey order
    } finally { reader.close(); alloc.close() }

    assert(post("/api/v1/export/arrow", "{}").statusCode === 400)
    assert(post("/api/v1/export/arrow",
      """{"sql": "DROP TABLE region"}""").statusCode === 400)
  }

  test("catalog namespaces, tables, and schema") {
    // catalog routes read the session catalog (temp views are not catalog
    // tables) — create an external table like the reference's ATTACH would
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nation
      USING parquet LOCATION '$sf/nation.parquet'""")
    val ns = get("/api/v1/catalog/namespaces")
    assert(ns.statusCode === 200 && ns.body.contains("httpapi"))
    val ts = get("/api/v1/catalog/namespaces/httpapi/tables")
    assert(ts.statusCode === 200 && ts.body.contains("nation"))
    val sc = get("/api/v1/catalog/tables/httpapi.nation/schema")
    assert(sc.statusCode === 200)
    assert(sc.body.contains("n_nationkey") && sc.body.contains("\"table\":\"nation\""))
    assert(get("/api/v1/catalog/tables/nodots/schema").statusCode === 400)
    val unknown = get("/api/v1/catalog/namespaces/no_such_ns/tables")
    assert(unknown.statusCode === 404, unknown.body)
    assert(unknown.body.contains("Namespace not found"), unknown.body)
  }

  test("every table route checks its path, then the table, before any " +
      "parameter") {
    val routes = Seq("", "/schema", "/profile", "/balance", "/mixture",
      "/epoch-plan", "/dedup-sweep", "/substring-dedup", "/data-card",
      "/incremental-build", "/shard-manifest", "/lsh-plan", "/dedup-probe",
      "/ann-search", "/bm25-search", "/contamination-search",
      "/hybrid-search", "/pq-search", "/index-audit", "/classify",
      "/tokenize", "/media-search", "/box-search", "/bloom-check")
    assert(routes.size === 24)
    routes.foreach { op =>
      val bad = get(s"/api/v1/catalog/tables/nodot$op")
      assert(bad.statusCode === 400, s"$op: ${bad.body}")
      assert(fieldOf(bad.body, "detail") === "Invalid table path: nodot", op)
      val gone = get(s"/api/v1/catalog/tables/httpapi.nope$op")
      assert(gone.statusCode === 404, s"$op: ${gone.body}")
      assert(gone.body.contains("httpapi.nope"), s"$op: ${gone.body}")
    }
  }

  test("table profile: per-column stats, columns param, 400/404 edges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nation
      USING parquet LOCATION '$sf/nation.parquet'""")
    val p = get("/api/v1/catalog/tables/httpapi.nation/profile")
    assert(p.statusCode === 200, p.body)
    assert(p.body.contains("\"table\":\"httpapi.nation\""))
    // nation has 25 rows, n_nationkey 0..24, no nulls
    assert(p.body.contains("\"column\":\"n_nationkey\""))
    assert(p.body.contains("\"n_rows\":25"))
    assert(p.body.contains("\"n_nulls\":0"))
    assert(p.body.contains("\"n_distinct\":25"))
    val sub = get("/api/v1/catalog/tables/httpapi.nation/profile?columns=n_name")
    assert(sub.statusCode === 200, sub.body)
    assert(sub.body.contains("n_name") && !sub.body.contains("n_nationkey"))
    assert(get("/api/v1/catalog/tables/httpapi.nation/profile?columns=bogus")
      .statusCode === 400)
    // approximate mode serves (HLL++ distinct counts)
    assert(get("/api/v1/catalog/tables/httpapi.nation/profile?approx=true")
      .statusCode === 200)
    assert(get("/api/v1/catalog/tables/httpapi.nosuch/profile")
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/profile").statusCode === 400)
    // grouped profile: one stats row per (region, column)
    val g = get("/api/v1/catalog/tables/httpapi.nation/profile" +
      "?group_by=n_regionkey&columns=n_nationkey")
    assert(g.statusCode === 200, g.body)
    assert(g.body.contains("\"group\":\"0\""), g.body)
    assert(g.body.contains("\"n_rows\":5"))        // 5 nations per region
    assert(get("/api/v1/catalog/tables/httpapi.nation/profile" +
      "?group_by=bogus").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/profile" +
      "?group_by=n_regionkey&columns=n_regionkey").statusCode === 400)
  }

  test("class balance route: shares, gini, 400/404 edges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nation
      USING parquet LOCATION '$sf/nation.parquet'""")
    val b = get("/api/v1/catalog/tables/httpapi.nation/balance" +
      "?column=n_regionkey")
    assert(b.statusCode === 200, b.body)
    // 25 nations over 5 regions: every share is exactly 200000 ppm and
    // gini = (25^2 - 5*25) * 1e6 DIV 25^2 = 800000
    assert(b.body.contains("\"gini_ppm\":800000"), b.body)
    assert(b.body.contains("\"share_ppm\":200000"), b.body)
    assert(b.body.contains("\"n\":5"), b.body)
    assert(get("/api/v1/catalog/tables/httpapi.nation/balance")
      .statusCode === 400)                     // column required
    assert(get("/api/v1/catalog/tables/httpapi.nation/balance?column=xx")
      .statusCode === 400)
    // a map column is not groupable — caller error (400), not a raw
    // AnalysisException surfaced as 500 (profileRoute convention)
    spark.sql("""CREATE TABLE IF NOT EXISTS httpapi.mapped
      USING parquet AS SELECT map('k', 'v') AS props, 1 AS x""")
    assert(get("/api/v1/catalog/tables/httpapi.mapped/balance?column=props")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.mapped/balance?column=x")
      .statusCode === 200)
    // n_comment is distinct per row (25 values) — allowed; but the
    // cardinality cap rejects clearly non-label columns on big tables
    assert(get("/api/v1/catalog/tables/httpapi.nosuch/balance?column=x")
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/balance?column=x")
      .statusCode === 400)
  }

  test("mixture route: water-filling allocation, 400/404 edges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nation
      USING parquet LOCATION '$sf/nation.parquet'""")
    // shape + exactness of the response: allocation semantics are pinned
    // in SamplingSpec; here assert the route wiring (5 region rows, the
    // budget echoed, every field present)
    val m = get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=n_regionkey&weight=n_nationkey&budget=30&epochs=2")
    assert(m.statusCode === 200, m.body)
    assert(m.body.contains("\"epochs_cap\":2"), m.body)
    assert(m.body.contains("\"budget\":30"), m.body)
    assert("\"domain\":\"\\d\"".r.findAllIn(m.body).size === 5, m.body)
    Seq("avail", "cap", "alloc", "epochs_ppm").foreach(f =>
      assert(m.body.contains("\"" + f + "\":"), m.body))
    // required params
    assert(get("/api/v1/catalog/tables/httpapi.nation/mixture")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=n_regionkey&weight=n_nationkey").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=n_regionkey&weight=n_nationkey&budget=-1")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=bogus&weight=n_nationkey&budget=10").statusCode === 400)
    // non-numeric weight is a caller error
    assert(get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=n_regionkey&weight=n_name&budget=10").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=n_regionkey&weight=n_nationkey&budget=10&epochs=0")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=n_regionkey&weight=n_nationkey&budget=10&epochs=x")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nosuch/mixture" +
      "?domain=a&weight=b&budget=1").statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/mixture" +
      "?domain=a&weight=b&budget=1").statusCode === 400)
  }

  test("epoch-plan route: realized mixture with rollup + sample, 400/404 edges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nation
      USING parquet LOCATION '$sf/nation.parquet'""")
    // realization semantics are pinned in SamplingSpec; here assert the
    // route wiring: 5 domain rollups that sum back to the allocation,
    // and a per-doc sample bounded by limit
    val m = get("/api/v1/catalog/tables/httpapi.nation/epoch-plan" +
      "?domain=n_regionkey&id=n_nationkey&weight=n_nationkey" +
      "&budget=30&epochs=2&limit=3")
    assert(m.statusCode === 200, m.body)
    assert(m.body.contains("\"budget\":30"), m.body)
    assert(m.body.contains("\"epochs_cap\":2"), m.body)
    Seq("n_docs", "full_epochs", "n_extra", "total_copies", "spent_weight")
      .foreach(f => assert(m.body.contains("\"" + f + "\":"), m.body))
    assert("\"n_docs\":".r.findAllIn(m.body).size === 5, m.body)
    assert("\"n_copies\":".r.findAllIn(m.body).size === 3, m.body)
    // spent_weight never exceeds the domain's allocation: cross-check
    // against the mixture route on identical params
    val alloc = get("/api/v1/catalog/tables/httpapi.nation/mixture" +
      "?domain=n_regionkey&weight=n_nationkey&budget=30&epochs=2")
    val allocs = "\"alloc\":(\\d+)".r.findAllMatchIn(alloc.body)
      .map(_.group(1).toLong).toSeq
    val spent = "\"spent_weight\":(\\d+)".r.findAllMatchIn(m.body)
      .map(_.group(1).toLong).toSeq
    assert(spent.length === allocs.length)
    spent.zip(allocs).foreach { case (s, a) => assert(s <= a, m.body) }
    // required params / validation edges
    assert(get("/api/v1/catalog/tables/httpapi.nation/epoch-plan")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/epoch-plan" +
      "?domain=n_regionkey&weight=n_nationkey&budget=30")
      .statusCode === 400) // missing id
    assert(get("/api/v1/catalog/tables/httpapi.nation/epoch-plan" +
      "?domain=n_regionkey&id=n_nationkey&weight=n_nationkey&budget=-1")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/epoch-plan" +
      "?domain=n_regionkey&id=n_nationkey&weight=n_name&budget=5")
      .statusCode === 400) // non-numeric weight
    assert(get("/api/v1/catalog/tables/httpapi.nation/epoch-plan" +
      "?domain=n_regionkey&id=n_nationkey&weight=n_nationkey&budget=5" +
      "&limit=1001").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nation/epoch-plan" +
      "?domain=n_regionkey&id=n_nationkey&weight=n_nationkey&budget=5" +
      "&epochs=0").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nosuch/epoch-plan" +
      "?domain=a&id=b&weight=c&budget=1").statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/epoch-plan" +
      "?domain=a&id=b&weight=c&budget=1").statusCode === 400)
  }

  test("dedup-sweep route: per-threshold pair/drop counts, 400/404 edges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    // sweep semantics are pinned in DedupSpec; here assert route wiring:
    // one row per threshold, counts monotonically non-increasing
    val m = get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep" +
      "?text=text&id=doc_id")
    assert(m.statusCode === 200, m.body)
    Seq("threshold", "n_pairs", "n_docs_touched", "n_dropped", "drop_ppm")
      .foreach(f => assert(m.body.contains("\"" + f + "\":"), m.body))
    val pairs = "\"n_pairs\":(\\d+)".r.findAllMatchIn(m.body)
      .map(_.group(1).toLong).toSeq
    assert(pairs.length === 5, m.body) // default 0.5..0.9
    pairs.sliding(2).foreach { case Seq(a, b) => assert(a >= b, m.body) }
    val custom = get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep" +
      "?text=text&id=doc_id&thresholds=0.6,0.9")
    assert(custom.statusCode === 200, custom.body)
    assert("\"threshold\":".r.findAllIn(custom.body).size === 2, custom.body)
    // validation edges
    assert(get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep" +
      "?text=nope&id=doc_id").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep" +
      "?text=n_chars&id=doc_id").statusCode === 400) // non-string text
    assert(get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep" +
      "?text=text&id=text").statusCode === 400) // non-integral id
    assert(get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep" +
      "?text=text&id=doc_id&thresholds=abc").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/dedup-sweep" +
      "?text=text&id=doc_id&thresholds=1.5").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/dedup-sweep" +
      "?text=text&id=doc_id").statusCode === 404)
  }

  test("substring-dedup route: excision rollup + most-affected sample, 400/404 edges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    // excision semantics are pinned in DedupSpec (d16); here assert route
    // wiring: rollup fields present, invariants hold, sample bounded
    val m = get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=text&id=doc_id&limit=5")
    assert(m.statusCode === 200, m.body)
    Seq("n_docs", "n_docs_affected", "total_words", "total_dropped",
      "total_spans", "drop_ppm", "most_affected")
      .foreach(f => assert(m.body.contains("\"" + f + "\":"), m.body))
    def lg(field: String): Long =
      ("\"" + field + "\":(\\d+)").r.findFirstMatchIn(m.body).get.group(1).toLong
    assert(lg("n_docs") === spark.table("httpapi.documents").count())
    assert(lg("n_docs_affected") <= lg("n_docs"), m.body)
    assert(lg("total_dropped") <= lg("total_words"), m.body)
    assert(lg("drop_ppm") ===
      (if (lg("total_words") == 0) 0L
       else 1000000L * lg("total_dropped") / lg("total_words")), m.body)
    val sampleDrops = "\"n_dropped\":(\\d+)".r.findAllMatchIn(
        m.body.substring(m.body.indexOf("most_affected")))
      .map(_.group(1).toLong).toSeq
    assert(sampleDrops.length <= 5, m.body)
    // most-affected ordering: n_dropped non-increasing
    sampleDrops.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b, m.body)
      case _ => ()
    }
    // limit=0: rollup only
    val r0 = get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=text&id=doc_id&limit=0")
    assert(r0.statusCode === 200, r0.body)
    assert(!r0.body.substring(r0.body.indexOf("most_affected"))
      .contains("\"n_words\":"), r0.body)
    // validation edges, dedup-sweep conventions
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=nope&id=doc_id").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=n_chars&id=doc_id").statusCode === 400) // non-string text
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=text&id=text").statusCode === 400) // non-integral id
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=text&id=doc_id&anchor=0").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=text&id=doc_id&anchor=abc").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=text&id=doc_id&max_doc_freq=0").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/substring-dedup" +
      "?text=text&id=doc_id&limit=1001").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/substring-dedup" +
      "?text=text&id=doc_id").statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/substring-dedup" +
      "?text=text&id=doc_id").statusCode === 400)
  }

  test("data-card route: one-row corpus-build rollup, 400/404 edges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    // composition semantics are pinned in CorpusBuildSpec; here assert
    // route wiring: the card fields arrive and reconcile
    val m = get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang&length=n_chars")
    assert(m.statusCode === 200, m.body)
    Seq("n_docs", "n_kept_docs", "n_mix_docs", "total_copies",
      "mix_tokens", "n_bins", "max_pos", "n_duplicate", "n_cross_split",
      "n_eval_holdout", "n_budget")
      .foreach(f => assert(m.body.contains("\"" + f + "\":"), m.body))
    def lg(field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(m.body).get
        .group(1).toLong
    assert(lg("n_docs") === spark.table("httpapi.documents").count())
    assert(lg("n_kept_docs") <= lg("n_docs"), m.body)
    assert(lg("max_pos") === lg("total_copies") - 1, m.body)
    // a zero budget realizes nothing but still reports the curation
    val z = get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang&length=n_chars&budget=0")
    assert(z.statusCode === 200, z.body)
    assert(("\"total_copies\":(\\d+)").r.findFirstMatchIn(z.body).get
      .group(1).toLong === 0L, z.body)
    // validation edges, substring-dedup conventions
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang").statusCode === 400) // no length
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=nope&id=doc_id&domain=lang&length=n_chars")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=n_chars&id=doc_id&domain=lang&length=n_chars")
      .statusCode === 400) // non-string text
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=text&domain=lang&length=n_chars")
      .statusCode === 400) // non-integral id
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang&length=text")
      .statusCode === 400) // non-numeric length
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang&length=n_chars&budget=-1")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang&length=n_chars&epochs=0")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/data-card" +
      "?text=text&id=doc_id&domain=lang&length=n_chars")
      .statusCode === 404)
  }

  test("data-card route: curation params (thresholds, langs, max_rows)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang&length=n_chars"
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // threshold validation: (0, 1] numbers only
    assert(get(base + "&cross_threshold=0").statusCode === 400)
    assert(get(base + "&cross_threshold=abc").statusCode === 400)
    assert(get(base + "&dedup_threshold=1.5").statusCode === 400)
    assert(get(base + "&dedup_threshold=NaN").statusCode === 400)
    assert(get(base + "&min_quality=-0.1").statusCode === 400)
    // langs validation: non-empty comma list
    assert(get(base + "&langs=").statusCode === 400)
    assert(get(base + "&langs=,,").statusCode === 400)
    // max_rows guard: 400 on malformed, 413 over the cap
    assert(get(base + "&max_rows=abc").statusCode === 400)
    assert(get(base + "&max_rows=0").statusCode === 400)
    assert(get(base + "&max_rows=3").statusCode === 413)
    // ask-#6 monotonicity: a LOWER dedup threshold admits every pair the
    // higher one does plus more, so n_duplicate moves monotonically
    val lo = get(base + "&dedup_threshold=0.5")
    val hi = get(base + "&dedup_threshold=0.95")
    assert(lo.statusCode === 200, lo.body)
    assert(hi.statusCode === 200, hi.body)
    assert(lg(lo.body, "n_duplicate") >= lg(hi.body, "n_duplicate"),
      s"lo=${lo.body}\nhi=${hi.body}")
    // restricting langs can only grow the language-gate rejections
    val en = get(base + "&langs=en")
    assert(en.statusCode === 200, en.body)
    val dflt = get(base)
    assert(lg(en.body, "n_language") >= lg(dflt.body, "n_language"),
      s"en=${en.body}\ndflt=${dflt.body}")
    // params echo back in the response envelope
    assert(lo.body.contains("\"dedup_threshold\":0.5"), lo.body)
    assert(en.body.contains("\"langs\":\"en\""), en.body)
  }

  test("shard-manifest route: next-fit shard rows reconcile with Sampling") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/shard-manifest"
    val m = get(base + "?id=doc_id&weight=n_chars&budget=8000")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // reconcile the rollup and the first shard row against the engine op
    val eng = graft.ops.Sampling.shardManifest(
      spark.table("httpapi.documents"), "doc_id", "n_chars",
      "release", 8000L).collect()
    assert(lg(m.body, "n_shards") === eng.length.toLong, m.body)
    assert(lg(m.body, "n_docs") === eng.map(_.getLong(1)).sum, m.body)
    assert(lg(m.body, "w_total") === eng.map(_.getLong(2)).sum, m.body)
    // the etag is a decimal STRING (60-bit values exceed 2^53 — a JSON
    // number would silently round in any double-based parser and break
    // the recompute-to-audit contract)
    val etags = "\"etag\":\"(-?\\d+)\"".r.findAllMatchIn(m.body)
      .map(_.group(1).toLong).toSeq
    assert(etags === eng.toSeq.map(_.getLong(5)), m.body)
    assert(!m.body.matches(".*\"etag\":-?\\d.*"), m.body)
    // limit honored; limit=0 keeps the rollup, drops the rows
    val l1 = get(base + "?id=doc_id&weight=n_chars&budget=8000&limit=1")
    assert("\"shard\":".r.findAllIn(l1.body).length === 1, l1.body)
    assert(lg(l1.body, "n_shards") === eng.length.toLong, l1.body)
    val l0 = get(base + "?id=doc_id&weight=n_chars&budget=8000&limit=0")
    assert("\"shard\":".r.findAllIn(l0.body).isEmpty, l0.body)
    // a different seed re-permutes but conserves the totals
    val s2 = get(base + "?id=doc_id&weight=n_chars&budget=8000&seed=v2")
    assert(s2.statusCode === 200, s2.body)
    assert(lg(s2.body, "w_total") === lg(m.body, "w_total"), s2.body)
    // validation edges, data-card conventions
    assert(get(base).statusCode === 400)
    assert(get(base + "?id=doc_id&weight=n_chars").statusCode === 400)
    assert(get(base + "?id=doc_id&weight=n_chars&budget=abc")
      .statusCode === 400)
    assert(get(base + "?id=doc_id&weight=n_chars&budget=0")
      .statusCode === 400)
    assert(get(base + "?id=doc_id&weight=text&budget=8000")
      .statusCode === 400) // non-numeric weight
    assert(get(base + "?id=doc_id&weight=nope&budget=8000")
      .statusCode === 400)
    assert(get(base + "?id=doc_id&weight=n_chars&budget=8000&limit=10001")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/shard-manifest" +
      "?id=doc_id&weight=n_chars&budget=8000").statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/shard-manifest" +
      "?id=doc_id&weight=n_chars&budget=8000").statusCode === 400)
  }

  test("lsh-plan route: priced factorization surface + the pick") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/lsh-plan"
    val m = get(base + "?text=text&id=doc_id")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // one plan row per divisor of 128
    assert("\"bands\":".r.findAllIn(m.body).length === 8, m.body)
    // the pick factors the signature and matches planLsh's decision on
    // the same corpus at the same default target
    val (pb, pr) = (lg(m.body, "picked_bands"),
      lg(m.body, "picked_rows_per_band"))
    assert(pb * pr === 128L, m.body)
    val (eb, er) = graft.ops.Dedup.planLsh(
      spark.table("httpapi.documents"), "text", "doc_id")
    assert((pb, pr) === ((eb.toLong, er.toLong)), m.body)
    // validation edges, shard-manifest conventions
    assert(get(base).statusCode === 400)
    assert(get(base + "?text=text").statusCode === 400)
    assert(get(base + "?text=nope&id=doc_id").statusCode === 400)
    assert(get(base + "?text=n_chars&id=doc_id").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&num_hashes=0")
      .statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&num_hashes=abc")
      .statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&num_hashes=2000")
      .statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&floor=0").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&floor=abc").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&target_min_ppm=2000000")
      .statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&target_min_ppm=abc")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/lsh-plan" +
      "?text=text&id=doc_id").statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/lsh-plan" +
      "?text=text&id=doc_id").statusCode === 400)
  }

  test("concurrent build requests: the op sweep destroys neither") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    // the failure mode this pins (ADVICE r9): a request that finishes
    // while another is in flight must NOT unpersist the other's
    // localCheckpointed RDDs — their lineage is truncated, so a sweep
    // mid-flight destroys the only copy and fails that job with
    // missing-block errors. The op lock serializes the storage-touching
    // section, so each request's diff is exactly its own storage, swept
    // at its own exit — overlap cannot misattribute ownership.
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val base = "/api/v1/catalog/tables/httpapi.documents/data-card" +
      "?text=text&id=doc_id&domain=lang&length=n_chars"
    import java.util.concurrent.{Callable, Executors => JExecutors}
    val pool = JExecutors.newFixedThreadPool(2)
    try {
      val futures = Seq("&dedup_threshold=0.7", "&dedup_threshold=0.8")
        .map(q => pool.submit(new Callable[HttpResponse[String]] {
          def call(): HttpResponse[String] = get(base + q)
        }))
      val responses = futures.map(_.get())
      responses.foreach { r =>
        assert(r.statusCode === 200, r.body)
        assert(("\"n_docs\":(\\d+)").r.findFirstMatchIn(r.body).get
          .group(1).toLong === 500L, r.body)
      }
    } finally pool.shutdown()
    // once both complete, every checkpoint either request persisted has
    // been released (unpersist is non-blocking; poll briefly)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    while (leftover.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(200)
      leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(leftover.isEmpty, s"unswept RDDs: $leftover")
  }

  test("incremental-build route: delta card reconciles with CorpusBuild") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.{col, count, when}
    val base = "/api/v1/catalog/tables/httpapi.documents/incremental-build"
    val m = get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // the route IS the p16 composition: replay it directly at the same
    // cut and the delta card must agree field for field
    val all = spark.table("httpapi.documents")
    val corpus = all.filter(col("doc_id") < 480)
    val delta = all.filter(col("doc_id") >= 480)
    val existing = graft.ops.CorpusBuild.corpusBuild(corpus, "text",
      "doc_id", "lang", "n_chars")
    val expected = graft.ops.CorpusBuild.dataCard(
      graft.ops.CorpusBuild.incrementalBuild(existing, corpus, delta,
        "text", "doc_id", "lang", "n_chars")).collect()(0)
    expected.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
      assert(lg(m.body, f) === expected.getLong(i), s"$f in ${m.body}")
    }
    assert(lg(m.body, "n_docs") === 20L, m.body) // delta rows only
    // the position-extension contract: existing_copies is the offset,
    // and the delta's max_pos ends the EXTENDED training order
    val existingCopies = existing
      .agg(count(when(col("copy").isNotNull, 1))).collect()(0).getLong(0)
    assert(lg(m.body, "existing_copies") === existingCopies, m.body)
    if (lg(m.body, "total_copies") > 0)
      assert(lg(m.body, "max_pos") ===
        existingCopies + lg(m.body, "total_copies") - 1, m.body)
    // a zero increment budget realizes nothing new but the existing
    // offset still reports
    val z = get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&budget=0")
    assert(z.statusCode === 200, z.body)
    assert(lg(z.body, "total_copies") === 0L, z.body)
    assert(lg(z.body, "existing_copies") === existingCopies, z.body)
    // validation edges: the shared data-card surface plus delta_from /
    // existing_budget
    assert(get(base).statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars")
      .statusCode === 400) // delta_from required
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=abc").statusCode === 400)
    assert(get(base + "?text=nope&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&existing_budget=abc").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&existing_budget=-1").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&dedup_threshold=1.5").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&max_rows=3").statusCode === 413)
    assert(get("/api/v1/catalog/tables/httpapi.nope/incremental-build" +
      "?text=text&id=doc_id&domain=lang&length=n_chars&delta_from=480")
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/incremental-build" +
      "?text=text&id=doc_id&domain=lang&length=n_chars&delta_from=480")
      .statusCode === 400)
  }

  test("incremental-build route: existing= reads a PERSISTED build table " +
      "instead of recomputing the release pipeline per request") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.{col, count, when}
    // the production layout: the release job wrote the corpusBuild
    // output once; increments read the shipped table
    val all = spark.table("httpapi.documents")
    val corpus = all.filter(col("doc_id") < 480)
    val buildDir = java.nio.file.Files
      .createTempDirectory("httpapi-prior-build").toString
    graft.ops.CorpusBuild.corpusBuild(corpus, "text", "doc_id", "lang",
        "n_chars")
      .write.mode("overwrite").parquet(buildDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.prior_build
      USING parquet LOCATION '$buildDir'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/incremental-build"
    val m = get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&existing=httpapi.prior_build")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // reconcile field-for-field against the direct composition READING
    // THE STORED TABLE — the exact dataflow the route must run
    val stored = spark.table("httpapi.prior_build")
    val delta = all.filter(col("doc_id") >= 480)
    val expected = graft.ops.CorpusBuild.dataCard(
      graft.ops.CorpusBuild.incrementalBuild(stored, corpus, delta,
        "text", "doc_id", "lang", "n_chars")).collect()(0)
    expected.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
      assert(lg(m.body, f) === expected.getLong(i), s"$f in ${m.body}")
    }
    val storedCopies = stored
      .agg(count(when(col("copy").isNotNull, 1))).collect()(0).getLong(0)
    assert(lg(m.body, "existing_copies") === storedCopies, m.body)
    // no recompute happened: existing_budget reports null, the stored
    // path reports the table
    assert(m.body.contains("\"existing\":\"httpapi.prior_build\""), m.body)
    assert(m.body.contains("\"existing_budget\":null"), m.body)
    // and the stored form agrees with the recompute form on the same
    // corpus (corpusBuild is deterministic — the parquet round trip
    // moves no verdicts)
    val r = get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480")
    assert(r.statusCode === 200, r.body)
    expected.schema.fieldNames.foreach { f =>
      assert(lg(m.body, f) === lg(r.body, f), s"$f: stored vs recompute")
    }
    // validation edges: XOR with existing_budget; shape; 404; bad path
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&existing=httpapi.prior_build&existing_budget=70000")
      .statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&existing=httpapi.documents").statusCode === 400)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&existing=httpapi.nope").statusCode === 404)
    assert(get(base + "?text=text&id=doc_id&domain=lang&length=n_chars" +
      "&delta_from=480&existing=nodots").statusCode === 400)
  }

  test("dedup-probe route: a batch probes the stored index table") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    val all = spark.table("httpapi.documents")
    // the production layout: a corpus-release job wrote the index table
    // once; daily batches arrive as their own table
    val idxDir = java.nio.file.Files
      .createTempDirectory("httpapi-dedup-idx").toString
    graft.ops.Dedup.incrementalIndex(
        all.filter(col("doc_id") < 480), "text", "doc_id")
      .write.mode("overwrite").parquet(idxDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.dedup_index
      USING parquet LOCATION '$idxDir'""")
    val batchDir = java.nio.file.Files
      .createTempDirectory("httpapi-dedup-batch").toString
    all.filter(col("doc_id") >= 480)
      .write.mode("overwrite").parquet(batchDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.batch
      USING parquet LOCATION '$batchDir'""")
    val base = "/api/v1/catalog/tables/httpapi.batch/dedup-probe"
    val m = get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&threshold=0.7")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // the route IS incrementalProbe over the same tables
    val expected = graft.ops.Dedup.incrementalProbe(
      spark.table("httpapi.dedup_index"), spark.table("httpapi.batch"),
      "text", "doc_id", threshold = 0.7).collect()
    assert(lg(m.body, "n_docs") === expected.length.toLong, m.body)
    assert(lg(m.body, "n_new") ===
      expected.count(_.getBoolean(3)).toLong, m.body)
    assert(lg(m.body, "n_exact_dup") ===
      expected.count(!_.isNullAt(1)).toLong, m.body)
    assert(lg(m.body, "n_fuzzy_dup") ===
      expected.count(!_.isNullAt(2)).toLong, m.body)
    assert("\"is_new\":".r.findAllIn(m.body).length ===
      expected.length, m.body)
    // limit caps the decision rows, not the rollup — and the capped page
    // is the FIRST 3 decisions in id order (the documented contract; an
    // unordered limit would return different rows run-to-run)
    val l = get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&threshold=0.7&limit=3")
    assert(lg(l.body, "n_docs") === expected.length.toLong, l.body)
    assert("\"is_new\":".r.findAllIn(l.body).length === 3, l.body)
    val pageIds = "\"id\":\"(\\d+)\"".r.findAllMatchIn(l.body)
      .map(_.group(1).toLong).toSeq
    val expectedIds = expected.map(_.getLong(0)).sorted.take(3).toSeq
    assert(pageIds === expectedIds, l.body)
    // num_hashes must match the stored signature length (128) — a
    // mismatched slice would return silently-wrong fuzzy verdicts
    assert(get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&num_hashes=64&bands=32").statusCode === 400)
    // shingle_len is exposed (must match the index's build param: 3)
    assert(get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&shingle_len=abc").statusCode === 400)
    assert(get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&shingle_len=0").statusCode === 400)
    val s3 = get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&threshold=0.7&shingle_len=3")
    assert(s3.statusCode === 200, s3.body)
    assert(lg(s3.body, "n_new") === lg(m.body, "n_new"), s3.body)
    // validation edges
    assert(get(base).statusCode === 400) // index/text/id required
    assert(get(base + "?index=httpapi.dedup_index&text=text")
      .statusCode === 400)
    assert(get(base + "?index=nodots&text=text&id=doc_id")
      .statusCode === 400)
    assert(get(base + "?index=httpapi.nope&text=text&id=doc_id")
      .statusCode === 404)
    // a table that is not an incrementalIndex is rejected by shape
    assert(get(base + "?index=httpapi.documents&text=text&id=doc_id")
      .statusCode === 400)
    assert(get(base + "?index=httpapi.dedup_index&text=nope&id=doc_id")
      .statusCode === 400)
    assert(get(base + "?index=httpapi.dedup_index&text=n_chars&id=doc_id")
      .statusCode === 400) // non-string text
    assert(get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&threshold=0").statusCode === 400)
    assert(get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&bands=33").statusCode === 400) // not a divisor of 128
    assert(get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&num_hashes=abc").statusCode === 400)
    assert(get(base + "?index=httpapi.dedup_index&text=text&id=doc_id" +
      "&limit=10001").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/dedup-probe" +
      "?index=httpapi.dedup_index&text=text&id=doc_id")
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/dedup-probe" +
      "?index=httpapi.dedup_index&text=text&id=doc_id")
      .statusCode === 400)
  }

  test("ann-search route: queries probe the stored IVF index; the " +
      "assignment scan stays dynamically partition-pruned") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    // the production layout: a release job wrote the IVF index once —
    // assignments PARTITIONED BY list id — plus the medoid centroids;
    // query vectors arrive as their own table
    val corpus = graft.tables.Tables(spark, sf, "embeddings")
    val (assign, cent) = graft.ops.Similarity.ivfIndex(
      corpus, "embedding", "vec_id", "label")
    val assignDir = java.nio.file.Files
      .createTempDirectory("httpapi-ann-assign").toString
    assign.write.mode("overwrite").partitionBy("cid").parquet(assignDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.ann_assign
      USING parquet LOCATION '$assignDir'""")
    spark.sql("ALTER TABLE httpapi.ann_assign RECOVER PARTITIONS")
    val centDir = java.nio.file.Files
      .createTempDirectory("httpapi-ann-cent").toString
    cent.write.mode("overwrite").parquet(centDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.ann_cent
      USING parquet LOCATION '$centDir'""")
    val qDir = java.nio.file.Files
      .createTempDirectory("httpapi-ann-queries").toString
    corpus.filter(col("vec_id") < 10)
      .write.mode("overwrite").parquet(qDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.ann_queries
      USING parquet LOCATION '$qDir'""")

    // the exact dataflow the route runs (shared builder): reconcile the
    // response against its rows AND pin its plan
    val direct = HttpFacade.annSearch(spark.table("httpapi.ann_queries"),
      "embedding", "vec_id", spark.table("httpapi.ann_assign"),
      spark.table("httpapi.ann_cent"), 5, 2)
    val expected = direct.collect()
    val plan = direct.queryExecution.executedPlan.toString
    // the point of the stored index: the cid-partitioned assignment
    // scan carries a dynamic-partition-pruning subquery, so each
    // request reads the probed lists' files — never the corpus
    val assignScans = plan.split("== Initial Plan ==")(0).linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("ann_assign")).toSeq
    assert(assignScans.nonEmpty, plan)
    assert(assignScans.forall(_.contains("dynamicpruningexpression")),
      assignScans.mkString("\n"))

    val base = "/api/v1/catalog/tables/httpapi.ann_queries/ann-search"
    val q = "?index=httpapi.ann_assign&centroids=httpapi.ann_cent" +
      "&vec=embedding&id=vec_id"
    val m = get(base + q + "&k=5")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    assert(lg(m.body, "n_results") === expected.length.toLong, m.body)
    // full-row reconcile in (query_id, rk) order — ids, ranks, and the
    // double sim values (identical computation -> identical bits)
    val got = ("""\{"query_id":"(\d+)","rk":(\d+),"id":"(\d+)",""" +
      """"sim":([-0-9.eE]+)\}""").r.findAllMatchIn(m.body).map(g =>
      (g.group(1).toLong, g.group(2).toInt, g.group(3).toLong,
        g.group(4).toDouble)).toSeq
    assert(got === expected.toSeq.map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3))), m.body)
    // limit caps the page in (query_id, rk) order
    val l = get(base + q + "&k=5&limit=7")
    assert(lg(l.body, "n_results") === 7L, l.body)
    assert(("\"rk\":".r.findAllIn(l.body).length) === 7, l.body)
    // validation edges, dedup-probe conventions
    assert(get(base).statusCode === 400)
    assert(get(base + "?index=httpapi.ann_assign&vec=embedding&id=vec_id")
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.ann_assign", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.ann_assign", "httpapi.nope"))
      .statusCode === 404)
    assert(get(base + q.replace("httpapi.ann_cent", "httpapi.nope"))
      .statusCode === 404)
    // a table that is not an ivfIndex artifact is rejected by shape
    assert(get(base + q.replace("httpapi.ann_assign", "httpapi.documents"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.ann_cent", "httpapi.documents"))
      .statusCode === 400)
    assert(get(base + q.replace("vec=embedding", "vec=nope"))
      .statusCode === 400)
    assert(get(base + q.replace("vec=embedding", "vec=vec_id"))
      .statusCode === 400) // non-array vector column
    // a dimension mismatch must be a 400, not a 200 with prefix-scored
    // garbage rankings (the num_hashes-vs-signature class of error)
    val q8Dir = java.nio.file.Files
      .createTempDirectory("httpapi-ann-q8").toString
    corpus.filter(col("vec_id") < 10)
      .selectExpr("vec_id", "slice(embedding, 1, 8) AS embedding")
      .write.mode("overwrite").parquet(q8Dir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.ann_q8
      USING parquet LOCATION '$q8Dir'""")
    val mm = get("/api/v1/catalog/tables/httpapi.ann_q8/ann-search" + q)
    assert(mm.statusCode === 400, mm.body)
    assert(mm.body.contains("dimension mismatch"), mm.body)
    assert(get(base + q + "&k=0").statusCode === 400)
    assert(get(base + q + "&k=abc").statusCode === 400)
    assert(get(base + q + "&nprobe=0").statusCode === 400)
    assert(get(base + q + "&limit=10001").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/ann-search" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/ann-search" + q)
      .statusCode === 400)
  }

  test("bm25-search route: terms probe the stored postings index; the " +
      "term filter stays pushed into the scan") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    // the production layout: a release job wrote the postings +
    // stats tables once, range-clustered by term
    val (post, stats) = graft.ops.Retrieval.bm25Index(
      spark.table("httpapi.documents"), "text", "doc_id")
    val postDir = java.nio.file.Files
      .createTempDirectory("httpapi-bm25-post").toString
    post.repartitionByRange(col("t")).sortWithinPartitions(col("t"))
      .write.mode("overwrite").parquet(postDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bm25_postings
      USING parquet LOCATION '$postDir'""")
    val statsDir = java.nio.file.Files
      .createTempDirectory("httpapi-bm25-stats").toString
    stats.write.mode("overwrite").parquet(statsDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bm25_stats
      USING parquet LOCATION '$statsDir'""")

    // the exact dataflow the route runs: reconcile the response against
    // its rows AND pin term-filter pushdown on its plan
    val direct = HttpFacade.bm25Search(spark.table("httpapi.bm25_postings"),
      spark.table("httpapi.bm25_stats"),
      Seq("spark", "join", "vector", "window"), 10)
    val expected = direct.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val plan = direct.queryExecution.executedPlan.toString
    val postScans = plan.split("== Initial Plan ==")(0).linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("bm25_postings")).toSeq
    assert(postScans.nonEmpty, plan)
    assert(postScans.forall(_.contains("In(t")), postScans.mkString("\n"))

    val base = "/api/v1/catalog/tables/httpapi.bm25_postings/bm25-search"
    val q = "?stats=httpapi.bm25_stats&terms=spark,join,vector,window"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    assert(lg(m.body, "n_results") === expected.length.toLong, m.body)
    val got = ("""\{"id":"(\d+)","n_terms_hit":(\d+),""" +
      """"score_scaled":(-?\d+)\}""").r.findAllMatchIn(m.body).map(g =>
      (g.group(1).toLong, g.group(2).toLong, g.group(3).toLong)).toSeq
    assert(got === expected, m.body)
    // terms are lowercased to match the tokenizer; k caps the cut
    val up = get(base + "?stats=httpapi.bm25_stats&terms=SPARK,Join&k=3")
    assert(up.statusCode === 200, up.body)
    assert(lg(up.body, "n_results") <= 3L, up.body)
    assert(up.body.contains("\"terms\":\"spark,join\""), up.body)
    // validation edges, probe-route conventions
    assert(get(base).statusCode === 400)
    assert(get(base + "?stats=httpapi.bm25_stats&terms=,,")
      .statusCode === 400)
    assert(get(base + "?stats=httpapi.bm25_stats&terms=spark&k=0")
      .statusCode === 400)
    assert(get(base + "?stats=httpapi.bm25_stats&terms=spark&k=abc")
      .statusCode === 400)
    assert(get(base + "?stats=httpapi.bm25_stats&terms=spark&k=1001")
      .statusCode === 400)
    assert(get(base + "?stats=httpapi.bm25_stats&terms=" +
      Seq.fill(65)("x").mkString(",")).statusCode === 400)
    assert(get(base + "?stats=nodots&terms=spark").statusCode === 400)
    assert(get(base + "?stats=httpapi.nope&terms=spark")
      .statusCode === 404)
    // wrong-shape tables rejected
    assert(get(base + "?stats=httpapi.documents&terms=spark")
      .statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.documents/bm25-search" +
      q).statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/bm25-search" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/bm25-search" + q)
      .statusCode === 400)
  }

  test("pq-search route: queries ADC-rank the stored compressed codes; " +
      "the codes scan stays partition-pruned and vector-free") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    import org.apache.spark.sql.functions.col
    // the production layout: a release job wrote the PQ codes once —
    // PARTITIONED BY list id — plus the codebook and medoid centroids
    val corpus = graft.tables.Tables(spark, sf, "embeddings")
    val (codes, codebook) = graft.ops.Similarity.ivfPqIndex(
      corpus, "embedding", "vec_id", "label",
      corpus.filter(col("vec_id") < 8), "embedding", "vec_id",
      m = 4, dim = 64)
    val codesDir = java.nio.file.Files
      .createTempDirectory("httpapi-pq-codes").toString
    codes.write.mode("overwrite").partitionBy("cid").parquet(codesDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.pq_codes
      USING parquet LOCATION '$codesDir'""")
    spark.sql("ALTER TABLE httpapi.pq_codes RECOVER PARTITIONS")
    val cbDir = java.nio.file.Files
      .createTempDirectory("httpapi-pq-cb").toString
    codebook.write.mode("overwrite").parquet(cbDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.pq_codebook
      USING parquet LOCATION '$cbDir'""")
    val centDir = java.nio.file.Files
      .createTempDirectory("httpapi-pq-cent").toString
    graft.ops.Similarity
      .minIdCentroids(corpus, "embedding", "vec_id", "label")
      .write.mode("overwrite").parquet(centDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.pq_cent
      USING parquet LOCATION '$centDir'""")
    val qDir = java.nio.file.Files
      .createTempDirectory("httpapi-pq-queries").toString
    corpus.filter(col("vec_id") < 10)
      .write.mode("overwrite").parquet(qDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.pq_queries
      USING parquet LOCATION '$qDir'""")

    // the exact dataflow the route runs: reconcile the response against
    // its rows AND pin DPP + the vector-free read on its plan
    val direct = HttpFacade.pqSearch(spark.table("httpapi.pq_queries"),
      "embedding", "vec_id", spark.table("httpapi.pq_codes"),
      spark.table("httpapi.pq_cent"), spark.table("httpapi.pq_codebook"),
      m = 4, dim = 64, k = 5, nprobe = 2)
    val expected = direct.collect()
    assert(expected.nonEmpty)
    val plan = direct.queryExecution.executedPlan.toString
    val codeScans = plan.split("== Initial Plan ==")(0).linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("pq_codes")).toSeq
    assert(codeScans.nonEmpty, plan)
    assert(codeScans.forall(_.contains("dynamicpruningexpression")),
      codeScans.mkString("\n"))
    // the compressed tier's whole point: no vector column in the read
    assert(!codeScans.exists(_.contains("vec")), codeScans.mkString("\n"))

    val base = "/api/v1/catalog/tables/httpapi.pq_queries/pq-search"
    val q = "?index=httpapi.pq_codes&centroids=httpapi.pq_cent" +
      "&codebook=httpapi.pq_codebook&vec=embedding&id=vec_id&m=4&dim=64"
    val m = get(base + q + "&k=5")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    assert(lg(m.body, "n_results") === expected.length.toLong, m.body)
    val got = ("""\{"query_id":"(\d+)","rk":(\d+),"id":(\d+),""" +
      """"dist":([-0-9.eE]+)\}""").r.findAllMatchIn(m.body).map(g =>
      (g.group(1).toLong, g.group(2).toInt, g.group(3).toLong,
        g.group(4).toDouble)).toSeq
    assert(got === expected.toSeq.map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3))), m.body)
    // validation edges, probe-route conventions
    assert(get(base).statusCode === 400)
    assert(get(base + q.replace("&codebook=httpapi.pq_codebook", ""))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.pq_codes", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.pq_codes", "httpapi.nope"))
      .statusCode === 404)
    // wrong-shape tables rejected per parameter
    assert(get(base + q.replace("httpapi.pq_codes", "httpapi.documents"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.pq_cent", "httpapi.documents"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.pq_codebook",
      "httpapi.documents")).statusCode === 400)
    assert(get(base + q.replace("vec=embedding", "vec=nope"))
      .statusCode === 400)
    assert(get(base + q.replace("vec=embedding", "vec=vec_id"))
      .statusCode === 400) // non-array vector column
    // geometry misuse is a 400, never a 200 with garbage ADC scores
    assert(get(base + q.replace("m=4&dim=64", "m=3&dim=64"))
      .statusCode === 400) // dim not divisible by m
    assert(get(base + q.replace("dim=64", "dim=32"))
      .statusCode === 400) // query vectors are 64-wide
    assert(get(base + q.replace("m=4", "m=8"))
      .statusCode === 400) // codebook subvectors are 16-wide, not 8
    assert(get(base + q + "&k=0").statusCode === 400)
    assert(get(base + q + "&nprobe=0").statusCode === 400)
    assert(get(base + q + "&limit=10001").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/pq-search" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/pq-search" + q)
      .statusCode === 400)

    // the two-stage branch (raw=): candidates from the codes, exact
    // cosine re-rank from the cid-partitioned raw store
    val (assign, _) = graft.ops.Similarity.ivfIndex(
      corpus, "embedding", "vec_id", "label")
    val rawDir = java.nio.file.Files
      .createTempDirectory("httpapi-pq-raw").toString
    assign.write.mode("overwrite").partitionBy("cid").parquet(rawDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.pq_raw
      USING parquet LOCATION '$rawDir'""")
    spark.sql("ALTER TABLE httpapi.pq_raw RECOVER PARTITIONS")
    val direct2 = HttpFacade.pqRerank(spark.table("httpapi.pq_queries"),
      "embedding", "vec_id", spark.table("httpapi.pq_codes"),
      spark.table("httpapi.pq_cent"), spark.table("httpapi.pq_codebook"),
      spark.table("httpapi.pq_raw"),
      m = 4, dim = 64, k = 5, kCoarse = 20, nprobe = 2)
    val expected2 = direct2.collect()
    assert(expected2.nonEmpty)
    // BOTH tiers' scans pruned: codes vector-free, raw vector-bearing
    // (whole-dump scan: the candidate stage rides a broadcast subquery)
    val plan2 = direct2.queryExecution.executedPlan.toString
    val rawScans = plan2.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("pq_raw"))
      .toSeq
    assert(rawScans.nonEmpty, plan2)
    assert(rawScans.forall(_.contains("dynamicpruningexpression")),
      rawScans.mkString("\n"))
    val codeScans2 = plan2.linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("pq_codes")).toSeq
    assert(codeScans2.nonEmpty && !codeScans2.exists(_.contains("vec")),
      codeScans2.mkString("\n"))
    val m2 = get(base + q + "&raw=httpapi.pq_raw&k_coarse=20&k=5")
    assert(m2.statusCode === 200, m2.body)
    val got2 = ("""\{"query_id":"(\d+)","rk":(\d+),"id":(\d+),""" +
      """"sim":([-0-9.eE]+)\}""").r.findAllMatchIn(m2.body).map(g =>
      (g.group(1).toLong, g.group(2).toInt, g.group(3).toLong,
        g.group(4).toDouble)).toSeq
    assert(got2 === expected2.toSeq.map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3))), m2.body)
    // refine-stage edges: narrowing contract and raw-table shape
    assert(get(base + q + "&raw=httpapi.pq_raw&k_coarse=3&k=5")
      .statusCode === 400)
    assert(get(base + q + "&raw=httpapi.documents").statusCode === 400)
    assert(get(base + q + "&raw=httpapi.nope").statusCode === 404)
    assert(get(base + q + "&raw=nodots").statusCode === 400)
  }

  test("hybrid-search route: one request fuses the stored BM25 postings " +
      "and the stored IVF index — term pushdown AND DPP in one serving " +
      "plan, zero corpus reads") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    // the production layout: a release job wrote BOTH index families —
    // term-range-clustered postings + stats, cid-partitioned IVF
    // assignments + medoid centroids; query vectors are their own table
    val (post, stats) = graft.ops.Retrieval.bm25Index(
      spark.table("httpapi.documents"), "text", "doc_id")
    val postDir = java.nio.file.Files
      .createTempDirectory("httpapi-hy-post").toString
    post.repartitionByRange(col("t")).sortWithinPartitions(col("t"))
      .write.mode("overwrite").parquet(postDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.hy_postings
      USING parquet LOCATION '$postDir'""")
    val statsDir = java.nio.file.Files
      .createTempDirectory("httpapi-hy-stats").toString
    stats.write.mode("overwrite").parquet(statsDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.hy_stats
      USING parquet LOCATION '$statsDir'""")
    val corpus = graft.tables.Tables(spark, sf, "embeddings")
    val (assign, cent) = graft.ops.Similarity.ivfIndex(
      corpus, "embedding", "vec_id", "label")
    val assignDir = java.nio.file.Files
      .createTempDirectory("httpapi-hy-assign").toString
    assign.write.mode("overwrite").partitionBy("cid").parquet(assignDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.hy_assign
      USING parquet LOCATION '$assignDir'""")
    spark.sql("ALTER TABLE httpapi.hy_assign RECOVER PARTITIONS")
    val centDir = java.nio.file.Files
      .createTempDirectory("httpapi-hy-cent").toString
    cent.write.mode("overwrite").parquet(centDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.hy_cent
      USING parquet LOCATION '$centDir'""")
    val qDir = java.nio.file.Files
      .createTempDirectory("httpapi-hy-queries").toString
    corpus.filter(col("vec_id") < 10)
      .write.mode("overwrite").parquet(qDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.hy_queries
      USING parquet LOCATION '$qDir'""")

    // the exact dataflow the route runs: reconcile the response against
    // its rows AND pin BOTH storage-side properties on ONE plan
    val direct = HttpFacade.hybridSearch(
      spark.table("httpapi.hy_queries").filter(col("vec_id") === 0),
      "embedding", "vec_id",
      spark.table("httpapi.hy_assign"), spark.table("httpapi.hy_cent"),
      spark.table("httpapi.hy_postings"), spark.table("httpapi.hy_stats"),
      Seq("spark", "join", "vector", "window"),
      kBm25 = 20, kDense = 20, nprobe = 2, c = 60, k = 10)
    val expected = direct.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq
    assert(expected.nonEmpty)
    val plan = direct.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val postScans = finalPlan.linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("hy_postings")).toSeq
    assert(postScans.nonEmpty, plan)
    assert(postScans.forall(_.contains("In(t")), postScans.mkString("\n"))
    val assignScans = finalPlan.linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("hy_assign")).toSeq
    assert(assignScans.nonEmpty, plan)
    assert(assignScans.forall(_.contains("dynamicpruningexpression")),
      assignScans.mkString("\n"))
    // zero corpus reads: both rank lists come from stored index files
    assert(!finalPlan.linesIterator.exists(l =>
      l.contains("FileScan parquet") && l.contains("documents")), plan)
    // the BM25 rank window is BoundedWindow's keyed single group, never a
    // bare unpartitioned window (whose WindowExec warns on every request)
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        windows(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        windows(q.plan)
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    val rankWindows = windows(direct.queryExecution.executedPlan)
    assert(rankWindows.nonEmpty, plan)
    assert(rankWindows.forall(_.partitionSpec.nonEmpty), plan)

    val base = "/api/v1/catalog/tables/httpapi.hy_queries/hybrid-search"
    val q = "?postings=httpapi.hy_postings&stats=httpapi.hy_stats" +
      "&index=httpapi.hy_assign&centroids=httpapi.hy_cent" +
      "&terms=spark,join,vector,window&vec=embedding&id=vec_id" +
      "&query_id=0"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    assert(lg(m.body, "n_results") === expected.length.toLong, m.body)
    val got = ("""\{"id":(\d+),"rank_bm25":(\d+|null),""" +
      """"rank_dense":(\d+|null),"n_lists":(\d+),""" +
      """"rrf_scaled":(-?\d+)\}""").r.findAllMatchIn(m.body).map { g =>
      def o(s: String) = if (s == "null") -1L else s.toLong
      (g.group(1).toLong, o(g.group(2)), o(g.group(3)),
        g.group(4).toLong, g.group(5).toLong)
    }.toSeq
    assert(got === expected, m.body)
    // validation edges, probe-route conventions
    assert(get(base).statusCode === 400)
    assert(get(base + q.replace("&query_id=0", "")).statusCode === 400)
    assert(get(base + q.replace("query_id=0", "query_id=abc"))
      .statusCode === 400)
    // a missing query row is a 404, not a 200 with the lexical list
    assert(get(base + q.replace("query_id=0", "query_id=99999999"))
      .statusCode === 404)
    // wrong-shape tables rejected per parameter
    assert(get(base + q.replace("httpapi.hy_postings",
      "httpapi.documents")).statusCode === 400)
    assert(get(base + q.replace("httpapi.hy_stats", "httpapi.documents"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.hy_assign", "httpapi.documents"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.hy_cent", "httpapi.documents"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.hy_assign", "httpapi.nope"))
      .statusCode === 404)
    assert(get(base + q.replace("httpapi.hy_assign", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("terms=spark,join,vector,window",
      "terms=,,")).statusCode === 400)
    assert(get(base + q.replace("terms=spark,join,vector,window",
      "terms=" + Seq.fill(65)("x").mkString(","))).statusCode === 400)
    assert(get(base + q.replace("vec=embedding", "vec=nope"))
      .statusCode === 400)
    assert(get(base + q.replace("vec=embedding", "vec=vec_id"))
      .statusCode === 400) // non-array vector column
    assert(get(base + q + "&k=0").statusCode === 400)
    assert(get(base + q + "&k_bm25=abc").statusCode === 400)
    assert(get(base + q + "&k_dense=1001").statusCode === 400)
    assert(get(base + q + "&nprobe=0").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/hybrid-search" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/hybrid-search" + q)
      .statusCode === 400)
    // a dimension-mismatched query table must be a 400, never a 200
    // silently degraded to the lexical list alone (worse than in
    // ann-search: a fused result LOOKS complete)
    val q8Dir = java.nio.file.Files
      .createTempDirectory("httpapi-hy-q8").toString
    corpus.filter(col("vec_id") < 10)
      .selectExpr("vec_id", "slice(embedding, 1, 8) AS embedding")
      .write.mode("overwrite").parquet(q8Dir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.hy_q8
      USING parquet LOCATION '$q8Dir'""")
    val mm = get("/api/v1/catalog/tables/httpapi.hy_q8/hybrid-search" + q)
    assert(mm.statusCode === 400, mm.body)
    assert(mm.body.contains("dimension mismatch"), mm.body)
  }

  test("contamination-search route: candidates probe the stored " +
      "fingerprint index; the fpb scan stays dynamically pruned; a " +
      "bucket mismatch is a 400, never silent false negatives") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    // the production layout: a release job wrote the corpus's inverted
    // fingerprints once, PARTITIONED BY fpb; eval candidates arrive as
    // their own table
    val all = spark.table("httpapi.documents")
    val idxDir = java.nio.file.Files
      .createTempDirectory("httpapi-cont-idx").toString
    graft.ops.TextAnalysis.contaminationIndex(all, "text", "doc_id")
      .write.mode("overwrite").partitionBy("fpb").parquet(idxDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.cont_index
      USING parquet LOCATION '$idxDir'""")
    spark.sql("ALTER TABLE httpapi.cont_index RECOVER PARTITIONS")
    val probeDir = java.nio.file.Files
      .createTempDirectory("httpapi-cont-probes").toString
    all.filter(col("doc_id") < 20)
      .write.mode("overwrite").parquet(probeDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.cont_probes
      USING parquet LOCATION '$probeDir'""")

    // the exact dataflow the route runs (shared builder): reconcile the
    // response against its rows AND pin DPP on its plan
    val direct = HttpFacade.contaminationSearch(
      spark.table("httpapi.cont_probes"), "text", "doc_id",
      spark.table("httpapi.cont_index"), 8, 4, 2, "xx", 64)
    val expected = direct.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val plan = direct.queryExecution.executedPlan.toString
    val idxScans = plan.split("== Initial Plan ==")(0).linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("cont_index")).toSeq
    assert(idxScans.nonEmpty, plan)
    assert(idxScans.forall(_.contains("dynamicpruningexpression")),
      idxScans.mkString("\n"))

    val base =
      "/api/v1/catalog/tables/httpapi.cont_probes/contamination-search"
    val q = "?index=httpapi.cont_index&text=text&id=doc_id"
    def pageOf(body: String) =
      ("""\{"id":"(\d+)","probe_id":"(\d+)",""" +
        """"n_shared":(\d+)\}""").r.findAllMatchIn(body).map(g =>
        (g.group(1).toLong, g.group(2).toLong, g.group(3).toInt)).toSeq
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // full-row reconcile in the operator's (id, probe_id) total order
    // (the fixture's 20-probe sweep exceeds the default page, so ask
    // for the cap)
    val m = get(base + q + "&limit=10000")
    assert(m.statusCode === 200, m.body)
    assert(lg(m.body, "n_results") === expected.length.toLong, m.body)
    assert(pageOf(m.body) === expected, m.body)
    assert(expected.nonEmpty)
    // limit caps the page deterministically (the output is ordered):
    // the default page and a 3-row page are exact PREFIXES
    val dflt = get(base + q)
    assert(lg(dflt.body, "n_results") === 1000L, dflt.body)
    assert(pageOf(dflt.body) === expected.take(1000), dflt.body)
    val l = get(base + q + "&limit=3")
    assert(lg(l.body, "n_results") === 3L, l.body)
    assert(pageOf(l.body) === expected.take(3), l.body)
    // a min_shared above every overlap empties the page, still a 200
    val hi = get(base + q + "&min_shared=10000")
    assert(hi.statusCode === 200, hi.body)
    assert(lg(hi.body, "n_results") === 0L, hi.body)
    // the one failure mode this route must never have: a buckets value
    // that differs from the index's build modulus would silently drop
    // matches — the stored-sample validation makes it a caller error
    val bad = get(base + q + "&buckets=128")
    assert(bad.statusCode === 400, bad.body)
    assert(bad.body.contains("buckets"), bad.body)
    // validation edges, probe-route conventions
    assert(get(base).statusCode === 400)
    assert(get(base + "?index=httpapi.cont_index&text=text")
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.cont_index", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.cont_index", "httpapi.nope"))
      .statusCode === 404)
    assert(get(base + q.replace("httpapi.cont_index",
      "httpapi.documents")).statusCode === 400) // wrong-shape index
    assert(get(base + q.replace("text=text", "text=nope"))
      .statusCode === 400)
    assert(get(base + q.replace("text=text", "text=doc_id"))
      .statusCode === 400) // non-string text column
    assert(get(base + q + "&min_shared=0").statusCode === 400)
    assert(get(base + q + "&k=0").statusCode === 400)
    assert(get(base + q + "&k=65").statusCode === 400)
    assert(get(base + q + "&window=0").statusCode === 400)
    assert(get(base + q + "&hash_mode=sha9").statusCode === 400)
    assert(get(base + q + "&limit=10001").statusCode === 400)
    assert(get(base + q + "&buckets=abc").statusCode === 400)
    assert(get(
      "/api/v1/catalog/tables/httpapi.nope/contamination-search" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/contamination-search" + q)
      .statusCode === 400)
  }

  test("release-audit route: per-family verdict rows over the whole " +
      "release, each family against its own corpus") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    val all = spark.table("httpapi.documents")
    // two families with different drift: a stale dedup index (x11's
    // [30, 490) cut vs the < 480 corpus) and a FRESH postings index
    val corpusDir = java.nio.file.Files
      .createTempDirectory("httpapi-rel-corpus").toString
    all.filter(col("doc_id") < 480)
      .write.mode("overwrite").parquet(corpusDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.rel_corpus
      USING parquet LOCATION '$corpusDir'""")
    val dedupDir = java.nio.file.Files
      .createTempDirectory("httpapi-rel-dedup").toString
    graft.ops.Dedup.incrementalIndex(
        all.filter(col("doc_id") >= 30 && col("doc_id") < 490),
        "text", "doc_id")
      .write.mode("overwrite").parquet(dedupDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.rel_dedup
      USING parquet LOCATION '$dedupDir'""")
    val postDir = java.nio.file.Files
      .createTempDirectory("httpapi-rel-post").toString
    graft.ops.Retrieval.bm25Index(
        all.filter(col("doc_id") < 480), "text", "doc_id")._1
      .write.mode("overwrite").parquet(postDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.rel_post
      USING parquet LOCATION '$postDir'""")

    val expected = graft.ops.Profile.releaseAudit(Seq(
      ("bm25", spark.table("httpapi.rel_corpus"), "doc_id",
        spark.table("httpapi.rel_post"), "id"),
      ("dedup", spark.table("httpapi.rel_corpus"), "doc_id",
        spark.table("httpapi.rel_dedup"), "cid"))).collect()
    val base = "/api/v1/catalog/release-audit"
    val q = "?families=" +
      "dedup:httpapi.rel_corpus:doc_id:httpapi.rel_dedup:cid;" +
      "bm25:httpapi.rel_corpus:doc_id:httpapi.rel_post:id"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    val got = ("""\{"family":"(\w+)","n_corpus":(\d+),"n_indexed":(\d+),""" +
      """"n_covered":(\d+),"n_unindexed":(\d+),"n_orphaned":(\d+),""" +
      """"fresh_ppm":(\d+)\}""").r.findAllMatchIn(m.body).map(g =>
      (g.group(1), g.group(2).toLong, g.group(3).toLong,
        g.group(4).toLong, g.group(5).toLong, g.group(6).toLong,
        g.group(7).toLong)).toSeq
    assert(got === expected.toSeq.map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6))), m.body)
    // family-ordered regardless of request order; the fresh family
    // proves 1e6, the stale one carries both signals
    assert(got.head._1 === "bm25" && got.head._7 === 1000000L, m.body)
    assert(got(1)._1 === "dedup" && got(1)._5 === 30L &&
      got(1)._6 === 10L, m.body)
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + "?families=").statusCode === 400)
    assert(get(base + "?families=toofew:a.b:c").statusCode === 400)
    assert(get(base + "?families=" +
      "x:httpapi.rel_corpus:doc_id:httpapi.rel_dedup:cid;" +
      "x:httpapi.rel_corpus:doc_id:httpapi.rel_post:id")
      .statusCode === 400) // duplicate names
    assert(get(base + "?families=" + Seq.fill(17)(
      "f%d:httpapi.rel_corpus:doc_id:httpapi.rel_dedup:cid").zipWithIndex
      .map { case (s, i) => s.format(i) }.mkString(";"))
      .statusCode === 400) // cap
    assert(get(base +
      "?families=d:nodots:doc_id:httpapi.rel_dedup:cid")
      .statusCode === 400)
    assert(get(base +
      "?families=d:httpapi.nope:doc_id:httpapi.rel_dedup:cid")
      .statusCode === 404)
    assert(get(base +
      "?families=d:httpapi.rel_corpus:nope:httpapi.rel_dedup:cid")
      .statusCode === 400) // missing column
    assert(get(base +
      "?families=d:httpapi.rel_corpus:text:httpapi.rel_dedup:cid")
      .statusCode === 400) // non-integral id
  }

  test("index-audit route: one-row freshness verdict over a stored index") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    // a drifted index: built from [30, 490) while the corpus is < 480
    val all = spark.table("httpapi.documents")
    val idxDir = java.nio.file.Files
      .createTempDirectory("httpapi-audit-idx").toString
    graft.ops.Dedup.incrementalIndex(
        all.filter(col("doc_id") >= 30 && col("doc_id") < 490),
        "text", "doc_id")
      .write.mode("overwrite").parquet(idxDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.audit_index
      USING parquet LOCATION '$idxDir'""")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("httpapi-audit-corpus").toString
    all.filter(col("doc_id") < 480)
      .write.mode("overwrite").parquet(corpusDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.audit_corpus
      USING parquet LOCATION '$corpusDir'""")
    val base = "/api/v1/catalog/tables/httpapi.audit_corpus/index-audit"
    val q = "?index=httpapi.audit_index&id=doc_id&index_id=cid"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // reconcile field-for-field against the direct operator
    val expected = graft.ops.Profile.indexAudit(
      spark.table("httpapi.audit_corpus"), "doc_id",
      spark.table("httpapi.audit_index"), "cid").collect()(0)
    for ((f, i) <- Seq("n_corpus", "n_indexed", "n_covered",
        "n_unindexed", "n_orphaned", "fresh_ppm").zipWithIndex)
      assert(lg(m.body, f) === expected.getLong(i), s"$f in ${m.body}")
    assert(lg(m.body, "n_unindexed") === 30L, m.body)
    assert(lg(m.body, "n_orphaned") === 10L, m.body)
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + "?index=httpapi.audit_index&id=doc_id")
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.audit_index", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.audit_index", "httpapi.nope"))
      .statusCode === 404)
    assert(get(base + q.replace("index_id=cid", "index_id=nope"))
      .statusCode === 400)
    assert(get(base + q.replace("id=doc_id&", "id=text&"))
      .statusCode === 400) // non-integral corpus id
    assert(get(base + q.replace("index_id=cid", "index_id=dig"))
      .statusCode === 400) // non-integral index id
    assert(get("/api/v1/catalog/tables/httpapi.nope/index-audit" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/index-audit" + q)
      .statusCode === 400)
  }

  test("classify route: scores a catalog table against the stored model, " +
    "reconciled row-for-row with the direct operator") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.{col, lit}
    val all = spark.table("httpapi.documents")
    val (counts, totals) = graft.ops.Classifier.nbTrain(
      all.filter(col("doc_id") < 400), "text", "doc_id",
      col("lang") === "en")
    val cDir = java.nio.file.Files
      .createTempDirectory("httpapi-nb-counts").toString
    val tDir = java.nio.file.Files
      .createTempDirectory("httpapi-nb-totals").toString
    counts.write.mode("overwrite").parquet(cDir)
    totals.coalesce(1).write.mode("overwrite").parquet(tDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_counts
      USING parquet LOCATION '$cDir'""")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_totals
      USING parquet LOCATION '$tDir'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/classify"
    val q = "?counts=httpapi.nb_counts&totals=httpapi.nb_totals&limit=7"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    val expected = graft.ops.Classifier.nbScore(
      spark.table("httpapi.documents"), "text", "doc_id",
      spark.table("httpapi.nb_counts"), spark.table("httpapi.nb_totals"))
    assert(lg(m.body, "n_docs") === expected.count())
    assert(lg(m.body, "n_pos") ===
      expected.filter(col("is_pos")).count())
    assert(lg(m.body, "n_returned") === 7L)
    // the returned docs are the FIRST 7 in id order with exact fields
    val first = expected.limit(7).collect()
    val docPat = ("""\{"id":(-?\d+),"n_tokens":(-?\d+),""" +
      """"margin_scaled":(-?\d+),"prior_scaled":(-?\d+),""" +
      """"is_pos":(true|false)\}""").r
    val got = docPat.findAllMatchIn(m.body).toSeq
    assert(got.length === 7, m.body)
    for ((g, e) <- got.zip(first)) {
      assert(g.group(1).toLong === e.getLong(0))
      assert(g.group(2).toLong === e.getLong(1))
      assert(g.group(3).toLong === e.getLong(2))
      assert(g.group(4).toLong === e.getLong(3))
      assert(g.group(5).toBoolean === e.getBoolean(4))
    }
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + "?counts=httpapi.nb_counts").statusCode === 400)
    assert(get(base + q.replace("httpapi.nb_counts", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.nb_counts", "httpapi.nope"))
      .statusCode === 404)
    // a table that is NOT a counts table fails the required-columns gate
    assert(get(base + q.replace("counts=httpapi.nb_counts",
      "counts=httpapi.documents")).statusCode === 400)
    assert(get(base + q + "&text=nope").statusCode === 400)
    assert(get(base + q + "&limit=0").statusCode === 400)
    assert(get(base + q + "&limit=abc").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/classify" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/classify" + q)
      .statusCode === 400)
    // a one-class stored model is a 400 (the operator's contract
    // surfaced as a caller error), not a 500
    val (oc, ot) = graft.ops.Classifier.nbTrain(
      all.filter(col("doc_id") < 400), "text", "doc_id", lit(true))
    val ocDir = java.nio.file.Files
      .createTempDirectory("httpapi-nb-oneclass").toString
    oc.write.mode("overwrite").parquet(s"$ocDir/c")
    ot.coalesce(1).write.mode("overwrite").parquet(s"$ocDir/t")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_counts1
      USING parquet LOCATION '$ocDir/c'""")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_totals1
      USING parquet LOCATION '$ocDir/t'""")
    val r1 = get(base +
      "?counts=httpapi.nb_counts1&totals=httpapi.nb_totals1")
    assert(r1.statusCode === 400, r1.body)
    assert(r1.body.contains("classes"), r1.body)
  }

  test("classify route serves the APPENDED (ledger-form) model store " +
    "directly: batch-stamped totals fold in the route, response equals " +
    "the one-shot model's over the union cut; an unstamped multi-row " +
    "totals is rejected as ambiguous") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.{col, lit}
    val all = spark.table("httpapi.documents")
    val teacher = col("lang") === "en"
    // the t34/DocumentStreams store shape: two appended batches, every
    // row batch-stamped (counts as-is, totals as a LEDGER row)
    val dir = java.nio.file.Files
      .createTempDirectory("httpapi-nb-ledger").toString
    for ((lo, hi, b) <- Seq((0L, 300L, 0L), (300L, 400L, 1L))) {
      val (c, t) = graft.ops.Classifier.nbTrain(
        all.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "text", "doc_id", teacher)
      c.withColumn("batch_id", lit(b))
        .write.mode("append").parquet(s"$dir/nbcounts")
      t.coalesce(1).withColumn("batch_id", lit(b))
        .write.mode("append").parquet(s"$dir/nbtotals")
    }
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_counts_led
      USING parquet LOCATION '$dir/nbcounts'""")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_totals_led
      USING parquet LOCATION '$dir/nbtotals'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/classify"
    val m = get(base +
      "?counts=httpapi.nb_counts_led&totals=httpapi.nb_totals_led&limit=7")
    assert(m.statusCode === 200, m.body)
    assert(m.body.contains("\"model_form\":\"ledger\""), m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // the served scores equal the ONE-SHOT model's over the union cut
    // (fold ≡ retrain, now end-to-end through the HTTP surface)
    val (uc, ut) = graft.ops.Classifier.nbTrain(
      all.filter(col("doc_id") < 400), "text", "doc_id", teacher)
    val expected = graft.ops.Classifier.nbScore(
      all, "text", "doc_id", uc, ut)
    assert(lg(m.body, "n_docs") === expected.count())
    assert(lg(m.body, "n_pos") === expected.filter(col("is_pos")).count())
    val first = expected.limit(7).collect()
    val docPat = ("""\{"id":(-?\d+),"n_tokens":(-?\d+),""" +
      """"margin_scaled":(-?\d+),"prior_scaled":(-?\d+),""" +
      """"is_pos":(true|false)\}""").r
    val got = docPat.findAllMatchIn(m.body).toSeq
    assert(got.length === 7, m.body)
    for ((g, e) <- got.zip(first)) {
      assert(g.group(1).toLong === e.getLong(0))
      assert(g.group(3).toLong === e.getLong(2), s"margin of ${g.group(1)}")
    }
    // ambiguous: multiple totals rows with NO batch stamp — neither a
    // 1-row one-shot model nor a foldable ledger (nbScore would pick
    // an arbitrary row) — 400, not a silently-wrong score
    val amDir = java.nio.file.Files
      .createTempDirectory("httpapi-nb-ambig").toString
    spark.read.parquet(s"$dir/nbtotals").drop("batch_id")
      .write.mode("overwrite").parquet(amDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_totals_amb
      USING parquet LOCATION '$amDir'""")
    val ra = get(base +
      "?counts=httpapi.nb_counts_led&totals=httpapi.nb_totals_amb")
    assert(ra.statusCode === 400, ra.body)
    assert(ra.body.contains("ambiguous"), ra.body)
    // a totals table with neither form's columns names both forms
    val nfDir = java.nio.file.Files
      .createTempDirectory("httpapi-nb-noform").toString
    spark.read.parquet(s"$dir/nbtotals").select(col("dp"), col("dn"))
      .limit(1).write.mode("overwrite").parquet(nfDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nb_totals_nf
      USING parquet LOCATION '$nfDir'""")
    val rn = get(base +
      "?counts=httpapi.nb_counts_led&totals=httpapi.nb_totals_nf")
    assert(rn.statusCode === 400, rn.body)
    assert(rn.body.contains("one-shot") && rn.body.contains("ledger"),
      rn.body)
  }

  test("tokenize route: segments a catalog table under the STORED merge " +
    "table, reconciled row-for-row with the direct operator; malformed " +
    "merge artifacts are 400s") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // train the release artifact in-query (t27) and ship it as a table
    val learned = graft.ops.TextAnalysis.bpeTrain(
      spark.table("httpapi.documents").filter(col("doc_id") < 200),
      "text", "doc_id", nMerges = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("httpapi-bpe").toString
    learned.coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_merges
      USING parquet LOCATION '$dir/merges'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/tokenize"
    val q = "?merges=httpapi.bpe_merges&limit=7"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    // reconcile against the direct operator under the SAME stored list
    val mergeSeq = spark.table("httpapi.bpe_merges")
      .orderBy(col("rank")).collect()
      .toSeq.map(r => (r.getString(1), r.getString(2)))
    assert(mergeSeq.length === 8)
    val expected = graft.ops.TextAnalysis.bpeSegment(
      spark.table("httpapi.documents"), "text", "doc_id", mergeSeq)
    assert(lg(m.body, "n_merges") === 8L)
    assert(lg(m.body, "n_docs") === expected.count())
    assert(lg(m.body, "n_returned") === 7L)
    // the returned docs are the FIRST 7 in id order with exact fields
    val first = expected.limit(7).collect()
    val docPat = ("""\{"id":(-?\d+),"n_words":(-?\d+),"n_chars":(-?\d+),""" +
      """"n_tokens":(-?\d+),"seg_prefix":"([^"]*)",""" +
      """"tokens_per_char_ppm":(-?\d+)\}""").r
    val got = docPat.findAllMatchIn(m.body).toSeq
    assert(got.length === 7, m.body)
    for ((g, e) <- got.zip(first)) {
      assert(g.group(1).toLong === e.getLong(0))
      assert(g.group(2).toLong === e.getLong(1))
      assert(g.group(3).toLong === e.getLong(2))
      assert(g.group(4).toLong === e.getLong(3))
      assert(g.group(5) === e.getString(4))
      assert(g.group(6).toLong === e.getLong(5))
    }
    // an EMPTY merge table is a 400 (the native expression's >= 1
    // contract surfaced as a caller error - bpeTrain emits zero rows
    // only on a degenerate corpus, a broken artifact to serve from)
    Seq.empty[(Long, String, String)].toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/empty")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_empty
      USING parquet LOCATION '$dir/empty'""")
    val mz = get(base + "?merges=httpapi.bpe_empty&limit=1")
    assert(mz.statusCode === 400, mz.body)
    assert(mz.body.contains("empty"), mz.body)
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + "?merges=nodots").statusCode === 400)
    assert(get(base + "?merges=httpapi.nope").statusCode === 404)
    // a table that is NOT a merges table fails the required-columns gate
    assert(get(base + "?merges=httpapi.documents").statusCode === 400)
    assert(get(base + q + "&text=nope").statusCode === 400)
    assert(get(base + q + "&id=lang").statusCode === 400)
    assert(get(base + q + "&limit=0").statusCode === 400)
    assert(get(base + q + "&limit=abc").statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/tokenize" + q)
      .statusCode === 404)
    assert(get("/api/v1/catalog/tables/nodots/tokenize" + q)
      .statusCode === 400)
    // malformed stored artifacts, each named: over the trainer's cap
    (1 to 65).map(i => (i.toLong, "a", "b")).toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/big")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_big
      USING parquet LOCATION '$dir/big'""")
    val rb = get(base + "?merges=httpapi.bpe_big")
    assert(rb.statusCode === 400, rb.body)
    assert(rb.body.contains("64"), rb.body)
    // duplicate ranks (ambiguous apply order)
    Seq((1L, "a", "b"), (1L, "c", "d")).toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/dup")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_dup
      USING parquet LOCATION '$dir/dup'""")
    val rd = get(base + "?merges=httpapi.bpe_dup")
    assert(rd.statusCode === 400, rd.body)
    assert(rd.body.contains("ambiguous"), rd.body)
    // empty merge side (would corrupt the replace device)
    Seq((1L, "a", "")).toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/side")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_side
      USING parquet LOCATION '$dir/side'""")
    val rs = get(base + "?merges=httpapi.bpe_side")
    assert(rs.statusCode === 400, rs.body)
    assert(rs.body.contains("empty"), rs.body)
    // non-integral rank column
    Seq(("x", "a", "b")).toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/srank")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_srank
      USING parquet LOCATION '$dir/srank'""")
    val rr = get(base + "?merges=httpapi.bpe_srank")
    assert(rr.statusCode === 400, rr.body)
    assert(rr.body.contains("integral"), rr.body)
    // non-string merge sides (getString would otherwise 500)
    Seq((1L, 2, 3)).toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/intside")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_intside
      USING parquet LOCATION '$dir/intside'""")
    val ri = get(base + "?merges=httpapi.bpe_intside")
    assert(ri.statusCode === 400, ri.body)
    assert(ri.body.contains("not strings"), ri.body)
    // a non-string corpus text column is a 400, not an
    // AnalysisException-500 out of the expression's type check
    assert(get(base + q + "&text=doc_id").statusCode === 400)
    // a side outside the segmenter's [a-z0-9]+ word alphabet (the
    // expression's own construction contract, surfaced as a 400)
    Seq((1L, "A", "b")).toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/upper")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_upper
      USING parquet LOCATION '$dir/upper'""")
    val ru = get(base + "?merges=httpapi.bpe_upper")
    assert(ru.statusCode === 400, ru.body)
    assert(ru.body.contains("alphabet"), ru.body)
    // a NULL text segments to NULL counts - rendered as JSON nulls,
    // never an NPE-500
    Seq((1L, Option("ab ab")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/nulldocs")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bpe_nulldocs
      USING parquet LOCATION '$dir/nulldocs'""")
    val rn2 = get("/api/v1/catalog/tables/httpapi.bpe_nulldocs/tokenize" + q)
    assert(rn2.statusCode === 200, rn2.body)
    assert(rn2.body.contains("\"id\":2,\"n_words\":null"), rn2.body)
    assert(rn2.body.contains("\"n_docs\":2"), rn2.body)
  }

  test("media-search route: probes the stored signature index with a " +
    "catalog media table, reconciled with the direct operator; geometry " +
    "drift and shape errors are 400s") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // corpus media (ids < 480 of the documents fixture) -> released store
    val corpusMedia = graft.ops.Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") < 480).select(col("doc_id"), col("text")))
    val dir = java.nio.file.Files
      .createTempDirectory("httpapi-mediasig").toString
    val (sigs, meta) =
      graft.ops.Multimodal.mediaSignatureIndex(spark, corpusMedia)
    sigs.write.mode("overwrite").partitionBy("sb").parquet(s"$dir/sigs")
    meta.coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // probe table: two arriving items — one a same-format copy of a
    // corpus text (doc 5: 9 = 5 mod 4), one novel
    val probeTexts = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === 5).select(
        (col("doc_id") + 4).as("doc_id"), col("text"))
      .unionByName(Seq((9998L, "entirely novel probe payload zzz"))
        .toDF("doc_id", "text"))
    graft.ops.Multimodal.mediaFromDocuments(probeTexts)
      .write.mode("overwrite").parquet(s"$dir/probe")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.media_probe
      USING parquet LOCATION '$dir/probe'""")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.media_sigs
      USING parquet LOCATION '$dir/sigs'""")
    spark.sql("ALTER TABLE httpapi.media_sigs RECOVER PARTITIONS")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.media_meta
      USING parquet LOCATION '$dir/meta'""")
    val base = "/api/v1/catalog/tables/httpapi.media_probe/media-search"
    val q = "?index=httpapi.media_sigs&meta=httpapi.media_meta" +
      "&format=meta.format"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    val expected = graft.ops.Multimodal.mediaSignatureProbe(
        spark.table("httpapi.media_sigs"),
        spark.table("httpapi.media_meta"),
        spark.table("httpapi.media_probe"))
      .orderBy(col("id"), col("probe_id")).collect()
    assert(lg(m.body, "n_results") === expected.length.toLong)
    assert(expected.exists(r => r.getLong(0) === 5L &&
      r.getLong(1) === 9L), expected.mkString(", "))
    val pairPat = """\{"id":(-?\d+),"probe_id":(-?\d+)\}""".r
    val got = pairPat.findAllMatchIn(m.body)
      .map(g => (g.group(1).toLong, g.group(2).toLong)).toSeq
    assert(got === expected.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(!got.exists(_._2 == 9998L), m.body) // the novel probe matches nothing
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + "?index=httpapi.media_sigs").statusCode === 400)
    assert(get(base + q.replace("httpapi.media_sigs", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.media_sigs", "httpapi.nope"))
      .statusCode === 404)
    // a table that is not a signature store fails the column gate
    assert(get(base + q.replace("index=httpapi.media_sigs",
      "index=httpapi.media_probe")).statusCode === 400)
    assert(get(base + q + "&id=payload").statusCode === 400)
    assert(get(base + q + "&payload=id").statusCode === 400)
    assert(get(base + q + "&format=nope.deep").statusCode === 400)
    assert(get(base + q + "&limit=-1").statusCode === 400)
    assert(get("/api/v1/catalog/tables/nodots/media-search" + q)
      .statusCode === 400)
    // geometry drift: a meta whose buckets disagree with the stored
    // rows is a 400 naming the remedy, not a silent empty result
    val metaRow = meta.head()
    spark.range(1).select(
        lit(metaRow.getAs[Int]("bin1")).as("bin1"),
        lit(metaRow.getAs[Int]("bin2")).as("bin2"),
        lit(metaRow.getAs[Int]("threshold_ppm")).as("threshold_ppm"),
        lit(7).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$dir/badmeta")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.media_meta_bad
      USING parquet LOCATION '$dir/badmeta'""")
    val rb = get(base + q.replace("httpapi.media_meta",
      "httpapi.media_meta_bad"))
    assert(rb.statusCode === 400, rb.body)
    assert(rb.body.contains("meta geometry"), rb.body)
  }

  test("distinct-sketch route: estimate from the stored sketch rows, " +
    "reconciled with the direct operator") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    import org.apache.spark.sql.functions.{col, concat, lit}
    val vals = spark.range(3000).select(
      (col("id") % 5).cast("int").as("shard"),
      concat(lit("v"), col("id") % 1700).as("v"))
    val sk = graft.ops.Sketches.kmvSketch(vals, "v", "shard", 64)
    val sDir = java.nio.file.Files
      .createTempDirectory("httpapi-sketch").toString
    sk.write.mode("overwrite").parquet(sDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.kmv_sketch
      USING parquet LOCATION '$sDir'""")
    val base = "/api/v1/catalog/distinct-sketch"
    val m = get(base + "?sketch=httpapi.kmv_sketch&k=64")
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    val expected = graft.ops.Sketches.kmvEstimate(
      graft.ops.Sketches.kmvMerge(
        spark.table("httpapi.kmv_sketch"), 64), 64).collect()(0)
    assert(lg(m.body, "n_shards") === 5L)
    assert(lg(m.body, "n_hashes") === expected.getLong(1))
    assert(lg(m.body, "kth_min") === expected.getLong(2))
    assert(lg(m.body, "est") === expected.getLong(3))
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + "?sketch=nodots").statusCode === 400)
    assert(get(base + "?sketch=httpapi.nope").statusCode === 404)
    assert(get(base + "?sketch=httpapi.kmv_sketch&k=1").statusCode === 400)
    assert(get(base + "?sketch=httpapi.kmv_sketch&k=abc")
      .statusCode === 400)
    // a table without (shard, h) fails the required-columns gate
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    assert(get(base + "?sketch=httpapi.documents").statusCode === 400)
    // non-integral hash column: lexicographic order would silently
    // corrupt the k-minimum merge - rejected, not coerced
    val badDir = java.nio.file.Files
      .createTempDirectory("httpapi-sketch-bad").toString
    sk.select(col("shard"), col("h").cast("string").as("h"))
      .write.mode("overwrite").parquet(badDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.kmv_bad
      USING parquet LOCATION '$badDir'""")
    assert(get(base + "?sketch=httpapi.kmv_bad").statusCode === 400)
  }

  test("box-search route: pruned two-dimensional box query over the " +
    "stored Z-order layout, reconciled with the direct operator") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    import org.apache.spark.sql.functions.col
    val ev = graft.tables.Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val lDir = java.nio.file.Files
      .createTempDirectory("httpapi-layout").toString
    graft.ops.Layout.zorderWrite(ev, "user_id", "event_id", lDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.zl_data
      USING parquet LOCATION '$lDir/data'""")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.zl_bounds
      USING parquet LOCATION '$lDir/bounds'""")
    // refresh: the tables were registered after the write
    spark.sql("REFRESH TABLE httpapi.zl_data")
    val base = "/api/v1/catalog/tables/httpapi.zl_data/box-search"
    val q = "?bounds=httpapi.zl_bounds&col_a=user_id&col_b=event_id" +
      "&lo_a=3&hi_a=9&lo_b=200&hi_b=800&id=event_id&limit=5"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    val expected = graft.ops.Layout.boxProbeTables(
      spark.table("httpapi.zl_data"), spark.table("httpapi.zl_bounds"),
      "user_id", "event_id", 3L, 9L, 200L, 800L)
    assert(lg(m.body, "n_matched") === expected.count())
    assert(lg(m.body, "n_returned") === math.min(5L, expected.count()))
    val wantIds = expected.select(col("event_id")).orderBy(col("event_id"))
      .limit(5).collect().map(_.getLong(0)).toSeq
    val gotIds = """"ids":\[([0-9,]*)\]""".r
      .findFirstMatchIn(m.body).get.group(1)
      .split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    assert(gotIds === wantIds, m.body)
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + q.replace("&lo_a=3", "&lo_a=abc"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.zl_bounds", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.zl_bounds", "httpapi.nope"))
      .statusCode === 404)
    assert(get(base + q.replace("col_a=user_id", "col_a=nope"))
      .statusCode === 400)
    assert(get(base + q.replace("id=event_id", "id=event_type"))
      .statusCode === 400) // non-integral id
    // a bounds table missing the layout parameters fails the gate
    assert(get(base + q.replace("bounds=httpapi.zl_bounds",
      "bounds=httpapi.zl_data")).statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/box-search" + q)
      .statusCode === 404)
    // disjoint box: a clean empty answer, not an error
    val e2 = get(base + q.replace("lo_a=3&hi_a=9", "lo_a=5000&hi_a=6000"))
    assert(e2.statusCode === 200 && lg(e2.body, "n_matched") === 0L,
      e2.body)
  }

  test("quantile-sketch route: rank estimates from the stored histogram " +
    "rows, reconciled with the direct operator") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    import org.apache.spark.sql.functions.col
    val vals = spark.range(5000).select(
      (col("id") % 5).cast("int").as("shard"), (col("id") % 997).as("v"))
    val sk = graft.ops.Sketches.histSketch(vals, "v", "shard",
      0L, 996L, 32)
    val hDir = java.nio.file.Files
      .createTempDirectory("httpapi-hist").toString
    sk.write.mode("overwrite").parquet(hDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.hist_sketch
      USING parquet LOCATION '$hDir'""")
    val base = "/api/v1/catalog/quantile-sketch"
    val q = "?sketch=httpapi.hist_sketch&lo=0&hi=996&n_bins=32" +
      "&q=500000,990000"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    val expected = graft.ops.Sketches.histQuantiles(
      graft.ops.Sketches.histMerge(spark.table("httpapi.hist_sketch")),
      Seq(500000L, 990000L), 0L, 996L, 32).collect()
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    assert(lg(m.body, "n_total") === expected.head.getLong(4))
    val qPat = ("""\{"q_ppm":(\d+),"rank":(\d+),"bin":(\d+),""" +
      """"est_lo":(-?\d+)\}""").r
    val got = qPat.findAllMatchIn(m.body).toSeq
    assert(got.length === 2, m.body)
    for ((g, e) <- got.zip(expected)) {
      assert(g.group(1).toInt === e.getInt(0))
      assert(g.group(2).toLong === e.getLong(1))
      assert(g.group(3).toInt === e.getInt(2))
      assert(g.group(4).toLong === e.getLong(3))
    }
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + "?sketch=httpapi.hist_sketch").statusCode === 400)
    assert(get(base + q.replace("lo=0", "lo=abc")).statusCode === 400)
    assert(get(base + q.replace("lo=0&hi=996", "lo=996&hi=0"))
      .statusCode === 400)
    assert(get(base + q.replace("q=500000,990000", "q=0"))
      .statusCode === 400)
    assert(get(base + q.replace("q=500000,990000", "q=abc"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.hist_sketch", "httpapi.nope"))
      .statusCode === 404)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    assert(get(base + q.replace("httpapi.hist_sketch",
      "httpapi.documents")).statusCode === 400)
  }

  test("bloom-check route: membership verdicts from the stored filter, " +
    "reconciled with the direct operator; misses are the answer") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.documents
      USING parquet LOCATION '$sf/documents.parquet'""")
    import org.apache.spark.sql.functions.col
    val all = spark.table("httpapi.documents")
    val bDir = java.nio.file.Files
      .createTempDirectory("httpapi-bloom").toString
    graft.ops.Bloom.bloomBuild(
        all.filter(col("doc_id") < 480).select(col("text")),
        "text", nWords = 64, k = 4)
      .write.mode("overwrite").parquet(bDir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.bloom_f
      USING parquet LOCATION '$bDir'""")
    val base = "/api/v1/catalog/tables/httpapi.documents/bloom-check"
    val q = "?filter=httpapi.bloom_f&value=text&id=doc_id&n_words=64&k=4"
    val m = get(base + q)
    assert(m.statusCode === 200, m.body)
    def lg(body: String, field: String): Long =
      ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(body).get
        .group(1).toLong
    val expected = graft.ops.Bloom.bloomProbe(
      spark.table("httpapi.bloom_f"), all, "text", 64, 4)
    assert(lg(m.body, "n_values") === expected.count())
    assert(lg(m.body, "n_hits") ===
      expected.filter(col("bloom_hit")).count())
    val wantMiss = expected.filter(!col("bloom_hit"))
      .select(col("doc_id")).orderBy(col("doc_id"))
      .limit(1000).collect().map(_.getLong(0)).toSeq
    val gotMiss = """"miss_ids":\[([0-9,]*)\]""".r
      .findFirstMatchIn(m.body).get.group(1)
      .split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    assert(gotMiss === wantMiss, m.body)
    // the corpus members are never misses (no false negatives)
    assert(wantMiss.forall(_ >= 480L), wantMiss.toString)
    // validation edges
    assert(get(base).statusCode === 400)
    assert(get(base + q.replace("&n_words=64", "")).statusCode === 400)
    assert(get(base + q.replace("httpapi.bloom_f", "nodots"))
      .statusCode === 400)
    assert(get(base + q.replace("httpapi.bloom_f", "httpapi.nope"))
      .statusCode === 404)
    assert(get(base + q.replace("value=text", "value=nope"))
      .statusCode === 400)
    assert(get(base + q.replace("id=doc_id", "id=text"))
      .statusCode === 400) // non-integral id
    assert(get(base + q.replace("filter=httpapi.bloom_f",
      "filter=httpapi.documents")).statusCode === 400)
    assert(get("/api/v1/catalog/tables/httpapi.nope/bloom-check" + q)
      .statusCode === 404)
  }

  test("stop shuts the request pool down: no pool thread outlives it") {
    import scala.jdk.CollectionConverters._
    def poolThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-http-")).toSet
    val before = poolThreads()
    (1 to 3).foreach { _ =>
      val f = new HttpFacade(spark, new QueryExecutor(spark),
        new SparkCatalogProvider(spark))
      val p = f.start(0)
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/api/v1/catalog/namespaces")).GET
        .build(), BodyHandlers.ofString())
      assert(r.statusCode === 200, r.body)
      assert((poolThreads() -- before).nonEmpty, "the request ran off-pool")
      f.stop()
    }
    val deadline = System.nanoTime() + 10000000000L
    while ((poolThreads() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    val left = poolThreads() -- before
    assert(left.isEmpty, left.map(_.getName))
  }

  test("health reports healthy on a live session") {
    val h = get("/health")
    assert(h.statusCode === 200)
    assert(fieldOf(h.body, "status") === "healthy")
  }

  test("ready reports traffic-admission readiness") {
    val r = get("/ready")
    assert(r.statusCode === 200, r.body)
    assert(r.body.contains("\"ready\":true"))
  }

  test("health and ready answer 503 when the catalog is unreachable") {
    val s2 = graft.engine.UnreachableCatalog.session(spark)
    val down = new HttpFacade(s2, new QueryExecutor(s2),
      new SparkCatalogProvider(s2))
    val p = down.start(0)
    try {
      def at(path: String) = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p$path")).GET.build(),
        BodyHandlers.ofString())
      val h = at("/health")
      assert(h.statusCode === 503, h.body)
      assert(fieldOf(h.body, "status") === "degraded")
      assert(h.body.contains("\"catalog\":{\"healthy\":false}"), h.body)
      val r = at("/ready")
      assert(r.statusCode === 503, r.body)
      assert(fieldOf(r.body, "reason") === "unhealthy: catalog")
    } finally down.stop()
  }

  test("table details: reference field names, current snapshot, 404") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.nation
      USING parquet LOCATION '$sf/nation.parquet'""")
    val d = get("/api/v1/catalog/tables/httpapi.nation")
    assert(d.statusCode === 200, d.body)
    // reference TableDetails response shape (models/catalog.py:158-192)
    assert(d.body.contains("\"namespace\":[\"httpapi\"]"))
    assert(fieldOf(d.body, "name") === "nation")
    assert(fieldOf(d.body, "format") === "ICEBERG")
    assert(d.body.contains("\"location\":"))
    assert(d.body.contains("\"partition_spec\":"))
    assert(d.body.contains("\"sort_order\":null"))
    assert(d.body.contains("\"current_snapshot\":"))
    assert(d.body.contains("\"snapshots\":["))
    val missing = get("/api/v1/catalog/tables/httpapi.nosuch")
    assert(missing.statusCode === 404)
    assert(missing.body.contains("Table not found"))
    assert(get("/api/v1/catalog/tables/nodots").statusCode === 400)
  }

  test("table details surfaces Iceberg snapshot history from metadata JSON") {
    // stage a minimal Iceberg-layout table dir (metadata JSON only — no
    // runtime jar in this sandbox), mirroring IcebergMetadataSpec's fixture
    val dir = java.nio.file.Files.createTempDirectory("http_iceberg").toFile
    val meta = new java.io.File(dir, "metadata")
    meta.mkdirs()
    val metaJson =
      s"""{"format-version":2,"table-uuid":"11111111-2222-3333-4444-555555555555",
         |"location":"file:${dir.getAbsolutePath}",
         |"current-snapshot-id":2002,
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"bucket_id","transform":"bucket[4]","source-id":1,"field-id":1000}]}],
         |"default-spec-id":0,
         |"snapshots":[
         |  {"snapshot-id":1001,"sequence-number":1,"timestamp-ms":1700000000000,
         |   "manifest-list":"file:${dir.getAbsolutePath}/metadata/snap-1001.avro"},
         |  {"snapshot-id":2002,"sequence-number":2,"timestamp-ms":1700000100000,
         |   "manifest-list":"file:${dir.getAbsolutePath}/metadata/snap-2002.avro"}],
         |"schemas":[]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(meta, "v2.metadata.json").toPath,
      metaJson.getBytes("UTF-8"))
    // a catalog table whose LOCATION carries the Iceberg-layout metadata;
    // schema is explicit so no data files are needed (the details route
    // reads only catalog + metadata JSON, never the data)
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS httpapi.iceberg_t (id BIGINT)
      USING parquet LOCATION '${dir.getAbsolutePath}'""")
    val d = get("/api/v1/catalog/tables/httpapi.iceberg_t")
    assert(d.statusCode === 200, d.body)
    assert(d.body.contains("\"snapshot_id\":1001") &&
      d.body.contains("\"snapshot_id\":2002"))
    assert(d.body.contains("\"current_snapshot\":{\"sequence_number\":2"))
    assert(d.body.contains("\"transform\":\"bucket[4]\""))
    assert(d.body.contains("\"timestamp_ms\":1700000100000"))
  }

  test("error bodies escape bracket-prefixed engine messages (valid JSON)") {
    // Spark 4 error-class messages start with "[ERROR_CLASS]" — a
    // prefix-heuristic JSON renderer would splice them unquoted and emit
    // malformed bodies; the explicit Raw marker must never fire on them
    val body = Json.obj(
      "detail" -> "[SCHEMA_NOT_FOUND] The schema `x` cannot be found.")
    assert(body ===
      "{\"detail\":\"[SCHEMA_NOT_FOUND] The schema `x` cannot be found.\"}")
    // and genuinely nested JSON still splices verbatim via Raw
    assert(Json.obj("a" -> Json.Raw("""{"b":1}""")) === """{"a":{"b":1}}""")
  }

  test("namespaces honors ?parent= and 404s on unknown parents") {
    spark.sql("CREATE DATABASE IF NOT EXISTS httpapi")
    val all = get("/api/v1/catalog/namespaces")
    assert(all.statusCode === 200 && all.body.contains("httpapi"))
    // session catalog namespaces are single-level: a valid parent yields an
    // empty child list, an unknown parent the reference's 404
    val scoped = get("/api/v1/catalog/namespaces?parent=httpapi")
    assert(scoped.statusCode === 200, scoped.body)
    assert(scoped.body.contains("\"namespaces\":[]"))
    val unknown = get("/api/v1/catalog/namespaces?parent=no_such_ns")
    assert(unknown.statusCode === 404, unknown.body)
    assert(unknown.body.contains("Namespace not found"))
    // unit-separator wire form (ref catalog.py:46: accounting%1Ftax)
    val unit = get("/api/v1/catalog/namespaces?parent=no%1Fsuch")
    assert(unit.statusCode === 404)
  }
}
