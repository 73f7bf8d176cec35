package graft.api

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType,
  IntegerType, LongType, MapType, NumericType, ShortType, StringType, StructType}

import graft.api.HttpFacade.Reject
import graft.catalog.{CatalogProvider, SparkCatalogProvider}
import graft.engine.{GraftEngine, InvalidSqlError, QueryExecutor, QueryResult,
  QueryState}
import graft.results.{ResultStream, ValueFormat}
import graft.tables.Tables

/**
 * HTTP façade over the engine — the reference's REST surface re-exposed on
 * the JDK's built-in `com.sun.net.httpserver` (zero extra dependencies;
 * SURVEY §7.1(7): "api (thin) — HTTP façade mirroring §2.D ... logic stays
 * in the engine layers").
 *
 * Routes mirror the reference (src/iceberg_explorer/api/routes/):
 *  - POST   /api/v1/query/execute            (query.py:38)
 *  - GET    /api/v1/query/{id}/results       (query.py:233, NDJSON stream)
 *  - GET    /api/v1/query/{id}/status        (query.py:267)
 *  - POST   /api/v1/query/{id}/cancel        (query.py:312)
 *  - DELETE /api/v1/query/{id}               (query.py:357)
 *  - POST   /api/v1/export/csv               (export.py:153, sql XOR query_id)
 *  - POST   /api/v1/export/arrow             (columnar IPC stream — the
 *           reference's Arrow result buffering, executor.py:254-260,
 *           surfaced as a wire format; sql-only)
 *  - GET    /api/v1/catalog/namespaces[?parent=]    (catalog.py:41, 404 on
 *           unknown parent; parent accepts unit-separator or dotted form)
 *  - GET    /api/v1/catalog/namespaces/{ns}/tables  (catalog.py:106, 404 on
 *           unknown namespace)
 *  - GET    /api/v1/catalog/tables/{ns}.{t}/schema  (catalog.py:184)
 *  - GET    /api/v1/catalog/tables/{ns}.{t}         (catalog.py:291, full
 *           details: location, partition spec, snapshots, current snapshot)
 *  - GET    /health                          (health.py:44, 503 on degraded)
 *  - GET    /ready                           (health.py:96, 503 until ready)
 *
 * Error bodies are FastAPI-shaped `{"detail": ...}` with the reference's
 * status codes (400 invalid SQL / bad id / bad page size, 404 unknown
 * query, 500 execution failure). Namespaces are dot-joined in paths (the
 * reference uses a unit-separator wire encoding for the same purpose —
 * see graft.catalog.NamespacePath).
 *
 * Validation: every handler reads its request through the readers in the
 * "validation" section — `table` (the route's own `{tablePath}`),
 * `stored` (a table named by a parameter), `Params.required`/`int`/
 * `long`/`threshold`/`list`, and the column checks — each an
 * `Either[Reject, A]`, chained in one `for` whose first failing check
 * wins, so a route's check order is the order it reads in. The codes:
 * 400 for a malformed body, a missing, unparsable or out-of-range
 * parameter, an undotted table path, or a column that is unknown or of
 * the wrong type; 404 for an unknown table (the route's own table is
 * checked before any parameter), an unknown stored artifact or an unknown
 * query id; 413 for a corpus over a build route's `max_rows` cap. An
 * operator's own argument check (IllegalArgumentException) is the caller's
 * error, a 400. [[reply]] sends the outcome — `Left` as `{"detail": msg}`
 * under its code, `Right` as the 200 JSON body — and maps a catalog
 * NoSuchEntityException raised anywhere in the handler to a 404: only a
 * genuine not-found is a 404; anything else (corrupt metadata JSON, IO
 * failure) surfaces as the route-level 500. The streaming routes
 * (results, CSV, Arrow) read the same way and write their own 200 body.
 *
 * Concurrency: requests run on a fixed pool; the engine layers are
 * thread-safe (SURVEY §7.5(6) — Spark inverts the reference's serialized
 * single-connection model). [[stop]] shuts the pool down with the server.
 *
 * Sockets: accepted connections set TCP_NODELAY. The JDK server writes a
 * response as two segments (`sendResponseHeaders`, then the body), so with
 * Nagle's algorithm on, the body waits for the client's delayed ACK of the
 * headers — about 40 ms on every keep-alive response, whatever the route's
 * own cost. The JDK reads the switch (`sun.net.httpserver.nodelay`) once,
 * when its server configuration class loads, so [[start]] sets it in code
 * before the first `HttpServer.create` in the JVM rather than leaving it
 * to a launcher flag.
 */
final class HttpFacade(
    spark: org.apache.spark.sql.SparkSession,
    executor: QueryExecutor,
    provider: CatalogProvider) {

  private type Read[A] = Either[Reject, A]

  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Start on `port` (0 = ephemeral) and return the bound port. */
  def start(port: Int = 0, threads: Int = 8): Int = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    pool = Executors.newFixedThreadPool(threads, HttpFacade.poolThread(_))
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }

  // ---- op-route persisted-RDD accounting --------------------------------

  /** Serializes the storage-touching catalog-op section (FIFO). */
  private val opLock = new java.util.concurrent.locks.ReentrantLock(true)

  /** Run a heavy catalog-op request with EXACT persisted-RDD ownership.
    * The ops behind these routes pin session-level storage (eager
    * localCheckpoints inside corpusBuild / thresholdSweep / lshPlan;
    * explicit persists in substring-dedup / shard-manifest /
    * epoch-plan), which must be released or every request leaks
    * block-manager memory until session end. A naive release — diff
    * `getPersistentRDDs` around the run and unpersist the difference —
    * is DESTRUCTIVE under concurrency: with 8 server threads the diff
    * can capture another in-flight request's RDDs, and a
    * localCheckpoint's lineage is truncated, so unpersisting it
    * destroys the only copy and fails that job with missing-block
    * errors. An earlier deferred design (sweep candidates released when
    * the LAST in-flight op exits) fixed the destruction but not the
    * attribution: a global diff cannot tell whose RDD an id is, so an
    * unwrapped persisting route could still be swept mid-flight, and
    * under sustained overlapping traffic the candidate set grew
    * unboundedly because in-flight never reached zero. This design
    * makes ownership EXACT by serializing the storage-touching section:
    * every route that persists or checkpoints runs under `opLock`, so a
    * request's diff is precisely the storage it created, swept at ITS
    * exit — bounded memory, no quiesce point required, mid-flight
    * destruction structurally impossible. Tradeoff: the heavy audit ops
    * queue behind each other (FIFO), which on a shared SparkSession is
    * close to free — they are multi-second whole-pipeline compositions
    * that would contend for the same cores anyway — while the query /
    * catalog / results surface stays fully concurrent (the A7
    * inversion is about the query path, which holds no storage).
    *
    * The exact invariant: every route whose storage is
    * LINEAGE-TRUNCATED (localCheckpoint — the kind a foreign sweep
    * DESTROYS) runs under `opLock`. A plain `persist()` with lineage
    * kept may run outside the lock (dedup-probe does): if a concurrent
    * op's exit sweep happens to evict it, the next action recomputes
    * from lineage — wasted work in a rare overlap, never a wrong or
    * failed result. Such routes must still release their own persist
    * in a `finally`, because the sweep only fires when an op-locked
    * request is active. */
  private def withOpSweep[A](body: => A): A = {
    opLock.lock()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try body
    finally {
      try {
        val diff = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        if (diff.nonEmpty)
          spark.sparkContext.getPersistentRDDs
            .filter { case (id, _) => diff.contains(id) }
            .values.foreach(_.unpersist(blocking = false))
      } finally opLock.unlock()
    }
  }

  // ---------------------------------------------------------------- routing

  private def route(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val method = ex.getRequestMethod
      (method, path.split("/").filter(_.nonEmpty).toList) match {
        case ("POST", List("api", "v1", "query", "execute")) => execute(ex)
        case ("GET", List("api", "v1", "query", id, "results")) => results(ex, id)
        case ("GET", List("api", "v1", "query", id, "status")) => status(ex, id)
        case ("POST", List("api", "v1", "query", id, "cancel")) => cancel(ex, id)
        case ("DELETE", List("api", "v1", "query", id)) => cleanup(ex, id)
        case ("POST", List("api", "v1", "export", "csv")) => exportCsv(ex)
        case ("POST", List("api", "v1", "export", "arrow")) => exportArrow(ex)
        case ("GET", List("api", "v1", "catalog", "namespaces")) => namespaces(ex)
        case ("GET", List("api", "v1", "catalog", "release-audit")) =>
          releaseAuditRoute(ex)
        case ("GET", List("api", "v1", "catalog", "namespaces", ns, "tables")) =>
          tables(ex, ns)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "schema")) =>
          schema(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "profile")) =>
          profileRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "balance")) =>
          balanceRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "mixture")) =>
          mixtureRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "epoch-plan")) =>
          epochPlanRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "dedup-sweep")) =>
          dedupSweepRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "substring-dedup")) =>
          substringDedupRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "data-card")) =>
          dataCardRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "incremental-build")) =>
          incrementalBuildRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "shard-manifest")) =>
          shardManifestRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "lsh-plan")) =>
          lshPlanRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "dedup-probe")) =>
          dedupProbeRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "ann-search")) =>
          annSearchRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "bm25-search")) =>
          bm25SearchRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp,
            "contamination-search")) =>
          contaminationSearchRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "hybrid-search")) =>
          hybridSearchRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "pq-search")) =>
          pqSearchRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "index-audit")) =>
          indexAuditRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "classify")) =>
          classifyRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "tokenize")) =>
          tokenizeRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "media-search")) =>
          mediaSearchRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "box-search")) =>
          boxSearchRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "tables", tp, "bloom-check")) =>
          bloomCheckRoute(ex, tp)
        case ("GET", List("api", "v1", "catalog", "distinct-sketch")) =>
          distinctSketchRoute(ex)
        case ("GET", List("api", "v1", "catalog", "quantile-sketch")) =>
          quantileSketchRoute(ex)
        case ("GET", List("api", "v1", "catalog", "tables", tp)) =>
          tableDetails(ex, tp)
        case ("GET", List("health")) => health(ex)
        case ("GET", List("ready")) => ready(ex)
        case _ => sendJson(ex, 404, detail("Not Found"))
      }
    } catch {
      case e: Throwable =>
        try sendJson(ex, 500, detail(Option(e.getMessage).getOrElse("Internal error")))
        catch { case _: Throwable => () }
    } finally ex.close()

  // ---------------------------------------------------------------- handlers

  private def execute(ex: HttpExchange): Unit = reply(ex) {
    for {
      body <- jsonBody(ex)
      sql <- field(body, "sql").toRight(bad("Field 'sql' is required"))
      timeout = body.get("timeout").collect { case n: Long => n.toInt }
      r <- gated(executor.execute(sql, timeout))(_.getMessage)
    } yield Json.obj("query_id" -> r.queryId.toString, "status" -> r.state.value)
  }

  private def status(ex: HttpExchange, id: String): Unit = reply(ex) {
    queryResult(id).map { r =>
      val rows: Option[Long] =
        if (r.state == QueryState.Completed) Some(r.metrics.rowsReturned)
        else None
      Json.obj(
        "query_id" -> id, "status" -> r.state.value,
        "rows_processed" -> rows.orNull,
        "error_message" -> r.errorMessage.orNull)
    }
  }

  private def results(ex: HttpExchange, id: String): Unit = {
    val q = params(ex)
    stream(ex)(for {
      pageSize <- q.int("page_size", 100)
      offset <- q.int("offset", 0)
      _ <- check(offset >= 0, "offset must be non-negative")
      _ <- check(ResultStream.ValidPageSizes.contains(pageSize),
        "Invalid page_size. Must be one of: " +
          ResultStream.ValidPageSizes.toSeq.sorted.mkString("[", ", ", "]"))
    } yield (pageSize, offset)) { case (pageSize, offset) =>
      val lines = ResultStream.ndjsonAwait(
        () => parseUuid(id).flatMap(executor.getStatus), id, pageSize, offset)
      ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      lines.foreach { l => out.write(l.getBytes(UTF_8)); out.write('\n') }
      out.close()
    }
  }

  private def cancel(ex: HttpExchange, id: String): Unit = reply(ex) {
    queryResult(id).map { r =>
      val was = executor.cancel(r.queryId)
      val cur = executor.getStatus(r.queryId).map(_.state.value)
        .getOrElse("unknown")
      Json.obj("query_id" -> id, "cancelled" -> was, "status" -> cur)
    }
  }

  private def cleanup(ex: HttpExchange, id: String): Unit = reply(ex) {
    queryUuid(id).map { uuid =>
      executor.cleanup(uuid)
      Json.obj("query_id" -> id, "cleaned" -> true)
    }
  }

  private def exportCsv(ex: HttpExchange): Unit = stream(ex) {
    jsonBody(ex).flatMap { body =>
      (field(body, "sql"), field(body, "query_id")) match {
        case (None, None) => Left(bad("Either query_id or sql must be provided"))
        case (Some(_), Some(_)) =>
          Left(bad("Provide either query_id or sql, not both"))
        case (Some(s), None) =>
          gated(ResultStream.csvForSql(executor, s))(_ => "Internal server error")
        case (None, Some(qid)) =>
          queryResult(qid).flatMap { r =>
            try Right(ResultStream.csv(r))
            catch { case e: ResultStream.CsvExportError => Left(bad(e.getMessage)) }
          }
      }
    }
  }(streamCsv(ex, _))

  /** Columnar export: the gated SQL streamed as an Arrow IPC stream —
    * the reference's columnar result transport (executor.py:254-260)
    * surfaced as a wire format any Arrow client reads directly. sql-only
    * (buffered results live as rows; re-running the plan IS the columnar
    * path — batches stream executor → driver → socket one at a time). */
  private def exportArrow(ex: HttpExchange): Unit = stream(ex) {
    for {
      body <- jsonBody(ex)
      sql <- field(body, "sql").toRight(bad("sql must be provided"))
      df <- gated(executor.dataFrameForExport(sql))(_ => "Internal server error")
    } yield df
  } { df =>
    ex.getResponseHeaders.set("Content-Type",
      "application/vnd.apache.arrow.stream")
    ex.getResponseHeaders.set("Content-Disposition",
      "attachment; filename=\"" +
        ValueFormat.sanitizeFilename("query_results.arrow") + "\"")
    ex.sendResponseHeaders(200, 0)
    val out: OutputStream = ex.getResponseBody
    org.apache.spark.sql.GraftArrow.writeIpcStream(df, out)
    out.close()
  }

  private def streamCsv(ex: HttpExchange, chunks: Iterator[Array[Byte]]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "text/csv; charset=utf-8")
    ex.getResponseHeaders.set("Content-Disposition",
      "attachment; filename=\"" +
        ValueFormat.sanitizeFilename("query_results.csv") + "\"")
    ex.sendResponseHeaders(200, 0)
    val out: OutputStream = ex.getResponseBody
    chunks.foreach(out.write)
    out.close()
  }

  private def namespaces(ex: HttpExchange): Unit = {
    // ?parent= scopes the listing for lazy tree expansion (ref
    // catalog.py:41-103). The reference's wire form is unit-separator
    // (`accounting%1Ftax`); URI.getQuery percent-decodes, so the handler
    // sees the separator directly. A plain dotted path is accepted too (this façade's own
    // path convention).
    val parent = params(ex).opt("parent").map { p =>
      if (p.contains(graft.catalog.NamespacePath.UnitSeparator))
        graft.catalog.NamespacePath.parse(p)
      else p.split("\\.").toSeq
    }
    reply(ex)(Right(Json.obj(
      "namespaces" -> provider.listNamespaces(parent).map(_.mkString(".")))))
  }

  private def tableDetails(ex: HttpExchange, tablePath: String): Unit =
    reply(ex)(tableRef(tablePath).map { parts =>
      val d = provider.tableDetails(parts.init, parts.last)
      // Field names mirror the reference's TableDetails/Snapshot/
      // PartitionSpec response models (ref models/catalog.py:69-192,
      // routes/catalog.py:291-373): sort_order is always null there for
      // now; format is fixed "ICEBERG".
      def snapJson(sn: graft.catalog.Snapshot): Json.Raw = Json.Raw(Json.obj(
        "sequence_number" -> sn.sequenceNumber,
        "snapshot_id" -> sn.snapshotId,
        "timestamp_ms" -> sn.timestampMs,
        "manifest_list" -> sn.manifestList))
      val spec = d.partitionSpec.map { p =>
        Json.Raw(Json.obj("spec_id" -> p.specId, "fields" -> p.fields.map(f =>
          Json.Raw(Json.obj("source_id" -> f.sourceId, "field_id" -> f.fieldId,
            "name" -> f.name, "transform" -> f.transform)))))
      }.orNull
      Json.obj(
        "namespace" -> d.namespace,
        "name" -> d.table,
        "location" -> d.location,
        "format" -> "ICEBERG",
        "partition_spec" -> spec,
        "sort_order" -> null,
        "current_snapshot" -> d.currentSnapshot.map(snapJson).orNull,
        "snapshots" -> d.snapshots.map(snapJson))
    })

  private def tables(ex: HttpExchange, ns: String): Unit =
    reply(ex)(Right(Json.obj(
      "namespace" -> ns, "tables" -> provider.listTables(ns.split("\\.").toSeq))))

  private def schema(ex: HttpExchange, tablePath: String): Unit =
    reply(ex)(tableRef(tablePath).map { parts =>
      val info = provider.tableSchema(parts.init, parts.last)
      Json.obj(
        "namespace" -> info.namespace.mkString("."),
        "table" -> info.table,
        "fields" -> info.fields.map(f => Json.Raw(Json.obj(
          "name" -> f.name, "type" -> f.dataType,
          "nullable" -> f.nullable,
          "is_partition_column" -> f.isPartitionColumn))))
    })

  /** Content profile of a catalog table: one row per column with exact
    * count / null / distinct / min-max / sum-len statistics
    * (graft.ops.Profile — ONE aggregation pass over the table).
    * `?columns=a,b` restricts the profiled set; the default is every
    * non-nested column. Extends the reference's metadata-only catalog
    * introspection (routes/catalog.py) with a content-quality summary;
    * the result is one row per column, so the response is always tiny
    * even though the scan is table-sized — at warehouse scale submit the
    * same operator through the async query path instead. */
  private def profileRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    // ?group_by=<col> switches to the per-stratum report
    // (Profile.profileBy); the group column must exist and may not be
    // the only profiled column
    val groupBy = q.raw.get("group_by")
    reply(ex)(for {
      df <- table(tablePath)
      profilable = df.schema.fields.filter(_.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      }).map(_.name).toSeq
      cols = q.opt("columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(profilable)
      // validate against the PROFILABLE set, not the full schema — an
      // explicitly requested nested-type column must 400, not surface a
      // raw AnalysisException as a 500
      unknown = cols.filterNot(profilable.contains)
      _ <- check(unknown.isEmpty,
        s"Unknown or non-profilable columns: ${unknown.mkString(", ")}")
      _ <- check(cols.nonEmpty, "No profilable columns")
      _ <- check(groupBy.forall(df.columns.contains),
        s"Unknown group_by column: ${groupBy.get}")
      _ <- check(groupBy.forall(g => cols.exists(_ != g)),
        "group_by needs at least one other profiled column")
    } yield {
      // ?approx=true swaps exact count-distinct for HLL++ — the sane
      // default for warehouse-sized tables (see Profile.profile)
      val approx = q.raw.get("approx").contains("true")
      val rows = groupBy match {
        case Some(g) =>
          graft.ops.Profile.profileBy(df, g, cols.filterNot(_ == g), approx)
            .collect()
        case None => graft.ops.Profile.profile(df, cols, approx).collect()
      }
      val off = if (groupBy.isDefined) 1 else 0
      Json.obj(
        "table" -> tablePath,
        "profile" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          (Seq("column" -> (r.getString(off): Any),
            "n_rows" -> r.getLong(off + 1),
            "n_nulls" -> r.getLong(off + 2),
            "n_distinct" -> r.getLong(off + 3),
            "min" -> r.getString(off + 4),
            "max" -> r.getString(off + 5),
            "sum_len" -> optLong(r, off + 6)) ++
            groupBy.map(_ => "group" -> (r.getString(0): Any)).toSeq): _*))))
    })
  }

  /** Training-mix allocation over a catalog table
    * (`?domain=<col>&weight=<col>&budget=<long>[&epochs=<int>]`):
    * per-domain UniMax water-filling under `epochs × avail` repetition
    * caps (graft.ops.Sampling.mixtureAllocation — one keyed aggregation
    * plus a domain-count-sized closed form). Domain cardinality bounds
    * the response, same `maxLabels` contract as the balance route. */
  private def mixtureRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (domain, weight) = (q("domain"), q("weight"))
    val maxLabels = 1000
    reply(ex)(for {
      df <- table(tablePath)
      epochs <- q.int("epochs", 2)
      _ <- q.required("domain", "weight")
      budget <- budgetOf(q)
      _ <- within("epochs", epochs, 1)
      _ <- columns(df, domain, weight)
      _ <- numericColumn(df, weight, "Weight")
      // same convention as balanceRoute: a non-groupable domain column
      // is a caller error, not a surfaced AnalysisException
      _ <- groupableColumn(df, domain)
      rows = graft.ops.Sampling.mixtureAllocation(df, domain, weight,
          org.apache.spark.sql.functions.expr(s"avail * $epochs"), budget)
        .limit(maxLabels + 1).collect()
      _ <- check(rows.length <= maxLabels,
        s"Column $domain has more than $maxLabels distinct " +
          "values — mixture reports are for domain-like columns")
    } yield Json.obj(
      "table" -> tablePath,
      "domain" -> domain,
      "weight" -> weight,
      "budget" -> budget,
      "epochs_cap" -> epochs.toLong,
      "allocation" -> rows.toSeq.map(r => Json.Raw(Json.obj(
        "domain" -> (if (r.isNullAt(0)) null else String.valueOf(r.get(0))),
        "avail" -> r.getLong(1),
        "cap" -> r.getLong(2),
        "alloc" -> r.getLong(3),
        "epochs_ppm" -> r.getLong(4))))))
  }

  /** Dedup-threshold sensitivity sweep over any catalog table
    * (`?text=<col>&id=<col>[&thresholds=0.5,0.7,0.9]`):
    * graft.ops.Dedup.thresholdSweep — per candidate Jaccard threshold,
    * the qualifying pair count, documents touched, documents a one-hop
    * min-id dedup would drop, and the drop rate in ppm. The similarity
    * join runs once at the lowest candidate; the response is one bounded
    * row per threshold (the audit a curation UI reads before committing
    * to a threshold). */
  private def dedupSweepRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (textCol, idCol) = (q("text"), q("id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("text", "id")
      _ <- columns(df, textCol, idCol)
      _ <- stringColumn(df, textCol)
      _ <- integralColumn(df, idCol)
      thresholds <- q.raw.get("thresholds")
        .fold[Read[Seq[Double]]](Right(Seq(0.5, 0.6, 0.7, 0.8, 0.9))) { raw =>
          val parsed = raw.split(",").toSeq.map(_.trim).map(_.toDoubleOption)
          for {
            _ <- check(parsed.nonEmpty && parsed.forall(_.isDefined),
              "thresholds must be a comma-separated list of numbers")
            ts = parsed.flatten
            _ <- check(!ts.exists(t => t <= 0.0 || t > 1.0) && ts.length <= 16,
              "thresholds must be in (0, 1], at most 16 values")
          } yield ts
        }
    } yield {
      // thresholdSweep localCheckpoints its shared pair set — release it
      // under the op-sweep discipline (withOpSweep)
      val rows = withOpSweep {
        graft.ops.Dedup.thresholdSweep(df, textCol, idCol, thresholds).collect()
      }
      Json.obj(
        "table" -> tablePath,
        "text" -> textCol,
        "id" -> idCol,
        "sweep" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "threshold" -> r.getDouble(0),
          "n_pairs" -> r.getLong(1),
          "n_docs_touched" -> r.getLong(2),
          "n_dropped" -> r.getLong(3),
          "drop_ppm" -> r.getLong(4)))))
    })
  }

  /** Substring-level (ExactSubstr) dedup excision audit over any catalog
    * table (`?text=<col>&id=<col>[&anchor=5][&max_doc_freq=1]
    * [&limit=100]`): graft.ops.Dedup.substringDedup — the curation UI's
    * "what did ExactSubstr remove" view. The response carries the corpus
    * rollup (docs affected, words dropped, excised spans, drop ppm — the
    * number a curator compares against the dedup-sweep route before
    * committing) plus the `limit` most-affected documents by
    * (n_dropped desc, id), default 100, cap 1000. `kept_text` is
    * deliberately NOT served: the excised corpus is a dataset to write,
    * not a payload (the epoch-plan route's argument). */
  private def substringDedupRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val q = params(ex)
    val (textCol, idCol) = (q("text"), q("id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("text", "id")
      _ <- columns(df, textCol, idCol)
      _ <- stringColumn(df, textCol)
      _ <- integralColumn(df, idCol)
      anchor <- q.int("anchor", 5, 1, 64)
      maxDocFreq <- q.int("max_doc_freq", 1, lo = 1)
      limit <- q.int("limit", 100, 0, 1000)
    } yield withOpSweep {
      val rep = graft.ops.Dedup.substringDedup(df, textCol, idCol,
        anchor, maxDocFreq).drop("kept_text").persist()
      try {
        val r = rep.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_dropped") > 0, 1L).otherwise(0L))
            .as("n_docs_affected"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_dropped")).as("total_dropped"),
          sum(col("n_spans")).as("total_spans")).collect()(0)
        def lg(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
        val (nDocs, nAffected) = (lg(0), lg(1))
        val (totWords, totDropped, totSpans) = (lg(2), lg(3), lg(4))
        val dropPpm =
          if (totWords == 0L) 0L else 1000000L * totDropped / totWords
        val sample = rep
          .orderBy(col("n_dropped").desc, col("id")).limit(limit).collect()
        Json.obj(
          "table" -> tablePath,
          "text" -> textCol,
          "id" -> idCol,
          "anchor_words" -> anchor.toLong,
          "max_doc_freq" -> maxDocFreq.toLong,
          "n_docs" -> nDocs,
          "n_docs_affected" -> nAffected,
          "total_words" -> totWords,
          "total_dropped" -> totDropped,
          "total_spans" -> totSpans,
          "drop_ppm" -> dropPpm,
          "most_affected" -> sample.toSeq.map(row => Json.Raw(Json.obj(
            "id" -> String.valueOf(row.get(0)),
            "n_words" -> row.getLong(1),
            "n_dropped" -> row.getLong(2),
            "n_spans" -> row.getLong(3)))))
      } finally rep.unpersist()
    })
  }

  /** The corpus-build parameter set shared by the data-card and
    * incremental-build routes. */
  private case class BuildParams(
      text: String, id: String, domain: String, length: String,
      budget: Long, epochs: Int, crossT: Double, dedupT: Double,
      minQ: Double, langs: Seq[String])

  /** Read the corpus-build request surface (columns, budget, epochs,
    * curation thresholds, langs, and the max_rows scale guard) against
    * `df`'s schema, in the order HttpFacadeSpec pins for the data card.
    * `budgetDefault` differs per route: the full build spends 70 k by
    * default, an increment spends its own 20 k. */
  private def buildParams(q: Params, df: DataFrame,
      budgetDefault: Long): Read[BuildParams] = {
    val (text, id, domain, length) =
      (q("text"), q("id"), q("domain"), q("length"))
    for {
      _ <- q.required("text", "id", "domain", "length")
      _ <- columns(df, text, id, domain, length)
      _ <- stringColumn(df, text)
      _ <- integralColumn(df, id)
      _ <- numericColumn(df, length, "Length")
      _ <- groupableColumn(df, domain)
      budget <- q.long("budget", Some(budgetDefault), lo = 0)
      epochs <- q.int("epochs", 2, lo = 1)
      // curation knobs: the x08/x10 tuning loop drives the capstone
      // through these — a threshold sweep over the card is how a
      // release picks its dedup configuration
      crossT <- q.threshold("cross_threshold", 0.5)
      dedupT <- q.threshold("dedup_threshold", 0.7)
      minQ <- q.threshold("min_quality", 0.6)
      langs <- q.list("langs", Seq("en", "de", "fr"),
        "langs must be a non-empty comma-separated list")(Some(_))
      // audit-scale guard: both routes run a FULL p14-shaped composition
      // (two similarity joins, token counting, transitive dedup)
      // synchronously inside a GET — refuse corpora beyond the cap so one
      // request can't pin the session for minutes. The full per-(doc,
      // copy) plan at scale is a dataset JOB, not a payload.
      maxRows <- q.long("max_rows", Some(100000L), lo = 1)
      // the guard itself must not scan the corpus to decide whether
      // scanning is too expensive: a LIMIT-ed count short-circuits the
      // scan at maxRows+1 rows (CollectLimit takes partitions
      // incrementally), so the refusal costs O(maxRows) regardless of
      // table size — a full df.count() here would read all 100 TB first.
      // LIMIT takes an Int; a max_rows beyond Int range can't be probed
      // that way, so the over-2.1B escape hatch falls back to a full
      // count (the caller explicitly accepted a table of that size — the
      // count costs a metadata-or-full scan once, not silently refusing
      // at a clamped cap the caller never asked for)
      over =
        if (maxRows < Int.MaxValue.toLong)
          df.limit(maxRows.toInt + 1).count() > maxRows
        else df.count() > maxRows
      _ <- check(!over, s"Table has more than $maxRows rows, " +
        s"over the data-card cap (raise max_rows to override)", 413)
    } yield BuildParams(text, id, domain, length, budget, epochs, crossT,
      dedupT, minQ, langs)
  }

  /** Release data card over any catalog table
    * (`?text=<col>&id=<col>&domain=<col>&length=<col>[&budget=<long>]
    * [&epochs=<int>]`): graft.ops.CorpusBuild — runs the full p14
    * corpus-build composition (filter → split → decontaminate → dedup →
    * mixture/epochs → pack → shuffle) and serves the x09 one-row
    * rollup: corpus size, survivors, per-reason rejection counts, and
    * the mix realization (docs, copies, tokens, bins, max position).
    * The per-(doc, copy) plan itself is a dataset to write, not a
    * payload (the epoch-plan route's argument) — the card is the
    * UI-sized summary. */
  private def dataCardRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    reply(ex)(for {
      df <- table(tablePath)
      p <- buildParams(q, df, budgetDefault = 70000L)
    } yield {
      // release the composition's localCheckpoints when the card is done
      // (op-sweep discipline: see withOpSweep)
      val card = withOpSweep {
        graft.ops.CorpusBuild.dataCard(
          graft.ops.CorpusBuild.corpusBuild(df, p.text, p.id,
            p.domain, p.length, allowedLangs = p.langs,
            minQuality = p.minQ, crossThreshold = p.crossT,
            dedupThreshold = p.dedupT, epochCap = p.epochs,
            budget = p.budget)).collect()(0)
      }
      val fields = card.schema.fieldNames.zipWithIndex
      Json.obj(Seq[(String, Any)](
        "table" -> tablePath,
        "text" -> p.text,
        "id" -> p.id,
        "domain" -> p.domain,
        "length" -> p.length,
        "budget" -> p.budget,
        "epochs_cap" -> p.epochs.toLong,
        "cross_threshold" -> p.crossT,
        "dedup_threshold" -> p.dedupT,
        "min_quality" -> p.minQ,
        "langs" -> p.langs.mkString(",")) ++
        fields.map { case (f, i) => f -> card.getLong(i) }: _*)
    })
  }

  /** Incremental corpus build over any catalog table
    * (`?text=&id=&domain=&length=&delta_from=<long>[&existing=<ns.table>]
    * [&budget=][&existing_budget=][&epochs=][&cross_threshold=]
    * [&dedup_threshold=][&min_quality=][&langs=][&max_rows=]`): the p16
    * daily-increment capstone served the way the data card serves p14.
    * Rows with `id >= delta_from` are today's batch; rows below it are
    * the EXISTING corpus. The prior build state comes from one of two
    * places: `existing=<ns.table>` names a PERSISTED
    * [[graft.ops.CorpusBuild.corpusBuild]] output table
    * (shape-validated like dedup-probe's index table) — the production
    * form, where the release pipeline wrote the build once and every
    * increment reads shipped state instead of re-running the pipeline
    * per request (the d18 pattern — compute once, store, probe —
    * completed for the build family: the stored rows feed the
    * increment's three interface projections as pruned scans, never a
    * recompute). Without `existing`, the build is recomputed inline
    * under `existing_budget` (default 70 k) — the demo form, one table
    * in, one increment verdict out. The two are mutually exclusive
    * (`existing_budget` parameterizes a recompute that `existing`
    * replaces — supplying both is a 400, the export route's sql-XOR-
    * query_id convention). The response is the dataCard rollup of the
    * DELTA rows only (shipped artifacts are immutable — the increment's
    * own docs, copies, tokens, fresh-shard bins) plus `existing_copies`,
    * the position offset the increment appended after: new positions
    * start at `existing_copies` and `max_pos` ends the EXTENDED training
    * order. `budget` is the increment's own spend, default 20 k; the
    * max_rows guard caps the whole table since both sides are scanned
    * (with `existing` the corpus side contributes only the id-joined
    * eval/canonical text reads, but the guard stays conservative — the
    * delta is unbounded by the split point). */
  private def incrementalBuildRoute(ex: HttpExchange,
      tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, when}
    val q = params(ex)
    val existingPath = q.opt("existing")
    reply(ex)(for {
      df <- table(tablePath)
      p <- buildParams(q, df, budgetDefault = 20000L)
      deltaFrom <- q.long("delta_from")
      existingBudget <- q.long("existing_budget", Some(70000L), lo = 0)
      existingTable <- whenGiven(existingPath) { path =>
        for {
          _ <- check(!q.raw.contains("existing_budget"), "Provide either " +
            "existing (a stored build table) or existing_budget (an inline " +
            "recompute), not both")
          t <- stored(path, "existing build", Seq("id", "kept", "reason",
            "split", "w", "copy", "pack_shard", "pack_bin", "pos"))
        } yield t
      }
    } yield {
      val corpus = df.filter(col(p.id) < deltaFrom)
      val delta = df.filter(col(p.id) >= deltaFrom)
      val (card, existingCopies) = withOpSweep {
        // the stored form reads shipped state as-is: its consumers
        // (eval ids, canonicals, position offset, existing_copies) are
        // each a pruned scan of a narrow table, checkpointed at the
        // interface inside incrementalBuild. The recompute form
        // checkpoints the live build ONCE — an un-checkpointed plan
        // would re-run the whole existing pipeline per consumer
        val existing = existingTable.getOrElse(
          org.apache.spark.sql.GraftCheckpoint.freshStats(
            graft.ops.CorpusBuild.corpusBuild(corpus, p.text, p.id,
              p.domain, p.length, allowedLangs = p.langs,
              minQuality = p.minQ, crossThreshold = p.crossT,
              dedupThreshold = p.dedupT, epochCap = p.epochs,
              budget = existingBudget)))
        val incr = graft.ops.CorpusBuild.incrementalBuild(
          existing, corpus, delta, p.text, p.id, p.domain, p.length,
          allowedLangs = p.langs, minQuality = p.minQ,
          crossThreshold = p.crossT, dedupThreshold = p.dedupT,
          epochCap = p.epochs, deltaBudget = p.budget)
        (graft.ops.CorpusBuild.dataCard(incr).collect()(0),
          existing.agg(count(when(col("copy").isNotNull, 1)))
            .collect()(0).getLong(0))
      }
      val fields = card.schema.fieldNames.zipWithIndex
      Json.obj(Seq[(String, Any)](
        "table" -> tablePath,
        "text" -> p.text,
        "id" -> p.id,
        "domain" -> p.domain,
        "length" -> p.length,
        "delta_from" -> deltaFrom,
        "budget" -> p.budget,
        "existing" -> existingPath.orNull,
        // null when the state came from a stored table — no recompute
        // happened, so no budget parameterized it
        "existing_budget" ->
          (if (existingTable.isDefined) null
           else java.lang.Long.valueOf(existingBudget)),
        "epochs_cap" -> p.epochs.toLong,
        "cross_threshold" -> p.crossT,
        "dedup_threshold" -> p.dedupT,
        "min_quality" -> p.minQ,
        "langs" -> p.langs.mkString(","),
        "existing_copies" -> existingCopies) ++
        fields.map { case (f, i) => f -> card.getLong(i) }: _*)
    })
  }

  /** Release-shard manifest over any catalog table
    * (`?id=<col>&weight=<col>&budget=<long>[&seed=<str>][&limit=<int>]`):
    * graft.ops.Sampling.shardManifest — the p15 next-fit cut of the p08
    * training order into ~budget-weight shards, one row per shard with
    * (n_docs, w_total, first_pos, last_pos, etag, fill_ppm). This is the
    * release artifact a training job actually READS (the data card is
    * the rollup it cites): shard k's doc range, its weight, and the
    * order-independent bit_xor md5-prefix etag any engine can recompute
    * to audit a shard without downloading it. The manifest is
    * total-weight/budget-sized, so the response carries a rollup
    * (n_shards, n_docs, w_total) plus the first `limit` shard rows in
    * shard order (default 1000, cap 10000). */
  private def shardManifestRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val q = params(ex)
    val (idCol, weight) = (q("id"), q("weight"))
    val seed = q.raw.getOrElse("seed", "release")
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("id", "weight")
      budget <- q.long("budget", lo = 1)
      limit <- q.int("limit", 1000, 0, 10000)
      _ <- columns(df, idCol, weight)
      _ <- numericColumn(df, weight, "Weight")
    } yield withOpSweep {
      val manifest = graft.ops.Sampling.shardManifest(df, idCol,
        weight, seed, budget).persist()
      try {
        val tot = manifest.agg(count(lit(1)).as("n_shards"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("w_total")).as("w_total")).collect()(0)
        // the documented "first `limit` shard rows in shard order": an
        // explicit sort — an unordered limit over the manifest join
        // output returns different shards run-to-run
        val rows = manifest.orderBy(col("shard")).limit(limit).collect()
        Json.obj(
          "table" -> tablePath,
          "id" -> idCol,
          "weight" -> weight,
          "budget" -> budget,
          "seed" -> seed,
          "n_shards" -> (if (tot.isNullAt(0)) 0L else tot.getLong(0)),
          "n_docs" -> (if (tot.isNullAt(1)) 0L else tot.getLong(1)),
          "w_total" -> (if (tot.isNullAt(2)) 0L else tot.getLong(2)),
          "shards" -> rows.toSeq.map(r => Json.Raw(Json.obj(
            "shard" -> r.getLong(0),
            "n_docs" -> r.getLong(1),
            "w_total" -> r.getLong(2),
            "first_pos" -> r.getLong(3),
            "last_pos" -> r.getLong(4),
            // decimal STRING, not a JSON number: the 60-bit bit_xor
            // value exceeds 2^53, so a double-based JSON parser (any JS
            // client) would silently round it and break the documented
            // recompute-to-audit contract
            "etag" -> r.getLong(5).toString,
            "fill_ppm" -> r.getLong(6)))))
      } finally manifest.unpersist()
    })
  }

  /** Probe a batch table against a STORED dedup index
    * (`?index=<ns.table>&text=&id=[&threshold=][&num_hashes=][&bands=]
    * [&shingle_len=][&limit=]`): the d18 production loop over HTTP.
    * `{tablePath}` is today's batch; `index` names a catalog table
    * holding [[graft.ops.Dedup.incrementalIndex]] rows (cid, dig, csh,
    * sig) — built once per corpus release by a dataset job, probed here
    * per batch without ever re-reading the corpus text. `num_hashes`
    * must match the index's build parameter (it shapes the band join's
    * delta side; the index carries the corpus side pre-hashed) — the
    * route validates it against the stored signature length (one-row
    * probe) and 400s on mismatch, because a mismatched slice would
    * silently return empty/wrong fuzzy verdicts. `shingle_len` (default
    * 3, the build family's default) must likewise match the index's
    * build parameter; the stored shingle sets carry no length metadata,
    * so this one is the caller's contract, not a validated check.
    * Response: a rollup (n_docs, n_new, n_exact_dup, n_fuzzy_dup) plus
    * the first `limit` per-doc decisions (default 1000, cap 10000) in
    * id order. No withOpSweep: the probe checkpoints nothing — its one
    * persist (the decisions plan, shared by the rollup and the capped
    * page, released in `finally`) keeps its lineage, so it is safe to
    * hold outside the op lock and the probe runs fully concurrent with
    * the build ops (see withOpSweep's invariant for the
    * eviction-tolerance argument).
    */
  private def dedupProbeRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, size, when}
    val q = params(ex)
    val (indexPath, textCol, idCol) = (q("index"), q("text"), q("id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("index", "text", "id")
      index <- stored(indexPath, "index", Seq("cid", "dig", "csh", "sig"))
      _ <- columns(df, textCol, idCol)
      _ <- stringColumn(df, textCol)
      threshold <- q.threshold("threshold", 0.8)
      numHashes <- q.int("num_hashes", 128, 1, 1024)
      bands <- q.int("bands", 32)
      _ <- check(!q.raw.contains("bands") || bands >= 1 && numHashes % bands == 0,
        s"bands must be a positive divisor of num_hashes ($numHashes)")
      shingleLen <- q.int("shingle_len", 3, 1, 32)
      limit <- q.int("limit", 1000, 0, 10000)
      // the stored signatures fix num_hashes at build time; a probe run
      // with a different value would slice mismatched-length arrays and
      // return silently-wrong fuzzy verdicts — a caller error, surfaced
      // as 400 off a one-row probe (never a full index scan)
      storedLen = index.select(size(col("sig")).as("n")).limit(1)
        .collect().headOption.map(_.getInt(0))
      _ <- check(storedLen.forall(_ == numHashes), s"num_hashes ($numHashes) " +
        s"does not match the index's signature length (${storedLen.get})")
    } yield {
      // one persist, two actions (rollup + capped page): without it the
      // band join and Jaccard verify would run twice per request. The
      // persist deliberately runs OUTSIDE the op lock (lineage kept —
      // see withOpSweep's invariant): a concurrent build op's sweep may
      // evict it between the two actions, costing a recompute in that
      // rare overlap, never a wrong result — the price of keeping the
      // probe fully concurrent with the build surface
      val decisions = graft.ops.Dedup.incrementalProbe(index, df,
        textCol, idCol, shingleLen = shingleLen,
        numHashes = numHashes, bands = bands,
        threshold = threshold).persist()
      try {
        val tot = decisions.agg(
          count(lit(1)).as("n_docs"),
          count(when(col("is_new"), 1)).as("n_new"),
          count(col("exact_dup_of")).as("n_exact_dup"),
          count(col("fuzzy_dup_of")).as("n_fuzzy_dup")).collect()(0)
        // the documented contract: the first `limit` decisions IN ID
        // ORDER — an unordered limit over a join output changes rows
        // run-to-run (shard-manifest's sorted-cap convention)
        val rows = decisions.orderBy(col("id")).limit(limit).collect()
        Json.obj(
          "table" -> tablePath,
          "index" -> indexPath,
          "text" -> textCol,
          "id" -> idCol,
          "threshold" -> threshold,
          "num_hashes" -> numHashes.toLong,
          "bands" -> bands.toLong,
          "shingle_len" -> shingleLen.toLong,
          "n_docs" -> tot.getLong(0),
          "n_new" -> tot.getLong(1),
          "n_exact_dup" -> tot.getLong(2),
          "n_fuzzy_dup" -> tot.getLong(3),
          "decisions" -> rows.toSeq.map(r => Json.Raw(Json.obj(
            "id" -> String.valueOf(r.get(0)),
            "exact_dup_of" ->
              (if (r.isNullAt(1)) null else String.valueOf(r.get(1))),
            "fuzzy_dup_of" ->
              (if (r.isNullAt(2)) null else String.valueOf(r.get(2))),
            "is_new" -> r.getBoolean(3)))))
      } finally { decisions.unpersist(blocking = false); () }
    })
  }

  /** ANN search over a STORED IVF index
    * (`?index=<ns.table>&centroids=<ns.table>&vec=<col>&id=<col>[&k=]
    * [&nprobe=][&limit=]`): the e21 serving loop over HTTP — the
    * dedup-probe symmetric for the embedding family. `{tablePath}` is
    * the query-vector table; `index` names a catalog table holding
    * [[graft.ops.Similarity.ivfIndex]] assignment rows (id, vec, cid),
    * written once per corpus release PARTITIONED BY cid, and
    * `centroids` its (cid, cvec) medoids. Each request probes its
    * `nprobe` nearest centroids and exact-ranks within the probed
    * inverted lists — against a cid-partitioned index table the list
    * membership join carries a dynamic-partition-pruning subquery, so
    * the request reads the probed lists' FILES, never the corpus (the
    * spec pins DPP on this exact dataflow). Response: the top-`k`
    * (query_id, rk, id, sim) rows in (query_id, rk) order, capped at
    * `limit` (default 1000, cap 10000). Read-only and persist-free —
    * one action, no op lock, fully concurrent with the build ops. */
  private def annSearchRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (indexPath, centPath, vecCol, idCol) =
      (q("index"), q("centroids"), q("vec"), q("id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("index", "centroids", "vec", "id")
      assign <- stored(indexPath, "index", Seq("id", "vec", "cid"))
      cent <- stored(centPath, "centroids", Seq("cid", "cvec"))
      _ <- columns(df, vecCol, idCol)
      _ <- arrayColumn(df, vecCol)
      // dimension agreement across all three vector sources, each a
      // one-row probe: a mismatched query would otherwise score the
      // common prefix of every corpus vector and return a 200 with
      // silently-wrong rankings (the num_hashes-vs-signature class of
      // caller error, same cheap-check remedy)
      cDim = dimOf(cent, "cvec")
      _ <- sameDims(
        (dimOf(df, vecCol), cDim, "query vectors and the centroids"),
        (dimOf(assign, "vec"), cDim, "the stored index and the centroids"))
      k <- q.int("k", 10, 1, 1000)
      nprobe <- q.int("nprobe", 2, 1, 1024)
      limit <- q.int("limit", 1000, 0, 10000)
    } yield {
      // one action: the operator's output is already (query_id, rk)-
      // ordered, so the capped page is deterministic without a persist
      val rows = HttpFacade.annSearch(df, vecCol, idCol,
        assign, cent, k, nprobe).limit(limit).collect()
      Json.obj(
        "table" -> tablePath,
        "index" -> indexPath,
        "centroids" -> centPath,
        "vec" -> vecCol,
        "id" -> idCol,
        "k" -> k.toLong,
        "nprobe" -> nprobe.toLong,
        "n_results" -> rows.length.toLong,
        "results" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "query_id" -> String.valueOf(r.get(0)),
          "rk" -> r.getInt(1).toLong,
          "id" -> String.valueOf(r.get(2)),
          "sim" -> r.getDouble(3)))))
    })
  }

  /** BM25 search over a STORED postings index
    * (`?stats=<ns.table>&terms=<a,b,c>[&k=]`): the t28 serving loop
    * over HTTP — the lexical member of the probe-route family
    * (dedup-probe, ann-search). `{tablePath}` is the postings table a
    * release job wrote once via [[graft.ops.Retrieval.bm25Index]]
    * (t, id, tf, dl — range-clustered by term, so this request's
    * In(term) predicate reads the query terms' row groups); `stats` its
    * 1-row (n_docs, total_tokens) companion. `terms` is the
    * comma-separated query bag (lowercased to match the t-series
    * tokenizer; at most 64 terms — a serving query, not a batch join).
    * Response: the top-`k` (id, n_terms_hit, score_scaled) rows in
    * (score desc, id) order — `k` IS the response cap (1..1000,
    * default 10). Read-only and persist-free (one action), outside the
    * op lock. */
  private def bm25SearchRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val statsPath = q("stats")
    reply(ex)(for {
      postings <- table(tablePath)
      missing = Seq("t", "id", "tf", "dl").filterNot(postings.columns.contains)
      _ <- check(missing.isEmpty, s"Table $tablePath is not a bm25Index " +
        s"postings table (missing: ${missing.mkString(", ")})")
      _ <- q.required("stats", "terms")
      stats <- stored(statsPath, "stats", Seq("n_docs", "total_tokens"))
      terms <- termsOf(q)
      k <- q.int("k", 10, 1, 1000)
    } yield {
      val rows = HttpFacade.bm25Search(postings, stats, terms, k).collect()
      Json.obj(
        "table" -> tablePath,
        "stats" -> statsPath,
        "terms" -> terms.mkString(","),
        "k" -> k.toLong,
        "n_results" -> rows.length.toLong,
        "results" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "id" -> String.valueOf(r.get(0)),
          "n_terms_hit" -> r.getLong(1),
          "score_scaled" -> r.getLong(2)))))
    })
  }

  /** Contamination search over a STORED fingerprint index
    * (`?index=<ns.table>&text=<col>&id=<col>[&min_shared=][&buckets=]
    * [&k=][&window=][&hash_mode=][&limit=]`): the t29 serving loop over
    * HTTP — the last member of the probe-route family (dedup-probe,
    * ann-search, bm25-search), and the route a benchmark-release
    * workflow actually calls: "is this new eval set in our corpus?".
    * `{tablePath}` is the probe table (the eval candidates); `index`
    * names a catalog table holding
    * [[graft.ops.TextAnalysis.contaminationIndex]] rows (cid, fp, fpb),
    * written once per corpus release PARTITIONED BY fpb. The probe
    * fingerprints the candidates, broadcasts them onto the stored scan —
    * which therefore carries a dynamic-partition-pruning subquery, so
    * the request reads the probe's BUCKETS' files, never the corpus's
    * inverted table (the spec pins DPP on this exact dataflow).
    * `k`/`window`/`hash_mode` must be the index's build parameters (the
    * release's metadata contract); `buckets` is validated against a
    * bounded sample of the stored rows and a mismatch is a 400 — a
    * wrong modulus would return silent false NEGATIVES from a safety
    * check, the one failure mode this route must never have. Response:
    * (id, probe_id, n_shared) rows with n_shared >= `min_shared`, in
    * (id, probe_id) order, capped at `limit` — the operator's output is
    * already totally ordered, so the capped page is deterministic
    * without a persist. Read-only, one action, outside the op lock. */
  private def contaminationSearchRoute(ex: HttpExchange,
      tablePath: String): Unit = {
    val q = params(ex)
    val (indexPath, textCol, idCol) = (q("index"), q("text"), q("id"))
    val hashMode = q.raw.getOrElse("hash_mode", "xx")
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("index", "text", "id")
      index <- stored(indexPath, "index", Seq("cid", "fp", "fpb"))
      _ <- columns(df, textCol, idCol)
      _ <- stringColumn(df, textCol)
      minShared <- q.int("min_shared", 2, 1, 10000)
      buckets <- q.int("buckets", 64, 1, 65536)
      k <- q.int("k", 8, 1, 64)
      window <- q.int("window", 4, 1, 64)
      _ <- check(Seq("xx", "md5").contains(hashMode),
        "hash_mode must be xx or md5")
      limit <- q.int("limit", 1000, 0, 10000)
      // the operator's bucket validation is a caller error here, not a
      // 500: the index was built with one modulus and the request named
      // another
      result <- callerError(HttpFacade.contaminationSearch(df, textCol,
        idCol, index, k, window, minShared, hashMode, buckets))
    } yield {
      val rows = result.limit(limit).collect()
      Json.obj(
        "table" -> tablePath,
        "index" -> indexPath,
        "text" -> textCol,
        "id" -> idCol,
        "min_shared" -> minShared.toLong,
        "buckets" -> buckets.toLong,
        "k" -> k.toLong,
        "window" -> window.toLong,
        "hash_mode" -> hashMode,
        "n_results" -> rows.length.toLong,
        "results" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "id" -> String.valueOf(r.get(0)),
          "probe_id" -> String.valueOf(r.get(1)),
          "n_shared" -> r.getInt(2).toLong))))
    })
  }

  /** Perceptual media search over a STORED signature index
    * (`?index=<ns.sigs>&meta=<ns.meta>[&id=id][&payload=payload]
    * [&format=format][&limit=1000][&broadcast=true|false]` —
    * `broadcast=false` for a corpus-sized probe table, trading a
    * shuffle join for the broadcast limit): the m05 serving loop — the
    * media family's symmetric of contamination-search/bm25-search,
    * closing the family's HTTP-serving checklist entry. `{tablePath}`
    * is the probe table of arriving media (an integral id column, a
    * BINARY payload column, a string format column — `format` accepts
    * a dotted struct field like `meta.format`); `index` names a stored
    * [[graft.ops.Multimodal.mediaSignatureIndex]] signature table
    * (written once per release PARTITIONED BY sb) and `meta` its 1-row
    * geometry. Each request histograms its OWN payloads map-side,
    * derives grid cells under the released geometry, and DPP-probes
    * the store — corpus payloads are never read. The operator's
    * geometry validation (a meta that disagrees with the stored rows)
    * surfaces as a 400, not a 500. Response: (id, probe_id) near-dup
    * matches at the release threshold, id-ordered, capped at `limit`.
    * Read-only, outside the op lock. */
  private def mediaSearchRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    val q = params(ex)
    val (indexPath, metaPath) = (q("index"), q("meta"))
    val idCol = q.raw.getOrElse("id", "id")
    val payloadCol = q.raw.getOrElse("payload", "payload")
    val formatCol = q.raw.getOrElse("format", "format")
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("index", "meta")
      limit <- q.int("limit", 1000, 0, 10000)
      // a corpus-sized probe table must not ride the broadcast path
      // (the operator 9x-replicates and broadcasts the probe keys —
      // fine for an arriving batch, an OOM/8 GB-limit hazard for a
      // whole corpus); nothing restricts what table a caller points
      // here, so the route exposes the operator's own escape hatch
      broadcastProbe <- Map("true" -> true, "false" -> false)
        .get(q.raw.getOrElse("broadcast", "true"))
        .toRight(bad("broadcast must be true or false"))
      index <- stored(indexPath, "index",
        Seq("id", "format", "hist", "nn", "c1", "c2", "sb"))
      metaDf <- stored(metaPath, "meta",
        Seq("bin1", "bin2", "threshold_ppm", "n_buckets"))
      _ <- columns(df, idCol, payloadCol)
      _ <- integralColumn(df, idCol)
      _ <- typedColumn(df, payloadCol, "Payload", "a binary column")(
        _ == BinaryType)
      // format may be a dotted struct field — resolve through select
      probeMedia <- try Right(df.select(
          col(idCol).cast("long").as("id"),
          col(payloadCol).as("payload"),
          struct(col(formatCol).cast("string").as("format"),
            lit(0).as("width"), lit(0).as("height"), lit(0L).as("n_bytes"))
            .as("meta")))
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            Left(bad(s"Unknown format column $formatCol: ${e.getMessage}"))
        }
      // geometry drift is a caller error (wrong meta for this index),
      // not a 500
      result <- callerError(graft.ops.Multimodal.mediaSignatureProbe(index,
        metaDf, probeMedia, broadcastProbe))
    } yield {
      val rows = result.orderBy(col("id"), col("probe_id"))
        .limit(limit).collect()
      Json.obj(
        "table" -> tablePath,
        "index" -> indexPath,
        "meta" -> metaPath,
        "id" -> idCol,
        "payload" -> payloadCol,
        "format" -> formatCol,
        "n_results" -> rows.length.toLong,
        "results" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "id" -> r.getAs[Number](0).longValue(),
          "probe_id" -> r.getAs[Number](1).longValue()))))
    })
  }

  /** ANN search over a STORED compressed (IVF-PQ) index
    * (`?index=<ns.table>&centroids=<ns.table>&codebook=<ns.table>
    * &vec=<col>&id=<col>&m=<n>&dim=<n>[&k=][&nprobe=][&limit=]`): the
    * e23 serving loop over HTTP — ann-search's symmetric for the
    * compressed tier, where the corpus at rest is m small ints per
    * vector instead of the float array. `{tablePath}` is the
    * query-vector table; `index` names a stored
    * [[graft.ops.Similarity.ivfPqIndex]] codes table (id, sub, code,
    * cid — written once per release PARTITIONED BY cid), `centroids`
    * the released (cid, cvec) medoids and `codebook` the released
    * (code, sub, cvec) codeword table. Each request probes its `nprobe`
    * nearest lists and ADC-ranks their code rows against the broadcast
    * distance table — the DPP subquery prunes the codes read to the
    * probed lists' files, and raw vectors are never read. `m`/`dim`
    * must match the release's coding geometry (`dim` is validated
    * against the query vectors; a codebook whose subvectors disagree
    * with dim/m is a 400 — mis-sliced ADC tables would silently score
    * garbage). Response: top-`k` (query_id, rk, id, dist) rows,
    * approximated squared L2 ascending, capped at `limit`.
    *
    * With `raw=<ns.table>` (the cid-partitioned
    * [[graft.ops.Similarity.ivfIndex]] assignment store) the route
    * serves the TWO-STAGE e26 path instead: the codes nominate
    * `k_coarse` candidates (default 50) and only those candidates' raw
    * vectors are fetched — through the same probed-lists DPP — for the
    * exact-cosine re-rank; rows then carry `sim` (cosine, descending)
    * in place of `dist`. `k_coarse` < `k` is a 400 (the refine stage
    * can only narrow). Read-only and persist-free, outside the op
    * lock. */
  private def pqSearchRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (indexPath, centPath, cbPath, vecCol, idCol) =
      (q("index"), q("centroids"), q("codebook"), q("vec"), q("id"))
    val rawPath = q.opt("raw")
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("index", "centroids", "codebook", "vec", "id")
      codes <- stored(indexPath, "index", Seq("id", "sub", "code", "cid"))
      cent <- stored(centPath, "centroids", Seq("cid", "cvec"))
      codebook <- stored(cbPath, "codebook", Seq("code", "sub", "cvec"))
      _ <- columns(df, vecCol, idCol)
      _ <- arrayColumn(df, vecCol)
      m <- q.int("m", 4, 1, 4096)
      dim <- q.int("dim", 64, 1, 65536)
      _ <- check(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
      // geometry agreement, each a one-row probe: query vectors must
      // carry `dim` coordinates (a shorter query would null-pad and be
      // dropped — an empty 200), centroid vectors must match the query
      // dim (coarse probing scores the common prefix otherwise), and
      // codebook subvectors must be dim/m wide (a mis-sliced ADC table
      // scores garbage with a 200)
      _ <- sameDims(
        (dimOf(df, vecCol), Some(dim), "the query vectors and dim"),
        (dimOf(cent, "cvec"), Some(dim), "the centroids and dim"),
        (dimOf(codebook, "cvec"), Some(dim / m),
          "the codebook subvectors and dim/m"))
      k <- q.int("k", 10, 1, 1000)
      nprobe <- q.int("nprobe", 2, 1, 1024)
      limit <- q.int("limit", 1000, 0, 10000)
      kCoarse <- q.int("k_coarse", 50, 1, 10000)
      raw <- whenGiven(rawPath)(stored(_, "raw", Seq("id", "vec", "cid")))
      _ <- check(raw.isEmpty || kCoarse >= k, s"k_coarse=$kCoarse must be " +
        s">= k=$k — the refine stage can only narrow the candidate pool")
    } yield {
      // one action: both operators' output is (query_id, rk)-ordered
      val valueField = if (raw.isDefined) "sim" else "dist"
      val rows = (raw match {
        case Some(r) => HttpFacade.pqRerank(df, vecCol, idCol,
          codes, cent, codebook, r, m, dim, k, kCoarse, nprobe)
        case None => HttpFacade.pqSearch(df, vecCol, idCol,
          codes, cent, codebook, m, dim, k, nprobe)
      }).limit(limit).collect()
      Json.obj(
        "table" -> tablePath,
        "index" -> indexPath,
        "centroids" -> centPath,
        "codebook" -> cbPath,
        "vec" -> vecCol,
        "id" -> idCol,
        "m" -> m.toLong,
        "dim" -> dim.toLong,
        "k" -> k.toLong,
        "nprobe" -> nprobe.toLong,
        "raw" -> rawPath.orNull,
        "k_coarse" -> (if (raw.isDefined) kCoarse.toLong else null),
        "n_results" -> rows.length.toLong,
        "results" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "query_id" -> String.valueOf(r.get(0)),
          "rk" -> r.getInt(1).toLong,
          "id" -> r.getLong(2),
          valueField -> r.getDouble(3)))))
    })
  }

  /** Hybrid search over TWO stored indexes
    * (`?postings=<ns.table>&stats=<ns.table>&index=<ns.table>
    * &centroids=<ns.table>&terms=<a,b,c>&vec=<col>&id=<col>
    * &query_id=<n>[&k=][&k_bm25=][&k_dense=][&nprobe=][&c=]`): the t32
    * serving loop over HTTP — ONE request answered from two index
    * families with zero corpus reads, the capstone of the probe-route
    * family. `{tablePath}` is the query-vector table and `query_id`
    * names the dense query row; `postings`/`stats` are the stored
    * [[graft.ops.Retrieval.bm25Index]] pair (the In(term) predicate
    * reads the query terms' row groups), `index`/`centroids` the stored
    * [[graft.ops.Similarity.ivfIndex]] pair (the list-membership join
    * carries a DPP subquery over the cid partitions). The lexical
    * top-`k_bm25` and dense top-`k_dense` lists fuse by reciprocal rank
    * (constant `c`, default 60) into the top-`k` response — the fusion
    * stage operates on two k-row lists, never a corpus-sized row set.
    * Response rows: (id, rank_bm25, rank_dense, n_lists, rrf_scaled),
    * rrf descending, ties by id; absent-from-list ranks are null.
    * Read-only and persist-free (one 1-row existence probe + one
    * action), outside the op lock. */
  private def hybridSearchRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val q = params(ex)
    val (postingsPath, statsPath, indexPath, centPath, vecCol, idCol) =
      (q("postings"), q("stats"), q("index"), q("centroids"), q("vec"),
        q("id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("postings", "stats", "index", "centroids", "terms",
        "vec", "id", "query_id")
      queryId <- q.long("query_id")
      postings <- stored(postingsPath, "postings", Seq("t", "id", "tf", "dl"))
      stats <- stored(statsPath, "stats", Seq("n_docs", "total_tokens"))
      assign <- stored(indexPath, "index", Seq("id", "vec", "cid"))
      cent <- stored(centPath, "centroids", Seq("cid", "cvec"))
      _ <- columns(df, vecCol, idCol)
      _ <- arrayColumn(df, vecCol)
      terms <- termsOf(q)
      // dimension agreement (the ann-search device): a mismatched query
      // vector would null out of the cosine and silently degrade the
      // response to the lexical list alone with a 200 — worse here than
      // in ann-search, because a fused result LOOKS complete
      cDim = dimOf(cent, "cvec")
      _ <- sameDims(
        (dimOf(df, vecCol), cDim, "query vectors and the centroids"),
        (dimOf(assign, "vec"), cDim, "the stored index and the centroids"))
      k <- q.int("k", 10, 1, 1000)
      kBm25 <- q.int("k_bm25", 20, 1, 1000)
      kDense <- q.int("k_dense", 20, 1, 1000)
      nprobe <- q.int("nprobe", 2, 1, 1024)
      c <- q.int("c", 60, 0, 100000)
      queries = df.filter(col(idCol) === queryId)
      // a missing query row would silently return the lexical list
      // alone with a 200 — the 1-row pushed-filter probe makes it a 404
      _ <- check(queries.select(col(idCol)).limit(1).collect().nonEmpty,
        s"query_id $queryId not found in $tablePath", 404)
      // the operators' integral-id requires are caller errors here (a
      // string-id postings or index table), not 500s
      fused <- callerError(HttpFacade.hybridSearch(queries, vecCol, idCol,
        assign, cent, postings, stats, terms, kBm25, kDense, nprobe, c, k))
    } yield {
      // one action: rrfFusion's output is (rrf desc, id)-ordered and
      // k-capped, so the page is deterministic without a persist
      val rows = fused.collect()
      Json.obj(
        "table" -> tablePath,
        "postings" -> postingsPath,
        "stats" -> statsPath,
        "index" -> indexPath,
        "centroids" -> centPath,
        "terms" -> terms.mkString(","),
        "query_id" -> queryId,
        "k" -> k.toLong,
        "k_bm25" -> kBm25.toLong,
        "k_dense" -> kDense.toLong,
        "nprobe" -> nprobe.toLong,
        "c" -> c.toLong,
        "n_results" -> rows.length.toLong,
        "results" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "id" -> r.getLong(0),
          "rank_bm25" -> optLong(r, 1),
          "rank_dense" -> optLong(r, 2),
          "n_lists" -> r.getLong(3),
          "rrf_scaled" -> r.getLong(4)))))
    })
  }

  /** Release-wide freshness audit
    * (`GET /api/v1/catalog/release-audit?families=<spec>[;<spec>...]`,
    * each spec `name:corpus.table:id_col:index.table:index_id_col`):
    * the x13 dashboard served as a CATALOG-level route — it audits a
    * whole release, so unlike the per-table probe routes it hangs off
    * no single `{tablePath}`. Every family is validated like
    * index-audit's pair (dotted paths, existence, integral id columns
    * — surfaced as 400s/404s naming the family), then one
    * [[graft.ops.Profile.releaseAudit]] run returns the per-family
    * verdict rows (n_corpus / n_indexed / n_covered / n_unindexed /
    * n_orphaned / fresh_ppm), family-ordered. At most 16 families — a
    * release dashboard, not a batch join. Read-only, |families| × two
    * pruned id columns, outside the op lock. */
  private def releaseAuditRoute(ex: HttpExchange): Unit = {
    val q = params(ex)
    reply(ex)(for {
      famRaw <- q.opt("families").toRight(bad("families parameter is " +
        "required (name:corpus.table:id_col:index.table:index_id_col)"))
      specs = famRaw.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
      _ <- check(specs.nonEmpty && specs.length <= 16, "families must list " +
        "1 to 16 specs — a release dashboard, not a batch join")
      parsed = specs.map(_.split(":", -1).toSeq)
      _ <- parsed.find(_.length != 5).map(spec => bad(s"Invalid family " +
        s"spec '${spec.mkString(":")}' — expected " +
        "name:corpus.table:id_col:index.table:index_id_col")).toLeft(())
      names = parsed.map(_.head)
      _ <- check(names.distinct.length == names.length,
        "family names must be distinct")
      families <- each(parsed) {
        case Seq(name, corpusPath, idCol, indexPath, indexIdCol) =>
          for {
            corpus <- stored(corpusPath, s"family '$name' corpus", Seq(idCol))
            index <- stored(indexPath, s"family '$name' index",
              Seq(indexIdCol))
            // the indexAudit contract surfaced per family: a non-integral
            // id would cast to null and report a fresh index fully stale
            _ <- integralColumn(corpus, idCol, s"Family '$name' id")
            _ <- integralColumn(index, indexIdCol, s"Family '$name' index id")
          } yield (name, corpus, idCol, index, indexIdCol)
      }
    } yield {
      val rows = graft.ops.Profile.releaseAudit(families).collect()
      Json.obj(
        "n_families" -> rows.length.toLong,
        "families" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "family" -> r.getString(0),
          "n_corpus" -> r.getLong(1),
          "n_indexed" -> r.getLong(2),
          "n_covered" -> r.getLong(3),
          "n_unindexed" -> r.getLong(4),
          "n_orphaned" -> r.getLong(5),
          "fresh_ppm" -> r.getLong(6)))))
    })
  }

  /** Stored-index freshness audit over any catalog table
    * (`?index=<ns.table>&id=<col>&index_id=<col>`): the x11 health
    * check served next to the probe routes it guards — `{tablePath}` is
    * the corpus, `index` any stored index table (dedup index, IVF
    * assignments, BM25 postings), and the response is
    * graft.ops.Profile.indexAudit's one-row verdict (n_corpus /
    * n_indexed / n_covered / n_unindexed / n_orphaned / fresh_ppm —
    * unindexed docs mean append lag → backfill; orphaned index rows
    * mean delete lag → compact). Both id columns must be integral (the
    * audit's contract — non-numeric ids would cast to null and report
    * a fresh index as fully stale; a 400 here, not a 500). Read-only,
    * one pruned id column per side, outside the op lock. */
  private def indexAuditRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (indexPath, idCol, indexIdCol) = (q("index"), q("id"), q("index_id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("index", "id", "index_id")
      index <- stored(indexPath, "index", Seq(indexIdCol))
      _ <- columns(df, idCol)
      _ <- integralColumn(df, idCol)
      _ <- integralColumn(index, indexIdCol, "Index id")
    } yield {
      val r = graft.ops.Profile.indexAudit(df, idCol,
        index, indexIdCol).collect()(0)
      Json.obj(
        "table" -> tablePath,
        "index" -> indexPath,
        "id" -> idCol,
        "index_id" -> indexIdCol,
        "n_corpus" -> r.getLong(0),
        "n_indexed" -> r.getLong(1),
        "n_covered" -> r.getLong(2),
        "n_unindexed" -> r.getLong(3),
        "n_orphaned" -> r.getLong(4),
        "fresh_ppm" -> r.getLong(5))
    })
  }

  /** Model-based scoring over any catalog table
    * (`?counts=<ns.table>&totals=<ns.table>[&text=text][&id=doc_id]
    * [&limit=100]`): graft.ops.Classifier.nbScore against a STORED
    * model — the per-token class-count table and the totals, read back
    * as plain catalog tables ("engine state lives in tables"). BOTH
    * stored model layouts are served (the r13 gap — every other
    * family's route reads its maintained store directly):
    *  - one-shot (t33): a 1-row (tp, tn, v, dp, dn) totals — used
    *    as-is;
    *  - appended/streamed LEDGER (t34 / DocumentStreams `nbLabel`): a
    *    `batch_id`-stamped totals with one row per committed batch —
    *    folded IN THE ROUTE via graft.ops.Classifier.nbModelFold
    *    (counts summed per token; the non-additive vocabulary size
    *    recomputed from the folded counts; dp/dn by ledger sum), so
    *    serving an appended model needs no caller-side fold-and-
    *    re-register step.
    * The `batch_id` column is the form discriminator (it is the
    * streaming stores' reserved stamp). A batch-stamp-LESS totals with
    * more than one row is AMBIGUOUS — nbScore's head() would pick an
    * arbitrary row — and is rejected as a 400 naming both valid forms.
    * The response is the top-`limit` scored rows in id order (orderBy
    * precedes the capped collect — the r10 rule) plus the kept-count
    * summary a curation dashboard wants. The operator's
    * model-integrity requires (empty model, one-class totals) surface
    * as 400s — a broken stored artifact is a caller error, not a 500.
    * Read-only, outside the op lock; the scoring plan broadcasts the
    * vocab-sized weights table onto the corpus's tokens. */
  private def classifyRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (countsPath, totalsPath) = (q("counts"), q("totals"))
    val textCol = q.raw.getOrElse("text", "text")
    val idCol = q.raw.getOrElse("id", "doc_id")
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("counts", "totals")
      limit <- q.int("limit", 100, 1, 10000)
      countsStored <- stored(countsPath, "model counts", Seq("t", "cp", "cn"))
      totalsStored <- stored(totalsPath, "model totals", Seq("dp", "dn"))
      ledgerForm = totalsStored.columns.contains("batch_id")
      model <-
        if (ledgerForm)
          Right(graft.ops.Classifier.nbModelFold(countsStored, totalsStored))
        else {
          val missing = Seq("tp", "tn", "v")
            .filterNot(totalsStored.columns.contains)
          for {
            _ <- check(missing.isEmpty, s"Model totals table $totalsPath is " +
              "neither a one-shot model (missing columns: " +
              s"${missing.mkString(", ")}) nor a batch-stamped ledger (no " +
              "batch_id column)")
            _ <- check(totalsStored.limit(2).count() <= 1L, "Model totals " +
              s"table $totalsPath has multiple rows but no batch_id column " +
              "- ambiguous: a one-shot model totals is exactly one row; an " +
              "appendable ledger must be batch-stamped")
          } yield (countsStored, totalsStored)
        }
      _ <- columns(df, textCol, idCol)
      // same caller-error convention as box-search/bloom-check: a
      // non-integral id column is a 400, not a ClassCastException-500
      // out of the response builder's getAs[Number]
      _ <- integralColumn(df, idCol)
      scored <- callerError(graft.ops.Classifier.nbScore(df, textCol, idCol,
        model._1, model._2))
    } yield {
      // nbScore already orders by id; limit() on the ordered plan keeps
      // the capped collect deterministic. Three actions read the plan
      // (rows, kept, total) - persist so the scoring join executes
      // once, not per action (the r11 constant-factor class)
      scored.persist()
      val (rows, kept, total) = try {
        (scored.limit(limit).collect(),
          scored.filter(
            org.apache.spark.sql.functions.col("is_pos")).count(),
          scored.count())
      } finally { scored.unpersist(); () }
      Json.obj(
        "table" -> tablePath,
        "counts" -> countsPath,
        "totals" -> totalsPath,
        "model_form" -> (if (ledgerForm) "ledger" else "one_shot"),
        "n_docs" -> total,
        "n_pos" -> kept,
        "n_returned" -> rows.length.toLong,
        "docs" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "id" -> r.getAs[Number](0).longValue(),
          "n_tokens" -> r.getLong(1),
          "margin_scaled" -> r.getLong(2),
          "prior_scaled" -> r.getLong(3),
          "is_pos" -> r.getBoolean(4)))))
    })
  }

  /** Tokenizer serving over any catalog table
    * (`?merges=<ns.table>[&text=text][&id=doc_id][&limit=100]`):
    * graft.ops.TextAnalysis.bpeSegment against a STORED merge table —
    * the (rank, lhs, rhs) release artifact bpeTrain (t27) writes, read
    * back as a plain catalog table ("engine state lives in tables") —
    * making the tokenizer family symmetric with the classifier: TRAIN
    * in-query (t27), ship the merge list, APPLY over HTTP without
    * retraining. Apply-only by design: training is a corpus-sized
    * multi-round job for the SQL/batch surface; serving is a read
    * path (one codegen'd expression pass per doc, zero exchange
    * beyond the output order).
    *
    * The stored list is validated as the trainer's own contract
    * before any corpus work: ranks integral and DISTINCT (rank IS the
    * apply order — a duplicate makes the greedy pass order depend on
    * read order), sides non-null and non-empty (an empty side would
    * corrupt the separator-wrapped replace device the semantics are
    * defined by), at most 64 merges (bpeTrain's own cap — the list is
    * driver-held apply state, so an unbounded stored table must not
    * become an unbounded collect), and at least one (the native
    * expression's own contract — an empty table only comes out of
    * bpeTrain on a degenerate corpus, a broken artifact to serve
    * from, surfaced as a 400 not a 500). Response: top-`limit` rows
    * in id order (orderBy precedes the capped collect — the r10 rule)
    * plus the corpus-wide doc count. Read-only, outside the op lock. */
  private def tokenizeRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val q = params(ex)
    val mergesPath = q("merges")
    val textCol = q.raw.getOrElse("text", "text")
    val idCol = q.raw.getOrElse("id", "doc_id")
    def broken(why: String): String = s"Merges table $mergesPath $why"
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("merges")
      limit <- q.int("limit", 100, 1, 10000)
      mergesStored <- stored(mergesPath, "merges", Seq("rank", "lhs", "rhs"))
      _ <- check(isIntegral(mergesStored.schema("rank").dataType),
        broken("rank column is not an integral column"))
      nonString = Seq("lhs", "rhs")
        .filter(c => mergesStored.schema(c).dataType != StringType)
      _ <- check(nonString.isEmpty,
        broken(s"columns are not strings: ${nonString.mkString(", ")}"))
      // limit(65) bounds the collect whatever the stored table holds;
      // 65 rows back means the table is over the trainer's cap
      mergeRows = mergesStored.select(col("rank"), col("lhs"), col("rhs"))
        .orderBy(col("rank")).limit(65).collect()
      _ <- check(mergeRows.length <= 64, broken("holds more than 64 merges " +
        "- not a bpeTrain artifact (the trainer's cap; the list is " +
        "driver-held apply state)"))
      _ <- check(mergeRows.nonEmpty, broken("is empty - the segmenter needs " +
        "at least one merge (bpeTrain emits zero rows only on a degenerate " +
        "corpus)"))
      _ <- check(!mergeRows.exists(_.isNullAt(0)), broken("has a NULL rank"))
      ranks = mergeRows.map(_.getAs[Number](0).longValue())
      _ <- check(ranks.distinct.length == ranks.length,
        broken("has duplicate ranks - the apply order is ambiguous"))
      _ <- check(!mergeRows.exists(r => r.isNullAt(1) || r.isNullAt(2) ||
          r.getString(1).isEmpty || r.getString(2).isEmpty),
        broken("has a NULL or empty merge side"))
      _ <- check(mergeRows.forall(r =>
          (r.getString(1) + r.getString(2)).matches("[a-z0-9]+")),
        broken("has a merge side outside [a-z0-9]+ - not over the " +
          "segmenter's word alphabet (bpeTrain only ever learns lowercase " +
          "alphanumeric sides)"))
      merges = mergeRows.toSeq.map(r => (r.getString(1), r.getString(2)))
      _ <- columns(df, textCol, idCol)
      _ <- integralColumn(df, idCol)
      _ <- stringColumn(df, textCol)
      // the expression's own construction contract is the backstop for
      // any artifact defect the checks above don't name - a broken
      // stored table is a caller error, not a 500
      seg <- callerError(
        graft.ops.TextAnalysis.bpeSegment(df, textCol, idCol, merges))
    } yield {
      // two actions read the plan (capped collect + count) - persist so
      // the segmentation pass executes once (the r11 constant-factor
      // class; plain persist with lineage kept, fine outside the lock)
      seg.persist()
      val (rows, total) = try {
        (seg.limit(limit).collect(), seg.count())
      } finally { seg.unpersist(); () }
      // a NULL text segments to NULL counts (the expression is
      // null-intolerant, the SQL convention) - render them as JSON
      // nulls rather than NPE-500ing the whole response
      Json.obj(
        "table" -> tablePath,
        "merges" -> mergesPath,
        "n_merges" -> merges.length.toLong,
        "n_docs" -> total,
        "n_returned" -> rows.length.toLong,
        "docs" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "id" -> (if (r.isNullAt(0)) null
                   else r.getAs[Number](0).longValue()),
          "n_words" -> optLong(r, 1),
          "n_chars" -> optLong(r, 2),
          "n_tokens" -> optLong(r, 3),
          "seg_prefix" -> (if (r.isNullAt(4)) null else r.getString(4)),
          "tokens_per_char_ppm" -> optLong(r, 5)))))
    })
  }

  /** Two-dimensional box query over a STORED Z-order layout
    * (`?bounds=<ns.table>&col_a=&col_b=&lo_a=&hi_a=&lo_b=&hi_b=
    * &id=<col>[&limit=1000]`): `{tablePath}` is the layout's data
    * table (zorderWrite's zbucket-partitioned output registered as a
    * catalog table), `bounds` its 1-row parameter table, and the
    * response is the match count plus up to `limit` matching ids in
    * order — graft.ops.Layout.boxProbeTables does the candidate-bucket
    * enumeration from the bounds (closed-form driver arithmetic, no
    * data read to plan) so the scan is statically partition-pruned
    * to the curve segment the box intersects. Full-row retrieval is
    * the SQL surface's job; this route's value is the enumeration a
    * plain WHERE cannot plan. Read-only, outside the op lock. */
  private def boxSearchRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (boundsPath, colA, colB, idCol) =
      (q("bounds"), q("col_a"), q("col_b"), q("id"))
    def corner(name: String): Read[Long] =
      q.parsed(name, s"$name must be a long integer")(_.toLongOption)
    reply(ex)(for {
      store <- table(tablePath)
      _ <- q.required("bounds", "col_a", "col_b", "id")
      loA <- corner("lo_a")
      hiA <- corner("hi_a")
      loB <- corner("lo_b")
      hiB <- corner("hi_b")
      limit <- q.int("limit", 1000, 1, 100000)
      bounds <- stored(boundsPath, "bounds",
        Seq("min_a", "max_a", "min_b", "max_b", "bits", "n_buckets"))
      _ <- columns(store, colA, colB, idCol)
      _ <- integralColumn(store, idCol)
      matched <- callerError(graft.ops.Layout.boxProbeTables(store, bounds,
        colA, colB, loA, hiA, loB, hiB))
    } yield {
      val c = org.apache.spark.sql.functions.col(idCol)
      // two actions (count, capped ids) - persist so the pruned scan
      // and residual filter run once
      matched.persist()
      val (n, ids) = try {
        (matched.count(),
          matched.select(c).orderBy(c).limit(limit)
            .collect().map(_.getAs[Number](0).longValue()))
      } finally { matched.unpersist(); () }
      Json.obj(
        "table" -> tablePath,
        "bounds" -> boundsPath,
        "n_matched" -> n,
        "n_returned" -> ids.length.toLong,
        "ids" -> ids.toSeq.map(v => Json.Raw(v.toString)))
    })
  }

  /** Cardinality from a STORED sketch (`?sketch=<ns.table>[&k=256]`):
    * graft.ops.Sketches.kmvMerge + kmvEstimate over the x14 artifact's
    * rows — the serving read of the mergeable-sketch family: any union
    * of per-shard sketch rows (including post-append states) answers
    * "how many distinct values does the release hold" from ≤ shards·k
    * stored rows, no corpus read anywhere. Catalog-level route (a
    * sketch table stands alone — it audits a release, not one corpus
    * table; the release-audit precedent). `k` must not exceed the k
    * the sketches were BUILT with — merging k' > k per-shard sketches
    * under-fills and the estimate degrades toward the per-shard caps —
    * so the route reports n_hashes for the caller to sanity-check.
    * Both columns must be integral (a string hash column would compare
    * lexicographically and silently corrupt the k-minimum merge). */
  private def distinctSketchRoute(ex: HttpExchange): Unit = {
    val q = params(ex)
    val sketchPath = q("sketch")
    reply(ex)(for {
      _ <- q.required("sketch")
      k <- q.int("k", 256, 2, 1 << 20)
      sk <- stored(sketchPath, "sketch", Seq("shard", "h"))
      _ <- each(Seq("shard", "h"))(integralColumn(sk, _, "Sketch"))
    } yield {
      val est = graft.ops.Sketches.kmvEstimate(
        graft.ops.Sketches.kmvMerge(sk, k), k).collect()(0)
      val nShards = sk.agg(
        org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.col("shard")))
        .collect()(0).getLong(0)
      Json.obj(
        "sketch" -> sketchPath,
        "k" -> k.toLong,
        "n_shards" -> nShards,
        "n_hashes" -> est.getLong(1),
        "kth_min" -> (if (est.isNullAt(2)) 0L else est.getLong(2)),
        "est" -> est.getLong(3))
    })
  }

  /** Membership check against a STORED Bloom filter
    * (`?filter=<ns.table>&value=<col>&id=<col>&n_words=[&k=4]
    * [&limit=1000]`): `{tablePath}` is the table of candidate values
    * (an arriving batch, a crawl frontier), `filter` the d19 artifact —
    * either a merged (w, bits) filter or a RAW streamed `bloomf/` store
    * (the route bit_or-merges first; idempotent on an already-merged
    * filter). Response: hit/miss counts plus up to `limit` MISS ids in
    * order — the misses are the actionable set (guaranteed-new values
    * that skip the expensive probe; hits still need the exact check,
    * which is the SQL surface's or dedup-probe's job). `n_words` is
    * REQUIRED and `k` must match the build (the d19 geometry contract:
    * a mismatch silently yields false negatives — the one thing a
    * Bloom filter must never do — so the route refuses to default it). */
  private def bloomCheckRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val q = params(ex)
    val (filterPath, valueCol, idCol) = (q("filter"), q("value"), q("id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("filter", "value", "id")
      _ <- check(q.raw.contains("n_words"), "n_words is required (the " +
        "filter's build geometry - a defaulted mismatch would silently " +
        "yield false negatives)")
      nWords <- q.int("n_words", 0, 1, 1 << 28)
      k <- q.int("k", 4, 1, 64)
      limit <- q.int("limit", 1000, 1, 100000)
      filt <- stored(filterPath, "filter", Seq("w", "bits"))
      _ <- columns(df, valueCol, idCol)
      _ <- integralColumn(df, idCol)
    } yield {
      val merged = graft.ops.Bloom.bloomMerge(filt.select(col("w"), col("bits")))
      val probed = graft.ops.Bloom.bloomProbe(merged, df, valueCol, nWords, k)
      val hitCol = col("bloom_hit")
      val idC = col(idCol)
      // three actions (total, hits, capped misses) - persist so the
      // k-position explode + broadcast join run once
      probed.persist()
      val (nTotal, nHits, missIds) = try {
        (probed.count(), probed.filter(hitCol).count(),
          probed.filter(!hitCol).select(idC).orderBy(idC)
            .limit(limit).collect().map(_.getAs[Number](0).longValue()))
      } finally { probed.unpersist(); () }
      Json.obj(
        "table" -> tablePath,
        "filter" -> filterPath,
        "n_values" -> nTotal,
        "n_hits" -> nHits,
        "n_misses" -> (nTotal - nHits),
        "n_returned" -> missIds.length.toLong,
        "miss_ids" -> missIds.toSeq.map(v => Json.Raw(v.toString)))
    })
  }

  /** Quantile estimates from a STORED histogram sketch
    * (`?sketch=<ns.table>&lo=&hi=&n_bins=[&q=250000,500000,...]`):
    * graft.ops.Sketches.histMerge + histQuantiles over the x15
    * artifact's rows — rank statistics from ≤ nBins merged counts, no
    * corpus read anywhere (the synopsis trio's third serving read,
    * next to distinct-sketch). `lo`/`hi`/`n_bins` MUST match the
    * build's envelope (they are the bin-to-value decoder; a drifted
    * envelope decodes wrong values silently, so they belong in the
    * caller's release config beside the table name). Catalog-level
    * route, read-only, outside the op lock. */
  private def quantileSketchRoute(ex: HttpExchange): Unit = {
    val q = params(ex)
    val sketchPath = q("sketch")
    def bound(name: String): Read[Long] = q.parsed(name,
      s"$name is required and must be a long integer")(_.toLongOption)
    reply(ex)(for {
      _ <- q.required("sketch")
      lo <- bound("lo")
      hi <- bound("hi")
      nBins <- q.int("n_bins", 64, 2, 1 << 20)
      _ <- check(lo <= hi, s"lo must be <= hi, got [$lo, $hi]")
      qsPpm <- q.list("q", Seq(500000L),
        "q must be comma-separated ppm ranks in [1, 1000000]")(
        _.toLongOption.filter(p => p >= 1 && p <= 1000000))
      sk <- stored(sketchPath, "sketch", Seq("shard", "bin", "n"))
    } yield {
      val rows = graft.ops.Sketches.histQuantiles(
        graft.ops.Sketches.histMerge(sk), qsPpm, lo, hi, nBins)
        .collect()
      Json.obj(
        "sketch" -> sketchPath,
        "lo" -> lo, "hi" -> hi, "n_bins" -> nBins.toLong,
        "n_total" -> (if (rows.isEmpty) 0L else rows.head.getLong(4)),
        "quantiles" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "q_ppm" -> r.getInt(0).toLong,
          "rank" -> r.getLong(1),
          "bin" -> r.getInt(2).toLong,
          "est_lo" -> r.getLong(3)))))
    })
  }

  /** LSH index-shape planner over any catalog table
    * (`?text=<col>&id=<col>[&num_hashes=128][&floor=0.5]
    * [&target_min_ppm=950000]`): graft.ops.Dedup.lshPlan priced on the
    * corpus's OWN verified >= floor pairs, plus Dedup.pickLsh's
    * decision — the cheapest bands x rows factorization of the
    * num_hashes signature whose WORST verified pair is still detected
    * with probability >= target_min_ppm. This closes the tuning loop the
    * parameterized data-card opened: the card sweeps thresholds, this
    * route picks the index shape that detects them — what d17 runs
    * programmatically, drivable from the UI. The surface is
    * d(num_hashes) rows (divisor-count-sized, <= 34 for any
    * num_hashes <= 1024), so the whole table ships in the response; the
    * corpus is priced ONCE (pickLsh reuses the collected surface rather
    * than re-running the pair join). */
  private def lshPlanRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val (textCol, idCol) = (q("text"), q("id"))
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("text", "id")
      _ <- columns(df, textCol, idCol)
      _ <- stringColumn(df, textCol)
      numHashes <- q.int("num_hashes", 128, 1, 1024)
      floor <- q.threshold("floor", 0.5)
      targetMinPpm <- q.long("target_min_ppm", Some(950000L), 0, 1000000L)
    } yield {
      // lshPlan localCheckpoints its verified-pair set — release it
      // under the op-sweep discipline (withOpSweep)
      val rows = withOpSweep {
        graft.ops.Dedup.lshPlan(df, textCol, idCol,
          numHashes = numHashes, floorThreshold = floor).collect()
      }
      val (pb, pr) = graft.ops.Dedup.pickLsh(
        rows.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getLong(3),
          r.getLong(6))), targetMinPpm)
      Json.obj(
        "table" -> tablePath,
        "text" -> textCol,
        "id" -> idCol,
        "num_hashes" -> numHashes.toLong,
        "floor" -> floor,
        "target_min_ppm" -> targetMinPpm,
        "picked_bands" -> pb.toLong,
        "picked_rows_per_band" -> pr.toLong,
        "plan" -> rows.toSeq.map(r => Json.Raw(Json.obj(
          "bands" -> r.getInt(0).toLong,
          "rows_per_band" -> r.getInt(1).toLong,
          "index_rows" -> r.getLong(2),
          "n_pairs" -> r.getLong(3),
          "exp_found_ppm" -> r.getLong(4),
          "mean_p_ppm" -> r.getLong(5),
          "min_p_ppm" -> r.getLong(6)))))
    })
  }

  /** Per-document realization of the mixture allocation
    * (`?domain=<col>&id=<col>&weight=<col>&budget=<long>[&epochs=<int>]
    * [&limit=<int>]`): graft.ops.Sampling.epochPlan — how many copies of
    * each document enter the training mix so each domain spends exactly
    * its water-filled allocation (whole epochs for every doc + one extra
    * copy for the greedy md5-ordered fractional prefix). The response
    * carries the domain-sized rollup (n_docs, full_epochs, n_extra,
    * total_copies — the proof the realization sums back to the
    * allocation) plus the first `limit` per-doc rows by id (default 100,
    * cap 1000): the realization is corpus-sized, so the full plan is a
    * dataset to write, not a payload to serve. Same `maxLabels` bound on
    * domain cardinality as the mixture route. */
  private def epochPlanRoute(ex: HttpExchange, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, min, sum}
    val q = params(ex)
    val (domain, idCol, weight) = (q("domain"), q("id"), q("weight"))
    val maxLabels = 1000
    reply(ex)(for {
      df <- table(tablePath)
      epochs <- q.int("epochs", 2)
      limit <- q.int("limit", 100)
      _ <- q.required("domain", "id", "weight")
      budget <- budgetOf(q)
      _ <- within("epochs", epochs, 1)
      _ <- within("limit", limit, 0, 1000)
      _ <- columns(df, domain, idCol, weight)
      _ <- numericColumn(df, weight, "Weight")
      _ <- groupableColumn(df, domain)
      body <- withOpSweep {
        val plan = graft.ops.Sampling.epochPlan(df, domain, idCol,
          weight, expr(s"avail * $epochs"), budget).persist()
        try {
          // full_epochs = min(n_copies): the fractional prefix never covers
          // a whole domain (frac < avail), so some doc always sits at the
          // whole-epoch floor
          val rollup = plan.groupBy(col("domain"))
            .agg(count(lit(1)).as("n_docs"),
              min(col("n_copies")).as("full_epochs"),
              sum(col("n_copies")).as("total_copies"),
              sum(col("n_copies") * col("w")).as("spent_weight"))
            .orderBy(col("domain").asc_nulls_last)
            .limit(maxLabels + 1).collect()
          check(rollup.length <= maxLabels,
            s"Column $domain has more than $maxLabels distinct " +
              "values — epoch plans are for domain-like columns").map { _ =>
            // the documented "first `limit` per-doc rows by id": an explicit
            // sort makes the capped sample deterministic across identical
            // requests (same convention as shard-manifest / dedup-probe)
            val sample = plan.orderBy(col("id")).limit(limit).collect()
            Json.obj(
              "table" -> tablePath,
              "domain" -> domain,
              "id" -> idCol,
              "weight" -> weight,
              "budget" -> budget,
              "epochs_cap" -> epochs.toLong,
              "domains" -> rollup.toSeq.map(r => Json.Raw(Json.obj(
                "domain" ->
                  (if (r.isNullAt(0)) null else String.valueOf(r.get(0))),
                "n_docs" -> r.getLong(1),
                "full_epochs" -> r.getLong(2),
                "n_extra" -> (r.getLong(3) - r.getLong(2) * r.getLong(1)),
                "total_copies" -> r.getLong(3),
                "spent_weight" -> r.getLong(4)))),
              "sample" -> sample.toSeq.map(r => Json.Raw(Json.obj(
                "id" -> String.valueOf(r.get(0)),
                "domain" ->
                  (if (r.isNullAt(1)) null else String.valueOf(r.get(1))),
                "w" -> r.getLong(2),
                "n_copies" -> r.getLong(3)))))
          }
        } finally plan.unpersist()
      }
    } yield body)
  }

  /** Class-balance report of one column (`?column=` required): per-value
    * counts, ppm shares, and the corpus Gini impurity
    * (graft.ops.Profile.classBalance — one keyed aggregation). The label
    * cardinality bounds the response; a high-cardinality column is a
    * caller error surfaced as 400 when more than `maxLabels` (default
    * 1000) rows come back — balance reports are for label-like columns. */
  private def balanceRoute(ex: HttpExchange, tablePath: String): Unit = {
    val q = params(ex)
    val column = q("column")
    val maxLabels = 1000
    reply(ex)(for {
      df <- table(tablePath)
      _ <- q.required("column")
      _ <- check(df.columns.contains(column), s"Unknown column: $column")
      // same convention as profileRoute: an explicitly requested
      // non-groupable column (map/array/struct) is a caller error — 400,
      // not a raw AnalysisException surfaced as 500
      _ <- groupableColumn(df, column)
      rows = graft.ops.Profile.classBalance(df, column)
        .limit(maxLabels + 1).collect()
      _ <- check(rows.length <= maxLabels,
        s"Column $column has more than $maxLabels distinct " +
          "values — balance reports are for label-like columns")
    } yield Json.obj(
      "table" -> tablePath,
      "column" -> column,
      "gini_ppm" -> (if (rows.isEmpty) null
                     else java.lang.Long.valueOf(rows.head.getLong(3))),
      "balance" -> rows.toSeq.map(r => Json.Raw(Json.obj(
        "label" -> (if (r.isNullAt(0)) null
                    else String.valueOf(r.get(0))),
        "n" -> r.getLong(1),
        "share_ppm" -> r.getLong(2))))))
  }

  private def health(ex: HttpExchange): Unit = {
    val h = GraftEngine.healthCheck(spark)
    val status = h.getOrElse("status", "unhealthy")
    val code = if (status == "healthy") 200 else 503
    def comp(key: String) = Json.Raw(
      Json.obj("healthy" -> (h.getOrElse(key, "unhealthy") == "healthy")))
    sendJson(ex, code, Json.obj(
      "status" -> status,
      "components" -> Json.Raw(Json.obj(
        "engine" -> comp("engine"), "catalog" -> comp("catalog")))))
  }

  /** Readiness gate (ref health.py:96-126): 200 `{"ready": true}` only when
    * the full health check passes; 503 with a reason otherwise — the
    * traffic-admission signal, stricter than /health's degraded state. */
  private def ready(ex: HttpExchange): Unit =
    try {
      val h = GraftEngine.healthCheck(spark)
      if (h.getOrElse("status", "unhealthy") == "healthy")
        sendJson(ex, 200, Json.obj("ready" -> true, "reason" -> null))
      else {
        val why = Seq("engine", "catalog")
          .filter(k => h.getOrElse(k, "unhealthy") != "healthy")
          .mkString("unhealthy: ", ", ", "")
        sendJson(ex, 503, Json.obj("ready" -> false, "reason" -> why))
      }
    } catch {
      case e: Exception => sendJson(ex, 503, Json.obj(
        "ready" -> false,
        "reason" -> Option(e.getMessage).getOrElse("Health check failed")))
    }

  // ------------------------------------------------------------- validation

  /** Send a handler's outcome: `Right` is the 200 JSON body, `Left` is
    * `{"detail": msg}` under its code. A NoSuchEntityException raised
    * anywhere in `body` is a 404 — the catalog's own not-found. */
  private def reply(ex: HttpExchange)(body: => Read[String]): Unit =
    stream(ex)(body)(sendJson(ex, 200, _))

  /** [[reply]] for the routes that write their own 200 body: `write`
    * runs on what the readers yield. */
  private def stream[A](ex: HttpExchange)(read: => Read[A])(
      write: A => Unit): Unit =
    (try read catch {
      case e: graft.catalog.NoSuchEntityException =>
        Left(Reject(404, e.getMessage))
    }) match {
      case Right(a) => write(a)
      case Left(Reject(code, msg)) => sendJson(ex, code, detail(msg))
    }

  private def bad(msg: String): Reject = Reject(400, msg)

  private def check(ok: Boolean, msg: => String, code: Int = 400): Read[Unit] =
    if (ok) Right(()) else Left(Reject(code, msg))

  /** `v` within [lo, hi]; the message names the bounds the caller set. */
  private def within(name: String, v: Long, lo: Long,
      hi: Long = Long.MaxValue): Read[Unit] =
    check(v >= lo && v <= hi,
      if (hi == Long.MaxValue) s"$name must be >= $lo"
      else s"$name must be between $lo and $hi")

  /** An operator's own argument check is the caller's error: 400. */
  private def callerError[A](op: => A): Read[A] =
    try Right(op)
    catch { case e: IllegalArgumentException => Left(bad(e.getMessage)) }

  /** A step of the gated SQL path: the gate's InvalidSqlError is a 400,
    * any other failure a 500 with the message `internal` gives it. */
  private def gated[A](op: => A)(internal: Exception => String): Read[A] =
    try Right(op)
    catch {
      case e: InvalidSqlError => Left(bad(e.getMessage))
      case e: Exception => Left(Reject(500, internal(e)))
    }

  /** `f` over every element, stopping at the first rejection. */
  private def each[A, B](xs: Seq[A])(f: A => Read[B]): Read[Seq[B]] =
    xs.foldLeft[Read[Vector[B]]](Right(Vector.empty)) { (acc, x) =>
      acc.flatMap(bs => f(x).map(bs :+ _))
    }

  /** `f` over an optional value; absent reads as `None`. */
  private def whenGiven[A, B](o: Option[A])(f: A => Read[B]): Read[Option[B]] =
    o.fold[Read[Option[B]]](Right(None))(f(_).map(Some(_)))

  /** The request body as a flat JSON object; anything else is a 400. */
  private def jsonBody(ex: HttpExchange): Read[Map[String, Any]] =
    try Right(Json.parseObject(readBody(ex)))
    catch {
      case _: IllegalArgumentException =>
        Left(bad("Request body must be a flat JSON object"))
    }

  private def field(body: Map[String, Any], name: String): Option[String] =
    body.get(name).collect { case s: String => s }

  private def queryUuid(id: String): Read[UUID] =
    parseUuid(id).toRight(bad(s"Invalid query ID format: $id"))

  private def queryResult(id: String): Read[QueryResult] =
    queryUuid(id).flatMap(uuid =>
      executor.getStatus(uuid).toRight(Reject(404, s"Query not found: $id")))

  /** A dotted `ns.table` path as its parts, else 400. */
  private def tableRef(path: String, name: String = "table"): Read[Seq[String]] = {
    val parts = path.split("\\.").toSeq
    check(parts.length >= 2, s"Invalid $name path: $path").map(_ => parts)
  }

  /** The catalog table at `path`: dotted (400), existing (404). `what`
    * names the parameter that points at a stored artifact in the
    * messages; empty for the route's own `{tablePath}`. */
  private def table(path: String, what: String = ""): Read[DataFrame] = {
    val name = if (what.isEmpty) "table" else s"$what table"
    for {
      parts <- tableRef(path, name)
      _ <- check(provider.tableExists(parts.init, parts.last),
        s"${name.capitalize} not found: $path", 404)
    } yield spark.table(path)
  }

  /** A stored-artifact table named by a parameter — the probe routes'
    * index/centroids/stats/…: [[table]]'s checks, then its `required`
    * columns (400). */
  private def stored(path: String, what: String,
      required: Seq[String]): Read[DataFrame] =
    table(path, what).flatMap { t =>
      val missing = required.filterNot(t.columns.contains)
      check(missing.isEmpty, s"${what.capitalize} table $path is " +
        s"missing columns: ${missing.mkString(", ")}").map(_ => t)
    }

  /** Every named column exists in `df`. */
  private def columns(df: DataFrame, cols: String*): Read[Unit] = {
    val unknown = cols.filterNot(df.columns.contains)
    check(unknown.isEmpty, s"Unknown columns: ${unknown.mkString(", ")}")
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Column `c` of `df` has a type `ok` accepts, else 400
    * `<role> column <c> is not <kind>`. */
  private def typedColumn(df: DataFrame, c: String, role: String,
      kind: String)(ok: DataType => Boolean): Read[Unit] =
    check(ok(df.schema(c).dataType), s"$role column $c is not $kind")

  private def stringColumn(df: DataFrame, c: String): Read[Unit] =
    typedColumn(df, c, "Text", "a string column")(_ == StringType)

  private def integralColumn(df: DataFrame, c: String,
      role: String = "Id"): Read[Unit] =
    typedColumn(df, c, role, "an integral column")(isIntegral)

  private def numericColumn(df: DataFrame, c: String, role: String): Read[Unit] =
    typedColumn(df, c, role, "numeric")(_.isInstanceOf[NumericType])

  private def arrayColumn(df: DataFrame, c: String): Read[Unit] =
    typedColumn(df, c, "Vector", "an array column")(_.isInstanceOf[ArrayType])

  private def groupableColumn(df: DataFrame, c: String): Read[Unit] =
    check(!df.schema(c).dataType.isInstanceOf[MapType],
      s"Column $c is not groupable (map type)")

  /** Length of the first non-null array in column `c` — a one-row probe. */
  private def dimOf(t: DataFrame, c: String): Option[Int] = {
    import org.apache.spark.sql.functions.{col, size}
    t.select(size(col(c)).as("n")).filter(col("n").isNotNull)
      .limit(1).collect().headOption.map(_.getInt(0))
  }

  /** The first (found, expected, what) pair whose known dims differ is a
    * 400 naming both. */
  private def sameDims(pairs: (Option[Int], Option[Int], String)*): Read[Unit] =
    pairs.collectFirst { case (Some(x), Some(y), w) if x != y =>
      bad(s"Vector dimension mismatch between $w ($x vs $y)")
    }.toLeft(())

  /** The mixture/epoch-plan `budget`: required, a long, >= 0. */
  private def budgetOf(q: Params): Read[Long] =
    q.parsed("budget", "budget parameter is required and must be >= 0")(
      _.toLongOption.filter(_ >= 0))

  /** The BM25 query bag (lowercased like the t-series tokenizer), at most
    * 64 terms — a serving query, not a batch join. */
  private def termsOf(q: Params): Read[Seq[String]] = for {
    terms <- q.list("terms", Nil, "terms must be a non-empty " +
      "comma-separated list")(t => Some(t.toLowerCase(java.util.Locale.ROOT)))
    _ <- check(terms.length <= 64,
      "terms is capped at 64 — a serving query, not a batch join")
  } yield terms

  private def optLong(r: Row, i: Int): Any = if (r.isNullAt(i)) null else r.getLong(i)

  /** A request's query string, read through typed readers. URI.getQuery
    * has already percent-decoded every value. */
  private final class Params(val raw: Map[String, String]) {

    /** A value read after [[required]] passed ("" when absent). */
    def apply(name: String): String = raw.getOrElse(name, "")

    /** A present, non-empty value. */
    def opt(name: String): Option[String] = raw.get(name).filter(_.nonEmpty)

    /** Every name present and non-empty, else 400 `a, b and c parameters
      * are required`. */
    def required(names: String*): Read[Unit] =
      check(names.forall(opt(_).isDefined),
        if (names.length == 1) s"${names.head} parameter is required"
        else s"${names.init.mkString(", ")} and ${names.last} parameters " +
          "are required")

    /** An integer parameter, `dflt` when absent, within [lo, hi]. */
    def int(name: String, dflt: Int, lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue): Read[Int] =
      number(name, Some(dflt))(_.toIntOption)
        .flatMap(v => within(name, v, lo, hi).map(_ => v))

    /** A long parameter, `dflt` when absent (required when `None`),
      * within [lo, hi]. */
    def long(name: String, dflt: Option[Long] = None, lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue): Read[Long] =
      number(name, dflt)(_.toLongOption)
        .flatMap(v => within(name, v, lo, hi).map(_ => v))

    private def number[A](name: String, dflt: Option[A])(
        parse: String => Option[A]): Read[A] = raw.get(name) match {
      case Some(s) => parse(s).toRight(bad(s"$name must be an integer"))
      case None => dflt.toRight(bad(s"$name parameter is required"))
    }

    /** A parameter `parse` accepts; absent or refused is a 400 `msg`. */
    def parsed[A](name: String, msg: String)(parse: String => Option[A]): Read[A] =
      raw.get(name).flatMap(parse).toRight(bad(msg))

    /** A similarity threshold in (0, 1], `dflt` when absent. */
    def threshold(name: String, dflt: Double): Read[Double] = raw.get(name) match {
      case None => Right(dflt)
      case Some(s) => for {
        t <- s.toDoubleOption.toRight(bad(s"$name must be a number"))
        _ <- check(t > 0.0 && t <= 1.0, s"$name must be in (0, 1]")
      } yield t
    }

    /** A comma-separated list, `dflt` when absent: items trimmed, empty
      * items dropped, each read by `item`; an empty list or a refused
      * item is a 400 `msg`. */
    def list[A](name: String, dflt: Seq[A], msg: String)(
        item: String => Option[A]): Read[Seq[A]] = raw.get(name) match {
      case None => Right(dflt)
      case Some(s) =>
        val items = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(item)
        check(items.nonEmpty && items.forall(_.isDefined), msg)
          .map(_ => items.flatten)
    }
  }

  private def params(ex: HttpExchange): Params =
    new Params(Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap).getOrElse(Map.empty))

  private def parseUuid(id: String): Option[UUID] =
    try Some(UUID.fromString(id)) catch { case _: IllegalArgumentException => None }

  private def detail(msg: String): String = Json.obj("detail" -> msg)

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def sendJson(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val out = ex.getResponseBody
    out.write(bytes)
    out.close()
  }
}

object HttpFacade {

  /** A request the façade refuses: the status code and the `detail`
    * message it answers with. */
  final case class Reject(code: Int, msg: String)

  private val poolThreads = new AtomicInteger()

  /** Request-pool threads are named `graft-http-<n>`, so a stopped
    * façade's leftovers can be told apart from any other thread. */
  private def poolThread(r: Runnable): Thread =
    new Thread(r, s"graft-http-${poolThreads.incrementAndGet()}")

  /** The ann-search route's dataflow, factored out so the spec can pin
    * the PLAN of the exact computation the route runs (collect + DPP on
    * the stored assignment scan), not a reconstruction of it: e21's
    * [[graft.ops.Similarity.ivfTopKPartitioned]] over the stored
    * (assignments, centroids) catalog tables. */
  private[api] def annSearch(queries: org.apache.spark.sql.DataFrame,
      vecCol: String, idCol: String,
      assign: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      k: Int, nprobe: Int): org.apache.spark.sql.DataFrame =
    graft.ops.Similarity.ivfTopKPartitioned(assign, "vec", "id", "cid",
      queries, vecCol, idCol, cent, "cvec", "cid", k = k, nprobe = nprobe)

  /** The bm25-search route's dataflow, factored out so the spec can pin
    * the PLAN of the exact computation the route runs (term-filter
    * pushdown into the stored postings scan): t28's
    * [[graft.ops.Retrieval.bm25Probe]] over the stored catalog tables. */
  private[api] def bm25Search(postings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame =
    graft.ops.Retrieval.bm25Probe(postings, stats, terms, k)

  /** The contamination-search route's dataflow, factored out so the
    * spec can pin the PLAN of the exact computation the route runs
    * (DPP on the stored fpb-partitioned scan, probe side broadcast):
    * t29's [[graft.ops.TextAnalysis.contaminationProbe]] over the
    * stored catalog table — including its bucket validation, which the
    * route surfaces as a 400. */
  private[api] def contaminationSearch(
      probes: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String,
      index: org.apache.spark.sql.DataFrame,
      k: Int, window: Int, minShared: Int, hashMode: String,
      buckets: Int): org.apache.spark.sql.DataFrame =
    graft.ops.TextAnalysis.contaminationProbe(index, probes, textCol,
      idCol, k, window, minShared, hashMode, buckets)

  /** The pq-search route's dataflow, factored out so the spec can pin
    * the PLAN of the exact computation the route runs (DPP on the
    * stored cid-partitioned codes scan, no vector column read): e23's
    * [[graft.ops.Similarity.ivfPqProbe]] over the stored catalog
    * tables. */
  private[api] def pqSearch(queries: org.apache.spark.sql.DataFrame,
      vecCol: String, idCol: String,
      codes: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      codebook: org.apache.spark.sql.DataFrame,
      m: Int, dim: Int, k: Int, nprobe: Int): org.apache.spark.sql.DataFrame =
    graft.ops.Similarity.ivfPqProbe(codes, cent, "cvec", "cid", codebook,
      queries, vecCol, idCol, m, dim, k = k, nprobe = nprobe)

  /** The pq-search route's TWO-STAGE dataflow (`raw=` present),
    * factored out so the spec can pin the PLAN of the exact
    * computation the route runs (DPP on BOTH stored tiers — codes
    * vector-free, raw vector-bearing): e26's
    * [[graft.ops.Similarity.ivfPqRerank]] over the stored catalog
    * tables. */
  private[api] def pqRerank(queries: org.apache.spark.sql.DataFrame,
      vecCol: String, idCol: String,
      codes: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      codebook: org.apache.spark.sql.DataFrame,
      raw: org.apache.spark.sql.DataFrame,
      m: Int, dim: Int, k: Int, kCoarse: Int,
      nprobe: Int): org.apache.spark.sql.DataFrame =
    graft.ops.Similarity.ivfPqRerank(codes, cent, "cvec", "cid",
      codebook, raw, queries, vecCol, idCol, m, dim,
      k = k, kCoarse = kCoarse, nprobe = nprobe)

  /** The hybrid-search route's dataflow, factored out so the spec can
    * pin the PLAN of the exact computation the route runs (In(t)
    * pushdown into the stored postings scan AND DPP on the stored
    * assignment scan, in ONE serving plan): t32's composition —
    * [[graft.ops.Retrieval.bm25Probe]] + ranks,
    * [[graft.ops.Similarity.ivfTopKPartitioned]], fused by
    * [[graft.ops.Retrieval.rrfFusion]]. */
  private[api] def hybridSearch(queries: org.apache.spark.sql.DataFrame,
      vecCol: String, idCol: String,
      assign: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      terms: Seq[String], kBm25: Int, kDense: Int, nprobe: Int,
      c: Int, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    // bound: bm25Probe ends in limit(kBm25), so the window numbers at most
    // kBm25 rows (the route caps k_bm25 at 1000). Its anchor `id` must be
    // integral: rrfFusion below requires that of every list before any
    // action runs.
    val bm = graft.ops.Retrieval.bm25Probe(postings, stats, terms, kBm25)
      .withColumn("rk", row_number().over(graft.ops.BoundedWindow.orderBy(
        col("id"), col("score_scaled").desc, col("id"))))
    val dense = graft.ops.Similarity.ivfTopKPartitioned(
      assign, "vec", "id", "cid", queries, vecCol, idCol,
      cent, "cvec", "cid", k = kDense, nprobe = nprobe)
    graft.ops.Retrieval.rrfFusion(
      Seq("bm25" -> bm, "dense" -> dense), "id", "rk", c = c, k = k)
  }

  /** Serve the fixture tables over HTTP (blocking until killed):
    * `runMain graft.api.HttpFacade [port]`. Starting launches no Spark
    * job: the one-file fixture tables take their schemas from parquet
    * footers read on the driver (see `Tables.readParquet`),
    * and `/ready` runs none either. */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val config = graft.engine.AppConfig.fromEnv()
    val spark = GraftEngine.buildSession(config)
    Tables.register(spark, sfDir)
    // config-gated Iceberg REST binding: lights up the live catalog when
    // the runtime jar is present, falls back to the session catalog here
    val provider = graft.catalog.IcebergCatalogBinding.providerFor(spark, config.catalog)
    val facade = new HttpFacade(spark, new QueryExecutor(spark, config.query), provider)
    val bound = facade.start(port)
    System.err.println(s"[graft-http] serving on 127.0.0.1:$bound")
    Thread.currentThread.join()
  }
}

/** Minimal flat JSON reader/writer for the request/response bodies this
  * façade exchanges (objects of string/number/bool/null and one level of
  * nesting on the write side) — deliberately tiny instead of a dependency;
  * value rendering reuses [[graft.results.ValueFormat]]'s escaping. */
private[api] object Json {

  /** Pre-rendered JSON spliced verbatim. An EXPLICIT marker, never a
    * string-prefix heuristic: plain strings that happen to start with
    * `[`/`{` (e.g. Spark 4 error-class messages like
    * "[SCHEMA_NOT_FOUND] ...") must be escaped like any other string, or
    * an error body becomes malformed JSON. */
  final case class Raw(json: String)

  /** Render a JSON object; values may be String, Boolean, Long, Int,
    * null, Seq of renderable values, or [[Raw]] for nested pre-rendered
    * objects. Every plain string is escaped — no exceptions. */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      ValueFormat.jsonString(k) + ":" + render(v)
    }.mkString("{", ",", "}")

  private def render(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => ValueFormat.jsonString(s)
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    // NaN/Infinity have no JSON rendering — null, not an invalid token
    case n: Double => if (java.lang.Double.isFinite(n)) n.toString else "null"
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => ValueFormat.jsonString(other.toString)
  }

  /** Parse a FLAT JSON object: string, integer, boolean, and null values
    * only (all this façade's request bodies). Unknown/nested structures
    * fail with IllegalArgumentException, and so does a body that ends
    * inside a value. */
  def parseObject(s: String): Map[String, Any] = {
    val t = s.trim
    if (t.isEmpty) return Map.empty
    val p = new Parser(t)
    val res =
      try p.obj()
      catch {
        case e: IndexOutOfBoundsException =>
          throw new IllegalArgumentException("truncated JSON body", e)
      }
    p.ws()
    require(p.eof, s"trailing content in JSON body")
    res
  }

  private final class Parser(s: String) {
    private var i = 0
    def eof: Boolean = i >= s.length
    def ws(): Unit = while (!eof && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(i) == c, s"expected '$c' at $i"); i += 1
    }
    def obj(): Map[String, Any] = {
      ws(); expect('{'); ws()
      val b = Map.newBuilder[String, Any]
      var done = !eof && s.charAt(i) == '}'
      if (done) i += 1
      while (!done) {
        ws()
        val k = str()
        ws(); expect(':'); ws()
        b += (k -> value())
        ws()
        if (!eof && s.charAt(i) == ',') i += 1
        else { expect('}'); done = true }
      }
      b.result()
    }
    private def value(): Any = {
      val c = s.charAt(i)
      if (c == '"') str()
      else if (s.startsWith("null", i)) { i += 4; null }
      else if (s.startsWith("true", i)) { i += 4; true }
      else if (s.startsWith("false", i)) { i += 5; false }
      else num()
    }
    private def num(): Long = {
      val start = i
      if (!eof && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      while (!eof && s.charAt(i).isDigit) i += 1
      require(i > start, s"expected a value at $start")
      s.substring(start, i).toLong
    }
    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case '"' => b += '"'
            case '\\' => b += '\\'
            case '/' => b += '/'
            case 'n' => b += '\n'
            case 'r' => b += '\r'
            case 't' => b += '\t'
            case 'b' => b += '\b'
            case 'f' => b += '\f'
            case 'u' =>
              b += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case other => throw new IllegalArgumentException(
              s"bad escape \\$other")
          }
        } else b += c
        i += 1
      }
      i += 1
      b.toString
    }
  }
}
