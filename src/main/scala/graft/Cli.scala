package graft

import graft.engine.{AppConfig, GraftEngine, InvalidSqlError, QueryExecutor}
import graft.results.{ResultStream, ValueFormat}
import graft.tables.Tables

/**
 * Interactive/driver CLI — the engine's serving surface as a process
 * (SURVEY §2.D: "whether it exposes HTTP or a Scala API/CLI is an
 * architecture choice"; the operator semantics live in graft.engine /
 * graft.results, this is a thin shell over them).
 *
 * Usage:
 *   runMain graft.Cli sql  "<SELECT ...>" [--csv]   one query → NDJSON or CSV
 *   runMain graft.Cli repl                          read SQL lines from stdin
 *   runMain graft.Cli catalog                       list namespaces + tables
 *
 * Fixture tables from SPARK_GRAFT_SF_DIR (default sf0.001) are registered
 * under their bare names before serving, mirroring the reference's catalog
 * ATTACH at engine init.
 */
object Cli {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val config = AppConfig.fromEnv()
    val spark = GraftEngine.buildSession(config)
    Tables.register(spark, sfDir)
    val executor = new QueryExecutor(spark, config.query)

    args.toList match {
      case "sql" :: sql :: rest =>
        runOne(executor, sql, csv = rest.contains("--csv"))
      case "repl" :: _ =>
        scala.io.Source.stdin.getLines().map(_.trim).filter(_.nonEmpty)
          .takeWhile(l => l != "exit" && l != "quit")
          .foreach(runOne(executor, _, csv = false))
      case "catalog" :: _ =>
        val provider = graft.catalog.IcebergCatalogBinding.providerFor(spark, config.catalog)
        provider.listNamespaces().foreach { ns =>
          println(ns.mkString("."))
          provider.listTables(ns).foreach(t => println(s"  $t"))
        }
      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println("usage: sql \"<SELECT ...>\" [--csv] | repl | catalog")
        sys.exit(2)
    }
    spark.stop()
  }

  private def runOne(executor: QueryExecutor, sql: String, csv: Boolean): Unit =
    try {
      val result = executor.execute(sql)
      if (csv)
        ResultStream.csv(result).foreach(chunk => System.out.write(chunk))
      else
        ResultStream.ndjson(Some(result), result.queryId.toString,
          pageSize = 1000).foreach(println)
      System.out.flush()
      executor.cleanup(result.queryId)
    } catch {
      case e: InvalidSqlError =>
        println(s"""{"type":"error","error":${ValueFormat.jsonString(e.getMessage)}}""")
      case e: Exception =>
        println(s"""{"type":"error","error":${ValueFormat.jsonString(
          String.valueOf(e.getMessage))}}""")
    }
}
