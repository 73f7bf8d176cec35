package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.HttpFacade
import graft.catalog.{IcebergTables, SparkCatalogProvider}
import graft.engine.{GraftEngine, QueryExecutor}
import graft.tables.Tables

/** The façade wired the way production wires it: the default session, a
  * default-config QueryExecutor, a SparkCatalogProvider and the default
  * request pool. Tables are registered twice, as the bare-name views the
  * SQL uses and as `lake.*` catalog tables for the catalog routes, plus one
  * table written through IcebergTables with several snapshots and the
  * prepared artifacts the op routes read. */
final class Serving(val spark: SparkSession, val executor: QueryExecutor,
    val provider: SparkCatalogProvider, val facade: HttpFacade, val port: Int) {
  def stop(): Unit = {
    facade.stop()
    spark.stop()
  }
}

object Serving {
  val Namespace = "lake"
  val IcebergTable = "orders_history"
  val IcebergSnapshots = 3
  /** Written once with the data (see [[DataGen.write]]). */
  val Artifacts = Seq("ann_assign", "ann_cent", "ann_queries")

  /** Build, register and start; returns once GET /ready answers 200. */
  def start(dataDir: String, workDir: String): Serving = {
    val spark = GraftEngine.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    Tables.register(spark, dataDir)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Namespace")
    Tables.names.foreach { n =>
      spark.sql(s"CREATE TABLE IF NOT EXISTS $Namespace.$n USING parquet LOCATION '$dataDir/$n.parquet'")
    }
    val loc = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(workDir), "iceberg-").toString
    val orders = Tables(spark, dataDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    (0 until IcebergSnapshots).foreach { s =>
      IcebergTables.write(orders.filter(col("o_orderkey") % 100 === s), loc)
    }
    spark.sql(s"""CREATE TABLE IF NOT EXISTS $Namespace.$IcebergTable
      (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
      USING parquet LOCATION '$loc'""")
    Artifacts.foreach { n =>
      spark.sql(s"CREATE TABLE IF NOT EXISTS $Namespace.$n USING parquet LOCATION '$dataDir/$n'")
    }
    spark.sql(s"ALTER TABLE $Namespace.ann_assign RECOVER PARTITIONS")
    val executor = new QueryExecutor(spark)
    val provider = new SparkCatalogProvider(spark)
    val facade = new HttpFacade(spark, executor, provider)
    val port = facade.start()
    val http = Http(port, 0)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (http.get("/ready").status != 200) {
      require(System.nanoTime() < deadline, "the façade did not become ready within 60 s")
      Thread.sleep(20)
    }
    new Serving(spark, executor, provider, facade, port)
  }
}
