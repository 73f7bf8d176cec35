package graft.engine

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{NamespaceChange, SupportsNamespaces}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A catalog plugin whose every namespace call fails, standing in for a
  * catalog service that cannot be reached. Register it on a fresh
  * `newSession()` (`spark.sql.catalog.<name>` is a session conf) and make
  * it current there, so the shared session is never touched. */
class UnreachableCatalog extends SupportsNamespaces {
  private var catalogName = ""

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name
  override def name(): String = catalogName
  // a name no test creates in the shared session catalog, whose
  // databaseExists answers first for any catalog
  override def defaultNamespace(): Array[String] = Array("graft_unreachable_ns")

  private def down: Nothing =
    throw new IllegalStateException(s"catalog $catalogName unreachable")

  override def listNamespaces(): Array[Array[String]] = down
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    down
  override def namespaceExists(namespace: Array[String]): Boolean = down
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = down
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = down
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = down
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = down
}

object UnreachableCatalog {

  /** A new session over `spark`'s context whose current catalog is an
    * [[UnreachableCatalog]]. The plugin is loaded with the new session
    * active, because catalog loading reads the thread's active session
    * conf; once loaded, the session's catalog manager keeps it. */
  def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.unreachable",
      classOf[UnreachableCatalog].getName)
    SparkSession.setActiveSession(s)
    try s.catalog.setCurrentCatalog("unreachable")
    finally SparkSession.setActiveSession(spark)
    s
  }
}
