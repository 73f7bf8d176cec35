package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkSuite {
  /** The JVM's shared session; a new one (on a new SparkContext) once a
    * suite has stopped the previous one. */
  def session(appName: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(appName)
    .config("spark.sql.shuffle.partitions", "4")
    // unique warehouse per test JVM: a killed run must not leave table
    // locations behind that collide with the next run's fresh catalog
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Shared local SparkSession for suites (one per suite, stopped on exit). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session(getClass.getSimpleName)

  lazy val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // deliberately NOT stopping the session: suites share one local JVM
    // (Test / fork := true gives one JVM per test run, not per suite)
    super.afterAll()
  }
}
