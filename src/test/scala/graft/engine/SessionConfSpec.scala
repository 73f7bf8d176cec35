package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The conf lists [[GraftEngine]] builds every session from, checked as
  * values: `getOrCreate` would set them on the test JVM's shared session. */
class SessionConfSpec extends AnyFunSuite {

  private val config = AppConfig()

  private val servingEntries = Map(
    "spark.driver.memory" -> "4g",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.sql.ui.retainedExecutions" -> "100")

  private def asMap(conf: Seq[(String, String)]): Map[String, String] = {
    assert(conf.map(_._1).distinct.size == conf.size, s"a key is set twice: $conf")
    conf.toMap
  }

  test("the serving conf is the serving session's twelve entries") {
    assert(asMap(GraftEngine.servingConf(config, "graft")) == Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "1000") ++ servingEntries)
  }

  test("the batch conf is the bench session's, plus the main's app name") {
    assert(asMap(GraftEngine.batchConf(8, "graft-bench")) == Map(
      "spark.master" -> "local[8]",
      "spark.app.name" -> "graft-bench",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "1000"))
  }

  test("the serving conf differs from the batch conf only by the serving entries") {
    val batch = asMap(GraftEngine.batchConf(config.engine.threads, "graft"))
    val serving = asMap(GraftEngine.servingConf(config, "graft"))
    assert(serving == batch ++ servingEntries)
    assert(servingEntries.keySet.intersect(batch.keySet).isEmpty)
  }
}
