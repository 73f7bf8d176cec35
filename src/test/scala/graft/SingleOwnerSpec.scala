package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each of these decisions has one owner in `src/main`: session conf,
  * log level and batch core count in `GraftEngine`; function
  * registration in the `graft.functions` package. A second site would
  * let the copies drift apart, as the hand-built sessions once did. */
class SingleOwnerSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  /** (path relative to src/main/scala, source text) of every main source. */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(mainRoot), s"run from the repo root: $mainRoot")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => mainRoot.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  private def sitesOf(token: String): Seq[String] =
    sources.collect { case (path, text) if text.contains(token) => path }

  test("only GraftEngine builds sessions, sets the log level and reads SPARK_GRAFT_CPUS") {
    val owner = "graft/engine/GraftEngine.scala"
    Seq("SparkSession.builder(", "setLogLevel(", "\"SPARK_GRAFT_CPUS\"").foreach { token =>
      assert(sitesOf(token) == Seq(owner), token)
      val (_, text) = sources.find(_._1 == owner).get
      assert(text.split(java.util.regex.Pattern.quote(token), -1).length == 2,
        s"$token twice in $owner")
    }
  }

  test("only graft.functions registers SQL functions") {
    Seq("injectFunction(", "createOrReplaceTempFunction(").foreach { token =>
      val sites = sitesOf(token)
      assert(sites.nonEmpty && sites.forall(_.startsWith("graft/functions/")),
        s"$token in ${sites.mkString(", ")}")
    }
  }
}
