package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

/** The benchmark's own tests: the tail rule, the decoders, and an
  * end-to-end run whose expected hashes are deliberately wrong, which must
  * show up as a non-zero fail ratio while the honest run shows zero. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => Main.log(s"$name threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def run(opts: Map[String, String]): Int = {
    check("tail rule picks p99 at 1000 samples, p95 at 200, p90 at 100, none at 99") {
      Stats.tailLevel(1000).contains(99) && Stats.tailLevel(999).contains(95) &&
        Stats.tailLevel(200).contains(95) && Stats.tailLevel(199).contains(90) &&
        Stats.tailLevel(100).contains(90) && Stats.tailLevel(99).isEmpty
    }
    check("tail rule: the picked level has at least ten samples beyond it, the next higher fewer") {
      (1 to 5000).forall { n =>
        Stats.tailLevel(n) match {
          case None => Stats.beyond(n, 90) < 10
          case Some(p) =>
            Stats.beyond(n, p) >= 10 && Stats.TailLevels.takeWhile(_ != p).forall(Stats.beyond(n, _) < 10)
        }
      }
    }
    check("percentile is nearest-rank") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 50) == 50 && Stats.percentile(xs, 95) == 95 && Stats.percentile(xs, 100) == 100
    }
    check("canonical values agree across JSON, CSV and Spark types") {
      Canon.of(BigDecimal("1.0E7")) == Canon.of(1.0e7) && Canon.of(3L) == Canon.of(BigDecimal("3")) &&
        Canon.of(new java.math.BigDecimal("12.50")) == Canon.of(12.5) && Canon.of(null) == Canon.Null
    }
    check("csv records: quoted fields, doubled quotes, CRLF rows") {
      Decode.csvRecords("a,b\r\n\"x,1\",\"say \"\"hi\"\"\"\r\n,2\r\n".getBytes(UTF_8)) ==
        Vector(Vector("a", "b"), Vector("x,1", "say \"hi\""), Vector("", "2"))
    }
    check("ndjson page: rows decoded, protocol checked") {
      val page = """{"type":"metadata","query_id":"q","columns":[],"total_rows":2}
                   |{"type":"data","rows":[[1,"a"],[2.50,null]],"batch_index":0}
                   |{"type":"complete","query_id":"q","rows_returned":2,"duration_seconds":0.1}
                   |""".stripMargin
      Decode.ndjsonPage(page.getBytes(UTF_8)) ==
        Right((2L, Vector(Seq("n:1", "s:a"), Seq("n:2.5", Canon.Null)))) &&
        Decode.ndjsonPage(page.split("\n").take(2).mkString("\n").getBytes(UTF_8)).isLeft
    }
    val spec = java.nio.file.Paths.get("BENCHMARK.json")
    if (java.nio.file.Files.exists(spec)) check("BENCHMARK.json names exactly the metrics a run prints") {
      val b = Json.parse(java.nio.file.Files.readString(spec))
      def listed(key: String) =
        b.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
      listed("end_to_end") == Main.EndToEnd && listed("per_layer") == Replay.Units &&
        b.get("workloads").elements.asScala.map(_.get("name").asText).toSet == Shapes.all.keySet
    }
    opts.get("data").foreach { data =>
      val work = opts("work")
      val shape = Shapes.all("browse")
      val wrong = Main.measure(shape, 7, 2.0, trace = false, data, work, tamper = true)
      check("a wrong expected hash makes fail_ratio non-zero") {
        wrong.failed > 0 && !wrong.correct && wrong.report("fail_ratio").asInstanceOf[Double] > 0
      }
      val honest = Main.measure(shape, 7, 2.0, trace = false, data, work, tamper = false)
      check("the same run with the right hashes has fail_ratio 0") {
        honest.failed == 0 && honest.correct && honest.attempted > 0
      }
    }
    println(s"${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
