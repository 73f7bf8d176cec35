package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Optimization-round diagnostic main (guide §1: measure first) — runs one
 * or more `SparkEntry.queries` entries in-process with a job-level
 * listener and prints, per query execution, every Spark job's wall time,
 * task count, summed task time and description. This is how the r14
 * optimization pass attributes a composite query's seconds to its
 * internal actions (checkpoint materializations, store writes, the final
 * noop) instead of guessing from code. Not part of the driver contract;
 * never invoked by Bench/Verify.
 *
 * Usage: runMain graft.QueryProfile <name>[,<name>...] [sfDir]
 */
object QueryProfile {
  private case class JobRec(id: Int, desc: String, started: Long,
                            var ended: Long = 0L, var nTasks: Int = 0,
                            var taskMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(sys.exit(1))
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.engine.GraftEngine.batchSession("graft-profile")

    val jobs = new scala.collection.mutable.ArrayBuffer[JobRec]
    val byId = new scala.collection.mutable.HashMap[Int, JobRec]
    // stageId -> jobId, recorded at job start: the temporal "most recent
    // unfinished job" heuristic this replaced misattributed stages
    // whenever jobs overlap — exactly the Par.inParallel concurrent-
    // submission pattern the r14 round introduced.
    val stageJob = new scala.collection.mutable.HashMap[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse(""))
        val r = JobRec(e.jobId, desc.take(120), e.time)
        jobs += r; byId(e.jobId) = r
        e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.ended = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = e.stageInfo
          stageJob.get(si.stageId).flatMap(byId.get).foreach { j =>
            j.nTasks += si.numTasks
            j.taskMs += (si.completionTime.getOrElse(0L) -
              si.submissionTime.getOrElse(0L))
          }
        }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up (twice, matching Bench)
      (1 to 2).foreach { _ =>
        try Bench.runOnce(spark, sfDir, fn) catch { case _: Throwable => () }
      }
      System.gc(); Thread.sleep(150)
      spark.sparkContext.addSparkListener(listener)
      jobs.synchronized { jobs.clear(); byId.clear() }
      val t0 = System.nanoTime()
      Bench.runOnce(spark, sfDir, fn)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let late listener events drain
      println(f"\n=== $name wall=$wall%.3f s, ${jobs.size} jobs ===")
      var prevEnd = 0L
      jobs.foreach { j =>
        val dur = (j.ended - j.started) / 1e3
        val gap = if (prevEnd > 0) (j.started - prevEnd) / 1e3 else 0.0
        prevEnd = j.ended
        println(f"job ${j.id}%4d ${dur}%8.3f s gap=${gap}%7.3f s tasks=${j.nTasks}%4d | ${j.desc}")
      }
      val covered = jobs.map(j => (j.ended - j.started)).sum / 1e3
      println(f"sum(job wall)=$covered%.3f s vs query wall=$wall%.3f s (gap = driver-side planning/commit)")
    }
    spark.stop()
  }
}
