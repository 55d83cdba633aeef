package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only gate profiler: runs the named queries bench-style (sf0.001
  * warm-up, then one timed pass) and reports, per query, how the wall
  * time splits between Spark jobs (with descriptions) and driver-side
  * gaps (log replay, file IO, planning). Guides where to optimize a
  * lifecycle gate: many tiny jobs => per-commit overhead; big gaps =>
  * driver work; few fat stages => real compute.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.JobProbe q152_... q171_..."
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warehouse = "/root/repo/target/bench-warehouse"
    val spark = SessionTuning.session(warehouse = Some(warehouse))
    spark.sparkContext.setLogLevel("ERROR")

    final case class Job(id: Int, desc: String, var start: Long, var end: Long,
        var execRunMs: Long, var stages: Int, var tasks: Int)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    // per-stage-callsite rollup: name -> (stages, tasks, execRunMs, wallMs)
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, d, e.time, e.time, 0L, 0, 0))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        Option(stageToJob.get(e.stageInfo.stageId))
          .flatMap(j => Option(jobs.get(j))).foreach { j =>
            j.execRunMs += e.stageInfo.taskMetrics.executorRunTime
            j.stages += 1
            j.tasks += e.stageInfo.numTasks
          }
        val i = e.stageInfo
        val wall = (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(0L)
        // attribute the stage to its first graft frame (the short name is
        // usually an opaque executor-pool frame); fall back to the short name
        val graftFrame = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("JobProbe"))
          .map(_.trim)
        val key = graftFrame.getOrElse(i.name.takeWhile(_ != '+').trim)
        val a = stageAgg.computeIfAbsent(key,
          _ => Array(0L, 0L, 0L, 0L, 0L, 0L))
        a.synchronized {
          a(0) += 1; a(1) += i.numTasks
          a(2) += i.taskMetrics.executorRunTime; a(3) += wall
          a(4) += i.taskMetrics.executorCpuTime / 1000000L
          a(5) += i.taskMetrics.jvmGCTime
        }
      }
    })

    val names = if (args.nonEmpty) args.toSeq else Seq("q30_pipeline")
    val warmDir = {
      val d = "/root/testdata/sf0.001"
      if (new java.io.File(d).exists()) d else sfDir
    }
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    names.foreach { n =>
      jobs.clear(); stageToJob.clear(); stageAgg.clear()
      val t0 = System.currentTimeMillis()
      SparkEntry.queries(n)(spark, sfDir).count(): Unit
      val wall = System.currentTimeMillis() - t0
      // merge overlapping job intervals to get true "in-job" wall coverage
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      var covered = 0L
      var curS = -1L; var curE = -1L
      js.foreach { j =>
        if (j.start > curE) { if (curE > curS) covered += curE - curS; curS = j.start; curE = j.end }
        else if (j.end > curE) curE = j.end
      }
      if (curE > curS) covered += curE - curS
      println(f"\n===== $n  wall=${wall / 1e3}%.2fs  jobs=${js.size}  in-job=${covered / 1e3}%.2fs  driver-gap=${(wall - covered).max(0L) / 1e3}%.2fs =====")
      val byDesc = js.groupBy(j => if (j.desc.length > 70) j.desc.take(70) else j.desc)
        .map { case (d, g) =>
          (d, g.size, g.map(j => j.end - j.start).sum, g.map(_.execRunMs).sum, g.map(_.tasks).sum)
        }.toSeq.sortBy(-_._3)
      byDesc.take(25).foreach { case (d, n2, w, e, t) =>
        println(f"  ${w / 1e3}%7.2fs wall  n=$n2%-4d execRun=${e / 1e3}%7.2fs tasks=$t%-5d $d")
      }
      println("  -- by stage callsite (execRun desc) --")
      stageAgg.asScala.toSeq.sortBy(-_._2(2)).take(30).foreach { case (nm, a) =>
        println(f"  stages=${a(0)}%-4d tasks=${a(1)}%-5d execRun=${a(2) / 1e3}%7.2fs cpu=${a(4) / 1e3}%7.2fs gc=${a(5) / 1e3}%6.2fs wall=${a(3) / 1e3}%7.2fs  $nm")
      }
    }
    spark.stop()
  }
}
