package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** Dev-only measurement harness (guide §1): run named SparkEntry queries
  * once (after a discarded warmup) with a listener that attributes wall
  * time to Spark JOBS — prints one line per job (start-relative offset,
  * duration, #stages, #tasks, total task time, description head) plus a
  * per-query summary of scheduled-job wall vs gaps (driver-side time:
  * planning, metastore ops, file moves, non-Spark work).
  *
  * Usage:
  *   java -cp ... graft.tools.ProfileQ <sfDir> <query names...>
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class JobRec(id: Int, start: Long, var end: Long = -1L,
        var nStages: Int = 0, var nTasks: Int = 0, var taskMs: Long = 0L,
        desc: String)
    val jobs = new scala.collection.concurrent.TrieMap[Int, JobRec]()
    val stageJob = new scala.collection.concurrent.TrieMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        jobs.put(e.jobId, JobRec(e.jobId, e.time, desc = d))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        // the job whose JobStart listed the stage, not a guess at
        // whichever job is open (AQE and broadcasts overlap jobs)
        stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.nStages += 1
          j.nTasks += si.numTasks
          j.taskMs += si.taskMetrics.executorRunTime
        }
      }
    }

    def once(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    for (name <- names) {
      SparkEntryLookup.resolve(name) match {
        case Some(fn) =>
          try once(fn) catch { case e: Throwable =>
            println(s"WARMUP FAIL $name: ${e.getMessage}") }
          // the warmup's queued events must not reach the listener
          GraftShims.drainListenerBus(spark)
          jobs.clear()
          stageJob.clear()
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.currentTimeMillis()
          val sec = try once(fn) catch { case e: Throwable =>
            println(s"RUN FAIL $name: ${e.getMessage}"); -1.0 }
          GraftShims.drainListenerBus(spark)
          spark.sparkContext.removeSparkListener(listener)
          val rows = jobs.values.toSeq.sortBy(_.start)
          println(f"PROFILE $name total=$sec%.3f s  jobs=${rows.size}")
          var covered = 0L
          var cursor = t0
          for (j <- rows) {
            val dur = if (j.end > 0) j.end - j.start else -1
            val gap = j.start - cursor
            if (j.end > 0) { covered += dur; cursor = math.max(cursor, j.end) }
            println(f"  job=${j.id}%4d off=${(j.start - t0) / 1000.0}%7.2f gapBefore=${gap / 1000.0}%6.2f dur=${dur / 1000.0}%6.2f stages=${j.nStages}%3d tasks=${j.nTasks}%5d taskSec=${j.taskMs / 1000.0}%7.2f  ${j.desc.take(80)}")
          }
          println(f"  SUMMARY jobWall=${covered / 1000.0}%.2f s  driverGaps=${math.max(0.0, sec - covered / 1000.0)}%.2f s")
        case None => println(s"PROFILE $name UNKNOWN")
      }
    }
    spark.stop()
  }
}
