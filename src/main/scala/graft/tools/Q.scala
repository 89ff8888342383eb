package graft.tools

import graft.core.Session
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** Dev CLI over named queries — SparkEntry gate queries and Bench's raw
  * operator rows ([[SparkEntryLookup]]) — on one local session of
  * `$SPARK_GRAFT_CPUS` cores (default 32):
  *
  *  - `Q explain <sfDir> <outDir> <suffix> <name>...` writes each query's
  *    `.explain("formatted")` plan to `<outDir>/<name>_<suffix>.txt`, the
  *    evidence the optimization rounds commit under plans/r<N>/ so plan
  *    claims (Exchange counts, join strategies, PushedFilters) are
  *    checkable without Spark. A query that orchestrates several jobs
  *    (streaming folds, persisted-index builds) dumps the plan of its
  *    RETURNED frame, which is what computes its result.
  *  - `Q profile <sfDir> <name>...` runs each query once after a discarded
  *    warmup and attributes the wall to Spark jobs: one line per job
  *    (offset, gap before, duration, stages, tasks, task seconds,
  *    description) and a summary of job wall vs driver gaps (planning,
  *    metastore ops, file moves, other non-Spark work).
  *  - `Q remeasure <sfDir> <reps> <name>...` times a discarded warmup plus
  *    `reps` reps per query and prints `REMEASURE <name> <sec>` per rep
  *    (sec = -1 if the rep threw or the name is unknown; nothing else
  *    starts with REMEASURE). Bench spawns it in a fresh JVM (no heap
  *    history, no page-cache aliasing with the suite, its own codegen
  *    cache) to adjudicate a regression flag that survived its
  *    in-process extra reps.
  *
  * Every timed run forces the query through the noop sink, as Bench does.
  */
object Q {
  private val Usage =
    "usage: Q explain <sfDir> <outDir> <suffix> <name>... | " +
      "Q profile <sfDir> <name>... | Q remeasure <sfDir> <reps> <name>..."

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "explain" :: sfDir :: outDir :: suffix :: names =>
        explain(_, sfDir, outDir, suffix, names)
      case "profile" :: sfDir :: names => profile(_, sfDir, names)
      case "remeasure" :: sfDir :: reps :: names =>
        remeasure(_, sfDir, reps.toInt, names)
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark) finally Session.stop(spark)
  }

  /** Wall seconds of one full execution of `fn` through the noop sink,
    * in its own query lifetime (released after the clock stops). */
  private def once(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Double = Session.scoped(spark) {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    for (name <- names) SparkEntryLookup.resolve(name) match {
      case Some(fn) =>
        try {
          val plan = Session.scoped(spark)(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"EXPLAIN $name ok (${plan.length} chars)")
        } catch { case e: Throwable =>
          println(s"EXPLAIN $name FAIL: ${e.getMessage}")
        }
      case None => println(s"EXPLAIN $name UNKNOWN")
    }
  }

  private def remeasure(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Unit = {
    def rep(fn: (SparkSession, String) => DataFrame): Double =
      try once(spark, sfDir, fn) catch { case _: Throwable => -1.0 }
    for (name <- names) SparkEntryLookup.resolve(name) match {
      case Some(fn) =>
        rep(fn) // discarded warmup: a fresh JVM pays its own codegen/C2
        for (_ <- 1 to reps)
          println(String.format(java.util.Locale.ROOT,
            "REMEASURE %s %.6f", name, Double.box(rep(fn))))
      case None => println(s"REMEASURE $name -1")
    }
  }

  private case class JobRec(id: Int, start: Long, desc: String,
      var end: Long = -1L, var nStages: Int = 0, var nTasks: Int = 0,
      var taskMs: Long = 0L)

  private def profile(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
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
        jobs.put(e.jobId, JobRec(e.jobId, e.time, d))
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
    for (name <- names) SparkEntryLookup.resolve(name) match {
      case Some(fn) =>
        try once(spark, sfDir, fn) catch { case e: Throwable =>
          println(s"WARMUP FAIL $name: ${e.getMessage}") }
        // the warmup's queued events must not reach the listener
        GraftShims.drainListenerBus(spark)
        jobs.clear()
        stageJob.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.currentTimeMillis()
        val sec = try once(spark, sfDir, fn) catch { case e: Throwable =>
          println(s"RUN FAIL $name: ${e.getMessage}"); -1.0 }
        GraftShims.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
        val rows = jobs.values.toSeq.sortBy(_.start)
        println(f"PROFILE $name total=$sec%.3f s  jobs=${rows.size}")
        val gaps = gapsBeforeMs(t0, rows.map(j => (j.start, j.end)))
        for ((j, gap) <- rows.zip(gaps)) {
          val dur = if (j.end > 0) j.end - j.start else -1
          println(f"  job=${j.id}%4d off=${(j.start - t0) / 1000.0}%7.2f gapBefore=${gap / 1000.0}%6.2f dur=${dur / 1000.0}%6.2f stages=${j.nStages}%3d tasks=${j.nTasks}%5d taskSec=${j.taskMs / 1000.0}%7.2f  ${j.desc.take(80)}")
        }
        val covered = coveredMs(rows.filter(_.end > 0).map(j => (j.start, j.end)))
        println(f"  SUMMARY jobWall=${covered / 1000.0}%.2f s  driverGaps=${math.max(0.0, sec - covered / 1000.0)}%.2f s")
      case None => println(s"PROFILE $name UNKNOWN")
    }
  }

  /** Milliseconds covered by the union of `[start, end)` job intervals:
    * overlapping jobs (a broadcast beside its consumer, AQE stages)
    * count once, so the driver gaps are what no job covered. */
  private[graft] def coveredMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (start, end)) =>
        if (end <= reach) (sum, reach)
        else (sum + end - math.max(start, reach), end)
    }._1

  /** Per job of `spans` (sorted by start; end ≤ 0 for a job that did not
    * end), the milliseconds before its start that neither an earlier
    * job nor the time before `t0` covered: 0 when an earlier job was
    * still running, so overlapping jobs never read as a negative gap. */
  private[graft] def gapsBeforeMs(t0: Long, spans: Seq[(Long, Long)]): Seq[Long] =
    spans.scanLeft((0L, t0)) { case ((_, reach), (start, end)) =>
      (math.max(0L, start - reach), if (end > 0) math.max(reach, end) else reach)
    }.tail.map(_._1)
}

/** Name → query fn over BOTH Bench surfaces: the SparkEntry gate map and
  * Bench's raw-operator rows (which are not SparkEntry queries but ARE
  * regression-gated), so any flagged name can be remeasured. */
private[tools] object SparkEntryLookup {
  def resolve(name: String): Option[(SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries.get(name).orElse(graft.Bench.rawOperators.toMap.get(name))
}
