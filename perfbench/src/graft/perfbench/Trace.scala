package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchShims
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counts for named windows of driver work, registered only in
  * traced runs.
  *
  * Every job carries the window it was submitted in as a local property,
  * and every stage is attributed to its job through
  * `SparkListenerJobStart.stageIds`, so overlapping jobs (AQE, broadcast
  * threads) are never guessed at. A window is read only after the listener
  * bus is drained. Exchanges are counted from each executed physical plan
  * the QueryExecutionListener receives, final AQE plans included.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private val sc = spark.sparkContext
  private val jobWindow = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobStart = TrieMap.empty[Int, Long]
  private val acc = TrieMap.empty[String, Counts]
  @volatile private var current: String = ""

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def counts(w: String): Counts = acc.getOrElseUpdate(w, new Counts)

  /** Run `body` as window `name`; returns its result and Spark counts. */
  def window[T](name: String)(body: => T): (T, Counts) = {
    current = name
    sc.setLocalProperty(WindowKey, name)
    val t0 = System.currentTimeMillis()
    val out = try body finally {
      sc.setLocalProperty(WindowKey, null)
      PerfbenchShims.drainListenerBus(sc)
    }
    val c = acc.remove(name).getOrElse(new Counts)
    c.wallMs = System.currentTimeMillis() - t0
    c.idleMs = idleMs(c.jobSpans.toSeq, c.wallMs)
    current = ""
    (out, c)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val w = Option(e.properties).flatMap(p => Option(p.getProperty(WindowKey))).getOrElse("")
    jobWindow.put(e.jobId, w)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    counts(w).synchronized { counts(w).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    for (w <- jobWindow.remove(e.jobId); st <- jobStart.remove(e.jobId)) {
      val c = counts(w)
      c.synchronized { c.jobSpans += ((st, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val w = stageJob.remove(si.stageId).flatMap(jobWindow.get).getOrElse("")
    val c = counts(w)
    val m = si.taskMetrics
    c.synchronized {
      c.stages += 1
      c.tasks += si.numTasks
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = counts(current)
    val n = nodes(qe.executedPlan).count(_.isInstanceOf[Exchange])
    c.synchronized { c.exchanges += n }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

object Trace {
  private val WindowKey = "perfbench.window"

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
    var exchanges = 0L; var wallMs = 0L; var idleMs = 0L
    private[Trace] val jobSpans = ArrayBuffer.empty[(Long, Long)]
  }

  /** Wall time of a window during which none of its jobs was running. */
  private def idleMs(spans: Seq[(Long, Long)], wallMs: Long): Long = {
    var covered = 0L; var end = Long.MinValue
    for ((s, e) <- spans.sortBy(_._1)) {
      val from = math.max(s, end)
      if (e > from) covered += e - from
      end = math.max(end, e)
    }
    math.max(0L, wallMs - covered)
  }

  /** Every node of an executed plan: AQE's current plan, query stages,
    * children and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
}
