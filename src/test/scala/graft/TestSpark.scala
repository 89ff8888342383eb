package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShims, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val session: SparkSession = graft.core.Session.local(4)

  /** `body`'s result and the descriptions of the Spark jobs it started
    * ("" for a job without one), counted once the listener bus drains. */
  def jobs[T](body: => T): (T, Seq[String]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    GraftShims.drainListenerBus(session)
    session.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftShims.drainListenerBus(session)
      import scala.jdk.CollectionConverters._
      (out, started.asScala.toSeq)
    } finally session.sparkContext.removeSparkListener(listener)
  }
}
