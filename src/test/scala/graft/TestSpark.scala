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

  /** `body` under the given shuffle partitions and AQE setting of the
    * shared session, restoring the caller's settings afterwards. */
  def withConfs[T](partitions: String, aqe: String)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> session.conf.getOption(k))
    try {
      session.conf.set(keys(0), partitions)
      session.conf.set(keys(1), aqe)
      body
    } finally saved.foreach { case (k, v) => v.fold(session.conf.unset(k))(session.conf.set(k, _)) }
  }
}
