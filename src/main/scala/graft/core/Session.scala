package graft.core

import graft.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The one way this engine builds and stops a Spark session. Bench,
  * Verify, the `graft.tools.Q` dev CLI and the test suite all share
  * it, so their settings cannot drift apart. */
object Session {

  /** A local session on `cores` cores: GraftExtensions injected (the
    * native SQL surface), one shuffle partition per core, UTC session
    * time zone (see [[Tables]] for why readers rely on it), AQE on, no
    * UI, log level WARN. If a session already exists, `getOrCreate`
    * returns it and only the runtime SQL settings apply. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stop `spark`, the StateStore maintenance scheduler first: its next
    * tick would otherwise fire after SparkEnv dies and print an
    * IllegalStateException stack into the captured output tail. */
  def stop(spark: SparkSession): Unit = {
    StateStore.stop()
    spark.stop()
  }
}
