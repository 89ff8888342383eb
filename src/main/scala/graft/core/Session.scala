package graft.core

import graft.GraftExtensions
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The one way this engine builds and stops a Spark session, and the one
  * lifetime of what a query leaves in it. Bench, Verify, the
  * `graft.tools.Q` dev CLI and the test suite all share it, so their
  * settings cannot drift apart. */
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

  /** What a session holds that outlives the frames referencing it: the
    * ids of its persisted RDDs (localCheckpoints and caches), its
    * `default` catalog tables and temp views, and the registered
    * [[IO.scratchDir]]s. */
  private[graft] final case class Held(rdds: Set[Int], tables: Set[TableIdentifier],
      dirs: Set[java.nio.file.Path]) {
    def --(o: Held): Held = Held(rdds -- o.rdds, tables -- o.tables, dirs -- o.dirs)
    def ++(o: Held): Held = Held(rdds ++ o.rdds, tables ++ o.tables, dirs ++ o.dirs)
  }

  private[graft] object Held {
    val empty: Held = Held(Set.empty, Set.empty, Set.empty)
  }

  /** What `spark` holds now. Reading it starts no Spark job. */
  private[graft] def held(spark: SparkSession): Held =
    Held(spark.sparkContext.getPersistentRDDs.keySet.toSet,
      spark.sessionState.catalog.listTables("default").toSet, IO.scratchDirs)

  /** The [[keep]] set of each application (SparkContext id). */
  private val kept = new java.util.concurrent.ConcurrentHashMap[String, Held]()

  /** What [[keep]] exempts in `spark`'s application. */
  private[graft] def keptBy(spark: SparkSession): Held =
    Option(kept.get(spark.sparkContext.applicationId)).getOrElse(Held.empty)

  /** One query's lifetime: run `body` — the query AND its consumer's
    * action — then release whatever `body` left in `spark` that was not
    * there before it and is not [[keep]]-exempt: unpersist the RDDs,
    * drop the tables, delete the scratch dirs, in that order. The
    * operators know nothing of it; they checkpoint, `saveAsTable` and
    * take scratch dirs as they please, and nothing they hand out may be
    * read after `body` returns. Scopes nest (each releases what is new
    * to it), and assume one query at a time per application: a
    * concurrent query's new RDDs and tables would be released too.
    * Outside any scope nothing is released, and the JVM-exit hook of
    * [[IO.scratchDir]] still deletes the dirs. */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val before = held(spark)
    try body
    finally release(spark, held(spark) -- before -- keptBy(spark))
  }

  /** Run `build`, and exempt what it leaves in `spark` from every
    * enclosing [[scoped]] lifetime: the memoized artifacts that later
    * queries read (the s22 graph store, the s26 base build). Only
    * [[releaseKept]] releases them. A `build` that throws exempts
    * nothing, so its enclosing scope releases its debris. */
  def keep[T](spark: SparkSession)(build: => T): T = {
    val before = held(spark)
    val out = build
    kept.merge(spark.sparkContext.applicationId, held(spark) -- before, _ ++ _)
    out
  }

  /** Release everything [[keep]] exempted in `spark`'s application. */
  private[graft] def releaseKept(spark: SparkSession): Unit =
    Option(kept.remove(spark.sparkContext.applicationId)).foreach(release(spark, _))

  private def release(spark: SparkSession, h: Held): Unit = {
    h.rdds.foreach(GraftShims.unpersistRdd(spark.sparkContext, _))
    h.tables.foreach(t =>
      if (t.database.isEmpty) spark.catalog.dropTempView(t.table)
      else spark.sql(s"DROP TABLE IF EXISTS ${t.quotedString}"))
    IO.deleteScratch(h.dirs)
  }
}
