package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pass of a workload: its timed steps and the operations it tried. */
final case class Pass(writeS: Double, readS: Double, attempted: Int, failed: Int,
    layer: Map[String, Double]) {
  def passS: Double = writeS + readS
}

/** A workload owns its inputs, its pass, the checks of its outputs and the
  * per-layer metrics only it can take. */
abstract class Workload(val spark: SparkSession, val root: String, val seed: Long) {
  /** Passes run and discarded before timing, so that the timed passes see
    * a warm JIT and Spark's code-generation cache. */
  def warmPasses: Int
  /** Fewest timed passes a run makes, however long they take. */
  def minPasses: Int
  /** Write the seeded inputs under `root`. */
  def generate(): Unit
  def pass(): Pass
  /** Release what one pass left that the next pass must not see. */
  def endPass(): Unit
  /** Stored bytes per input byte, from the last pass's outputs. */
  def storedRatio(): Double
  /** Problems found in the last pass's outputs; empty when correct. */
  def check(): Seq[String]
  /** Traced run only: standalone layer calls, after the timed passes. */
  def layers(): Map[String, Double]
}

/** Benchmark driver: one workload, one JVM.
  *
  * Args: workload seed seconds trace tempRoot. Prints one JSON line with
  * `correct`, `attempted`, `failed` and a name → value metric map (units
  * are attached by run.py from BENCHMARK.json).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, root) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark)) else None

    val w: Workload = workload match {
      case "json_codecs" => new JsonCodecs(spark, root, seed)
      case "vector_index" => new VectorIndex(spark, root, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val generateS = timed(w.generate())
    val warmS = (1 to w.warmPasses).map(_ => timed { w.pass(); w.endPass() }) // discarded
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"perfbench: setup: session $sessionS%.2f s, inputs $generateS%.2f s, " +
      "warm passes " + warmS.map(s => f"$s%.2f").mkString(" ") + " s")

    val passes = Vector.newBuilder[Pass]
    val counts = Vector.newBuilder[Trace.Counts]
    val residue = Vector.newBuilder[Map[String, Double]]
    val t0 = System.nanoTime()
    var n = 0
    var last = false
    var retainedHeapMb = 0.0
    while (!last) {
      val before = if (traced) Residue.snapshot(spark, root) else Map.empty[String, Double]
      val sinceMs = System.currentTimeMillis()
      val p = trace match {
        case Some(t) =>
          val (p, c) = t.window(s"pass-$n")(w.pass())
          counts += c
          p
        case None => w.pass()
      }
      passes += p
      n += 1
      // after a fixed number of passes, so that heap a pass leaks counts
      // the same in every run, however many passes the time allows
      if (n == w.minPasses && !traced) retainedHeapMb = Residue.retainedHeapMb()
      last = n >= w.minPasses && (System.nanoTime() - t0) / 1e9 >= seconds
      if (traced) residue += Residue.delta(before, Residue.snapshot(spark, root)) +
        ("spark.output_files" -> Residue.outputFiles(root, sinceMs).toDouble)
      if (!last) w.endPass()
    }
    val ps = passes.result()

    val metrics = Map.newBuilder[String, Double]
    if (!traced) {
      metrics += "setup_s" -> setupS
      metrics += "pass_s" -> median(ps.map(_.passS))
      metrics += "write_s" -> median(ps.map(_.writeS))
      metrics += "read_s" -> median(ps.map(_.readS))
      metrics += "stored_ratio" -> w.storedRatio()
      metrics += "retained_heap_mb" -> retainedHeapMb
    }
    val checkStart = System.nanoTime()
    val problems = w.check()
    System.err.println(f"perfbench: ${ps.size}%d timed passes " +
      ps.map(p => f"${p.passS}%.2f").mkString(" ") +
      f"; checks ${(System.nanoTime() - checkStart) / 1e9}%.2f s")
    w.endPass()
    if (traced) {
      metrics += "trace.pass_s" -> median(ps.map(_.passS))
      for (k <- ps.head.layer.keys) metrics += k -> median(ps.map(_.layer(k)))
      val cs = counts.result()
      def med(f: Trace.Counts => Double) = median(cs.map(f))
      metrics ++= Seq(
        "spark.jobs" -> med(_.jobs.toDouble), "spark.stages" -> med(_.stages.toDouble),
        "spark.tasks" -> med(_.tasks.toDouble), "spark.task_s" -> med(_.taskMs / 1e3),
        "spark.idle_s" -> med(_.idleMs / 1e3), "spark.exchanges" -> med(_.exchanges.toDouble),
        "spark.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
        "spark.spill_bytes" -> med(_.spillBytes.toDouble),
        "spark.input_bytes" -> med(_.inputBytes.toDouble))
      val rs = residue.result()
      for (k <- rs.head.keys) metrics += k -> median(rs.map(_(k)))
      metrics ++= w.layers()
    }
    problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))

    val body = metrics.result().toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.quote(k)}: ${v.toString}" }.mkString(", ")
    println(s"""{"correct": ${problems.isEmpty}, "attempted": ${ps.map(_.attempted).sum}, """ +
      s""""failed": ${ps.map(_.failed).sum}, "metrics": {$body}}""")
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Force a frame through the noop sink: every row computed, none kept. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Parquet data files under `dir`, by size. */
  def parquetFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toVector
      finally walk.close()
    }
  }

  def parquetBytes(dir: String): Long = parquetFiles(dir).map(Files.size).sum

  /** Bytes of every regular file under `dir`. */
  def walkBytes(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }
}
