package graft
import graft.core.Session
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only third arg: comma-separated name prefixes — run just
    // those queries (the driver always passes exactly two args)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    dump(spark, sfDir, outDir, only)
    Session.stop(spark)
  }

  /** Write each selected query's result to `<outDir>/<name>` and the
    * oracle_sql.json / exact_twins.json manifests. `only` (name
    * prefixes) selects a subset, and both manifests then name just the
    * selected queries, so scripts/check_oracle.py gates exactly what
    * ran; with `None` every query runs and the manifests are complete. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Seq[String]]): Unit = {
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    def ran(name: String): Boolean = only.isEmpty || selected.contains(name)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try Session.scoped(spark)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => ran(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable truth-twin manifest (SparkEntry.exactTwins): maps
    // each oracle-exact `weak`-at-scale query to its deploy-path twins
    // so artifact consumers can't mistake a truth twin for the scale form
    val twins = SparkEntry.exactTwins.toSeq.filter(kv => ran(kv._1)).sortBy(_._1)
      .map { case (k, vs) => s"${q(k)}: ${vs.map(q).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/exact_twins.json"), twins)
  }
}
