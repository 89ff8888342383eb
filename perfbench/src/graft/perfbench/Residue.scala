package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a pass leaves behind: persisted RDDs, storage memory, program
  * scratch on disk (`graft.core.IO.scratchDir` dirs, which live until JVM
  * exit), catalog tables, and the GC time the pass cost. */
object Residue {
  private val MB = 1024.0 * 1024.0

  def snapshot(spark: SparkSession, root: String): Map[String, Double] = {
    val sc = spark.sparkContext
    val scratch = Files.list(Paths.get(root))
    val scratchBytes = try scratch.iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-"))
      .map(d => Main.walkBytes(d.toString)).sum finally scratch.close()
    Map(
      "storage.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "storage.cached_mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / MB,
      "storage.scratch_mb" -> scratchBytes / MB,
      "storage.catalog_tables" -> spark.catalog.listTables().count().toDouble,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3)
  }

  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) }

  /** Data files (Spark `part-*` files) under `root` written since `sinceMs`. */
  def outputFiles(root: String, sinceMs: Long): Int = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.count(f => Files.isRegularFile(f) &&
      f.getFileName.toString.startsWith("part-") &&
      Files.getLastModifiedTime(f).toMillis >= sinceMs)
    finally walk.close()
  }

  /** Heap in use after full collections, repeated until it stops falling.
    * Spark's ContextCleaner frees broadcast and shuffle blocks on its own
    * thread, only after a collection has cleared their driver-side handles,
    * so one collection leaves a share of them in the heap that varies from
    * run to run. */
  def retainedHeapMb(): Double = {
    def collected(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }
    var used = Vector(collected())
    while (used.size < 10 && (used.size < 2 || used(used.size - 2) - used.last >= 0.5)) {
      Thread.sleep(100)
      used :+= collected()
    }
    System.err.println("perfbench: heap after each collection " +
      used.map(u => f"$u%.1f").mkString(" ") + " MB")
    used.last
  }
}
