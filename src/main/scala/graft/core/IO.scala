package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** IO helpers for the codec surface.
  *
  * Reference behavior being re-expressed (see /root/reference):
  *  - NDJSON source: one document per line, bytes preserved verbatim
  *    (src/codec.rs:8-19). Spark equivalent is `spark.read.text` — NOT
  *    `spark.read.json`, which would parse/normalize and break the
  *    plain-json codec's byte-fidelity round trip.
  *  - Parquet sink with ZSTD page compression + dictionary encoding
  *    (src/format/plain_json.rs:37-39 et al.); Spark's parquet writer
  *    dictionary-encodes by default, we only pin the codec.
  *
  * Scale note: both read paths are plain distributed file scans — no
  * driver-side materialization anywhere. At 100 TB the NDJSON scan
  * splits by line boundaries per HDFS block, and the parquet scan
  * splits by row group; neither needs special handling here.
  */
object IO {
  val Zstd = "zstd"

  /** NDJSON → DataFrame["doc": string], one row per line, exact bytes. */
  def readNdjson(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).toDF("doc")

  /** Write any encoded frame as ZSTD parquet (reference `flush`). */
  def writeParquetZstd(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", Zstd).parquet(path)

  /** Read a parquet path with no declared schema (the testdata tables).
    * Spark's inference costs one Spark job, so the schema it inferred is
    * memoized per [[listing]]: a repeat read of an unchanged path starts
    * no job, and a rewritten path is inferred afresh. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(inferred(listing(spark, path))(spark.read.parquet(path).schema))
      .parquet(path)

  /** A path's identity: the path and its one-level file listing (name,
    * length, modification time; a subdirectory's name ends in `/`). */
  private[graft] type Listing = (String, Seq[(String, Long, Long)])

  /** `path`'s [[Listing]]; None when the path cannot be listed — the
    * read then fails with Spark's own error. */
  private[graft] def listing(spark: SparkSession, path: String): Option[Listing] = {
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p))
      .toOption.map(fs => (path,
        fs.toSeq.map(f => (f.getPath.getName + (if (f.isDirectory) "/" else ""),
          f.getLen, f.getModificationTime)).sorted))
  }

  /** A driver-side memo keyed by a [[Listing]] (with whatever else the
    * value depends on; `pathOf` names the key's listed path): a hit
    * starts no Spark job, and a path rewritten since has another
    * listing, so it misses and is computed afresh. An entry whose path
    * lies under a scratch dir goes when [[deleteScratch]] deletes the
    * dir, as no later listing can match it. */
  private[graft] final class ListingMemo[K, V](pathOf: K => String) {
    private val entries = new java.util.concurrent.ConcurrentHashMap[K, V]()
    ListingMemo.all.add(this)

    /** `key`'s value, computed and stored on a miss; with no key (an
      * unlistable path) it is computed on every call. */
    def apply(key: Option[K])(compute: => V): V = key match {
      case Some(k) => Option(entries.get(k)).getOrElse {
        val v = compute
        entries.putIfAbsent(k, v)
        v
      }
      case None => compute
    }

    /** Store `v` under `key`, for the writer that has just written it. */
    def seed(key: Option[K], v: V): Unit = key.foreach(entries.put(_, v))

    def size: Int = entries.size
    def clear(): Unit = entries.clear()

    private def evictUnder(dirs: Iterable[java.nio.file.Path]): Unit =
      entries.keySet.removeIf(k => ListingMemo.localPath(pathOf(k)).exists(p => dirs.exists(p.startsWith)))
  }

  private[graft] object ListingMemo {
    private val all = new java.util.concurrent.ConcurrentLinkedQueue[ListingMemo[_, _]]()

    /** The entry count of every memo, in the order they were made. */
    def sizes: Seq[Int] = {
      import scala.jdk.CollectionConverters._
      all.asScala.toSeq.map(_.size)
    }

    /** Drop every memo's entries whose path lies under one of `dirs`. */
    def evictUnder(dirs: Iterable[java.nio.file.Path]): Unit = {
      val roots = dirs.map(_.toAbsolutePath.normalize)
      if (roots.nonEmpty) all.forEach(_.evictUnder(roots))
    }

    /** `path` as an absolute local path; None on another file system. */
    private def localPath(path: String): Option[java.nio.file.Path] = {
      val uri = new org.apache.hadoop.fs.Path(path).toUri
      if (uri.getScheme != null && uri.getScheme != "file") None
      else Some(java.nio.file.Paths.get(uri.getPath).toAbsolutePath.normalize)
    }
  }

  private val inferred =
    new ListingMemo[Listing, org.apache.spark.sql.types.StructType](_._1)

  /** Total on-disk size in bytes of a written dataset (file or dir) —
    * powers the compression-ratio metric (reference
    * scripts/benchmark_results.csv `parquet_file_size`). Goes through
    * the Hadoop FileSystem API so it works against any cluster FS
    * (HDFS/S3A/local), not just java.io paths.
    */
  def pathSize(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the ACTIVE session's Hadoop conf, so fs.defaultFS / S3A credentials
    // configured on the session are honored on a real cluster (a blank
    // Configuration would silently fall back to local defaults)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    fs.getContentSummary(p).getLength
  }

  /** Create a scratch dir. Operators that stage data through local
    * scratch space (c07, p01, p03, the persisted stores) hand out
    * lazily-read paths, so the operator itself cannot delete the dir.
    * Each dir is registered instead: the [[Session.scoped]] lifetime of
    * the query that made it deletes it once the query's consumer is
    * done, and ONE shared JVM-exit hook deletes whatever no scope owned
    * (a caller outside any scope, or a [[Session.keep]] artifact never
    * released), so no dir outlives the JVM.
    */
  def scratchDir(prefix: String): String =
    SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.artifactRoot"))
      .orElse(sys.env.get("GRAFT_ARTIFACT_ROOT")) match {
      case Some(root) =>
        // DURABLE artifact root (round-17 verdict item 5): when
        // `spark.graft.artifactRoot` is set on the active session (or
        // GRAFT_ARTIFACT_ROOT in the environment), dirs land under
        // that root and are NOT registered — no scope and no exit hook
        // deletes them. That is the seam that lets persisted stores
        // (s29 graph, s11 codes, t18b postings, m08 media) outlive the
        // JVM, with a NEW session serving them from the landed paths
        // alone (spec-pinned, no catalog entry required). Lifecycle of
        // the root is the caller's (a deployment points it at its lake
        // path).
        val base = java.nio.file.Paths.get(root)
        java.nio.file.Files.createDirectories(base)
        java.nio.file.Files.createTempDirectory(base, prefix).toString
      case None =>
        val dir = java.nio.file.Files.createTempDirectory(prefix)
        scratchRegistry.add(dir)
        dir.toString
    }

  /** The scratch dirs registered and not yet deleted. */
  private[graft] def scratchDirs: Set[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    scratchRegistry.asScala.toSet
  }

  /** Delete registered scratch `dirs`, unregister them and evict the
    * memo entries listed under them. */
  private[graft] def deleteScratch(dirs: Iterable[java.nio.file.Path]): Unit = {
    dirs.foreach { d => deleteRecursively(d); scratchRegistry.remove(d) }
    ListingMemo.evictUnder(dirs)
  }

  private lazy val scratchRegistry: java.util.Set[java.nio.file.Path] = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      dirs.asScala.toSeq.foreach(deleteRecursively)
    }))
    dirs
  }

  private[graft] def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      val all = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      all.foreach(p =>
        try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
    }
}
