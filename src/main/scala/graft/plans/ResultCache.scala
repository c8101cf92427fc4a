package graft.plans

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Fingerprint-keyed query result cache: a result set is stored under the
  * md5 of its CANONICALIZED optimized logical plan PLUS a content token
  * over the plan's input files, so any later query with the same semantics
  * — however its DataFrame was built, whatever exprIds it carries — reads
  * the materialized parquet instead of recomputing. The warehouse
  * result-cache primitive (Snowflake's query result reuse) on plain files;
  * correctness rests on Catalyst's plan canonicalization (which normalizes
  * attribute ids and child order for commutative nodes) and on the content
  * token (file names + lengths + modification times): a source REWRITTEN
  * IN PLACE changes its files' mtimes/sizes, so the stale entry simply
  * stops being addressed — no writer-side invalidation protocol needed.
  */
object ResultCache {

  /** A fresh per-JVM cache directory under java.io.tmpdir, named
    * `<prefix><random>` and deleted recursively on JVM exit — entries can
    * never go stale across runs, so every invocation computes from its
    * inputs. Call once per cache (from a `lazy val`).
    */
  def jvmDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(d.toFile)
    }))
    d.toString
  }

  def fingerprint(df: DataFrame): String = {
    val canonical = df.queryExecution.optimizedPlan.canonicalized.toString
    // Content token: the plan's leaf input files with length + mtime.
    // Bounded: file paths are sorted and capped so a million-file table
    // costs 1000 stats, with the total count + total length covering the
    // rest (a rewrite that changes NO file count, NO capped-file stat and
    // NO total byte length is not distinguishable — acceptable for a
    // cache whose alternative was ignoring content entirely).
    val files = df.inputFiles.sorted
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val stats = files.take(1000).map { p =>
      try {
        val path = new Path(p)
        val st = path.getFileSystem(conf).getFileStatus(path)
        s"$p:${st.getLen}:${st.getModificationTime}"
      } catch { case _: java.io.IOException => p }
    }
    val token =
      s"n=${files.length}\n${stats.mkString("\n")}"
    java.security.MessageDigest.getInstance("MD5")
      .digest((canonical + "\n" + token).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Run `df` through the cache at `cacheDir`: on miss, materialize to
    * `<cacheDir>/<fingerprint>`; on hit, skip computation entirely.
    * Returns the result (always read back from the cache files, so hit
    * and miss return byte-identical relations) and whether it was a hit.
    *
    * Publication is write-temp-then-rename: concurrent first computations
    * of the same fingerprint each write their own temp dir and the rename
    * decides the winner — the loser deletes its copy and reads the
    * winner's (both computed the same relation, so either copy is
    * correct); readers can never observe a half-written entry because the
    * final path appears atomically.
    */
  def through(df: DataFrame, cacheDir: String): (DataFrame, Boolean) = {
    val spark = df.sparkSession
    val path = s"$cacheDir/${fingerprint(df)}"
    val fs = FileSystem.get(new URI(cacheDir),
                            spark.sparkContext.hadoopConfiguration)
    val hit = fs.exists(new Path(s"$path/_SUCCESS"))
    if (!hit) {
      val tmp = s"$path.tmp-${java.util.UUID.randomUUID().toString}"
      df.write.mode("overwrite").parquet(tmp)
      if (fs.exists(new Path(path)) || !fs.rename(new Path(tmp), new Path(path)))
        fs.delete(new Path(tmp), true) // lost the publish race: use winner's
    }
    (spark.read.parquet(path), hit)
  }

  /** [[fingerprint]] over the plan with row-DISTRIBUTION nodes
    * (repartition / coalesce / rebalance) stripped: content-identical
    * relations that differ only by a round-robin spread
    * (`Tables.spread`'s under-split workaround) share one cache entry.
    * Only sound for consumers whose derivation is SET-defined
    * (joins/aggregates/distinct — anything whose result multiset does not
    * depend on row placement), which is what every cache consumer here
    * computes.
    */
  def contentFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    val stripped = df.queryExecution.optimizedPlan.transformUp {
      case r: RepartitionOperation => r.child
    }
    val canonical = stripped.canonicalized.toString
    val files = df.inputFiles.sorted
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val stats = files.take(1000).map { p =>
      try {
        val path = new Path(p)
        val st = path.getFileSystem(conf).getFileStatus(path)
        s"$p:${st.getLen}:${st.getModificationTime}"
      } catch { case _: java.io.IOException => p }
    }
    val token = s"n=${files.length}\n${stats.mkString("\n")}"
    java.security.MessageDigest.getInstance("MD5")
      .digest((canonical + "\n" + token).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Keyed variant for operators whose cacheable relation is EXPENSIVE to
    * even construct lazily (a multi-stage pipeline with internal
    * persists): the caller supplies the full cache key — typically
    * [[contentFingerprint]] of the INPUT relation plus the pipeline's
    * parameters — and `compute` is only evaluated on a miss. `compute`
    * returns the relation plus the internal caches / local checkpoints it
    * created; both are released here AFTER the materializing write (the
    * [[graft.operators.Seal]] discipline), so a miss leaves executor
    * storage flat and a hit never builds the pipeline at all.
    *
    * An EMPTY result can land zero part files (zero-partition plans write
    * nothing), after which schema inference rejects every read — the
    * schema is landed explicitly as one zero-row part file (the
    * VersionedTable empty-publish pattern).
    */
  def throughKeyed(spark: org.apache.spark.sql.SparkSession,
                   cacheDir: String,
                   key: String)
                  (compute: => (DataFrame, Seq[DataFrame], Seq[DataFrame])): DataFrame = {
    val keyHash = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val path = s"$cacheDir/$keyHash"
    val fs = FileSystem.get(new URI(cacheDir),
                            spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$path/_SUCCESS"))) {
      val (df, caches, ckpts) = compute
      val tmp = s"$path.tmp-${java.util.UUID.randomUUID().toString}"
      df.write.mode("overwrite").parquet(tmp)
      val hasData = fs.listStatus(new Path(tmp))
        .exists(_.getPath.getName.startsWith("part-"))
      if (!hasData)
        df.limit(0).repartition(1).write.mode("append").parquet(tmp)
      if (fs.exists(new Path(path)) || !fs.rename(new Path(tmp), new Path(path)))
        fs.delete(new Path(tmp), true) // lost the publish race: use winner's
      caches.foreach(_.unpersist(false))
      ckpts.foreach(graft.operators.Seal.releaseCheckpoint)
    }
    spark.read.parquet(path)
  }
}
