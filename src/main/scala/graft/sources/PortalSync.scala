package graft.sources

import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental portal sync (round 8) — the reference's cache-refresh loop
  * re-fetched whole datasets; the pipeline-grade version fetches only rows
  * whose watermark column (Socrata's `:updated_at` system field, or any
  * monotone column) moved past the cached high-water mark, and merges them
  * into the parquet cache by key:
  *
  *   watermark = max(watermarkCol) over the cache
  *   delta     = fetch WHERE watermarkCol >= watermark     (server-side)
  *   cache     = Upsert(cache, delta, keys, version = watermarkCol)
  *
  * The `>=` is deliberate: rows stamped exactly at the watermark may have
  * landed after the previous fetch read its page (same-timestamp race), so
  * the boundary is re-fetched and the keyed upsert dedups it — the
  * standard exactly-once-by-merge discipline. `watermarkCol` doubles as
  * the upsert version, so among colliding rows the newest wins
  * deterministically.
  *
  * The cache is read once per refresh: its footer schema comes from a
  * driver-side read ([[Sources.readParquet]]), and the same frame serves
  * the watermark `max` and the upsert base.
  *
  * At 100 TB: the cache is the big, partitioned side; the delta is a
  * day's changes. [[Upsert.apply]] is a one-shuffle union + keyed window —
  * no join — and [[Sources.replaceParquet]] materializes the merge to a
  * staging dir before swapping, so the plan can read the cache it is
  * replacing. An empty delta short-circuits: no write, no swap.
  */
object PortalSync {

  /** Render a watermark value as a SQL/SoQL literal usable in a `$where`.
    * Timestamps/dates render as quoted ISO-8601 (both Spark SQL and SoQL
    * coerce string literals in comparisons against timestamp columns);
    * strings are quote-escaped; numbers pass through bare.
    */
  def renderLiteral(v: Any): String = v match {
    case null => sys.error("cannot render a null watermark literal")
    case t: java.sql.Timestamp =>
      "'" + t.toInstant.toString.stripSuffix("Z") + "'"
    case t: java.time.Instant => "'" + t.toString.stripSuffix("Z") + "'"
    case d: java.sql.Date => s"'$d'"
    case d: java.time.LocalDate => s"'$d'"
    case t: java.time.LocalDateTime => s"'$t'"
    case s: String => "'" + s.replace("'", "''") + "'"
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float) =>
      n.toString
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.underlying.toPlainString
    case other => sys.error(
      s"unsupported watermark type ${other.getClass.getName}")
  }

  /** The cache's high-water mark: max(watermarkCol), or None when the
    * cache is absent or empty (→ caller does a full fetch).
    */
  def cachedWatermark(spark: SparkSession, cachePath: String,
                      watermarkCol: String): Option[Any] =
    readCache(spark, cachePath).flatMap(watermark(_, watermarkCol))

  /** The parquet cache at `cachePath`, or None when it does not exist. */
  private def readCache(spark: SparkSession,
                        cachePath: String): Option[DataFrame] = {
    val hPath = new org.apache.hadoop.fs.Path(cachePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) None
    else Some(Sources.readParquet(spark, cachePath))
  }

  private def watermark(cache: DataFrame, watermarkCol: String): Option[Any] =
    Option(cache.agg(max(col(watermarkCol))).head.get(0))

  /** Single-writer discipline (round 9): two concurrent refreshes on one
    * cachePath could interleave [[Sources.replaceParquet]]'s staged swap
    * (one writer's promote racing the other's park). A refresh therefore
    * holds an exclusive lock file `<cachePath>.lock` for its duration —
    * acquired with an atomic create-if-absent (atomic on HDFS and local
    * filesystems; object stores without atomic create need an external
    * coordinator, the standard caveat). A held lock fails the second
    * refresh LOUDLY rather than queueing it: refreshes are idempotent
    * cron work, and a blocked waiter would just re-do what the holder is
    * finishing. A crash strands the lock; the error message names the
    * path so an operator (or a wrapper checking mtime age) deletes it —
    * deliberate over a TTL auto-steal, which can revive a split-brain
    * writer that was merely slow.
    */
  private def withCacheLock[A](spark: SparkSession, cachePath: String)(
      body: => A): A = {
    val lock = new org.apache.hadoop.fs.Path(cachePath + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only an already-exists failure means "lock held" — any other create
    // failure (permissions, quota, dead filesystem) propagates as itself
    // rather than masquerading as a concurrent refresh
    val acquired =
      try { fs.create(lock, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        // Hadoop's local ChecksumFileSystem predates the typed exception
        // on some paths and raises a bare IOException naming the file
        case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
          false
      }
    if (!acquired) throw new IllegalStateException(
      s"refresh of $cachePath is locked by $lock — another refresh is " +
        "running; if none is (a crashed holder), delete the lock file " +
        "and re-run")
    try body finally fs.delete(lock, false)
  }

  /** Generic refresh core: fetch-full on a cold cache, else fetch-delta
    * from the watermark and upsert. `fetchDelta` receives the rendered
    * `$where`-ready predicate `"<watermarkCol> >= <literal>"`.
    * Returns the refreshed cache frame (reading the parquet copy).
    * Holds the [[withCacheLock]] single-writer lock for the duration.
    */
  def refresh(spark: SparkSession, cachePath: String, keys: Seq[String],
              watermarkCol: String, fetchFull: () => DataFrame,
              fetchDelta: String => DataFrame): DataFrame = {
    require(keys.nonEmpty, "refresh needs at least one key column")
    withCacheLock(spark, cachePath) {
      // one read of the cache serves both the watermark and the base
      readCache(spark, cachePath).flatMap(base =>
        watermark(base, watermarkCol).map(base -> _)) match {
        case None =>
          Sources.materialize(spark, fetchFull(), cachePath)
        case Some((base, wm)) =>
          val delta =
            fetchDelta(s"$watermarkCol >= ${renderLiteral(wm)}")
          if (delta.isEmpty) base
          else Sources.replaceParquet(spark,
            Upsert(base, delta.select(base.columns.map(col).toSeq: _*),
              keys, versionCol = Some(watermarkCol)), cachePath)
      }
    }
  }

  /** Incremental sync over the live SODA transport: page the delta with
    * the same ordered fetch loop as [[SodaHttp.readResource]], `$where`
    * pushed to the server, then merge into the parquet cache.
    */
  def refreshHttp(spark: SparkSession, baseUrl: String, resource: String,
                  order: String, keys: Seq[String], watermarkCol: String,
                  cachePath: String, pageSize: Int = 1000,
                  extraParams: Seq[(String, String)] = Nil,
                  appToken: Option[String] = None,
                  retry: RetryPolicy = RetryPolicy()): DataFrame = {
    require(!extraParams.exists(_._1 == "$where"),
      "pass caller filters via SoQL-composable params; refreshHttp owns " +
        "$where for the watermark predicate")
    def fetch(params: Seq[(String, String)]): DataFrame =
      SodaHttp.readResource(spark, baseUrl, resource, order, pageSize,
        params, appToken = appToken, retry = retry)
    refresh(spark, cachePath, keys, watermarkCol,
      fetchFull = () => fetch(extraParams),
      fetchDelta = pred => fetch(extraParams :+ ("$where" -> pred)))
  }
}
