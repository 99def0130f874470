package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the conf profile this library is designed
  * against, stated once in code instead of scattered through docs.
  *
  * Every value is a starting point computed from cluster shape, not magic:
  *  - shuffle partitions ≈ 2× total cores with AQE coalescing DOWN — at
  *    100 TB the initial number only bounds parallelism, AQE right-sizes
  *    each exchange from runtime stats;
  *  - AQE on (default since Spark 3.2) + skew-join splitting: the runtime
  *    complement to the explicit `Skew` salting (which covers aggregations
  *    and replicated joins AQE does not);
  *  - 128 MiB scan partitions: matches the parquet row-group size the
  *    fixtures and the recommended writers produce — one task per row
  *    group, no tiny-task storms;
  *  - 64 MiB broadcast threshold: dims up to `part`/`customer` size
  *    broadcast; beyond that a shuffle join is genuinely cheaper;
  *  - UTC session timezone: timestamp determinism across engines is part
  *    of the oracle contract (SURVEY §7.2);
  *  - a 1000-entry codegen cache (Spark's default is 100): a session's
  *    working set of generated classes — every stage of every query and
  *    request shape it serves — is larger than 100, and an evicted class
  *    is compiled again on its next use. The cache key is (the thread's
  *    context class loader, the source), and the size is a JVM-wide
  *    static: whichever session generates code first fixes it.
  *
  * `GraftExtensions` is injected, so `sorted_intersect_size` and the SoQL
  * geo trio work in SQL strings (`$where`) out of the box, and filter
  * comparison constants reach generated code by reference (one compile
  * per request shape, not per request).
  */
object GraftSession {

  /** Conf profile for a cluster with `totalCores` executor cores. */
  def recommendedConfs(totalCores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (totalCores * 2).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  /** A builder pre-loaded with [[recommendedConfs]]; callers may still
    * override any conf before `getOrCreate()`.
    */
  def builder(master: String, totalCores: Int): SparkSession.Builder =
    recommendedConfs(totalCores).foldLeft(
      SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local session sized like the test harness (local[n], n shuffle
    * partitions — small data wants fewer, not 2× cores).
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
