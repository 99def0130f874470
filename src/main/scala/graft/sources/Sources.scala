package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Ingest/egress surface (SURVEY §2.3): the reference consumed Socrata
  * JSON/CSV exports and cached CSV locally; the Spark-native equivalents
  * are schema'd CSV/JSON/text readers and parquet/CSV/JSON writers.
  *
  * Readers take an explicit schema — inference is allowed for ad-hoc
  * exploration but correctness paths always pin types (and at 100 TB an
  * inference pass is a full extra read of the data).
  */
object Sources {

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * with no Spark job. Spark's inference (default `mergeSchema=false`)
    * also reads exactly one footer — the first data file of the sorted
    * recursive listing — but always runs that read as a one-task job;
    * this is the same footer read done directly. The data file is picked
    * the way Spark's file index lists it (path components starting with
    * `_` or `.` are skipped, so `_SUCCESS`, `.crc` files and hidden
    * staging siblings never count), the footer is converted with the
    * same `ParquetToSparkSchemaConverter` settings inference uses, and
    * every field is made nullable, as file relations do. Hive partition
    * columns are not part of the result: [[readParquet]] lets Spark
    * append them from the directory names.
    *
    * `mergeSchema` is not honoured. A layout Spark reads through another
    * index (a streaming sink's `_spark_metadata` log, parquet summary
    * files) or a path with no listable data file falls back to Spark's
    * own inference under the session conf, so those cases keep Spark's
    * result and error.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    parquetSchema(spark, path, spark.sessionState.conf)

  /** [[parquetSchema]] with the converter settings (binary-as-string,
    * INT96, timestamp-NTZ, nanos-as-long) taken from `conf`, e.g. a
    * [[nanosAsLongConf]] copy. */
  def parquetSchema(spark: SparkSession, path: String,
                    conf: SQLConf): StructType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    firstDataFile(root.getFileSystem(hadoopConf), root) match {
      case None => spark.read.parquet(path).schema
      case Some(file) =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            conf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS))
        nullable(ParquetFileFormat.readSchemaFromFooter(footer, converter))
          .asInstanceOf[StructType]
    }
  }

  /** A copy of the session's SQL conf with
    * `spark.sql.legacy.parquet.nanosAsLong` on, for [[parquetSchema]]
    * reads of TIMESTAMP(NANOS) footers. The session conf itself is never
    * touched, so a concurrent reader never sees the flag flip. */
  def nanosAsLongConf(spark: SparkSession): SQLConf = {
    val c = spark.sessionState.conf.clone()
    c.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
    c
  }

  /** `spark.read.parquet(path)` with the schema from [[parquetSchema]]:
    * the same frame, without the footer-inference job. Spark still lists
    * the files and appends Hive partition columns. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The first data file Spark's inference reads, or None where Spark
    * must decide: no data file, summary files or a sink log. */
  private def firstDataFile(fs: FileSystem, root: Path): Option[FileStatus] = {
    // InMemoryFileIndex's name filter: `_`/`.` prefixes (except `k=v`
    // partition dirs) and in-flight `._COPYING_` copies are not data
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")
    def special(name: String): Boolean = name == "_spark_metadata" ||
      name.startsWith("_metadata") || name.startsWith("_common_metadata")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory || special(st.getPath.getName)) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filter(c => special(c.getPath.getName) || !hidden(c.getPath.getName))
        .flatMap(walk)
    val files =
      try walk(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => Nil }
    if (files.exists(f => special(f.getPath.getName))) None
    else files.minByOption(_.getPath.toString)
  }

  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Binary ingestion for multimodal payloads (images/audio/video blobs):
    * each file becomes (path, modificationTime, length, content).
    */
  def readBinary(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(path)

  /** ORC reader (columnar alternative Spark ships natively; same
    * pushdown/pruning machinery as parquet via the vectorized ORC reader).
    */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Hive-style partitioned parquet layout: one directory per value of
    * `partitionCols` — the 100 TB read path prunes entire directories when
    * a query filters on the partition key (SURVEY §7.4.8: documents
    * partitioned by the blocking key, events by date).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table for co-located joins: two tables bucketed by
    * the same key into the same bucket count join WITHOUT a shuffle (the
    * classic pre-shuffle trade: pay the exchange once at write time).
    * Bucketing requires `saveAsTable` (metastore-tracked layout).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Write-through materialization (the reference's local dataset cache,
    * SURVEY §4.1): persist `df` at `path` and read it back — downstream
    * stages reuse the materialized copy instead of recomputing the
    * lineage.
    *
    * @param cacheFormat `"parquet"` (default — the columnar copy every
    *                    downstream scan wants) or `"csv"` (the reference
    *                    cached portal fetches as CSV; this knob reproduces
    *                    that observable on-disk behavior for interop with
    *                    tools that expect the gem's cache files). The CSV
    *                    round-trip writes a header and re-infers dtypes on
    *                    read — lossy for exotic types by nature of the
    *                    format, which is exactly why parquet is the
    *                    default.
    */
  def materialize(spark: SparkSession, df: DataFrame, path: String,
                  cacheFormat: String = "parquet"): DataFrame =
    cacheFormat match {
      case "parquet" =>
        writeParquet(df, path)
        readParquet(spark, path)
      case "csv" =>
        writeCsv(df, path)
        spark.read.option("header", "true").option("inferSchema", "true")
          .csv(path)
      case other =>
        throw new IllegalArgumentException(
          s"materialize: unknown cacheFormat '$other' (parquet|csv)")
    }

  /** Replace the parquet table at `path` with `df`, where `df`'s plan MAY
    * read from `path` itself (the upsert-refresh pattern: merged = cache ∪
    * delta, written back over the cache). A naive overwrite would delete
    * the input out from under the running job; this writes to a staging
    * dir first (fully materializing `df` while the original is still
    * intact), then swaps with the same checked park/promote discipline as
    * [[compactParquet]] — an abort leaves the data whole in exactly one of
    * the two named locations, and the next call self-heals.
    */
  def replaceParquet(spark: SparkSession, df: DataFrame, path: String)
  : DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.replacing")
    val old = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.old")
    def step(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(
        s"replaceParquet: $what failed; data intact at " +
          (if (fs.exists(hPath)) path else old.toString))
    if (fs.exists(old) && !fs.exists(hPath))
      step(fs.rename(old, hPath), s"restore of parked $old")
    if (fs.exists(old)) step(fs.delete(old, true), s"cleanup of stale $old")
    if (fs.exists(staging))
      step(fs.delete(staging, true), s"cleanup of stale $staging")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    if (fs.exists(hPath)) step(fs.rename(hPath, old), s"park of $path")
    step(fs.rename(staging, hPath), s"promote of $staging")
    fs.delete(old, true) // best-effort; next call clears a leftover
    readParquet(spark, path)
  }

  /** Small-file compaction — the maintenance pass every long-lived table
    * needs: streaming sinks, per-batch writers, and fine-grained
    * partitionBy layouts accrete files far smaller than a parquet row
    * group, and at 100 TB the scan's task-scheduling overhead (one task
    * per tiny file, footer reads, no vectorized run length) comes to
    * dominate. Rewrites `path` to `ceil(bytes / targetBytes)` files via
    * `coalesce` (no shuffle — compaction repacks, it does not
    * repartition).
    *
    * Crash contract (generic Hadoop FS has no multi-path atomic op, so
    * the swap is RECOVERABLE rather than atomic): the rewrite lands in a
    * staging dir; the swap parks the original at `.<name>.old`, promotes
    * the staging dir, then drops the parked copy. Every rename's return
    * value is CHECKED (HDFS reports failure by returning false, not by
    * throwing) — a failed step aborts with the data still intact in
    * exactly one of the two named locations, and the next call
    * self-heals: a parked `.old` with no live table is restored before
    * compacting; stale staging/`.old` leftovers from an abort after
    * promotion are cleared.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0, s"targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Hive-partitioned layout (key=value subdirs): compact each leaf
    // partition directory independently. A flat rewrite would read the
    // partition columns out of the directory names and re-land everything
    // unpartitioned — destroying directory pruning and the external
    // layout contract. Recursing preserves the tree exactly and sizes
    // files per partition (multi-level key=/key= nests recurse further).
    val partDirs = fs.listStatus(hPath)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    if (partDirs.nonEmpty)
      return partDirs.map(d =>
        compactParquet(spark, d.getPath.toString, targetBytes)).sum
    val staging = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.compacting")
    val old = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.old")
    def step(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(
        s"compactParquet: $what failed; data intact at " +
          (if (fs.exists(hPath)) path else old.toString))
    // recover from a previous crash between park and promote
    if (fs.exists(old) && !fs.exists(hPath))
      step(fs.rename(old, hPath), s"restore of parked $old")
    // clear stale leftovers from an abort after promotion
    if (fs.exists(old)) step(fs.delete(old, true), s"cleanup of stale $old")
    if (fs.exists(staging))
      step(fs.delete(staging, true), s"cleanup of stale $staging")
    val bytes = fs.getContentSummary(hPath).getLength
    val files = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    readParquet(spark, path).coalesce(files)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    step(fs.rename(hPath, old), s"park of $path")
    step(fs.rename(staging, hPath), s"promote of $staging")
    fs.delete(old, true) // best-effort; next call clears a leftover
    files.toLong
  }
}
