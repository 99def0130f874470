package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Dataset-catalog listing — the Spark-native analog of the reference
  * client's `list` (the HawaiiDataPipeline gem enumerated a Socrata
  * portal's datasets; SURVEY §2.1 Plumb). Here a "portal" is a directory
  * of parquet tables; the listing is a DataFrame of (table, path, n_cols,
  * schema_ddl), derived via the Hadoop FileSystem API so it works on any
  * supported filesystem (local, HDFS, object stores).
  */
object Catalog {

  val schema: StructType = StructType(Seq(
    StructField("table", StringType),
    StructField("path", StringType),
    StructField("n_cols", IntegerType),
    StructField("schema_ddl", StringType)))

  /** List the `*.parquet` tables under `dir` with their schemas. Each
    * schema is one footer read on the driver ([[Sources.parquetSchema]])
    * and the rows become a local frame, so listing runs no Spark job.
    * Footers are converted with TIMESTAMP(NANOS) read as long (the
    * `events` fixture's older encoding), from a private conf copy: the
    * session's own `nanosAsLong` never changes.
    */
  def list(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = Sources.nanosAsLongConf(spark)
    val rows = fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { st =>
        val path = st.getPath.toString
        val s = Sources.parquetSchema(spark, path, conf)
        Row(st.getPath.getName.stripSuffix(".parquet"), path, s.size, s.toDDL)
      }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Sorted table names under `dir` — the exact row order of [[list]]
    * (both sort by file name), from a directory listing alone: no footer
    * reads, no Spark job. The cheap path for positional lookups
    * (`GraftClient.dataFor(index)`), where resolving one name must not
    * cost a schema read per table. */
  def tableNames(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted
      .map(_.stripSuffix(".parquet"))
  }
}
