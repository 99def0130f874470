package graft.sources

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** SoQL-style query parameters — the reference client's request surface
  * (`$select,$where,$order,$group,$having,$limit,$offset,$q`; SURVEY §2.1
  * [E2, published SODA API]) re-expressed over DataFrames. Expression
  * strings are parsed by Spark's SQL parser (`expr`), so the full SoQL
  * scalar/aggregate function surface maps to Spark SQL's.
  *
  * List-valued params are Scala Seqs rather than comma-joined strings —
  * commas inside function calls make string splitting ambiguous; the
  * reference had the same problem and punted it to the server.
  */
case class SoqlParams(
    select: Seq[String] = Nil,        // "$select" — expressions, may alias
    where: Option[String] = None,     // "$where"  — boolean expression
    group: Seq[String] = Nil,         // "$group"
    having: Option[String] = None,    // "$having"
    order: Seq[String] = Nil,         // "$order"  — "col [asc|desc]"
    limit: Option[Int] = None,        // "$limit"
    offset: Option[Int] = None,       // "$offset"
    q: Option[String] = None,         // "$q" — full-text over text columns
    qRanked: Boolean = false,         // rank $q matches by relevance
    qScorer: String = "tfidf")        // ranked-$q scorer: tfidf | bm25

object Soql {

  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => containsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType =>
        containsMap(a.elementType)
      case _ => false
    }

  /** Apply SoQL parameter semantics in SODA's evaluation order:
    * q → where → group/select(+having) → order → offset → limit.
    */
  def apply(df0: DataFrame, p: SoqlParams): DataFrame = {
    var df = df0
    p.q.foreach { terms =>
      val textCols = df.schema.fields
        .filter(_.dataType == StringType).map(_.name)
      if (p.qRanked && textCols.nonEmpty) {
        // ranked $q: all text fields scored as one bag of terms —
        // tf·idf via TextFunctions.fullTextSearchRanked (the q95 path),
        // rows returned in relevance order (a later $order overrides,
        // matching SODA, where $order beats relevance ranking).
        // Row ids must be unique PER PHYSICAL ROW: a pure row-content hash
        // would merge fully-duplicate rows (and any colliding pair) into
        // one tf bag, inflating and coupling their scores — so the hash is
        // disambiguated with a row_number within each hash bucket (buckets
        // hold only duplicates/collisions, so the window state is tiny).
        // MapType columns are excluded from the hash (xxhash64 can't
        // consume them); the row_number still separates any rows made
        // ambiguous by the exclusion.
        val hashable = df.schema.fields
          .filterNot(f => containsMap(f.dataType)).map(f => col(f.name))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__qhash")).orderBy(col("__qrow"))
        val withBag = df
          .withColumn("__qrow", monotonically_increasing_id())
          .withColumn("__qhash",
            if (hashable.nonEmpty) xxhash64(hashable: _*) else lit(0L))
          .withColumn("__qid",
            concat_ws("_", col("__qhash"), row_number().over(w)))
          .withColumn("__qtext", concat_ws(" ", textCols.map(col): _*))
        // the rankers join a 'score' column onto the frame — park a
        // caller-owned column of that name so the join can't turn
        // ambiguous (and the cleanup drop can't eat user data)
        val hadScore = withBag.columns.contains("score")
        val safeBag =
          if (hadScore) withBag.withColumnRenamed("score", "__quser_score")
          else withBag
        val ranked = p.qScorer match {
          case "bm25" =>
            TextFunctions.bm25Ranked(safeBag, "__qid", "__qtext", terms)
          case "tfidf" =>
            TextFunctions.fullTextSearchRanked(safeBag, "__qid", "__qtext",
              terms)
          case other => throw new IllegalArgumentException(
            s"unknown qScorer '$other' (expected tfidf or bm25)")
        }
        df = ranked.drop("__qid", "__qtext", "score", "__qhash", "__qrow")
        if (hadScore) df = df.withColumnRenamed("__quser_score", "score")
      } else {
        // unranked SODA $q: keep rows where ANY string column contains
        // EVERY term (token match, case-sensitive fixture semantics; the
        // reference delegated stemming to the server). A table with NO
        // string columns matches nothing — SODA $q searches text fields,
        // so the truthful answer is the empty set, not the full table
        val perCol = textCols.map { c =>
          terms.trim.split("\\s+").map(t =>
            array_contains(split(col(c), " "), t)).reduce(_ && _)
        }
        df = if (perCol.nonEmpty) df.filter(perCol.reduce(_ || _))
             else df.filter(lit(false))
      }
    }
    p.where.foreach(w => df = df.filter(expr(w)))
    if (p.group.nonEmpty) {
      val aggExprs = p.select.filterNot(p.group.contains).map(expr)
      require(aggExprs.nonEmpty, "$group requires aggregate $select exprs")
      df = df.groupBy(p.group.map(col): _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
      p.having.foreach(h => df = df.filter(expr(h)))
    } else if (p.select.nonEmpty) {
      df = df.select(p.select.map(expr): _*)
    }
    if (p.order.nonEmpty) {
      val sorts = p.order.map { o =>
        val parts = o.trim.split("\\s+")
        if (parts.length > 1 && parts(1).equalsIgnoreCase("desc"))
          col(parts(0)).desc
        else col(parts(0)).asc
      }
      df = df.orderBy(sorts: _*)
    }
    p.offset.foreach(n => df = df.offset(n))
    p.limit.foreach(n => df = df.limit(n))
    df
  }
}

/** The reference client's two-call surface (`client.list`,
  * `client.data_for(id, params)` [E2]) over a directory of parquet tables:
  * a drop-in orientation point for users switching from the Ruby gem.
  */
class GraftClient(spark: SparkSession, dir: String) {

  /** `client.list` — the dataset catalog. */
  def list: DataFrame = Catalog.list(spark, dir)

  /** `client.data_for(name)` with optional SoQL-style params. Tables with
    * pinned fixture schemas read through `graft.Tables`; anything else
    * reads schema-on-file.
    */
  def dataFor(table: String, params: SoqlParams = SoqlParams()): DataFrame = {
    import graft.Tables
    val base = table match {
      case "region" => Tables.region(spark, dir)
      case "nation" => Tables.nation(spark, dir)
      case "supplier" => Tables.supplier(spark, dir)
      case "customer" => Tables.customer(spark, dir)
      case "part" => Tables.part(spark, dir)
      case "orders" => Tables.orders(spark, dir)
      case "lineitem" => Tables.lineitem(spark, dir)
      case "events" => Tables.events(spark, dir)
      case "documents" => Tables.documents(spark, dir)
      case "embeddings" => Tables.embeddings(spark, dir)
      case other => Sources.readParquet(spark, s"$dir/$other.parquet")
    }
    Soql(base, params)
  }

  /** `client.data_for(<catalog index>)` — the reference addressed datasets
    * by their POSITION in the printed catalog list (SURVEY §3.1: fetch "by
    * 4x4 id or catalog index"). Index is 0-based into [[list]]'s row order
    * (tables sorted by name — the order `list.show()` prints). Resolution
    * uses `Catalog.tableNames` — a directory listing, no footer reads and
    * no Spark job — so iterating `dataFor(0..n)` stays O(n) listings, not
    * O(n²) schema reads.
    */
  def dataFor(index: Int): DataFrame = dataFor(index, SoqlParams())

  def dataFor(index: Int, params: SoqlParams): DataFrame = {
    val names = Catalog.tableNames(spark, dir)
    require(index >= 0 && index < names.length,
      s"catalog index $index out of range [0, ${names.length}) for $dir")
    dataFor(names(index), params)
  }

  /** `$q`-only convenience over one known text column. */
  def fullText(table: String, textCol: String, query: String): DataFrame =
    TextFunctions.fullTextSearch(dataFor(table), textCol, query)

  /** The reference client's paged-fetch loop (SODA `$limit`/`$offset`
    * paging until a short page [E2]) over local tables: lazily yields one
    * page per iteration with the supplied params' `$order` extended to a
    * stable total order requirement — SODA paging without a total order
    * can duplicate/drop rows across pages, so `order` is REQUIRED here
    * (same contract the live API documents).
    *
    * This is the local twin of the live HTTP fetch loop: request shaping
    * (page params), termination (short/empty page), and exactly-once row
    * delivery are all real and tested. The HTTP transport itself is
    * [[SodaHttp.readResource]] (round 6) — the same loop over a real
    * `java.net.http` GET per page.
    */
  def fetchPages(table: String, params: SoqlParams,
                 pageSize: Int): Iterator[DataFrame] = {
    require(pageSize > 0, "pageSize must be positive")
    require(params.order.nonEmpty,
      "paged fetch requires $order (stable paging needs a total order)")
    require(params.limit.isEmpty && params.offset.isEmpty,
      "fetchPages owns $limit/$offset; pass page-free params")
    new Iterator[DataFrame] {
      private var off = 0
      private var lastShort = false
      def hasNext: Boolean = !lastShort
      def next(): DataFrame = {
        if (lastShort) throw new NoSuchElementException(
          s"fetchPages($table): past the final page (offset $off)")
        val page = dataFor(table,
          params.copy(limit = Some(pageSize), offset = Some(off)))
        // one termination-probe job per page, like one HTTP request per
        // page; a short page ends the loop (the SODA convention). The
        // caller's consumption re-runs the page query — 2 jobs/page by
        // design, mirroring offset paging's inherent re-sort; a Spark
        // pipeline wanting one pass reads the table directly (see doc)
        val n = page.count()
        off += pageSize
        lastShort = n < pageSize
        page
      }
    }
  }

  /** `fetchPages` drained and re-unioned: the "fetch whole dataset through
    * the paging loop" convenience (`client.data_for` with no explicit
    * `$limit` in the reference gem). Mostly useful in tests — a Spark
    * pipeline should read the table directly.
    */
  def fetchAll(table: String, params: SoqlParams, pageSize: Int): DataFrame =
    fetchPages(table, params, pageSize).reduce(_.unionByName(_))

  /** Fetch only rows at-or-past a watermark — the incremental-sync read
    * (`$where watermarkCol >= watermark`, ANDed with any caller filter).
    * `watermark` is a raw value ([[PortalSync.renderLiteral]] renders it);
    * `>=` re-fetches the boundary row on purpose — see [[PortalSync]].
    */
  def fetchSince(table: String, watermarkCol: String, watermark: Any,
                 params: SoqlParams = SoqlParams()): DataFrame = {
    val pred = s"$watermarkCol >= ${PortalSync.renderLiteral(watermark)}"
    dataFor(table, params.copy(
      where = Some(params.where.fold(pred)(w => s"($w) AND $pred"))))
  }

  /** Incremental cache refresh over the local twin: cold cache does a
    * full `dataFor`; a warm cache fetches [[fetchSince]] the cached
    * high-water mark and upserts by `keys` (newest watermark wins). The
    * live-HTTP equivalent is [[PortalSync.refreshHttp]].
    */
  def refreshCache(table: String, cachePath: String, keys: Seq[String],
                   watermarkCol: String,
                   params: SoqlParams = SoqlParams()): DataFrame = {
    require(params.where.isEmpty,
      "refreshCache owns $where for the watermark predicate")
    PortalSync.refresh(spark, cachePath, keys, watermarkCol,
      fetchFull = () => dataFor(table, params),
      fetchDelta = pred =>
        dataFor(table, params.copy(where = Some(pred))))
  }
}
