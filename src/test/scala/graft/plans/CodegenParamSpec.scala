package graft.plans

import graft.SparkSpec
import graft.expressions.CodegenParam
import graft.sources.{GraftClient, SoqlParams}
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[ParameterizeFilterConstants]] through a session that installs
  * [[GraftExtensions]] (the shared test session does not), checked against
  * the shared rule-less session on the same SparkContext.
  */
class CodegenParamSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val ext: SparkSession = {
    val base = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("s", ShortType), StructField("b", ByteType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType)))

  private val day = Date.valueOf("2020-02-29")
  private val instant = Timestamp.valueOf("2021-06-01 12:30:00.123456")
  private val local = LocalDateTime.of(2021, 6, 1, 12, 30, 0, 123456000)

  private def row(i: Int, l: Long, d: Double, f: Float, s: Short, b: Byte,
                  dayShift: Int, microShift: Long): Row =
    Row(i, l, d, f, s, b, Date.valueOf(day.toLocalDate.plusDays(dayShift)),
      new Timestamp(instant.getTime + microShift / 1000),
      local.plusNanos(microShift * 1000))

  private lazy val path: String = {
    val rows = Seq(
      row(Int.MinValue, Long.MaxValue, Double.NaN, Float.NaN,
        Short.MinValue, Byte.MinValue, -1, -1000),
      row(0, -1L, -0.0, -0.0f, 3, 1, 0, 0),
      row(7, 5L, 0.0, 0.0f, 4, 2, 1, 1000),
      row(Int.MaxValue, Long.MinValue, 2.5, 1.5f, Short.MaxValue,
        Byte.MaxValue, 365, 86400000000L),
      row(-7, 4L, Double.NegativeInfinity, Float.PositiveInfinity, -3, -1,
        -365, -86400000000L),
      Row(null, null, null, null, null, null, null, null, null))
    val dir = Files.createTempDirectory("codegen-param").resolve("t").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(2).write.parquet(dir)
    dir
  }

  /** (column, constants) pairs covering every rewritten type */
  private val constants: Seq[(String, Seq[Column])] = Seq(
    "i" -> Seq(lit(Int.MinValue), lit(0), lit(7)),
    "l" -> Seq(lit(Long.MaxValue), lit(-1L), lit(5L)),
    "d" -> Seq(lit(Double.NaN), lit(-0.0), lit(2.5)),
    "f" -> Seq(lit(Float.NaN), lit(-0.0f), lit(1.5f)),
    "s" -> Seq(lit(3.toShort), lit(Short.MinValue)),
    "b" -> Seq(lit(1.toByte), lit(Byte.MinValue)),
    "dt" -> Seq(lit(day)),
    "ts" -> Seq(lit(instant)),
    "ntz" -> Seq(lit(local)))

  private val ops: Seq[(String, (Column, Column) => Column)] = Seq(
    "=" -> (_ === _), "<=>" -> (_ <=> _), "<" -> (_ < _),
    "<=" -> (_ <= _), ">" -> (_ > _), ">=" -> (_ >= _))

  /** every operator against one constant, as one union of filtered scans */
  private def probe(s: SparkSession, c: String, k: Column): DataFrame =
    ops.map { case (name, op) =>
      s.read.parquet(path).filter(op(col(c), k)).select(lit(name).as("op"),
        col("*"))
    }.reduce(_ unionAll _)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def filterConditions(plan: SparkPlan): Seq[Expression] =
    collect(plan) { case f: FilterExec => f.condition }

  private def params(df: DataFrame): Seq[CodegenParam] =
    filterConditions(df.queryExecution.executedPlan)
      .flatMap(_.collect { case p: CodegenParam => p })

  private def withConfs[A](s: SparkSession, kv: (String, String)*)(
      body: => A): A = {
    val old = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def sameRowsAsRuleless(confs: (String, String)*): Unit =
    withConfs(spark, confs: _*) {
      withConfs(ext, confs: _*) {
        constants.foreach { case (c, ks) =>
          ks.foreach { k =>
            val got = probe(ext, c, k)
            assert(rows(got) == rows(probe(spark, c, k)), s"$c vs $k")
            assert(params(got).size == ops.size, s"$c vs $k: rule did not run")
          }
        }
      }
    }

  test("CodegenParam evaluates to its value and prints as its literal") {
    val lits = Seq(Literal(-0.0), Literal(Float.NaN), Literal(Int.MinValue),
      Literal(Long.MaxValue), Literal(3.toShort), Literal(1.toByte),
      Literal(day), Literal(instant), Literal(local))
    lits.foreach { l =>
      val p = CodegenParam(l)
      assert(Literal(p.eval(), p.dataType) == l)
      assert(p.toString == l.toString && p.sql == l.sql)
      assert(!p.foldable && !p.nullable)
    }
    intercept[IllegalArgumentException](CodegenParam(Literal("x")))
    intercept[IllegalArgumentException](
      CodegenParam(Literal(null, IntegerType)))
  }

  test("same rows as the rule-less session for every operator and type") {
    sameRowsAsRuleless()
  }

  test("same rows on the interpreted path (whole-stage codegen off)") {
    sameRowsAsRuleless("spark.sql.codegen.wholeStage" -> "false")
    sameRowsAsRuleless("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  }

  test("only direct comparison operands in filters are rewritten") {
    val df = ext.read.parquet(path).filter(
      round(col("d"), 1) > 2.5 && col("i").isin(1, 2, 3) &&
        !(col("l") === 5L) && col("dt") >= lit(day) &&
        col("ntz").cast(StringType).rlike("^2021"))
    df.collect()
    assert(params(df).map(_.literal).toSet ==
      Set(Literal(2.5), Literal(5L), Literal(day)))
    val literals = filterConditions(df.queryExecution.executedPlan)
      .flatMap(_.collect { case l: Literal => l.value })
    assert(literals.contains(1) && literals.contains(2) && literals.contains(3))
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(!scans.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[CodegenParam]))))
  }

  test("explain text and PushedFilters keep the literal values") {
    // expression and exchange ids differ between any two sessions' plans
    val norm = (s: String) =>
      s.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    Seq("true", "false").foreach { aqe =>
      withConfs(spark, "spark.sql.adaptive.enabled" -> aqe) {
        withConfs(ext, "spark.sql.adaptive.enabled" -> aqe) {
          def q(s: SparkSession) = s.read.parquet(path)
            .filter(col("d") > 1.25 && col("dt") >= lit(day))
            .groupBy("b").count()
          val (withRule, without) = (q(ext), q(spark))
          // rows must survive the filter: AQE replaces an empty stage's
          // plan with an empty relation, filter and all
          assert(withRule.collect().nonEmpty && without.collect().nonEmpty)
          assert(params(withRule).nonEmpty)
          val text = withRule.queryExecution.explainString(FormattedMode)
          assert(norm(text) ==
            norm(without.queryExecution.explainString(FormattedMode)))
          assert(text.contains("(d#") && text.contains(" > 1.25)"), text)
          assert(text.contains("GreaterThan(d,1.25)"), text)
          assert(text.contains("GreaterThanOrEqual(dt,2020-02-29)"), text)
        }
      }
    }
  }

  test("dataFor with $where and $having returns the rule-less rows") {
    def req(s: SparkSession) = new GraftClient(s, sfDir).dataFor("orders",
      SoqlParams(
        select = Seq("o_orderstatus", "count(1) as n",
          "round(sum(o_totalprice), 2) as total"),
        where = Some("o_totalprice > 1500.25 AND " +
          "o_orderdate >= '1995-01-01' AND o_custkey <= 90"),
        group = Seq("o_orderstatus"),
        having = Some("n > 2"),
        order = Seq("o_orderstatus")))
    val got = req(ext)
    assert(got.collect().toSeq == req(spark).collect().toSeq)
    assert(params(got).nonEmpty)
  }

  test("a request that differs only in a numeric constant compiles nothing") {
    val client = new GraftClient(ext, sfDir)
    def req(minQty: Double, maxKey: Long) = client.dataFor("lineitem",
      SoqlParams(
        select = Seq("l_returnflag", "count(1) as n",
          "sum(l_extendedprice) as revenue"),
        where = Some(s"l_quantity >= $minQty AND l_orderkey < $maxKey"),
        group = Seq("l_returnflag"),
        order = Seq("l_returnflag"))).collect()
    req(10.0, 3000L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    req(24.0, 2500L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
  }
}
