package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("recommended confs scale shuffle partitions with cores and keep AQE on") {
    val c = GraftSession.recommendedConfs(totalCores = 800)
    assert(c("spark.sql.shuffle.partitions") == "1600")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(c("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }

  test("builder applies the profile; extensions make graft SQL functions available") {
    // reuse the shared test session's JVM: build a session from the same
    // builder path (getOrCreate returns the active one with confs checked
    // via the extension registration below)
    val spark = SparkSpec.session
    graft.plans.GraftExtensions.register(spark)
    val n = spark.sql(
      "SELECT sorted_intersect_size(array(1L, 2L), array(2L, 3L)) AS n")
      .head().getInt(0)
    assert(n == 1)
    val wb = spark.sql(
      "SELECT within_box(21.3, -157.8, 21.8, -158.4, 21.2, -157.5) AS b")
      .head().getBoolean(0)
    assert(wb)
  }

  test("round-5 text expressions are SQL-callable and match their Column APIs") {
    val spark = SparkSpec.session
    graft.plans.GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT word_ngrams('a b c', 2) AS g, word_ngrams('x x x', 1) AS gd, " +
        "word_ngrams('x x x', 1, false) AS ga, " +
        "size(minhash_bands('a b c', 8, 4)) AS nb, simhash60('a b c') AS sh")
      .head()
    assert(row.getSeq[String](0) == Seq("a b", "b c"))
    assert(row.getSeq[String](1) == Seq("x"))
    assert(row.getSeq[String](2) == Seq("x", "x", "x"))
    assert(row.getInt(3) == 4)
    // simhash60 must agree with the Column API on the same literal
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaCol = Seq("a b c").toDF("t")
      .select(graft.expressions.SimHash60.simhash60(col("t"))).head().getLong(0)
    assert(row.getLong(4) == viaCol)
  }
}
