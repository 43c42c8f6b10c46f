package graft.dq

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.parse.{BlsParser, PopulationParser}

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  lazy val bls = BlsParser.parseFile(spark, fixturePath("pr.data.0.Current")).cache()
  lazy val population = PopulationParser.parseFile(spark, fixturePath("population.json")).cache()

  test("full-row duplicates: zero on clean data, counted when present") {
    assert(DataQuality.fullRowDuplicates(bls) == 0)
    val withDup = bls.union(bls.limit(3))
    assert(DataQuality.fullRowDuplicates(withDup) == 3)
  }

  test("business-key duplicate detector is empty on unique keys") {
    assert(DataQuality.businessKeyDuplicates(bls, Seq("series_id", "year", "period")).count() == 0)
    val dup = bls.union(bls.limit(1))
    assert(DataQuality.businessKeyDuplicates(dup, Seq("series_id", "year", "period")).count() == 1)
  }

  test("null profile counts per column in one pass") {
    val df = Seq((Some(1), Option.empty[String]), (None, Some("x")), (Some(3), Some("y")))
      .toDF("a", "b")
    val row = DataQuality.nullProfile(df, Seq("a", "b")).head()
    assert(row.getLong(0) == 1 && row.getLong(1) == 1)
  }

  test("quarter completeness counts ALL periods including Q05 (reference semantics)") {
    val qc = DataQuality.quarterCompleteness(bls)
    // PRS30006011/1995 has Q01..Q05 -> 5 periods -> NOT complete (==4)
    val r = qc.filter("series_id = 'PRS30006011' and year = 1995").head()
    assert(r.getLong(2) == 5)
    assert(!r.getBoolean(3))
    // TIE0000001/2001 has only Q01 -> 1
    assert(qc.filter("series_id = 'TIE0000001' and year = 2001").head().getLong(2) == 1)
  }

  test("IQR bounds via approxQuantile and outlier filter") {
    val vals = (1 to 100).map(_.toDouble) :+ 10000.0
    val df = vals.toDF("v")
    val (lo, hi) = DataQuality.iqrBounds(df, "v")
    assert(lo < 1.0 && hi < 10000.0)
    assert(DataQuality.iqrOutliers(df, "v").count() == 1)
  }

  test("domain checks: min/max and negative census") {
    val (lo, hi) = DataQuality.minMax(bls, "year")
    assert(lo == 1995 && hi == 2020)
    assert(DataQuality.countWhere(bls, col("value") < 0) == 7)
  }

  test("summary row carries the reference's metric names") {
    val row = DataQuality.summary(spark, bls, population)
    val names = row.columns.toSeq
    assert(names.contains("bls_rows") && names.contains("bls_outlier_rows_iqr")
      && names.contains("population_non_positive_values") && names.contains("run_utc"))
    val r = row.head()
    assert(r.getAs[Long]("bls_rows") == 16)
    assert(r.getAs[Long]("population_rows") == 10)
    assert(r.getAs[Long]("bls_distinct_series_id") == 3)
  }

  /** The summary as the per-check helpers compute it, one action each. */
  private def perCheck(bls: DataFrame, population: DataFrame): DqSummary = {
    val (lo, hi) = DataQuality.iqrBounds(bls, "value")
    DqSummary(
      bls_rows = bls.count(),
      bls_distinct_series_id = bls.select("series_id").distinct().count(),
      bls_distinct_years = bls.select("year").distinct().count(),
      bls_full_row_duplicates = DataQuality.fullRowDuplicates(bls),
      population_rows = population.count(),
      population_distinct_years = population.select("Year").distinct().count(),
      population_full_row_duplicates = DataQuality.fullRowDuplicates(population),
      bls_negative_values = DataQuality.countWhere(bls, col("value") < 0),
      population_non_positive_values = DataQuality.countWhere(population, col("Population") <= 0),
      bls_outlier_rows_iqr = DataQuality.countWhere(bls, col("value") < lo || col("value") > hi),
      run_utc = "")
  }

  private def assertSummaryMatchesChecks(bls: DataFrame, population: DataFrame): DqSummary = {
    val got = DataQuality.summary(spark, bls, population).as[DqSummary].head().copy(run_utc = "")
    assert(got == perCheck(bls, population))
    got
  }

  test("summary equals the per-check helpers on the fixture") {
    val got = assertSummaryMatchesChecks(bls, population)
    assert(got.bls_outlier_rows_iqr > 0 && got.bls_negative_values == 7)
  }

  test("summary equals the per-check helpers on planted duplicates, NaN, negatives and nulls") {
    val planted = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("PLANT_NAN", 2000, "Q01", Double.NaN),
      Row("PLANT_NEG", 2001, "Q02", -5.0),
      Row("PLANT_BIG", 2002, "Q03", 1.0e6),
      Row("PLANT_NULL", 2003, null, 1.0))), bls.schema)
    val plantedBls = bls.union(bls.limit(1)).union(planted)
    val plantedPop = population.union(population.limit(1)).union(
      Seq((2030, 0.0), (2031, -1.0)).toDF("Year", "Population"))
    val got = assertSummaryMatchesChecks(plantedBls, plantedPop)
    assert(got.bls_full_row_duplicates == 1 && got.population_full_row_duplicates == 1)
    assert(got.bls_negative_values == 8 && got.population_non_positive_values == 2)
    assert(DataQuality.measure(plantedBls, plantedPop).blsNullCriticalRows == 1)
  }

  test("summary equals the per-check helpers on one partition of many distinct keys") {
    // Past the object hash aggregate's sort-based fallback: quartiles
    // computed next to the countDistincts would merge partial digests
    // in another order and move (157.1 against approxQuantile's 144.9).
    val many = spark.range(0, 20000, 1, 1).select(
      concat(lit("S"), (col("id") % 300).cast("string")).as("series_id"),
      (lit(1995) + col("id") % 31).cast("int").as("year"),
      concat(lit("Q0"), (col("id") % 5 + 1).cast("string")).as("period"),
      ((col("id") * 7919 % 10007) / 10.0 - 100 + when(col("id") % 97 === 0, 5000.0)
        .otherwise(0.0)).as("value"))
    val got = assertSummaryMatchesChecks(many, population)
    assert(got.bls_outlier_rows_iqr > 0)
  }

  test("summary of empty inputs counts zero (no quartiles, no fences)") {
    val none = DataQuality.measure(bls.limit(0), population.limit(0))
    assert(none.summary.copy(run_utc = "") == DqSummary(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, ""))
    assert(none.blsNullCriticalRows == 0)
  }

  test("summary job budget on the fixture") {
    val freshBls = BlsParser.parseFile(spark, fixturePath("pr.data.0.Current"))
    val freshPop = PopulationParser.parseFile(spark, fixturePath("population.json"))
    val jobs = jobsDuring(DataQuality.summary(spark, freshBls, freshPop))
    assert(jobs <= 7, s"DataQuality.summary ran $jobs jobs")
  }
}
