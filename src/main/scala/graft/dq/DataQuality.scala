package graft.dq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's EDA/data-quality suite (21_EDA.ipynb) as reusable
  * checks. Every check is a distributed plan — the only driver-side
  * values are the final scalar metrics, mirroring the reference's
  * collected counters.
  *
  * The per-run summary (`measure`, `summary`) is two actions, not one
  * per check. The first is the `approxQuantile` call behind
  * `iqrBounds`, so the fences are the per-check ones. The second is
  * one aggregate over each input, cross-joined into one row: every
  * count, and the outlier count against those fences. The quartiles
  * stay out of that aggregate on purpose: next to the
  * `countDistinct`s, Spark's distinct rewrite groups them with many
  * keys, the object hash aggregate falls back to sort-based
  * aggregation and merges partial digests in another order, and the
  * quartiles move (they did on all six generated BLS sources tried,
  * e.g. Q1 −0.4 → −0.5). A third, distinct-free aggregate would keep
  * them but read the BLS file once more.
  */
object DataQuality {

  /** Relative error of the IQR quartiles (21_EDA.ipynb:2309-2312). */
  private val IqrRelErr = 0.01

  /** Full-row duplicate count (21_EDA.ipynb:657-658):
    * total − dropDuplicates.
    */
  def fullRowDuplicates(df: DataFrame): Long =
    df.count() - df.dropDuplicates().count()

  /** Business-key duplicate groups (21_EDA.ipynb:666-668) — rows whose
    * key occurs more than once; "should be 0".
    */
  def businessKeyDuplicates(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .count()
      .where(col("count") > 1)

  /** Per-column null counts in one pass (21_EDA.ipynb:1073-1081). */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => sum(col(c).isNull.cast("int")).as(c)): _*)

  /** Per-column null percentage (the `/ total * 100` variant). */
  def nullProfilePct(df: DataFrame, cols: Seq[String]): DataFrame = {
    val total = df.count().toDouble
    df.select(cols.map(c =>
      round(sum(col(c).isNull.cast("int")) / lit(total) * 100, 4).as(c)): _*)
  }

  /** Domain check: distinct values of a column, sorted
    * (21_EDA.ipynb:1369).
    */
  def distinctValues(df: DataFrame, c: String): DataFrame =
    df.select(c).distinct().orderBy(col(c))

  /** Year-range domain check (21_EDA.ipynb:1372-1373). */
  def minMax(df: DataFrame, c: String): (Any, Any) = {
    val row = df.agg(min(col(c)), max(col(c))).head()
    (row.get(0), row.get(1))
  }

  /** Negative-value census (21_EDA.ipynb:1376). */
  def countWhere(df: DataFrame, predicate: org.apache.spark.sql.Column): Long =
    df.where(predicate).count()

  /** Quarter-completeness per (series_id, year): countDistinct(period)
    * over ALL periods — Q05 included, so a fully-populated year counts
    * 5 and `is_complete_year` (== 4) is false for it; that is the
    * reference's actual behavior (21_EDA.ipynb:1877-1888, histogram
    * {1: 1260, 3: 237, 5: 7110}) and is preserved verbatim.
    */
  def quarterCompleteness(bls: DataFrame): DataFrame =
    bls
      .groupBy(col("series_id"), col("year"))
      .agg(countDistinct(col("period")).as("quarters_present"))
      .withColumn("is_complete_year", col("quarters_present") === 4)

  def quarterHistogram(bls: DataFrame): DataFrame =
    quarterCompleteness(bls)
      .groupBy(col("quarters_present"))
      .count()
      .orderBy(col("quarters_present"))

  /** Incomplete series-years (21_EDA.ipynb:1888-1891: filter ~is_complete,
    * orderBy desc(quarters_present), limit 50).
    */
  def incompleteYears(bls: DataFrame, limit: Int = 50): DataFrame =
    quarterCompleteness(bls)
      .where(!col("is_complete_year"))
      .orderBy(col("quarters_present").desc)
      .limit(limit)

  /** describe() summary of one column (21_EDA.ipynb:2121). */
  def describeColumn(df: DataFrame, c: String): DataFrame = df.describe(c)

  /** IQR outlier bounds via approxQuantile at 1% relative error
    * (Greenwald–Khanna — 21_EDA.ipynb:2309-2312). Two-pass semantics:
    * quantiles are collected to the driver as scalars, then injected
    * as literals into the outlier filter — this is semantics, not an
    * optimization shortcut (SURVEY.md §4).
    */
  def iqrBounds(df: DataFrame, c: String, relErr: Double = IqrRelErr): (Double, Double) =
    iqrFences(df, c, relErr).getOrElse(
      throw new IllegalArgumentException(s"no quartiles: $c has no non-NaN value"))

  /** Tukey's fences, 1.5 IQR below Q1 and above Q3, from
    * `approxQuantile`'s quartiles; None when `c` has no non-NaN value.
    */
  private def iqrFences(df: DataFrame, c: String, relErr: Double): Option[(Double, Double)] =
    df.stat.approxQuantile(c, Array(0.25, 0.75), relErr) match {
      case Array(q1, q3) =>
        val iqr = q3 - q1
        Some((q1 - 1.5 * iqr, q3 + 1.5 * iqr))
      case _ => None
    }

  /** Every column of `df` as one struct: counting its distinct values
    * counts distinct rows as `dropDuplicates` does, nulls included.
    */
  private def wholeRow(df: DataFrame): Column =
    struct(df.columns.map(c => col(s"`$c`")).toSeq: _*)

  /** Outlier rows outside the IQR bounds, largest |value| first
    * (21_EDA.ipynb:2314-2318).
    */
  def iqrOutliers(df: DataFrame, c: String, limit: Int = 50): DataFrame = {
    val (lo, hi) = iqrBounds(df, c)
    df.where(col(c) < lo || col(c) > hi)
      .orderBy(abs(col(c)).desc)
      .limit(limit)
  }

  /** The run's DQ metrics in two actions (see the object scaladoc).
    * Inputs without a non-NaN `value` have no quartiles, so no fences
    * and no outliers.
    */
  def measure(bls: DataFrame, population: DataFrame): DqRun = {
    val value = col("value")
    val outside = iqrFences(bls, "value", IqrRelErr)
      .fold(lit(false)) { case (lo, hi) => value < lo || value > hi }
    val blsAgg = bls.agg(
      count(lit(1)).as("bls_rows"),
      countDistinct(col("series_id")).as("bls_distinct_series_id"),
      countDistinct(col("year")).as("bls_distinct_years"),
      countDistinct(wholeRow(bls)).as("bls_distinct_rows"),
      count_if(value < 0).as("bls_negative_values"),
      count_if(col("series_id").isNull || col("year").isNull ||
        col("period").isNull || value.isNull).as("bls_null_critical_rows"),
      count_if(outside).as("bls_outlier_rows_iqr"))
    val popAgg = population.agg(
      count(lit(1)).as("population_rows"),
      countDistinct(col("Year")).as("population_distinct_years"),
      countDistinct(wholeRow(population)).as("population_distinct_rows"),
      count_if(col("Population") <= 0).as("population_non_positive_values"))
    // The hint plans a cartesian product of the two one-row aggregates
    // instead of broadcasting one of them in a job of its own.
    val m = blsAgg.hint("shuffle_replicate_nl").crossJoin(popAgg).head()
    def long(c: String): Long = m.getAs[Long](c)

    DqRun(
      DqSummary(
        bls_rows = long("bls_rows"),
        bls_distinct_series_id = long("bls_distinct_series_id"),
        bls_distinct_years = long("bls_distinct_years"),
        bls_full_row_duplicates = long("bls_rows") - long("bls_distinct_rows"),
        population_rows = long("population_rows"),
        population_distinct_years = long("population_distinct_years"),
        population_full_row_duplicates =
          long("population_rows") - long("population_distinct_rows"),
        bls_negative_values = long("bls_negative_values"),
        population_non_positive_values = long("population_non_positive_values"),
        bls_outlier_rows_iqr = long("bls_outlier_rows_iqr"),
        run_utc = java.time.Instant.now().toString),
      blsNullCriticalRows = long("bls_null_critical_rows"))
  }

  /** The one-row DQ summary the reference appends to
    * `dq_summary_runlog` per run (21_EDA.ipynb:33297-33367).
    */
  def summary(spark: SparkSession, bls: DataFrame, population: DataFrame): DataFrame =
    spark.createDataFrame(Seq(measure(bls, population).summary))
}

/** One run's DQ metrics: the run-log row, plus the count of BLS rows
  * with a null critical field, which `Pipeline.validate` gates on and
  * the run log does not carry.
  */
final case class DqRun(summary: DqSummary, blsNullCriticalRows: Long)

/** Schema of the append-only DQ run log (one wide row per run). */
final case class DqSummary(
    bls_rows: Long,
    bls_distinct_series_id: Long,
    bls_distinct_years: Long,
    bls_full_row_duplicates: Long,
    population_rows: Long,
    population_distinct_years: Long,
    population_full_row_duplicates: Long,
    bls_negative_values: Long,
    population_non_positive_values: Long,
    bls_outlier_rows_iqr: Long,
    run_utc: String)
