package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three analytics queries (Req A/B/C,
  * 20_analytics.ipynb cells 8/10/12), re-expressed as pure
  * DataFrame → DataFrame transforms so they compose with any source
  * and sink.
  */
object Analytics {

  /** Req A (20_analytics.ipynb:640-648): mean + SAMPLE stddev of
    * Population over 2013–2018 → one row
    * `(mean_population, stddev_population)`. `stddev` in Spark is
    * stddev_samp (n−1) — the golden value 4158441.0409… confirms it.
    */
  def populationStats(population: DataFrame): DataFrame =
    population
      .where(col("Year").between(2013, 2018))
      .agg(
        avg(col("Population")).as("mean_population"),
        stddev_samp(col("Population")).as("stddev_population"))

  /** Req B (20_analytics.ipynb:2178-2196): for every series, the year
    * with the largest sum(value) over all periods of that year —
    * including the Q05 annual-average pseudo-quarter (load-bearing:
    * golden 20.5 for PRS30006011/2022 depends on it). Ties break to
    * the EARLIEST year (desc sum, asc year).
    *
    * Physical shape: partial+final hash aggregate (shuffle on
    * series_id+year), then a single window shuffle on series_id.
    */
  def bestYearBySeries(bls: DataFrame): DataFrame = {
    val yearly = bls
      .groupBy(col("series_id"), col("year"))
      .agg(sum(col("value")).as("summed_value"))
    val w = Window.partitionBy(col("series_id"))
      .orderBy(col("summed_value").desc, col("year").asc)
    yearly
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("series_id"), col("year").as("best_year"), col("summed_value"))
  }

  /** Req C (20_analytics.ipynb:2542-2557): BLS series PRS30006032
    * period Q01 LEFT JOIN population by year — BLS rows survive when
    * the population year is missing (real: population lacks 2020 and
    * everything outside 2013–2023). USING-join column order: `year`
    * first, single copy. Population is tiny → broadcast. Ordered by
    * year (the reference's O1) within one partition: the result is a
    * single series, and a global `orderBy` would run a range-partition
    * sampling job that reads the BLS input once more.
    */
  def reportSeriesQ01(
      bls: DataFrame,
      population: DataFrame,
      seriesId: String = "PRS30006032",
      period: String = "Q01"): DataFrame = {
    val filtered = bls
      .where(col("series_id") === seriesId && col("period") === period)
      .select(col("series_id"), col("year"), col("period"), col("value"))
    val pop = population
      .select(col("Year").as("year"), col("Population").as("population"))
    filtered
      .join(broadcast(pop), Seq("year"), "left")
      .coalesce(1)
      .sortWithinPartitions(col("year"))
  }
}
