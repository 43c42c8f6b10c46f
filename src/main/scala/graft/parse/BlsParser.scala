package graft.parse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Parser for the BLS `pr.data.0.Current` whitespace-delimited
  * time-series text file into the canonical `bls` schema
  * `(series_id string, year int, period string, value double)`.
  *
  * Semantics (reference: 20_analytics.ipynb:335-359):
  *  - each line trimmed and split on `\s+`, tokens 0..3 kept — the
  *    optional 5th `footnote_codes` column is dropped silently;
  *  - `year` via try_cast to int: the header line's literal "year"
  *    token becomes null and the 4-way not-null gate removes the row
  *    (there is deliberately no skip-header option);
  *  - `value` via try_cast to double (the reference uses a plain cast;
  *    try_cast keeps identical observable behavior under Spark 4 ANSI
  *    mode — SURVEY.md §7.4.1);
  *  - a blank line (empty after `trim`) splits into one empty token,
  *    so the same gate drops it.
  *
  * The split is bound once per line. Written as plain column
  * expressions, Catalyst would push the not-null gate below the
  * projection and inline `split(trim(value))` into each conjunct and
  * each output column, splitting every line up to 8 times. A
  * one-element `explode(array(...))` is a `Generate`, which neither
  * collapses into the projection above it nor lets a filter on its
  * output move below it, so the tokens are computed once and the gate
  * tests them.
  *
  * The whole parse is one codegen'd pass over the text scan: no
  * shuffle, scales linearly with input bytes.
  */
object BlsParser {

  /** Parse from a raw single-column text DataFrame (`value` string). */
  def parse(raw: DataFrame): DataFrame = {
    val toks = col("toks")
    // `get` (not getItem): under Spark 4 ANSI mode getItem throws
    // INVALID_ARRAY_INDEX on lines with <4 tokens; the reference's
    // non-ANSI PySpark yielded null and the not-null gate dropped the
    // row — get() preserves that observable behavior.
    raw
      .select(explode(array(split(trim(col("value")), "\\s+"))).as("toks"))
      .select(
        get(toks, lit(0)).as("series_id"),
        get(toks, lit(1)).try_cast(IntegerType).as("year"),
        get(toks, lit(2)).as("period"),
        get(toks, lit(3)).try_cast(DoubleType).as("value"))
      .where(
        col("series_id").isNotNull && col("year").isNotNull &&
          col("period").isNotNull && col("value").isNotNull)
  }

  /** Parse straight from a file path (S1 text scan). */
  def parseFile(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))
}
