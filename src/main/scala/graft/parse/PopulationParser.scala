package graft.parse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parser for the DataUSA `population.json` document
  * (`{annotations, columns, data: [{Nation, "Nation ID", Population,
  * Year}, ...]}`) into `(Year int, Population double)`.
  *
  * Uses the distributed multiLine JSON scan + explode
  * (11_ingest_population.ipynb:382-388) rather than the reference's
  * 20 MB driver-side head/parse shortcut (20_analytics.ipynb:511-519)
  * — same result, no driver bottleneck (SURVEY.md §7.4.10). Note the
  * `Nation ID` field name contains a space; it survives the JSON read
  * and is simply not selected.
  */
object PopulationParser {

  /** The part of the document `parse` reads. Giving it to the reader
    * spares the schema-inference job a multiLine JSON read otherwise
    * runs first. `Year` and `Population` are strings, so a number
    * keeps its literal text and `try_cast` parses that text; a
    * document without `data` reads as one row with a null `data`,
    * which explodes into no rows.
    */
  private val documentSchema = StructType(Seq(
    StructField("data", ArrayType(StructType(Seq(
      StructField("Year", StringType),
      StructField("Population", StringType)))))))

  /** Normalize from the raw JSON read (must contain a `data` array). */
  def parse(rawJson: DataFrame): DataFrame =
    rawJson
      .select(explode(col("data")).as("record"))
      .select("record.*")
      .select(
        col("Year").try_cast(IntegerType).as("Year"),
        col("Population").try_cast(DoubleType).as("Population"))
      .where(col("Year").isNotNull && col("Population").isNotNull)

  /** Parse straight from a file path (S2 multiLine JSON scan). */
  def parseFile(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.schema(documentSchema).option("multiLine", "true").json(path))
}
