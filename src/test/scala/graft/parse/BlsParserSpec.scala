package graft.parse

import org.apache.spark.sql.types._

import graft.SparkSpec

class BlsParserSpec extends SparkSpec {

  lazy val parsed = BlsParser.parseFile(spark, fixturePath("pr.data.0.Current")).cache()

  test("schema is (series_id string, year int, period string, value double)") {
    assert(parsed.schema == StructType(Seq(
      StructField("series_id", StringType),
      StructField("year", IntegerType),
      StructField("period", StringType),
      StructField("value", DoubleType))))
  }

  test("header line is dropped via try_cast null, not a skip-header option") {
    // fixture has 20 raw lines: 1 header + 2 blanks + 16 data + 1 malformed
    assert(parsed.count() == 16)
    assert(parsed.filter("series_id = 'series_id'").count() == 0)
  }

  test("malformed line (non-numeric year) is dropped, never throws") {
    assert(parsed.filter("series_id = 'not_a_number'").count() == 0)
  }

  test("optional footnote_codes column is dropped silently") {
    // rows with a 5th token still parse to exactly 4 columns
    val r = parsed.filter("series_id = 'PRS30006032' and year = 2013").head()
    assert(r.getString(0) == "PRS30006032")
    assert(r.getInt(1) == 2013)
    assert(r.getString(2) == "Q01")
    assert(r.getDouble(3) == 0.5)
  }

  test("blank lines are filtered") {
    assert(parsed.filter("series_id = ''").count() == 0)
  }

  test("negative values survive (no spurious filtering)") {
    assert(parsed.filter("value < 0").count() == 7)
  }

  test("each line is split once: the gate tests the bound tokens") {
    val p = BlsParser.parseFile(spark, fixturePath("pr.data.0.Current"))
      .queryExecution.executedPlan.toString
    assert(p.sliding("split(".length).count(_ == "split(") == 1,
      s"expected exactly one split( in the plan:\n$p")
  }
}
