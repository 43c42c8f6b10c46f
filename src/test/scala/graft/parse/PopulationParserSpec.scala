package graft.parse

import org.apache.spark.sql.types._

import graft.SparkSpec

class PopulationParserSpec extends SparkSpec {

  lazy val parsed = PopulationParser.parseFile(spark, fixturePath("population.json")).cache()

  test("schema is (Year int, Population double)") {
    assert(parsed.schema == StructType(Seq(
      StructField("Year", IntegerType),
      StructField("Population", DoubleType))))
  }

  test("explode + star-expand yields one row per data record") {
    assert(parsed.count() == 10)
  }

  test("2020 is genuinely absent from the source") {
    assert(parsed.filter("Year = 2020").count() == 0)
    val years = parsed.select("Year").collect().map(_.getInt(0)).sorted
    assert(years.toSeq == Seq(2013, 2014, 2015, 2016, 2017, 2018, 2019, 2021, 2022, 2023))
  }

  test("raw read preserves the `Nation ID` column (space in name)") {
    val raw = spark.read.option("multiLine", "true").json(fixturePath("population.json"))
    val recordFields = raw.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.col("data")).as("record"))
      .select("record.*").schema.fieldNames.toSeq
    assert(recordFields.contains("Nation ID"))
  }

  test("population values cast to double") {
    assert(parsed.filter("Year = 2013").head().getDouble(1) == 316128839.0)
  }

  test("the explicit-schema read gives the inferred read's rows, on the fixture and a gen.py source") {
    Seq("population.json", "population_gen.json").foreach { f =>
      val inferred = PopulationParser.parse(
        spark.read.option("multiLine", "true").json(fixturePath(f)))
      val explicit = PopulationParser.parseFile(spark, fixturePath(f))
      assert(explicit.schema == inferred.schema)
      assert(explicit.collect().toSeq.sortBy(_.getInt(0)) == inferred.collect().toSeq.sortBy(_.getInt(0)), f)
    }
  }

  test("parseFile issues no schema-inference job") {
    assert(jobsDuring(PopulationParser.parseFile(spark, fixturePath("population_gen.json"))) == 0)
  }
}
