package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Success

import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.dq.{DqRun, DqSummary}
import graft.ingest._
import graft.parse.BlsParser

/** Full A ∥ B → C run against canned HTTP: fixture BLS listing/file and
  * population payload land in a temp raw zone, analytics publishes the
  * three curated tables + DQ run log, validation passes, and the golden
  * values from the reference's executed outputs hold.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val source = "https://example.test/pub/time.series/pr/"
  private val apiUrl = "https://api.test/data.jsonrecords"

  test("pipeline end-to-end: ingest concurrently, publish, validate") {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val blsBody = new String(
      Files.readAllBytes(Paths.get(fixturePath("pr.data.0.Current"))), "UTF-8")
    val popBody = new String(
      Files.readAllBytes(Paths.get(fixturePath("population.json"))), "UTF-8")

    val cfg = PipelineConfig(
      blsSource = source,
      blsTargetDir = s"$dir/raw_bls",
      populationUrl = apiUrl,
      populationTargetPath = s"$dir/raw_datausa/population.json",
      populationMetaPath = s"$dir/raw_datausa/_meta/population_ingest_run.json",
      database = "graft_test_db")

    val popCfg = PopulationIngestConfig(
      url = apiUrl,
      targetPath = cfg.populationTargetPath,
      metaPath = cfg.populationMetaPath)
    val fetcher = new FakeFetcher(Map(
      source -> Success("""<a href="pr.data.0.Current">x</a>"""),
      (source + "pr.data.0.Current") -> Success(blsBody),
      PopulationIngest.queryUrl(popCfg) -> Success(popBody)))

    val report = Pipeline.run(spark, fetcher, LocalFileStore, cfg)

    assert(report.blsSync.status.contains("success"))
    assert(report.blsSync.uploaded == 1)
    assert(report.populationIngest.mode.contains("api_success"))
    assert(report.populationIngest.rows.contains(10))
    assert(report.publishedTables.size == 3)

    // published tables are re-readable through the catalog (S5)
    val stats = spark.table("graft_test_db.population_stats_2013_2018").head()
    assert(math.abs(stats.getDouble(0) - 3.22069808e8) < 1.0)
    assert(math.abs(stats.getDouble(1) - 4158441.040908095) < 1e-6)

    val best = spark.table("graft_test_db.bls_best_year_by_series")
    assert(best.filter("series_id = 'PRS30006011'").head().getInt(1) == 1995)
    val bestCount = best.count()

    val rep = spark.table("graft_test_db.report_prs30006032_q01")
    assert(rep.count() == 4)
    assert(rep.filter("year = 2020").head().isNullAt(4))

    // DQ run log appends one row per run
    val n1 = spark.table("graft_test_db.dq_summary_runlog").count()
    Pipeline.runAnalytics(spark, cfg)
    val n2 = spark.table("graft_test_db.dq_summary_runlog").count()
    assert(n2 == n1 + 1, "dq_summary_runlog must be append-only")

    // overwrite publish is idempotent: re-run leaves the same row count
    assert(spark.table("graft_test_db.bls_best_year_by_series").count() == bestCount)

    // the report carries the DQ row the run appended
    assert(report.dq.bls_rows == 16 && report.dq.population_rows == 10)
    val logged = spark.table("graft_test_db.dq_summary_runlog")
      .where(col("run_utc") === report.dq.run_utc).as[DqSummary].collect()
    assert(logged.toSeq == Seq(report.dq))
  }

  test("a header-only BLS file fails analytics with the empty-parse error") {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val cfg = PipelineConfig(
      blsSource = source,
      blsTargetDir = s"$dir/raw_bls",
      populationUrl = apiUrl,
      populationTargetPath = s"$dir/raw_datausa/population.json",
      populationMetaPath = s"$dir/raw_datausa/_meta/population_ingest_run.json",
      database = "graft_test_empty_db")
    Files.createDirectories(Paths.get(cfg.blsTargetDir))
    Files.write(Paths.get(cfg.blsTargetDir, cfg.blsFileName),
      "series_id\tyear\tperiod\tvalue\tfootnote_codes\n".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(cfg.populationTargetPath).getParent)
    Files.copy(Paths.get(fixturePath("population.json")), Paths.get(cfg.populationTargetPath))

    val e = intercept[IllegalArgumentException](Pipeline.runAnalytics(spark, cfg))
    assert(e.getMessage.contains("BLS parse produced 0 rows"))
  }

  test("a population document without `data` fails analytics") {
    val cfg = RawZone("graft_test_nodata_db",
      population = """{"columns": ["Nation", "Population", "Year"]}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Pipeline.runAnalytics(spark, cfg))
    assert(e.getMessage.contains("population parse produced 0 rows"))
  }

  /** Every file of the three published tables' directories, by path. */
  private def tableBytes(cfg: PipelineConfig): Map[String, Seq[Byte]] =
    Pipeline.publishedTables(cfg.database).flatMap { t =>
      val dir = Paths.get(TableSink.location(spark, t).toUri.getPath)
      val files = Files.list(dir).iterator().asScala.toSeq
      files.map((f: Path) => f.toString -> Files.readAllBytes(f).toSeq)
    }.toMap

  test("analytics job budgets: full path <= 15 jobs; on unchanged input <= 1, tables byte-identical") {
    val cfg = RawZone("graft_test_budget_db")
    val full = jobsDuring(Pipeline.runAnalytics(spark, cfg))
    assert(full <= 15, s"the full analytics path ran $full jobs")
    val before = tableBytes(cfg)
    val skip = jobsDuring(Pipeline.runAnalytics(spark, cfg))
    assert(skip <= 1, s"the skip path ran $skip jobs; only the run-log append may run one")
    assert(!AnalyticsRun.latest(spark, cfg.database).get.recomputed)
    assert(tableBytes(cfg) == before, "the skip path touched a published table")
  }

  test("validate fails on a missing output table") {
    val run = DqRun(DqSummary(1, 1, 1, 0, 1, 1, 0, 0, 0, 0, "t"), blsNullCriticalRows = 0)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test_db")
    val e = intercept[IllegalArgumentException](
      Pipeline.validate(spark, run, Seq("graft_test_db.no_such_table")))
    assert(e.getMessage.contains("missing output table graft_test_db.no_such_table"))
    val nulls = intercept[RuntimeException](
      Pipeline.validate(spark, run.copy(blsNullCriticalRows = 2), Nil))
    assert(nulls.getMessage.contains("2 BLS rows with null critical fields"))
  }

  test("analytics counts exactly the rows BlsParser parses: leading tab or \\v, full-width year and inf lines") {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val cfg = PipelineConfig(
      blsSource = source,
      blsTargetDir = s"$dir/raw_bls",
      populationUrl = apiUrl,
      populationTargetPath = s"$dir/raw_datausa/population.json",
      populationMetaPath = s"$dir/raw_datausa/_meta/population_ingest_run.json",
      database = "graft_test_planted_db")
    val planted = Seq(
      "\tPRSTAB00001\t2013\tQ01\t1.0", // leading tab: empty first token
      "\u000bPRSVTB00001\t2013\tQ01\t1.0", // leading vertical tab: same
      "PRSFWD00001\t\uff12\uff10\uff11\uff13\tQ01\t1.0", // full-width digit year
      "PRSINF00001\t2013\tQ01\tinf") // Spark's double cast reads inf
    val blsPath = Paths.get(cfg.blsTargetDir, cfg.blsFileName)
    Files.createDirectories(blsPath.getParent)
    val fixture = new String(
      Files.readAllBytes(Paths.get(fixturePath("pr.data.0.Current"))), "UTF-8")
    Files.write(blsPath, (fixture + planted.mkString("", "\n", "\n")).getBytes("UTF-8"))
    Files.createDirectories(Paths.get(cfg.populationTargetPath).getParent)
    Files.copy(Paths.get(fixturePath("population.json")), Paths.get(cfg.populationTargetPath))

    val dq = Pipeline.runAnalytics(spark, cfg)
    val parsed = BlsParser.parseFile(spark, blsPath.toString)
    assert(dq.bls_rows == parsed.count())
    assert(dq.bls_rows == 17, "the 16 fixture rows plus the inf row")
    val ids = parsed.select("series_id").as[String].collect().toSet
    assert(ids.contains("PRSINF00001"))
    assert(Seq("PRSTAB00001", "PRSVTB00001", "PRSFWD00001").forall(!ids.contains(_)))
  }

  test("TableSink adopts a run log a previous JVM left, and replaces an orphaned table") {
    val db = "graft_test_adopt_db"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val dbDir = s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db"
    def rows(run: String, n: Long) =
      Seq(DqSummary(n, 1, 1, 0, 1, 1, 0, 0, 0, 0, run)).toDF()
    // what an earlier JVM left: directories the fresh catalog does not know
    rows("earlier", 5).write.parquet(s"$dbDir/dq_summary_runlog")
    rows("earlier", 5).write.parquet(s"$dbDir/population_stats_2013_2018")
    assert(!spark.catalog.tableExists(s"$db.dq_summary_runlog"))

    TableSink.append(rows("now", 7), s"$db.dq_summary_runlog")
    val log = spark.table(s"$db.dq_summary_runlog").as[DqSummary].collect()
    assert(log.map(r => r.run_utc -> r.bls_rows).sorted.toSeq ==
      Seq("earlier" -> 5L, "now" -> 7L), "append must keep the earlier runs' rows")

    TableSink.overwrite(rows("now", 7), s"$db.population_stats_2013_2018")
    assert(spark.table(s"$db.population_stats_2013_2018").as[DqSummary]
      .collect().map(_.run_utc).toSeq == Seq("now"), "overwrite keeps the latest snapshot")
  }
}
