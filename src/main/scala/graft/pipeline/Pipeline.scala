package graft.pipeline

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.analytics.Analytics
import graft.dq.{DataQuality, DqRun, DqSummary}
import graft.ingest._
import graft.parse.{BlsParser, PopulationParser}

/** End-to-end orchestration of the reference's `rearc_quest_pipeline`
  * workflow (README.md:111-134): Task A (BLS mirror sync) ∥ Task B
  * (population API ingest) → Task C (analytics + DQ). The Databricks
  * Workflow dependency edge becomes two `Future`s awaited before the
  * analytics stage; each stage returns its typed run report.
  *
  * Task C is bound by rounds of one-task jobs, not by data, so its
  * independent rounds overlap too: the three table writes and the DQ
  * metrics run as four `Future`s on the caller's `ExecutionContext`
  * (see `runAnalytics`).
  */
final case class PipelineConfig(
    blsSource: String,
    blsTargetDir: String,
    blsFileName: String = "pr.data.0.Current",
    populationUrl: String,
    populationTargetPath: String,
    populationMetaPath: String,
    database: String = "rearc_quest_lakehouse",
    enableDelete: Boolean = true)

final case class PipelineReport(
    blsSync: BlsRunMeta,
    populationIngest: PopulationRunMeta,
    publishedTables: Seq[String],
    analytics: AnalyticsRunMeta) {

  /** The DQ row the analytics stage appended. */
  def dq: DqSummary = analytics.dq.get.summary
}

/** Publish sinks (K1/K2): parquet saveAsTable with the reference's
  * overwrite / append semantics (Delta jars are absent in this
  * environment; the format is the only difference — SURVEY.md §7.4.8).
  *
  * Sessions use the in-memory catalog ([[graft.core.GraftSession]]),
  * so a table persists only as its warehouse directory,
  * `<spark.sql.warehouse.dir>/<db>.db/<table>`; the warehouse is
  * `spark-warehouse/` under the working directory unless configured.
  * A new JVM starts with a catalog that knows none of them; the first
  * write to a table it does not know settles what happens to the
  * directory a previous JVM left:
  *  - `overwrite` deletes it, then writes the latest snapshot;
  *  - `append` adopts it as the table (the schema is the written
  *    frame's, so no inference job runs), then appends, so the
  *    `dq_summary_runlog` history survives restarts;
  *  - `adopt` registers it with a known schema, as an external table
  *    (`Pipeline.analyze` does so on unchanged input); a later
  *    `overwrite` replaces it the same way.
  */
object TableSink {

  /** `<spark.sql.warehouse.dir>/<database>.db`. */
  def databaseDir(spark: SparkSession, database: String): Path =
    new Path(s"${spark.conf.get("spark.sql.warehouse.dir")}/$database.db")

  /** The warehouse directory of `table` (`db.table` or `table`). */
  def location(spark: SparkSession, table: String): Path = table.split('.') match {
    case Array(db, t) => new Path(databaseDir(spark, db), t)
    case Array(t) => new Path(spark.conf.get("spark.sql.warehouse.dir"), t)
  }

  /** The warehouse directory of `table`, when it exists and the
    * catalog does not know the table: what a previous JVM left.
    */
  private def orphanLocation(spark: SparkSession, table: String): Option[Path] =
    if (spark.catalog.tableExists(table)) None
    else Some(location(spark, table))
      .filter(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))

  def overwrite(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    // A directory `adopt` registered is an external table, which
    // `saveAsTable` cannot replace by a managed one in place: forget it
    // (its files stay), then replace it as an orphan.
    if (spark.catalog.tableExists(table) && spark.catalog.getTable(table).tableType == "EXTERNAL")
      spark.sql(s"DROP TABLE $table")
    orphanLocation(spark, table).foreach { p =>
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Registers the directory a previous JVM left for `table`, if any,
    * as the table, with `schema`, so no inference job runs.
    */
  def adopt(spark: SparkSession, table: String, schema: StructType): Unit =
    orphanLocation(spark, table).foreach { p =>
      spark.catalog.createTable(table, "parquet", schema, Map("path" -> p.toString))
    }

  /** The schema a table written from `df` has: Spark writes every
    * parquet column as nullable.
    */
  def storedSchema(df: DataFrame): StructType =
    StructType(df.schema.fields.map(_.copy(nullable = true)))

  def append(df: DataFrame, table: String): Unit = {
    adopt(df.sparkSession, table, storedSchema(df))
    df.write.mode("append").format("parquet").saveAsTable(table)
  }
}

object Pipeline {

  /** Tasks A ∥ B: both ingests run concurrently, like the workflow's
    * parallel tasks.
    */
  def runIngest(
      fetcher: HttpFetcher,
      store: FileStore,
      config: PipelineConfig)(implicit ec: ExecutionContext): (BlsRunMeta, PopulationRunMeta) = {
    val fa = Future(BlsMirrorSync.run(fetcher, store,
      BlsSyncConfig(config.blsSource, config.blsTargetDir, config.enableDelete)))
    val fb = Future(PopulationIngest.run(fetcher, store,
      PopulationIngestConfig(
        url = config.populationUrl,
        targetPath = config.populationTargetPath,
        metaPath = config.populationMetaPath)))
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  /** The curated tables `runAnalytics` publishes into `database`:
    * Req A, B and C.
    */
  def publishedTables(database: String): Seq[String] =
    Seq("population_stats_2013_2018", "bls_best_year_by_series", "report_prs30006032_q01")
      .map(t => s"$database.$t")

  /** Task C: parse the raw zone, publish the three curated tables,
    * append the DQ run log, validate (20_analytics.ipynb cell 14).
    * Returns the DQ row it appended. See [[analyze]].
    */
  def runAnalytics(spark: SparkSession, config: PipelineConfig)(
      implicit ec: ExecutionContext): DqSummary =
    analyze(spark, config).dq.get.summary

  /** Task C with its run record ([[AnalyticsRunMeta]]), which it
    * writes under `<db>.db/_meta/` and returns.
    *
    * Unchanged input: when the latest record is a successful run
    * with this run's content key ([[AnalyticsRun.contentKey]]) and
    * input digests, and every table directory still holds the files it
    * lists, the run does not parse, publish or measure. It adopts the
    * directories the catalog does not know (as `TableSink.append` does
    * for the run log), appends a run-log row that carries the recorded
    * counts with `recomputed = false`, and validates. Anything else
    * takes the full path below.
    *
    * The full path: the three overwrites and the DQ metrics
    * (`DataQuality.measure`) are independent, so they run concurrently
    * as `Future`s on `ec`: at the reference's input size their jobs
    * are one task each, and the cores would otherwise sit idle. Once
    * all four have finished, the DQ row is appended and `validate`
    * runs on the counts the metrics hold.
    *
    * Failure: the first failed round, in the order writes then
    * metrics, is rethrown after every round has finished, so nothing
    * is still writing when this throws. The other writes may already
    * have landed, and no DQ row is appended. A run that fails
    * `validate` has appended its DQ row, which records the bad input.
    * Either way the run leaves a `failed` record, which the next run
    * does not reuse.
    *
    * @param engine the engine digest in the content key
    */
  private[pipeline] def analyze(
      spark: SparkSession,
      config: PipelineConfig,
      engine: => String = AnalyticsRun.engineDigest)(
      implicit ec: ExecutionContext): AnalyticsRunMeta = {
    val db = config.database
    val tables = publishedTables(db)
    val start = java.time.Instant.now()
    val t0 = System.nanoTime()
    val runId = BlsMirrorSync.runId(start, s"analytics|$db")
    val clock = new RoundClock(spark.sparkContext, runId)
    var key = ""
    var inputs = Map.empty[String, String]
    var recomputed = true
    var dq: Option[DqRun] = None
    var published = Map.empty[String, TableMeta]

    def record(status: String, error: Option[String]): AnalyticsRunMeta = {
      val wall = (System.nanoTime() - t0) / 1e9
      val meta = AnalyticsRunMeta(runId, start.toString, status, error, recomputed, key,
        inputs, dq, published, wall, clock.rounds())
      AnalyticsRun.write(spark, db, meta)
      meta
    }

    try {
      val previous = clock("check") {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        key = AnalyticsRun.contentKey(spark, config, engine)
        inputs = AnalyticsRun.inputDigests(spark, config)
        AnalyticsRun.latest(spark, db)
          .filter(AnalyticsRun.reusable(spark, _, key, inputs, tables))
      }
      previous match {
        case Some(prev) =>
          recomputed = false
          clock("adopt")(prev.tables.foreach { case (t, m) =>
            TableSink.adopt(spark, t, DataType.fromJson(m.schema).asInstanceOf[StructType])
          })
          val was = prev.dq.get
          dq = Some(was.copy(summary = was.summary.copy(
            run_utc = java.time.Instant.now().toString, recomputed = false)))
          published = prev.tables
        case None =>
          val (measured, schemas) = recompute(spark, config, tables, clock)
          dq = Some(measured)
          published = clock("describe")(tables.map { t =>
            t -> TableMeta(clock.rowsWritten(s"write $t"), schemas(t).json,
              AnalyticsRun.dataFiles(spark, t).getOrElse(Nil))
          }.toMap)
      }
      val run = dq.get
      clock("append")(
        TableSink.append(spark.createDataFrame(Seq(run.summary)), s"$db.dq_summary_runlog"))
      clock("validate")(validate(spark, run, tables))
    } catch {
      case NonFatal(e) =>
        Try(record("failed", Some(e.toString))).failed.foreach(e.addSuppressed)
        throw e
    }
    record("success", None)
  }

  /** The full path: parse, then the three overwrites and the DQ metrics
    * as concurrent rounds inside one `publish` round. Returns the DQ
    * counts and the schema each table was written with.
    */
  private def recompute(
      spark: SparkSession,
      config: PipelineConfig,
      tables: Seq[String],
      clock: RoundClock)(implicit ec: ExecutionContext): (DqRun, Map[String, StructType]) = {
    val (bls, population) = clock("parse")((
      BlsParser.parseFile(spark, s"${config.blsTargetDir}/${config.blsFileName}"),
      PopulationParser.parseFile(spark, config.populationTargetPath)))
    val Seq(stats, best, report) = tables
    clock("publish") {
      val inPublish = Some("publish")
      val writes = Seq(
        stats -> Analytics.populationStats(population),
        best -> Analytics.bestYearBySeries(bls),
        report -> Analytics.reportSeriesQ01(bls, population))
        .map { case (name, df) =>
          Future(clock(s"write $name", inPublish) {
            TableSink.overwrite(df, name)
            name -> TableSink.storedSchema(df)
          })
        }
      val metrics = Future(clock("dq metrics", inPublish)(DataQuality.measure(bls, population)))
      val rounds = writes :+ metrics
      rounds.foreach(Await.ready(_, Duration.Inf))
      rounds.foreach(_.value.get.get) // rethrows the first failure
      (metrics.value.get.get, writes.map(_.value.get.get).toMap)
    }
  }

  /** Inline validation (20_analytics.ipynb:3108-3172): non-empty
    * inputs, zero rows with null critical fields (hard failure), all
    * output tables in the catalog. Reads the counts `dq` holds and
    * issues no Spark job.
    */
  def validate(spark: SparkSession, dq: DqRun, outputTables: Seq[String]): Unit = {
    require(dq.summary.bls_rows > 0, "BLS parse produced 0 rows")
    require(dq.summary.population_rows > 0, "population parse produced 0 rows")
    if (dq.blsNullCriticalRows != 0)
      throw new RuntimeException(s"${dq.blsNullCriticalRows} BLS rows with null critical fields")
    outputTables.foreach(t =>
      require(spark.catalog.tableExists(t), s"missing output table $t"))
  }

  def run(
      spark: SparkSession,
      fetcher: HttpFetcher,
      store: FileStore,
      config: PipelineConfig)(implicit ec: ExecutionContext): PipelineReport = {
    val (blsMeta, popMeta) = runIngest(fetcher, store, config)
    val analytics = analyze(spark, config)
    PipelineReport(blsMeta, popMeta, publishedTables(config.database), analytics)
  }
}
