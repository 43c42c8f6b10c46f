package graft.pipeline

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
    dq: DqSummary)

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
  *    `dq_summary_runlog` history survives restarts.
  */
object TableSink {

  /** The warehouse directory of `table`, when it exists and the
    * catalog does not know the table: what a previous JVM left.
    */
  private def orphanLocation(spark: SparkSession, table: String): Option[Path] =
    if (spark.catalog.tableExists(table)) None
    else {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val rel = table.split('.') match {
        case Array(db, t) => s"$db.db/$t"
        case Array(t) => t
      }
      val path = new Path(s"$warehouse/$rel")
      Some(path).filter(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
    }

  def overwrite(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    orphanLocation(spark, table).foreach { p =>
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  def append(df: DataFrame, table: String): Unit = {
    orphanLocation(df.sparkSession, table).foreach { p =>
      // Spark writes every parquet column as nullable
      val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
      df.sparkSession.catalog.createTable(table, "parquet", schema, Map("path" -> p.toString))
    }
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
    * Returns the DQ row it appended.
    *
    * The three overwrites and the DQ metrics (`DataQuality.measure`)
    * are independent, so they run concurrently as `Future`s on `ec`:
    * at the reference's input size their jobs are one task each, and
    * the cores would otherwise sit idle. Their Spark jobs carry the
    * local properties (job group, scheduler pool) of the pool threads,
    * not the caller's. Once all four have finished, the DQ row is
    * appended and `validate` runs on the counts the metrics hold.
    *
    * Failure: the first failed round, in the order writes then
    * metrics, is rethrown after every round has finished, so nothing
    * is still writing when this throws. The other writes may already
    * have landed, and no DQ row is appended. A run that fails
    * `validate` has appended its DQ row, which records the bad input.
    */
  def runAnalytics(spark: SparkSession, config: PipelineConfig)(
      implicit ec: ExecutionContext): DqSummary = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${config.database}")
    val db = config.database

    val bls = BlsParser.parseFile(spark, s"${config.blsTargetDir}/${config.blsFileName}")
    val population = PopulationParser.parseFile(spark, config.populationTargetPath)

    val tables @ Seq(stats, best, report) = publishedTables(db)
    val writes = Seq(
      stats -> Analytics.populationStats(population),
      best -> Analytics.bestYearBySeries(bls),
      report -> Analytics.reportSeriesQ01(bls, population))
      .map { case (name, df) => Future(TableSink.overwrite(df, name)) }
    val metrics = Future(DataQuality.measure(bls, population))
    val rounds = writes :+ metrics
    rounds.foreach(Await.ready(_, Duration.Inf))
    rounds.foreach(_.value.get.get) // rethrows the first failure
    val dq = metrics.value.get.get

    TableSink.append(spark.createDataFrame(Seq(dq.summary)), s"$db.dq_summary_runlog")
    validate(spark, dq, tables)
    dq.summary
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
    val dq = runAnalytics(spark, config)
    PipelineReport(blsMeta, popMeta, publishedTables(config.database), dq)
  }
}
