package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Try

import graft.core.GraftSession
import graft.ingest._

/** Serves "HTTP" responses from a local source directory — the
  * zero-egress stand-in for the live BLS/DataUSA endpoints: the
  * directory-listing URL renders an href index of the dir's `pr.*`
  * files; file URLs and the API URL map to files by name.
  */
final class LocalDirFetcher(sourceDir: String, apiFileName: String = "population.json")
  extends HttpFetcher {

  private def dir: Path = Paths.get(sourceDir)

  override def get(url: String): Try[Array[Byte]] = Try {
    if (url.endsWith("/")) {
      val hrefs = Files.list(dir).iterator()
      val names = new scala.collection.mutable.ArrayBuffer[String]
      while (hrefs.hasNext) {
        val f = hrefs.next()
        if (Files.isRegularFile(f)) names += f.getFileName.toString
      }
      names.sorted
        .map(n => s"""<a href="$n">$n</a>""")
        .mkString("<html>", "\n", "</html>")
        .getBytes(StandardCharsets.UTF_8)
    } else if (url.contains("?")) {
      Files.readAllBytes(dir.resolve(apiFileName))
    } else {
      val name = url.substring(url.lastIndexOf('/') + 1)
      Files.readAllBytes(dir.resolve(name))
    }
  }
}

/** CLI entry point: run the full reference-shaped pipeline (BLS mirror
  * sync ∥ population ingest → analytics + DQ) against a local source
  * directory, then print the ingest reports, the DQ row's counts and
  * the published tables.
  *
  * The raw zone lands under `workDir`; the published tables persist as
  * parquet directories in the warehouse, `spark-warehouse/<database>.db/`
  * under the current working directory (see [[TableSink]]). A run from
  * the same working directory therefore replaces the three curated
  * tables and appends one row to the `dq_summary_runlog` the earlier
  * runs left.
  *
  * Usage: runMain graft.pipeline.Main <sourceDir> <workDir> [database]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val sourceDir = args(0)
    val workDir = args(1)
    val db = if (args.length > 2) args(2) else "rearc_quest_lakehouse"

    val config = PipelineConfig(
      blsSource = "https://local.test/pub/time.series/pr/",
      blsTargetDir = s"$workDir/raw_bls",
      populationUrl = "https://local.test/tesseract/data.jsonrecords",
      populationTargetPath = s"$workDir/raw_datausa/population.json",
      populationMetaPath = s"$workDir/raw_datausa/_meta/population_ingest_run.json",
      database = db)

    val spark = GraftSession.local(appName = "graft-pipeline")
    val report = Pipeline.run(
      spark, new LocalDirFetcher(sourceDir), LocalFileStore, config)

    println(s"bls_sync: status=${report.blsSync.status.getOrElse("?")} " +
      s"uploaded=${report.blsSync.uploaded} updated=${report.blsSync.updated} " +
      s"skipped=${report.blsSync.skipped} deleted=${report.blsSync.deleted}")
    println(s"population: mode=${report.populationIngest.mode.getOrElse("?")} " +
      s"rows=${report.populationIngest.rows.getOrElse(-1)}")
    val dq = report.dq
    println(dq.productElementNames.zip(dq.productIterator)
      .filterNot(_._1 == "run_utc")
      .map { case (k, v) => s"$k=$v" }
      .mkString("dq: ", " ", ""))
    report.publishedTables.foreach { t =>
      println(s"published $t rows=${spark.table(t).count()}")
    }
    spark.table(s"$db.report_prs30006032_q01").show(40, truncate = false)
    spark.stop()
  }
}
