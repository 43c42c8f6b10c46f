package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => LocalPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.{SPARK_VERSION, SparkContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SparkShims

import graft.dq.DqRun
import graft.ingest.{Hashing, Json, LocalFileStore}

/** The analytics stage's run record, written beside the tables it
  * publishes the way ingest writes `_meta` (PAPER.md §1.1): one
  * write-once file per run under `<db>.db/_meta/runs/` plus an
  * overwritten `<db>.db/_meta/latest.json`. The warehouse is a local
  * directory, like the raw zone, so the record and the table listings
  * go through [[graft.ingest.LocalFileStore]] and `java.nio`, not
  * Hadoop's checksummed file system.
  *
  * @param status      success | failed
  * @param recomputed  false when the run reused the previous run's
  *                    tables and counts instead of computing them
  * @param key         [[AnalyticsRun.contentKey]]: engine classes,
  *                    Spark version, `spark.sql.*` settings and the
  *                    config fields analytics reads
  * @param inputs      sha256 of each raw file read, by path
  * @param dq          the DQ counts behind the run-log row it appended
  * @param tables      each published table as the run left it
  * @param wall_s      the stage's wall time up to the record write;
  *                    the top-level rounds add up to it
  */
final case class AnalyticsRunMeta(
    run_id: String,
    run_utc: String,
    status: String,
    error: Option[String],
    recomputed: Boolean,
    key: String,
    inputs: Map[String, String],
    dq: Option[DqRun],
    tables: Map[String, TableMeta],
    wall_s: Double,
    rounds: Seq[RoundMeta])

/** A published table: the rows its write wrote, its schema as JSON
  * (the written frame's, all columns nullable, as Spark stores it) and
  * its data files.
  */
final case class TableMeta(rows: Long, schema: String, files: Seq[DataFile])

final case class DataFile(name: String, bytes: Long)

/** One round of a run: its wall time, the Spark jobs started under it
  * (its own and those of the rounds that ran concurrently inside it,
  * listed in `concurrent`).
  */
final case class RoundMeta(name: String, wall_s: Double, jobs: Int, concurrent: Seq[RoundMeta])

object AnalyticsRun {

  /** Digest of the engine classes this JVM runs, computed once. An
    * engine not loaded from a class directory (a jar, say) gets a
    * digest of its own per JVM, so it never reuses another JVM's run.
    */
  lazy val engineDigest: String =
    Option(classOf[AnalyticsRunMeta].getProtectionDomain.getCodeSource)
      .map(s => Paths.get(s.getLocation.toURI))
      .filter(Files.isDirectory(_))
      .fold(s"unlocated-${java.util.UUID.randomUUID()}")(classDigest)

  /** sha256 over every file under `root/graft`, in path order, each as
    * its relative path and its bytes.
    */
  def classDigest(root: LocalPath): String = {
    val walk = Files.walk(root.resolve("graft"))
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
    finally walk.close()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(f => root.relativize(f).toString -> f).sortBy(_._1).foreach { case (name, f) =>
      val bytes = Files.readAllBytes(f)
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(java.nio.ByteBuffer.allocate(8).putLong(bytes.length).array())
      md.update(bytes)
    }
    Hashing.hex(md.digest())
  }

  /** What, besides the raw inputs, decides the tables and counts:
    * the engine, the Spark version, the session's `spark.sql.*`
    * settings and the config fields analytics reads.
    */
  def contentKey(spark: SparkSession, config: PipelineConfig, engine: String): String = {
    val parts = Seq("engine" -> engine, "spark" -> SPARK_VERSION) ++
      spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted ++ Seq(
        "blsTargetDir" -> config.blsTargetDir,
        "blsFileName" -> config.blsFileName,
        "populationTargetPath" -> config.populationTargetPath,
        "database" -> config.database)
    Hashing.sha256(parts.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes(UTF_8))
  }

  /** sha256 of each raw file analytics reads, by path; a missing file
    * has no entry, so it cannot match a record.
    */
  def inputDigests(spark: SparkSession, config: PipelineConfig): Map[String, String] =
    Seq(s"${config.blsTargetDir}/${config.blsFileName}", config.populationTargetPath)
      .flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(path)) None
        else {
          val in = fs.open(path)
          try Some(p -> Hashing.sha256(in)) finally in.close()
        }
      }.toMap

  /** The data files of `table`'s warehouse directory, by name (Spark's
    * `_`- and `.`-prefixed side files excluded); None when the
    * directory is gone.
    */
  def dataFiles(spark: SparkSession, table: String): Option[Seq[DataFile]] = {
    val dir = Paths.get(TableSink.location(spark, table).toUri.getPath)
    if (!Files.isDirectory(dir)) None
    else Some(LocalFileStore.listFiles(dir.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(n => DataFile(n, Files.size(dir.resolve(n)))))
  }

  /** Whether `prev` can stand for a run with this `key` and `inputs`:
    * it succeeded, its key and input digests are equal, and every
    * table it published still holds exactly the files it lists.
    */
  def reusable(
      spark: SparkSession,
      prev: AnalyticsRunMeta,
      key: String,
      inputs: Map[String, String],
      tables: Seq[String]): Boolean =
    prev.status == "success" && prev.key == key && prev.inputs == inputs &&
      prev.dq.isDefined && prev.tables.keySet == tables.toSet &&
      prev.tables.forall { case (t, m) => dataFiles(spark, t).contains(m.files) }

  private def metaDir(spark: SparkSession, database: String): String =
    s"${TableSink.databaseDir(spark, database).toUri.getPath}/_meta"

  /** The record `latest.json` holds, if it exists and parses. */
  def latest(spark: SparkSession, database: String): Option[AnalyticsRunMeta] = Try {
    val bytes = LocalFileStore.read(s"${metaDir(spark, database)}/latest.json")
    Json.read(new String(bytes, UTF_8), classOf[AnalyticsRunMeta])
  }.toOption

  /** Writes `meta` create-only under `runs/` and over `latest.json`. */
  def write(spark: SparkSession, database: String, meta: AnalyticsRunMeta): Unit = {
    val dir = metaDir(spark, database)
    val bytes = Json.write(meta).getBytes(UTF_8)
    LocalFileStore.write(s"$dir/runs/${meta.run_id}.json", bytes, overwrite = false)
    LocalFileStore.write(s"$dir/latest.json", bytes, overwrite = true)
  }
}

/** Wall time and Spark jobs per named round of one run. Each round
  * runs under a job group of its own, set on the thread that runs it:
  * a pool thread holds the local properties of whichever thread made
  * it, not the caller's current ones. Spark carries the group to the
  * broadcast and subquery jobs it starts for the round on other
  * threads. The jobs are counted per group once the listener bus has
  * delivered their events.
  */
private[pipeline] final class RoundClock(sc: SparkContext, runId: String) {
  private case class Timed(name: String, within: Option[String], wallS: Double)
  private val timed = new ConcurrentLinkedQueue[Timed]
  private val JobGroup = "spark.jobGroup.id"

  private def group(name: String) = s"graft-analytics-$runId/$name"

  /** Runs `body` as round `name`; `within` names the round it runs
    * concurrently inside.
    */
  def apply[A](name: String, within: Option[String] = None)(body: => A): A = {
    val prev = sc.getLocalProperty(JobGroup)
    sc.setLocalProperty(JobGroup, group(name))
    val t = System.nanoTime()
    try body
    finally {
      timed.add(Timed(name, within, (System.nanoTime() - t) / 1e9))
      sc.setLocalProperty(JobGroup, prev)
    }
  }

  /** The records the jobs of round `name` wrote to files; call it once
    * the round has ended.
    */
  def rowsWritten(name: String): Long = {
    SparkShims.drainListenerBus(sc)
    SparkShims.recordsWritten(sc, group(name))
  }

  /** The rounds that have ended, top-level ones in order. */
  def rounds(): Seq[RoundMeta] = {
    SparkShims.drainListenerBus(sc)
    val all = timed.asScala.toSeq
    def meta(t: Timed): RoundMeta = {
      val inner = all.filter(_.within.contains(t.name)).map(meta)
      val own = sc.statusTracker.getJobIdsForGroup(group(t.name)).length
      RoundMeta(t.name, t.wallS, own + inner.map(_.jobs).sum, inner)
    }
    all.filter(_.within.isEmpty).map(meta)
  }
}
