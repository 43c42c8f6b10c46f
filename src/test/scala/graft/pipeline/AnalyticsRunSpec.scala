package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ingest.{Hashing, Json}

/** The analytics run record and the skip decision it keys: a rerun on
  * unchanged input reuses the published tables, and every change that
  * could move them forces the full path.
  */
class AnalyticsRunSpec extends SparkSpec {

  private def latest(cfg: PipelineConfig): AnalyticsRunMeta =
    AnalyticsRun.latest(spark, cfg.database).get

  private def run(cfg: PipelineConfig, engine: String = AnalyticsRun.engineDigest) =
    Pipeline.analyze(spark, cfg, engine)

  private def dbDir(cfg: PipelineConfig): Path =
    Paths.get(TableSink.databaseDir(spark, cfg.database).toUri.getPath)

  private def tableDir(table: String): Path =
    Paths.get(TableSink.location(spark, table).toUri.getPath)

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  test("the run record: schema, rounds summing to the stage wall, jobs, rows and inputs") {
    val cfg = RawZone("graft_test_record_db")
    val Seq(stats, best, report) = Pipeline.publishedTables(cfg.database)
    var meta: AnalyticsRunMeta = null
    val jobs = jobsDuring { meta = run(cfg) }

    val latestJson = new String(
      Files.readAllBytes(dbDir(cfg).resolve("_meta/latest.json")), "UTF-8")
    assert(Json.readMap(latestJson).keySet == Set("run_id", "run_utc", "status", "error",
      "recomputed", "key", "inputs", "dq", "tables", "wall_s", "rounds"))
    assert(Files.exists(dbDir(cfg).resolve(s"_meta/runs/${meta.run_id}.json")))
    assert(latest(cfg) == meta, "the record must read back as written")
    assert(Files.list(dbDir(cfg).resolve("_meta")).iterator().asScala
      .forall(!_.getFileName.toString.endsWith(".crc")), "the record is written without checksum files")

    assert(meta.status == "success" && meta.recomputed && meta.error.isEmpty)
    assert(meta.rounds.map(_.name) ==
      Seq("check", "parse", "publish", "describe", "append", "validate"))
    val publish = meta.rounds.find(_.name == "publish").get
    assert(publish.concurrent.map(_.name).toSet ==
      Set(s"write $stats", s"write $best", s"write $report", "dq metrics"))
    val walls = meta.rounds.map(_.wall_s).sum
    assert(math.abs(walls - meta.wall_s) <= 0.05 * meta.wall_s,
      s"rounds sum to $walls s, the stage took ${meta.wall_s} s")
    assert(meta.rounds.map(_.jobs).sum == jobs, s"rounds count ${meta.rounds}, the run ran $jobs")
    assert(publish.jobs == publish.concurrent.map(_.jobs).sum && publish.jobs > 0)

    assert(meta.tables(stats).rows == 1 && meta.tables(report).rows == 4)
    assert(meta.tables(best).rows == spark.table(best).count())
    assert(meta.tables.values.forall(_.files.nonEmpty))
    assert(meta.inputs == Map(
      RawZone.blsPath(cfg).toString -> Hashing.sha256(RawZone.fixture("pr.data.0.Current")),
      cfg.populationTargetPath -> Hashing.sha256(RawZone.fixture("population.json"))))
    assert(meta.dq.map(_.summary.bls_rows).contains(16L))
  }

  /** The digest of a copy of the engine's class directory with one
    * byte of one class changed.
    */
  private def flippedEngineDigest(): String = {
    val root = Paths.get(classOf[AnalyticsRunMeta].getProtectionDomain.getCodeSource.getLocation.toURI)
    val copy = Files.createTempDirectory("graft-classes")
    val walk = Files.walk(root.resolve("graft"))
    try walk.iterator().asScala.foreach { f =>
      val to = copy.resolve(root.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    } finally walk.close()
    assert(AnalyticsRun.classDigest(copy) == AnalyticsRun.engineDigest,
      "the digest must read class bytes, not their location")
    val cls = copy.resolve("graft/pipeline/Pipeline$.class")
    val bytes = Files.readAllBytes(cls)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(cls, bytes)
    AnalyticsRun.classDigest(copy)
  }

  test("one changed byte in one engine class changes the engine digest") {
    assert(flippedEngineDigest() != AnalyticsRun.engineDigest)
  }

  test("unchanged input skips; each change forces the full path, and the rerun after it skips") {
    val cfg = RawZone("graft_test_skip_db")
    val Seq(stats, best, report) = Pipeline.publishedTables(cfg.database)
    assert(run(cfg).recomputed)
    assert(!run(cfg).recomputed)

    def forcesFullPath(what: String)(change: => Unit): Unit = {
      change
      assert(run(cfg).recomputed, s"$what must force the full path")
      assert(!run(cfg).recomputed, s"the run after $what must skip")
    }
    val mean = spark.table(stats).head().getDouble(0)
    forcesFullPath("one changed byte in pr.data.0.Current") {
      RawZone.replaceOnce(RawZone.blsPath(cfg), "Q01\t2.6", "Q01\t2.7")
    }
    forcesFullPath("one changed byte in population.json") {
      RawZone.replaceOnce(Paths.get(cfg.populationTargetPath), "316128839", "316128838")
    }
    assert(spark.table(stats).head().getDouble(0) != mean, "Req A must see the new population")
    forcesFullPath("a deleted table directory")(deleteTree(tableDir(best)))
    forcesFullPath("a deleted part file") {
      val part = Files.list(tableDir(report)).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Files.delete(part)
    }
    assert(spark.table(report).count() == 4)

    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try forcesFullPath("a changed spark.sql.* value") {
      spark.conf.set("spark.sql.shuffle.partitions", (partitions.toInt + 1).toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    assert(run(cfg).recomputed, "restoring the setting changes the key again")

    val otherEngine = flippedEngineDigest()
    assert(run(cfg, otherEngine).recomputed, "a changed engine digest must force the full path")
    assert(!run(cfg, otherEngine).recomputed)
    assert(run(cfg).recomputed)

    val log = spark.table(s"${cfg.database}.dq_summary_runlog")
      .select("recomputed").collect().map(_.getBoolean(0))
    assert(log.length == 16 && log.count(!_) == 7)
  }

  test("a failed run is never reused") {
    val cfg = RawZone("graft_test_failed_db",
      bls = "series_id\tyear\tperiod\tvalue\tfootnote_codes\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](Pipeline.runAnalytics(spark, cfg))
    val first = latest(cfg)
    assert(first.status == "failed" && first.error.exists(_.contains("BLS parse produced 0 rows")))
    intercept[IllegalArgumentException](Pipeline.runAnalytics(spark, cfg))
    val second = latest(cfg)
    assert(second.run_id != first.run_id && second.status == "failed")
    assert(second.recomputed, "the run after a failed one must take the full path")
  }

  test("a fresh catalog adopts the table directories and skips; a changed input then overwrites them") {
    val cfg = RawZone("graft_test_fresh_db")
    val tables = Pipeline.publishedTables(cfg.database)
    val runLog = s"${cfg.database}.dq_summary_runlog"
    Pipeline.runAnalytics(spark, cfg)
    val before = tables.map(t => spark.table(t).collect().toSeq)

    // what a new JVM sees: directories the catalog does not know
    val dir = dbDir(cfg)
    val aside = dir.resolveSibling(s"${dir.getFileName}.aside")
    Files.move(dir, aside)
    (tables :+ runLog).foreach(t => spark.sql(s"DROP TABLE $t"))
    Files.move(aside, dir)
    assert(!spark.catalog.tableExists(tables.head))

    var meta: AnalyticsRunMeta = null
    val jobs = jobsDuring { meta = run(cfg) }
    assert(!meta.recomputed && jobs <= 1, s"recomputed=${meta.recomputed}, $jobs jobs")
    assert(tables.map(t => spark.table(t).collect().toSeq) == before)
    assert(spark.table(runLog).select("recomputed").collect().map(_.getBoolean(0)).sorted.toSeq ==
      Seq(false, true))

    RawZone.replaceOnce(Paths.get(cfg.populationTargetPath), "316128839", "316128838")
    assert(run(cfg).recomputed)
    assert(spark.table(tables.head).collect().toSeq != before.head)
    assert(spark.table(tables(2)).count() == 4)
  }
}
