package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.ExecutionContext.Implicits.global

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus

import graft.core.GraftSession
import graft.ingest.LocalFileStore
import graft.pipeline.{LocalDirFetcher, Pipeline, PipelineConfig}
import graft.queries.Registry

/** JVM side of the benchmark. Drives the engine only through its public
  * entry points, times one cold pass and warm passes, and writes one
  * JSON record for `run.py`, which checks the outputs and derives the
  * metrics.
  *
  * Usage: Harness <record.json> key=value...
  *   kind=queries|pipeline  input=<dir>  seconds=<n>  trace=0|1
  *   cores=<n>  queries=a,b,c  dump=<dir>
  *
  * `queries` runs each named registry query and times it with a `noop`
  * write; `pipeline` runs ingest then analytics against `input` as the
  * source directory and the working directory as the lakehouse. The
  * record's `ready_ms` is the wall-clock time at which the session was
  * ready; `run.py` measures set-up from the process launch to it.
  * Traced runs alternate traced and untraced warm passes so the tracing
  * overhead is measured in the same process.
  */
object Harness {
  private val Database = "perfbench_lakehouse"
  /** Warm passes timed per run (in a traced run, every other one is
    * untraced). The count is fixed because the JIT keeps speeding passes
    * up, so a count that depends on speed would move the median.
    */
  private val WarmPasses = 5

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val opt = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val kind = opt("kind")
    val input = opt("input")
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val hive = kind == "pipeline"
    val queries = opt.getOrElse("queries", "").split(',').filter(_.nonEmpty).toSeq
    require(kind == "pipeline" || queries.nonEmpty, "no queries named")
    queries.foreach(q => require(Registry.byName.contains(q), s"unknown query $q"))

    // Set-up ends when the session exists, the extensions are installed
    // and, for the pipeline, the metastore and database exist.
    val sessionStart = System.nanoTime()
    val spark = GraftSession.local(cores = cores, appName = "perfbench", hive = hive)
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    graft.plans.GraftExtensions.install(spark)
    if (hive) spark.sql(s"CREATE DATABASE IF NOT EXISTS $Database")
    val readyMs = System.currentTimeMillis()
    val sc = spark.sparkContext

    val tracer = new Tracer
    var tracing = false
    def setPhase(p: String): Unit = {
      if (tracing) { PerfbenchBus.drain(sc); tracer.phase = p }
      sc.setLocalProperty(Tracer.PhaseKey, p)
    }

    val config = PipelineConfig(
      blsSource = "https://local.test/pub/time.series/pr/",
      blsTargetDir = "raw_bls",
      populationUrl = "https://local.test/tesseract/data.jsonrecords",
      populationTargetPath = "raw_datausa/population.json",
      populationMetaPath = "raw_datausa/_meta/population_ingest_run.json",
      database = Database)
    val fetcher = new LocalDirFetcher(input)

    val errors = mutable.ArrayBuffer.empty[String]
    val opsFailed = mutable.Map.empty[String, Int].withDefaultValue(0)
    var ingestCounts = Map.empty[String, Long]
    val opS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def opTime(name: String, s: Double): Unit =
      opS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s

    val dump = opt("dump")
    def reset(): Unit = {
      spark.catalog.clearCache()
      graft.operators.TextDedup.clearSharedSignatures(spark)
      graft.operators.AnnIndex.clear(spark)
    }

    /** One pass. Returns wall seconds and per-phase seconds. A `check`
      * pass writes each query's output to parquet under `dump` instead of
      * to the `noop` sink, for the DuckDB comparison in run.py; a
      * pipeline's outputs are the tables it publishes on every pass.
      */
    def pass(check: Boolean = false): (Double, Map[String, Double]) = {
      val phaseS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def timed[A](p: String)(body: => A): A = {
        setPhase(p)
        val t = System.nanoTime()
        try body finally phaseS(p) += (System.nanoTime() - t) / 1e9
      }
      val t0 = System.nanoTime()
      if (kind == "queries") queries.foreach { name =>
        reset()
        val t = System.nanoTime()
        try {
          val df = timed("build")(Registry.byName(name).run(spark, input))
          if (check) df.repartition(1).write.mode("overwrite").parquet(s"$dump/$name")
          else timed("action")(df.write.format("noop").mode("overwrite").save())
          if (!check) opTime(name, (System.nanoTime() - t) / 1e9)
        } catch { case e: Exception =>
          opsFailed(name) += 1
          errors += s"$name: ${e.toString.take(300)}"
        }
      } else {
        try {
          val (bls, pop) = timed("ingest")(Pipeline.runIngest(fetcher, LocalFileStore, config))
          timed("analytics")(Pipeline.runAnalytics(spark, config))
          if (!check) {
            opTime("ingest", phaseS("ingest"))
            opTime("analytics", phaseS("analytics"))
          }
          ingestCounts = Map(
            "files_written" -> (bls.uploaded + bls.updated +
              (if (pop.mode.contains("api_success")) 1 else 0)).toLong,
            "files_skipped" -> bls.skipped.toLong)
          if (!bls.status.contains("success") || !pop.mode.contains("api_success")) {
            opsFailed("pipeline") += 1
            errors += s"pipeline: bls status ${bls.status}, population mode ${pop.mode}"
          }
        } catch { case e: Exception =>
          opsFailed("pipeline") += 1
          errors += s"pipeline: ${e.toString.take(300)}"
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      setPhase("none")
      (wall, phaseS.toMap)
    }

    val (coldS, _) = pass()
    // The check pass, untimed, also serves as the warm-up pass.
    pass(check = true)
    val passS = mutable.ArrayBuffer.empty[Double]
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Any]]
    val windowStart = System.nanoTime()
    var i = 0
    // The fixed passes, more only if they end before `seconds`.
    val seconds = opt("seconds").toDouble
    while (i < WarmPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val traced = trace && i % 2 == 0
      if (traced) {
        PerfbenchBus.drain(sc)
        tracer.reset()
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        tracing = true
      }
      val t0 = System.currentTimeMillis()
      val (wall, phases) = pass()
      val t1 = System.currentTimeMillis()
      if (traced) {
        PerfbenchBus.drain(sc)
        tracing = false
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        layers += layerRecord(tracer.snapshot(), wall, phases, t0, t1, cores, ingestCounts)
        passS += wall
      } else if (trace) untracedS += wall
      else passS += wall
      i += 1
    }
    val rssMb = vmHwmMb()

    if (kind == "queries")
      write(s"$dump/oracle_sql.json", queries.map(q => q -> Registry.oracleSql.get(q)).toMap)
    val pipelineRuns = if (kind == "pipeline") 2 + i else 0
    spark.stop()

    write(out, Map(
      "ready_ms" -> readyMs,
      "session_s" -> sessionS,
      "cold_pass_s" -> coldS,
      "pass_s" -> passS.toSeq,
      "untraced_pass_s" -> untracedS.toSeq,
      "peak_rss_mb" -> rssMb,
      "attempted" -> (if (kind == "queries") queries.size * (2 + i) else pipelineRuns),
      "ops_failed" -> opsFailed.toMap,
      "errors" -> errors.toSeq,
      "pipeline_runs" -> pipelineRuns,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> System.getProperty("java.version"),
      "op_s" -> opS.map { case (k, v) => k -> v.toSeq }.toMap,
      "layers" -> layers.toSeq))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value), StandardCharsets.UTF_8)

  private def layerRecord(
      a: Tracer.Acc, wall: Double, phases: Map[String, Double], t0: Long, t1: Long,
      cores: Int, ingest: Map[String, Long]): Map[String, Any] = {
    def inSeconds(ms: mutable.Map[String, Long]) = ms.map { case (k, v) => k -> v / 1e3 }.toMap
    Map(
      "wall_s" -> wall,
      "phase_s" -> phases,
      "jobs_by_phase" -> a.jobs.toMap,
      "task_s_by_phase" -> inSeconds(a.taskMs),
      "jobs_by_package" -> a.pkgJobs.toMap,
      "job_s_by_package" -> inSeconds(a.pkgJobMs),
      "plan_s" -> inSeconds(a.planMs),
      "stages" -> a.stages,
      "tasks" -> a.tasks,
      "task_s" -> a.taskMs.values.sum / 1e3,
      "cpu_s" -> a.cpuNs / 1e9,
      "gc_s" -> a.gcMs / 1e3,
      "shuffle_write_mb" -> a.shuffleWriteBytes / 1048576.0,
      "spill_mb" -> a.spillBytes / 1048576.0,
      "input_mb" -> a.inputBytes / 1048576.0,
      "busy_s" -> a.busyMs(t0, t1) / 1e3,
      "cores" -> cores,
      "ingest" -> ingest)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
