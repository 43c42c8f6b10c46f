package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every entry point builds its
  * session here, so they all plan with the same config
  * (GraftSessionSpec rejects any other builder in `src/main`).
  *
  * Single-JVM `local[N]` standing in for a multi-executor cluster.
  * Shuffle partitions are sized to cores (not the 200 default) so
  * small-SF runs don't pay scheduling overhead; AQE stays on so the
  * same code re-plans (coalesce post-shuffle partitions, skew-join
  * split) at real scale. The session comes back with
  * [[graft.plans.GraftExtensions]] installed (native SQL functions,
  * kernel rewrites, the TopKPerGroup rank-limit operator): the plans
  * every caller runs are the plans the oracle gate checks.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** @param cores `local[cores]` threads and shuffle partitions.
    * @param hive enable the Hive (derby) metastore so `saveAsTable`
    *   publishes survive JVM restarts — required for the pipeline's
    *   idempotent latest-snapshot overwrite semantics; query-only
    *   sessions skip it (faster startup, no metastore lock).
    */
  def local(
      cores: Int = defaultCores,
      appName: String = "graft",
      hive: Boolean = false): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (hive) b.enableHiveSupport() else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
