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
    *
    * The catalog is Spark's in-memory one: a session starts without a
    * metastore, and published tables persist only as directories under
    * the warehouse (`spark.sql.warehouse.dir`, `spark-warehouse/` in
    * the working directory). [[graft.pipeline.TableSink]] re-adopts
    * them in a new JVM.
    */
  def local(
      cores: Int = defaultCores,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** The same session as `local(cores, appName)`; `hive` is ignored.
    * Its only caller is `perfbench/src/main/scala/perfbench/Harness.scala:58`,
    * which the engine may not change outside a benchmark change. The
    * next benchmark change deletes the argument there, and this
    * overload with it.
    */
  @deprecated("sessions always use the in-memory catalog; call local(cores, appName)", "0.1.0")
  def local(cores: Int, appName: String, hive: Boolean): SparkSession =
    local(cores, appName)
}
