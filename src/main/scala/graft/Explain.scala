package graft

import graft.core.GraftSession
import graft.queries.Registry

/** Plan-audit CLI: print the formatted physical plan of one or more
  * registry queries (pushdown, broadcast, codegen spans) and time the
  * execution.
  *
  * Usage: runMain graft.Explain <query|all> [sfDir]
  */
object Explain {
  /** Pre-collect frames of driver-built queries (whose registry df is
    * a LocalTableScan and shows nothing): plan-audit surrogates,
    * addressable by name like any registry entry.
    */
  private val surrogates: Map[String, (org.apache.spark.sql.SparkSession,
      String) => org.apache.spark.sql.DataFrame] = Map(
    "t25_base" -> ((s, d) => graft.queries.TextQueries.t25Base(s, d)))

  def main(args: Array[String]): Unit = {
    val names =
      if (args.isEmpty || args(0) == "all") Registry.all.map(_.name)
      else args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"

    val spark = GraftSession.local(appName = "graft-explain")
    names.foreach { name =>
      println(s"========== $name ==========")
      val df = surrogates.get(name) match {
        case Some(build) => build(spark, sfDir)
        case None => Registry.byName(name).run(spark, sfDir)
      }
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      // The pre-execution print above shows AQE's INITIAL plan, where
      // stage reuse (ReusedExchange across canonically-equal subtrees)
      // is not yet decided — set SPARK_GRAFT_EXPLAIN_FINAL=1 to also
      // print the executed plan AQE actually ran.
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN_FINAL")) {
        // count() and write() each build a NEW QueryExecution, so df's
        // own AdaptiveSparkPlan stays un-executed (isFinalPlan=false)
        // and would print without runtime reuse markers — collect()
        // is the one action that runs df.queryExecution itself.
        df.collect()
        println(s"---------- $name (final adaptive plan) ----------")
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}
