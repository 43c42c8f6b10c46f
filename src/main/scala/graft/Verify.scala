package graft
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. Shared with [[VerifyOne]].
    */
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Local-FS recursive delete for per-query dump dirs. Shared with
    * [[VerifyOne]].
    */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    if (f.exists()) f.delete()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the factory installs the engine's own extension layer, so the
    // gate checks the plans every other entry point runs
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      // drop any PRIOR dump first: a query that throws must leave NO
      // output (check.py then reports "no spark output") — leaving a
      // stale dir would greenlight the previous code's results
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      // repartition(1), NOT coalesce(1): coalesce propagates up to the
      // last shuffle boundary, so a shuffle-free tail (broadcast join +
      // per-pair compute) collapses into ONE task — d05's 2 B-pair dot
      // stage ran single-core for 20+ min at sf10 before this (r19).
      // repartition inserts an exchange: upstream keeps full
      // parallelism, only the single-file write is serial.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val q = jsonQuote _
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // headline set for tools/check.py --bench-oracle (the DuckDB-side
    // timing anchor for the Spark/DuckDB bench ratio)
    Files.writeString(Paths.get(s"$outDir/headline.json"),
      graft.queries.Registry.headline.map(h => q(h.name)).mkString("[", ",", "]"))
    spark.stop()
  }
}
