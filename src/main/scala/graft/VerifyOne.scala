package graft
import graft.core.GraftSession
/** Subset correctness dump: like `graft.Verify` but for one or more
  * (comma-separated) registry queries — pairs with
  * `tools/check.py <sf> <out> --skip-verify <name...>` for a fast
  * cross-SF oracle check without rerunning the whole registry.
  */
object VerifyOne {
  /** Resolve every requested name against the registry BEFORE touching
    * anything: a typo at position k must not waste the preceding runs,
    * abort the following ones, or delete any prior dump (r17's sf10
    * campaign lost 2 of 3 chunks to five misspelled names). Fails with
    * the nearest registry match per unknown name.
    */
  def validateNames(requested: Seq[String]): Unit = {
    val known = graft.queries.Registry.all.map(_.name)
    val unknown = requested.filterNot(known.toSet)
    if (unknown.nonEmpty) {
      val hints = unknown.map(u => s"'$u' (nearest: '${known.minBy(levenshtein(u, _))}')")
      sys.error(s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        hints.mkString(", ") + " — nothing was run or deleted")
    }
  }

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  def main(args: Array[String]): Unit = {
    val Array(names, sfDir, outDir) = args
    val requested = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    validateNames(requested)
    val spark = GraftSession.local(appName = "graft-verify-one")
    new java.io.File(outDir).mkdirs()
    val fresh = requested.map { name =>
      val q = graft.queries.Registry.byName(name)
      val sql = q.oracle.getOrElse(sys.error(
        s"$name has no oracle SQL — only spec coverage; nothing to dump"))
      // drop any PRIOR dump first: a failing query must leave NO
      // output, or a --skip-verify re-check greenlights stale results.
      // repartition(1), not coalesce(1) — see Verify's dump comment
      // (coalesce collapses a shuffle-free tail into one task).
      Verify.deleteRecursively(new java.io.File(s"$outDir/$name"))
      q.run(spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      name -> sql
    }
    // Merge with any oracle_sql.json already in outDir: sequential
    // single-query runs into one dir (the documented cross-SF workflow)
    // must accumulate entries, not clobber each other — otherwise only
    // the LAST query survives and check.py KeyErrors on the rest.
    val prior: Seq[(String, String)] = {
      val f = new java.io.File(s"$outDir/oracle_sql.json")
      if (!f.isFile) Seq.empty
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        val it = node.fieldNames()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(k => k -> node.get(k).asText()).toSeq
      }
    }
    val freshNames = fresh.map(_._1).toSet
    val merged = prior.filterNot(e => freshNames(e._1)) ++ fresh
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      merged.map { case (n, s) => s"${Verify.jsonQuote(n)}: ${Verify.jsonQuote(s)}" }
        .mkString("{", ", ", "}"))
    spark.stop()
  }
}
