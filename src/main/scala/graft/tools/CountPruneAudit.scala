package graft.tools

import graft.queries.Registry

/** Audit for guide §1.4's count-pruning hazard: if a bench timed
  * `q.run(...).count()`, Catalyst may prune columns — including
  * aggregate expressions and the kernels feeding them — that the count
  * does not need, timing a plan cheaper than the query. For every
  * headline query this compares the plan `count()` would execute
  * against the full query plan and prints what the count plan lost.
  *
  * r21 (VERDICT r20 items 2/4 + ADVICE):
  *  - nodes are counted at LINE level (tree-prefix stripped), so
  *    `Exchange` no longer also matches `BroadcastExchange` or the
  *    target ReusedExchange's toString inlines (the r14 double-count
  *    pitfall) — Broadcast/Reused exchanges are their own buckets;
  *  - the audit is EXPRESSION-level too: per-plan totals of aggregate
  *    functions and project columns. count() over an aggregate keeps
  *    the HashAggregate node but prunes its aggregate expressions
  *    (q07/t02/t13/t25 were invisible to the node census), which this
  *    catches as an `aggExprs`/`projCols` drop.
  *
  * Usage: runMain graft.tools.CountPruneAudit [sfDir]
  */
object CountPruneAudit {
  private val Heavy = Seq("Scan parquet", "Exchange", "BroadcastExchange",
    "ReusedExchange", "HashAggregate", "ObjectHashAggregate",
    "SortAggregate", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "Generate", "Window", "Sort")

  /** The node name at the start of a plan-tree line, with codegen
    * star, tree prefix (`:  +- ` etc.) stripped — inlined references
    * later in the line (ReusedExchange targets) never match.
    */
  private[tools] def nodeHead(line: String): String = {
    val s = line.dropWhile(c => c == ':' || c == '+' || c == '-' ||
      c == ' ' || c == '|' || c == '*' || c == '(')
    // strip a leading codegen id like `3) ` left by `*(3) `
    val t = if (s.takeWhile(_.isDigit).nonEmpty &&
      s.dropWhile(_.isDigit).startsWith(") "))
      s.dropWhile(_.isDigit).drop(2)
    else s
    t.takeWhile(c => c.isLetter || c == ' ').trim
  }

  private[tools] def census(plan: String): Map[String, Int] = {
    val heads = plan.linesIterator.map(nodeHead).toSeq
    Heavy.map { h =>
      h -> heads.count(head => head == h || head.startsWith(h + " ") ||
        // simple-format scans print as `FileScan parquet ...`
        (h == "Scan parquet" && head.contains("Scan parquet")))
    }.toMap
  }

  /** Top-level element count of a bracketed list, nesting-aware. */
  private[tools] def listLen(s: String): Int = {
    if (s.trim.isEmpty) 0
    else {
      var depth = 0; var n = 1
      s.foreach {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 => n += 1
        case _ => ()
      }
      n
    }
  }

  private def bracketList(line: String, marker: String): Option[String] = {
    val i = line.indexOf(marker)
    if (i < 0) None
    else {
      val start = i + marker.length
      var depth = 1; var j = start
      while (j < line.length && depth > 0) {
        line(j) match {
          case '[' => depth += 1
          case ']' => depth -= 1
          case _ => ()
        }
        j += 1
      }
      Some(line.substring(start, j - 1))
    }
  }

  /** (aggregate-function total, project-column total) over the plan —
    * the expression-level census node counts cannot see.
    */
  private[tools] def exprTotals(plan: String): (Int, Int) = {
    var agg = 0; var proj = 0
    plan.linesIterator.foreach { line =>
      val head = nodeHead(line)
      if (head.endsWith("Aggregate"))
        bracketList(line, "functions=[").foreach(agg += listLen(_))
      if (head == "Project")
        bracketList(line, "Project [").foreach(proj += listLen(_))
    }
    (agg, proj)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.core.GraftSession.local(appName = "count-prune-audit")
    var flagged = 0
    Registry.headline.foreach { q =>
      val df = q.run(spark, sfDir)
      val fullPlan = df.queryExecution.executedPlan.toString
      val cntPlan = df.groupBy().count().queryExecution.executedPlan.toString
      val full = census(fullPlan)
      val cnt = census(cntPlan)
      val lostNodes = Heavy.filter(h => cnt(h) < full(h))
        .map(h => s"$h ${full(h)}->${cnt(h)}")
      val (fAgg, fProj) = exprTotals(fullPlan)
      val (cAgg, cProj) = exprTotals(cntPlan)
      val lostExprs =
        (if (cAgg < fAgg) Seq(s"aggExprs $fAgg->$cAgg") else Nil) ++
          (if (cProj < fProj) Seq(s"projCols $fProj->$cProj") else Nil)
      val lost = lostNodes ++ lostExprs
      if (lost.nonEmpty) {
        flagged += 1
        println(s"[count-prune] ${q.name}: ${lost.mkString(", ")}")
      }
    }
    println(s"[count-prune] flagged $flagged of ${Registry.headline.size} headliners")
    spark.stop()
  }
}
