package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.mainCodeLines

/** No process-global memo keyed by plan identity: work shared inside a
  * query is a value the query passes down. The only sanctioned
  * process-wide maps are the two tag-keyed serve-side memos
  * (`Bm25.sharedRanked`, `NnDescent.sharedGraph`) and the table
  * schema cache.
  */
class MemoGuardSpec extends AnyFunSuite {

  test("no ConcurrentHashMap or TrieMap in src/main outside the sanctioned memos") {
    val sanctioned = Set(
      "graft/operators/Bm25.scala", "graft/operators/NnDescent.scala", "graft/core/Tables.scala")
    val offenders = mainCodeLines().collect {
      case (file, line) if !sanctioned(file) &&
        (line.contains("ConcurrentHashMap") || line.contains("TrieMap")) =>
        s"$file: ${line.trim}"
    }
    if (offenders.nonEmpty)
      fail("pass shared work down as a value instead of memoizing it process-wide:\n" +
        offenders.mkString("\n"))
  }
}
