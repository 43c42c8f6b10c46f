package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.mainCodeLines

/** One commit rule for segment stores: `StorePolicy.committed`. A face
  * that lists its own `batch=<id>` or `delete=<id>` directories can
  * judge a segment committed by a marker its layout does not name, so
  * its readers and maintenance would disagree on what the store holds.
  */
class SegmentScanGuardSpec extends AnyFunSuite {

  test("no segment listing in src/main outside StorePolicy") {
    val patterns = Seq("startsWith(\"batch=\")", "startsWith(\"delete=\")")
    val offenders = mainCodeLines().collect {
      case (file, line) if file != "graft/operators/StorePolicy.scala" &&
        patterns.exists(line.contains) =>
        s"$file: ${line.trim}"
    }
    if (offenders.nonEmpty)
      fail("list segments through StorePolicy.committed:\n" + offenders.mkString("\n"))
  }
}
