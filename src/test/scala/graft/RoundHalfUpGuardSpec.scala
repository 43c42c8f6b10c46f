package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.mainCodeLines

/** One replica of Spark's `round` outside Spark:
  * `VectorFunctions.roundHalfUp`. A second inline `BigDecimal` HALF_UP
  * copy could drift from it (scale, NaN handling) and break an oracle
  * pairing in one place only.
  */
class RoundHalfUpGuardSpec extends AnyFunSuite {

  test("no RoundingMode.HALF_UP in src/main outside VectorFunctions.roundHalfUp") {
    val offenders = mainCodeLines().collect {
      case (file, line) if file != "graft/functions/VectorFunctions.scala" &&
        line.contains("RoundingMode.HALF_UP") =>
        s"$file: ${line.trim}"
    }
    if (offenders.nonEmpty)
      fail("round through graft.functions.VectorFunctions.roundHalfUp:\n" +
        offenders.mkString("\n"))
  }
}
