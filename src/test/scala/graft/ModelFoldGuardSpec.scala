package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.mainCodeLines

/** One code path for driver-merged folds: `graft.operators.ModelFold`.
  * A second hand-rolled `toRdd`/`treeReduce`/`runJob` fold could drop its
  * one-job shape or its `Math.addExact` overflow check in one place
  * only.
  */
class ModelFoldGuardSpec extends AnyFunSuite {

  test("no RDD fold in src/main outside ModelFold") {
    val patterns =
      Seq("queryExecution.toRdd", ".rdd.reduce", "treeReduce", "treeAggregate", "runJob")
    val offenders = mainCodeLines().collect {
      case (file, line) if file != "graft/operators/ModelFold.scala" &&
        patterns.exists(line.contains) =>
        s"$file: ${line.trim}"
    }
    if (offenders.nonEmpty)
      fail("fold through graft.operators.ModelFold:\n" + offenders.mkString("\n"))
  }
}
