package graft.core

import graft.SourceScan.mainCodeLines
import graft.SparkSpec
import graft.plans.{GraftExtensions, NativeKernelRule, RankLimitRule, TopKStrategy}

/** `GraftSession.local` is the engine's one session factory. These
  * checks keep it that way without building a session through it
  * (getOrCreate would hand back the shared test session and
  * reconfigure it).
  */
class GraftSessionSpec extends SparkSpec {

  test("only the factory builds a session or installs the extensions in src/main") {
    val factory = "graft/core/GraftSession.scala"
    val offenders = mainCodeLines().collect {
      case (file, line) if file != factory &&
        (line.contains(".builder()") || line.contains("GraftExtensions.install(")) =>
        s"$file: ${line.trim}"
    }
    if (offenders.nonEmpty)
      fail("build sessions through graft.core.GraftSession.local instead:\n" +
        offenders.mkString("\n"))
  }

  test("no session in src/main enables Hive: the catalog is the in-memory one") {
    val offenders = mainCodeLines().collect {
      case (file, line) if line.contains("enableHiveSupport") => s"$file: ${line.trim}"
    }
    if (offenders.nonEmpty)
      fail("sessions use the in-memory catalog; TableSink keeps tables across JVMs:\n" +
        offenders.mkString("\n"))
  }

  test("GraftExtensions.install is idempotent: a second install adds nothing") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    val rules = spark.experimental.extraOptimizations
    assert(rules.count(_ == NativeKernelRule) == 1, rules)
    assert(rules.count(_ == RankLimitRule) == 1, rules)
    assert(spark.experimental.extraStrategies.count(_ == TopKStrategy) == 1,
      spark.experimental.extraStrategies)
  }
}
