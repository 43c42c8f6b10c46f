package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bottom-k-by-hash sample quantiles: determinism, the KMV-style merge
  * algebra, the exact-interpolation contract, and the accuracy the
  * uniform sample promises.
  */
class SampleQuantilesSpec extends SparkSpec {
  import spark.implicits._

  private def df(n: Int) =
    (1 to n).map(i => ("g", i.toDouble, s"k$i")).toDF("grp", "value", "key")

  test("interpolated == the quantile_cont definition on a known frame") {
    // values 1..5: p=0.5 -> 3.0 exactly; p=0.25 -> pos 1.0 -> 2.0;
    // p=0.9 -> pos 3.6 -> 4 + 0.6*(5-4) = 4.6
    val frame = (1 to 5).map(i => ("g", i.toDouble)).toDF("g", "v")
    val out = SampleQuantiles.interpolated(frame, Seq(0.25, 0.5, 0.9), "q")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(out == Map(0.25 -> 2.0, 0.5 -> 3.0, 0.9 -> 4.6), s"got $out")
  }

  test("sample is deterministic and merges by union + re-bottom-k") {
    val whole = df(2000)
    val k = 64
    def samp(d: org.apache.spark.sql.DataFrame) = SampleQuantiles
      .bottomKSample(d, col("grp"), col("value"), col("key"), k)
      .collect().map(r => (r.getLong(2), r.getDouble(1))).sorted.toSeq
    val once = samp(whole)
    assert(samp(whole) == once,
      "re-running the sample must select identical rows")
    // shard, sample each shard, union, re-take bottom-k: same sample
    val a = samp(whole.filter($"value" <= 1000))
    val b = samp(whole.filter($"value" > 1000))
    val merged = (a ++ b).sorted.take(k)
    assert(merged == once, "shard-sample-merge must equal the one-shot sample")
  }

  test("estimates track exact quantiles within the sample error band") {
    val out = SampleQuantiles.withExactAudit(
        df(10000), col("grp"), col("value"), col("key"),
        Seq(0.25, 0.5, 0.75), k = 256)
      .collect()
    assert(out.length == 3)
    out.foreach { r =>
      val (p, est, exact) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      // DKW-style bound: quantile rank error ~ 1.36/sqrt(k) at 95%;
      // allow 3x on a value range of 10000 (values are uniform ranks)
      val tol = 3 * 1.36 / math.sqrt(256) * 10000
      assert(math.abs(est - exact) <= tol,
        s"p=$p est=$est exact=$exact off by ${math.abs(est - exact)} > $tol")
    }
  }

  test("property: BottomKHeap == sort-take-k on arbitrary (h, v) multisets") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val pairGen = for {
      h <- Gen.choose(0L, 40L) // tight range -> frequent ties AND duplicates
      v <- Gen.choose(0, 10).map(_.toDouble)
    } yield (h, v)
    val prop = Prop.forAll(
      Gen.choose(1, 12), Gen.listOf(pairGen)) { (k, pairs) =>
      val heap = new graft.functions.BottomKHeap(k)
      pairs.foreach { case (h, v) => heap.insert(h, v) }
      val got = (0 until heap.size).map(i => (heap.hs(i), heap.vs(i))).sorted
      got == pairs.sorted.take(k)
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: heap merge == bottom-k of the concatenation") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val pairGen = Gen.zip(Gen.choose(0L, 30L), Gen.choose(0, 5).map(_.toDouble))
    val prop = Prop.forAll(
      Gen.choose(1, 8), Gen.listOf(pairGen), Gen.listOf(pairGen)) { (k, a, b) =>
      val ha = new graft.functions.BottomKHeap(k)
      a.foreach { case (h, v) => ha.insert(h, v) }
      val hb = new graft.functions.BottomKHeap(k)
      b.foreach { case (h, v) => hb.insert(h, v) }
      ha.mergeFrom(hb)
      val got = (0 until ha.size).map(i => (ha.hs(i), ha.vs(i))).sorted
      got == (a ++ b).sorted.take(k)
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("driver-side estimateFromSample == the declarative interpolated form") {
    val samp = SampleQuantiles.bottomKSample(
      df(3000), col("grp"), col("value"), col("key"), 128)
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val drv = SampleQuantiles.estimateFromSample(samp, ps, "q")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val dec = SampleQuantiles.interpolated(samp, ps, "q")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(drv == dec, s"driver $drv vs declarative $dec")
  }

  test("q54's sample estimates track the exact audit on the real table") {
    // the expensive full-sort audit lives HERE, not in the headline
    // query (its per-group global sort runs one task per group — the
    // anti-scale shape the sample path exists to avoid)
    val li = graft.core.Tables.lineitem(spark, sfDir)
    val out = SampleQuantiles.withExactAudit(
        li, col("l_returnflag"), col("l_extendedprice"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")),
        Seq(0.25, 0.5, 0.75, 0.9))
      .collect()
    assert(out.length == 12, s"3 groups x 4 ps expected, got ${out.length}")
    out.foreach { r =>
      val (g, p, est, exact, err) = (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(err == java.math.BigDecimal.valueOf(math.abs(est - exact))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
      // rank-error band: 3 * 1.36/sqrt(k) quantile mass, converted via
      // the value range (prices are ~uniform on their range)
      val range = 110000.0
      assert(math.abs(est - exact) <= 3 * 1.36 / math.sqrt(256) * range,
        s"$g p=$p est=$est exact=$exact")
    }
  }

  test("the sample is one job and no Exchange in its plan") {
    // on the REAL parquet table (a LocalTableScan toy plan can differ):
    // per-partition heaps merged on the driver, so the only job is the
    // scan (under AQE an exchange would be a job of its own) and the
    // corpus never exchanges
    val li = graft.core.Tables.lineitem(spark, sfDir)
    var samp: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      samp = SampleQuantiles.bottomKSample(li, col("l_returnflag"), col("l_extendedprice"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")), 64)
    }
    assert(jobs == 1, s"bottomKSample ran $jobs jobs")
    val plan = samp.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("Exchange"),
      s"the sample must come back as a driver-side frame:\n$plan")
    // and the estimate over it runs no further job
    assert(jobsDuring {
      SampleQuantiles.estimateFromSample(samp, Seq(0.5), "q").collect()
    } == 0)
  }
}
