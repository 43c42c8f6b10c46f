package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.SparkSpec

/** [[ModelFold]]: the fold equals the distributed aggregate it
  * replaces, runs as one job, fails on long overflow the way ANSI
  * `sum` does, and folds an empty input to the zero.
  */
class ModelFoldSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = true),
    StructField("v", LongType, nullable = false)))

  /** (k, v) rows spread over `slices` partitions with no exchange in
    * the plan; fewer rows than slices leaves some partitions empty.
    */
  private def frame(rows: Seq[Row], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  /** sum(v) by k over (k int, v bigint) rows. */
  private def sumByKey(df: DataFrame): mutable.HashMap[Integer, Long] =
    ModelFold.sumByKey(df)(
      row => if (row.isNullAt(0)) null else Integer.valueOf(row.getInt(0)), _.getLong(1))

  test("sum by key == groupBy(k).agg(sum(v)) on seeded frames with null keys") {
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(rnd.nextInt(40)) {
        Row(if (rnd.nextInt(5) == 0) null else Integer.valueOf(rnd.nextInt(6)),
          rnd.nextLong() >> 8)
      }
      val df = frame(rows, 4 + rnd.nextInt(5))
      val expected = df.groupBy(col("k")).agg(sum(col("v"))).collect()
        .map(r => (if (r.isNullAt(0)) null else Integer.valueOf(r.getInt(0))) -> r.getLong(1))
        .toMap
      var got: mutable.HashMap[Integer, Long] = null
      val jobs = jobsDuring { got = sumByKey(df) }
      assert(got.toMap == expected, s"seed $seed")
      assert(jobs == 1, s"seed $seed: the fold ran $jobs jobs")
    }
  }

  test("a long sum past Long.MaxValue throws ArithmeticException") {
    def overflows(body: => Any): Boolean = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }
    val big = Seq(Row(Integer.valueOf(1), Long.MaxValue), Row(Integer.valueOf(1), 1L))
    // inside one partition: the task's add overflows
    assert(overflows(sumByKey(frame(big, 1))))
    // across partitions: the driver's merge overflows
    assert(overflows(sumByKey(frame(big, 2))))
    assert(overflows(ModelFold(frame(big, 2))(() => new Array[Long](1))(
      (acc, row) => { acc(0) = Math.addExact(acc(0), row.getLong(1)); acc },
      ModelFold.addExact)))
  }

  test("an empty input returns the zero") {
    // no partitions at all (an empty local relation) and empty partitions
    val noParts = frame(Seq(Row(Integer.valueOf(1), 1L)), 2).filter(lit(false))
    assert(noParts.queryExecution.toRdd.getNumPartitions == 0)
    assert(sumByKey(noParts).isEmpty)
    assert(sumByKey(frame(Seq.empty, 4)).isEmpty)
  }
}

