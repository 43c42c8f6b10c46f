package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-side seed collection for the ANN family's fitted models —
  * coarse-quantizer centroids and PQ codebook seeds are both "the
  * first n vectors by id". Nothing is memoized: a query that needs
  * both models collects the larger prefix once and slices it, then
  * passes the arrays down (the s10/s18 shape).
  */
object AnnIndex {

  /** The `n` lowest-id vectors of `df` as (id, vector) pairs — one
    * driver round-trip.
    */
  def firstVectors(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      n: Int): Array[(Long, Array[Float])] =
    df.orderBy(col(idCol).asc).limit(n)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  /** No-op: fitted models are no longer memoized, so there is nothing
    * to drop. Kept only because
    * `perfbench/src/main/scala/perfbench/Harness.scala:91-92` calls it
    * before every query, and nothing under `perfbench/` may change.
    */
  def clear(spark: SparkSession): Unit = ()
}
