package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** One synchronous round for a MODEL-sized reduction: fold each
  * partition of `df` into an accumulator whose size is bounded by the
  * model (piece counts, a |types|² census, per-group bottom-k heaps),
  * then merge the partials on the driver — ONE Spark job over `df`'s
  * own plan (whose exchanges, if any, still run their map stages
  * first), where a `groupBy → agg → collect` of the same state adds
  * two under AQE (the exchange's map stage, then the collect) plus
  * the driver gap between them. Only for state that does not grow
  * with the input: corpus-sized aggregates stay distributed.
  *
  * `add` sees Catalyst's reused `InternalRow`s, so it must copy what
  * it keeps. The accumulator must be serializable. Long sums use
  * `Math.addExact` (as [[sumByKey]] and [[addExact]] do), so an
  * overflow fails the way ANSI `sum` does instead of wrapping. An
  * empty input (even one with no partitions) yields `zero()`.
  */
object ModelFold {

  def apply[A: ClassTag](df: DataFrame)(zero: () => A)(
      add: (A, InternalRow) => A, merge: (A, A) => A): A = {
    val partials = df.queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.foldLeft(zero())(add)))
    if (partials.getNumPartitions == 0) zero() else partials.treeReduce(merge)
  }

  /** Σ `n(row)` per `key(row)` over a key space bounded by the model;
    * a NULL key is a key of its own, as in `groupBy`.
    */
  def sumByKey[K](df: DataFrame)(
      key: InternalRow => K, n: InternalRow => Long): mutable.HashMap[K, Long] = {
    def bump(acc: mutable.HashMap[K, Long], k: K, v: Long) = {
      acc(k) = Math.addExact(acc.getOrElse(k, 0L), v); acc
    }
    apply(df)(() => mutable.HashMap.empty[K, Long])(
      (acc, row) => bump(acc, key(row), n(row)),
      (a, b) => b.foldLeft(a) { case (acc, (k, v)) => bump(acc, k, v) })
  }

  /** Element-wise `Math.addExact` of `b` into `a`; returns `a`. */
  def addExact(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }
}
