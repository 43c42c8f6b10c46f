package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns. The hot
  * path (`dot`, `cosineSimilarity`) runs on the native codegen'd
  * `DotProductF` kernel — Spark's higher-order array functions
  * (zip_with/aggregate) evaluate interpreted per element, which
  * dominates O(pairs) similarity joins. Both forms accumulate in
  * double, left-to-right, so they are bit-identical to each other and
  * to the DuckDB oracle's `list_dot_product` on DOUBLE[].
  */
object VectorFunctions {

  /** Dot product (native codegen'd kernel). */
  def dot(a: Column, b: Column): Column = exprs.dot_f(a, b)

  /** Euclidean norm. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity in double precision. try_divide: a zero-norm
    * vector yields NULL (matching the oracle engine's x/0) rather than
    * an IEEE NaN.
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    try_divide(dot(a, b), l2Norm(a) * l2Norm(b))

  /** `round(cosineSimilarity(a, b), 6)` replicated DRIVER-side with
    * bit-identical arithmetic (the ProductQuantizer.roundedSubDist
    * pattern): the kernel's sequential float→double dot accumulation,
    * the same `‖a‖ * ‖b‖` denominator order, try_divide's NULL on zero
    * norm (None here), and Spark round's HALF_UP BigDecimal rounding.
    * The ONE copy shared by the s02/s10 coarse-probe planners and
    * incremental ANN maintenance — their search ≡ one-shot contracts
    * rest on both sides ranking with identical math (r9 ADVICE).
    */
  def roundedCosine(a: Array[Float], b: Array[Float]): Option[Double] = {
    val den = math.sqrt(dotF(a, a)) * math.sqrt(dotF(b, b))
    if (den == 0.0) None
    else Some(roundHalfUp(dotF(a, b) / den, 6))
  }

  /** The codegen kernel's dot (`VectorExprImpl.dotF`) over driver
    * arrays: the same sequential float→double accumulation.
    */
  def dotF(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  /** Spark `round(x, scale)` on a double, replicated outside Spark:
    * the double's decimal string rounded HALF_UP, as `RoundBase` does.
    * Unlike Spark's `round`, NaN and ±Inf throw instead of passing
    * through. The one copy every driver or kernel replica uses.
    */
  def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Probe-ranking order over (cellId, roundedCosine) candidates:
    * similarity DESC, NULLS (zero-norm) LAST, cell id ASC on ties —
    * the driver-side replica of `p_sim DESC NULLS LAST, c_id ASC`.
    */
  def probeBefore(x: (Long, Option[Double]), y: (Long, Option[Double])): Boolean =
    (x._2, y._2) match {
      case (Some(a), Some(b)) => if (a != b) a > b else x._1 < y._1
      case (Some(_), None) => true
      case (None, Some(_)) => false
      case (None, None) => x._1 < y._1
    }

  /** Reference implementation via built-in higher-order functions —
    * kept for cross-checking the native kernel in tests.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(
        transform(a, x => x.cast("double")),
        transform(b, x => x.cast("double")),
        (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)
}
