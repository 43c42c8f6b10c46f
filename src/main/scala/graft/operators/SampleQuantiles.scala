package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.BottomKHeap
import graft.functions.VectorFunctions.roundHalfUp

/** Mergeable per-group quantile estimation from a DETERMINISTIC
  * bottom-k-by-hash sample — the quantile member of the portable
  * sketch family (CMS q41, KMV q42/q43, HLL q53). Production quantile
  * sketches (GK, KLL, t-digest) have engine-specific internals that
  * an external oracle cannot replay (the q13 Scaladoc's point about
  * approxQuantile); hashing row keys through the engine-portable
  * md5-prefix and keeping the k SMALLEST hashes instead gives a
  * uniform fixed-size sample that any engine reproduces bit-for-bit,
  * and order statistics of a uniform sample are the textbook quantile
  * estimator (±O(1/√k)).
  *
  * Two sketch properties carry over from KMV (same hash, same
  * bottom-k state): the sample MERGES by union + re-bottom-k
  * (SampleQuantilesSpec pins the algebra), and sampling is CONSISTENT
  * at the KEY level — rows sharing a key value hash together, so the
  * key (not the row) is the sampling unit. Note coordination ACROSS
  * tables is threshold-based, not automatic: two tables' bottom-k
  * samples have different k-th-min hashes, so a join-preserving
  * coordinated sample probes both tables with the SMALLER of the two
  * thresholds (the KMV union-sketch argument), rather than joining
  * the two bottom-k sets directly.
  *
  * Scale shape: the sample is a FOLD, not a window — each scan task
  * keeps an O(k) [[graft.functions.BottomKHeap]] per group (one linear
  * O(n log k) pass, no sort) and the driver merges the O(scan
  * partitions × groups × k) partial heaps: ONE [[ModelFold]] job, no
  * exchange, and the corpus never moves. (The same heap as a partial
  * + final aggregate spent a second job on its one exchange of
  * states; a `row_number ≤ k` window was measured 8× slower at sf1:
  * even with the partial WindowGroupLimit it must first ROUND-ROBIN
  * the whole column through an exchange to parallelize the
  * per-partition sorts — the q42 distinct+window lesson, re-learned.)
  * [[estimateFromSample]] then interpolates on the driver over
  * groups × k rows. The exact audit in [[withExactAudit]] is the
  * expensive full-sort baseline (the d07/s09 audit pattern) — the
  * sample path is the product.
  */
object SampleQuantiles {

  val DefaultK = 256

  /** The k rows with smallest (hash(key), value) per group:
    * (g, v, h). The v tie-break makes the selected VALUE multiset
    * deterministic even when distinct rows share a key (they then
    * share h; hash collisions across keys are 2^-60), and the bottom-k
    * MULTISET of a multiset is order-independent, so folding across
    * arbitrary partitionings is deterministic.
    * NULL keys are excluded (their hash is NULL; engines disagree on
    * NULL sort position, so they cannot participate portably). The
    * result is a driver-side (local) frame of ≤ groups × k rows,
    * each group's pairs in (h, v) order.
    */
  def bottomKSample(
      df: DataFrame, gCol: Column, vCol: Column, keyCol: Column,
      k: Int = DefaultK): DataFrame =
    bottomKByGroup(df.select(gCol.as("g"), vCol.cast("double").as("v"),
      graft.functions.exprs.token_hash60(keyCol).as("h")), k)

  /** The k (g, v, h) rows with smallest (h, v) per group of `frame`,
    * NULL v or h skipped: one [[graft.functions.BottomKHeap]] per group
    * per scan task, merged on the driver in ONE [[ModelFold]] job. The
    * heap keeps a MULTISET, so a caller that wants set semantics
    * deduplicates first. Returns a local frame, each group's pairs in
    * (h, v) order.
    */
  private[operators] def bottomKByGroup(frame: DataFrame, k: Int): DataFrame = {
    val pairs = frame.select(col("g"), col("v"), col("h"))
      .filter(col("v").isNotNull && col("h").isNotNull)
    val gField = pairs.schema("g")
    val gType = gField.dataType
    type Heaps = mutable.HashMap[Any, BottomKHeap]
    def heapOf(acc: Heaps, g: Any) = acc.getOrElseUpdate(g, new BottomKHeap(k))
    val heaps = ModelFold(pairs)(() => new Heaps)(
      (acc, row) => {
        heapOf(acc, CatalystTypeConverters.convertToScala(row.get(0, gType), gType))
          .insert(row.getLong(2), row.getDouble(1))
        acc
      },
      (a, b) => { b.foreach { case (g, heap) => heapOf(a, g).mergeFrom(heap) }; a })
    val rows = heaps.toSeq.flatMap { case (g, heap) =>
      heap.sortedSlots.map(i => Row(g, heap.vs(i), heap.hs(i)))
    }
    frame.sparkSession.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(gField,
        StructField("v", DoubleType, nullable = false),
        StructField("h", LongType, nullable = false))))
  }

  /** Exact linear-interpolation quantiles of `frame`'s (g, v) rows at
    * each p in `ps` — the quantile_cont definition, spelled out as
    * explicit rank joins so BOTH engines execute the identical
    * arithmetic (pos = p·(n−1); v_lo + (v_hi − v_lo)·frac, rounded
    * 4 dp) instead of trusting engine-internal percentile kernels.
    * Output: (g, p, <outCol>).
    */
  def interpolated(frame: DataFrame, ps: Seq[Double], outCol: String): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val byVal = frame.select(col("g"), col("v"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v"))))
    val sizes = frame.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val grid = sizes.crossJoin(broadcast(ps.toDF("p")))
      .select(col("g"), col("p"),
        floor(col("p") * (col("n") - 1).cast("double")).cast("long").as("klo"),
        (col("p") * (col("n") - 1).cast("double") -
          floor(col("p") * (col("n") - 1).cast("double"))).as("frac"),
        least(
          floor(col("p") * (col("n") - 1).cast("double")).cast("long") + 1,
          col("n") - 1).as("khi"))
    grid
      .join(byVal.select(col("g"), col("v").as("vlo"),
        (col("vr") - 1).cast("long").as("klo")), Seq("g", "klo"))
      .join(byVal.select(col("g"), col("v").as("vhi"),
        (col("vr") - 1).cast("long").as("khi")), Seq("g", "khi"))
      .select(col("g"), col("p"),
        round(col("vlo") + (col("vhi") - col("vlo")) * col("frac"), 4)
          .as(outCol))
  }

  /** [[interpolated]] evaluated DRIVER-side over a MODEL-sized sample
    * frame — the q13 pattern (quantile state is sketch-sized, so the
    * interpolation runs as plain arithmetic instead of three rank-join
    * jobs over a groups × k frame; measured ~0.25 s of pure job
    * barriers at sf0.1). Bit-identical to the declarative form: same
    * sort, same pos/frac ops in the same order, and Spark `round`'s
    * HALF_UP BigDecimal replicated exactly (the roundedCosine
    * pattern). Only for sample-sized frames — the full-data audit path
    * keeps the distributed [[interpolated]].
    */
  def estimateFromSample(
      samp: DataFrame, ps: Seq[Double], outCol: String): DataFrame = {
    val spark = samp.sparkSession
    val gType = samp.schema("g").dataType
    val rows = samp.select(col("g"), col("v")).collect()
    val out = rows.groupBy(_.get(0)).toSeq.flatMap { case (g, rs) =>
      val vs = rs.map(_.getDouble(1)).sorted
      val n = vs.length
      ps.map { p =>
        val pos = p * (n - 1).toDouble
        val klo = math.floor(pos).toInt
        val frac = pos - math.floor(pos)
        val khi = math.min(klo + 1, n - 1)
        val q = roundHalfUp(vs(klo) + (vs(khi) - vs(klo)) * frac, 4)
        org.apache.spark.sql.Row(g, p, q)
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(out).asJava),
      StructType(Seq(
        StructField("g", gType),
        StructField("p", DoubleType),
        StructField(outCol, DoubleType))))
  }

  /** Sample-estimated quantiles with the exact full-data audit riding
    * along: (g, p, est_q, exact_q, abs_err).
    */
  def withExactAudit(
      df: DataFrame, gCol: Column, vCol: Column, keyCol: Column,
      ps: Seq[Double], k: Int = DefaultK): DataFrame = {
    val samp = bottomKSample(df, gCol, vCol, keyCol, k)
    val full = df
      .select(gCol.as("g"), vCol.cast("double").as("v"))
      .filter(col("v").isNotNull)
    interpolated(samp, ps, "est_q")
      .join(interpolated(full, ps, "exact_q"), Seq("g", "p"))
      .select(col("g"), col("p"), col("est_q"), col("exact_q"),
        round(abs(col("est_q") - col("exact_q")), 4).as("abs_err"))
  }
}
