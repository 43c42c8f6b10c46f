package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Incremental quantile maintenance — the streaming face of
  * [[SampleQuantiles]] (q54). A production pipeline tracks "p50/p90 so
  * far" continuously; re-sorting an ever-growing corpus per refresh is
  * O(history log history). The bottom-k-by-hash sample is the
  * mergeable answer: each arriving batch contributes its own bottom-k
  * sample segment (≤ groups × k rows regardless of batch size),
  * segments merge by UNION + re-bottom-k (the KMV union algebra
  * SampleQuantilesSpec pins), and the running estimate interpolates
  * over merged sample state only — never the raw history.
  *
  * State layout and delivery semantics (the [[IncrementalHll]]
  * contract): per-batch sample segments under `stateDir/batch=<id>/`
  * — immutable, committed iff Spark's `_SUCCESS` marker exists.
  * foreachBatch is AT-LEAST-ONCE: a retried batch id either
  * overwrites a partial segment with identical deterministic contents
  * (the sample is a pure function of the batch rows) or no-ops when
  * already committed. The merge DEDUPLICATES (g, h, v) before
  * re-bottom-k — the KMV view of the state as a SET of (hash, value)
  * pairs — so even a batch re-delivered under a FRESH id cannot move
  * the estimate: idempotence holds value-wise, not just write-wise.
  * (The sampling unit is the KEY, as in the one-shot operator: rows
  * are identified by their hash, so at-least-once duplicates collapse
  * exactly like same-key rows do. One-shot equivalence therefore
  * assumes per-(key, value) multiplicity 1 per group — q54's
  * unique-key contract; a 2^-60 cross-key hash+value collision is the
  * engine's accepted collision regime.)
  *
  * Single-writer assumption: committed-check + overwrite is not
  * atomic; exactly one appending driver owns the state directory (the
  * Structured Streaming model).
  *
  * Scale shape: a segment is ≤ groups × k rows of (g, v, h), sampled
  * by [[SampleQuantiles.bottomKSample]]'s one-job fold (the batch
  * never exchanges) and written from the driver; the merge is one
  * distinct over segment-count × that, folded through the same
  * per-group heap in one job — compact with
  * [[SegmentCompaction.compactedCopy]] when segment count grows.
  * Estimation runs driver-side on the groups × k merged sample
  * ([[SampleQuantiles.estimateFromSample]], the q13 pattern).
  */
object IncrementalQuantiles {

  /** Append one batch's bottom-k sample as an immutable segment.
    * Idempotent per `batchId` (see class doc). Columns are normalized
    * to (g, v, h) in state so readers need no schema knowledge of the
    * source frame.
    */
  def appendBatch(
      batch: DataFrame,
      gCol: Column,
      vCol: Column,
      keyCol: Column,
      stateDir: String,
      batchId: Long,
      k: Int = SampleQuantiles.DefaultK): Unit = {
    val spark = batch.sparkSession
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .exists(_._1 == batchId)) return
    SampleQuantiles.bottomKSample(batch, gCol, vCol, keyCol, k)
      .write.mode("overwrite")
      .parquet(new Path(statePath, s"batch=$batchId").toString)
  }

  /** The merged sample state: distinct (g, h, v) across every
    * committed segment, re-bottom-k'd per group — the union sketch of
    * everything appended, identical to the one-shot sample of the
    * concatenated batches (SampleQuantilesSpec's merge algebra).
    */
  def mergedSample(
      spark: SparkSession,
      stateDir: String,
      k: Int = SampleQuantiles.DefaultK): DataFrame = {
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .map(_._2.toString)
    require(dirs.nonEmpty, s"no committed batches under $stateDir")
    SampleQuantiles.bottomKByGroup(
      spark.read.parquet(dirs: _*)
        // KMV set semantics: a re-delivered pair is THE SAME pair (and a
        // heap fed duplicates would evict distinct pairs)
        .dropDuplicates("g", "h", "v"),
      k)
  }

  /** Quantiles-so-far from state alone: (g, p, <outCol>). Equals the
    * one-shot [[SampleQuantiles]] estimate over the concatenated
    * batches — bit-for-bit, any batch split, any re-delivery
    * (IncrementalQuantilesSpec).
    */
  def estimate(
      spark: SparkSession,
      stateDir: String,
      ps: Seq[Double],
      outCol: String = "est_q",
      k: Int = SampleQuantiles.DefaultK): DataFrame =
    SampleQuantiles.estimateFromSample(mergedSample(spark, stateDir, k), ps, outCol)

  /** Flat segment store, Spark's own segment marker — [[StorePolicy]]'s
    * default layout (no tombstones, so vacuum never fires).
    */
  val layout: StorePolicy.Layout = StorePolicy.Layout()

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop (the
    * [[IncrementalGraphAnn.appendAndMaintain]] precedent). Maintenance
    * renumbers history to batch=0; callers should hand out fresh ids
    * after a non-NoOp return, though for THIS face even a re-delivered
    * pre-swap id is absorbed by the KMV set-dedup + re-bottom-k merge.
    */
  def appendAndMaintain(
      batch: DataFrame,
      gCol: Column,
      vCol: Column,
      keyCol: Column,
      stateDir: String,
      batchId: Long,
      k: Int = SampleQuantiles.DefaultK,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(batch, gCol, vCol, keyCol, stateDir, batchId, k)
    StorePolicy.maintain(batch.sparkSession, stateDir, layout, cfg)
  }
}
