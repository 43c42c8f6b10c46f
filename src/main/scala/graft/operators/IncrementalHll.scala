package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental distinct-count maintenance — the streaming face of
  * [[HllSketch]] (q53). A production pipeline tracks "distinct users /
  * urls / tokens seen so far" continuously; recomputing countDistinct
  * over an ever-growing corpus is O(history) per refresh. HLL register
  * state is the textbook answer: each arriving batch contributes a
  * register frame, frames MERGE BY MAX (the union algebra
  * HllSketchSpec pins), and the running estimate reads register-sized
  * state only — never the raw history.
  *
  * State layout and delivery semantics (the [[IncrementalSpanCensus]]
  * contract): per-batch register segments under
  * `stateDir/batch=<id>/` — immutable, committed iff Spark's
  * `_SUCCESS` marker exists. foreachBatch is AT-LEAST-ONCE: a retried
  * batch id either overwrites a partial segment with identical
  * deterministic contents (registers are a pure function of the batch
  * rows) or no-ops when already committed. Registers are max-merged,
  * so even a DOUBLE-counted batch cannot change the merged state —
  * idempotence holds value-wise, not just write-wise.
  *
  * Single-writer assumption: the committed-check followed by the
  * overwrite-write is not atomic, so the state directory must have
  * exactly one appending driver at a time (the Structured Streaming
  * model — one query owns the sink).
  *
  * Scale shape: a batch segment is ≤ groups × 256 rows of three longs
  * regardless of batch size; the merge is one groups×256-keyed max
  * aggregate over segment-count × that — compact with
  * [[SegmentCompaction.compactedCopy]] when segment count grows. The raw values
  * never persist, which is the sketch's point: distinct-so-far over an
  * unbounded stream in O(groups × 256) state.
  */
object IncrementalHll {

  /** Append one batch's register frame as an immutable segment.
    * Idempotent per `batchId` (see class doc). Columns are normalized
    * to (g, j, m) in state so readers need no schema knowledge of the
    * source frame.
    */
  def appendBatch(
      batch: DataFrame,
      groupCol: String,
      valueCol: String,
      stateDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .exists(_._1 == batchId)) return
    HllSketch.registers(batch, groupCol, valueCol)
      .withColumnRenamed(groupCol, "g")
      .write.mode("overwrite")
      .parquet(new Path(statePath, s"batch=$batchId").toString)
  }

  /** The merged register state: (g, j, m) max-merged across every
    * committed segment — the union sketch of everything appended.
    */
  def mergedRegisters(spark: SparkSession, stateDir: String): DataFrame = {
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = StorePolicy.committed(fs, statePath, marker = layout.commitMarker).map(_._2.toString)
    require(dirs.nonEmpty, s"no committed batches under $stateDir")
    spark.read.parquet(dirs: _*)
      .groupBy(col("g"), col("j"))
      .agg(max(col("m")).as("m"))
  }

  /** Distinct-so-far estimate per group from state alone:
    * (g, n_empty, est_raw, est_distinct). Equals
    * [[HllSketch.estimateFromRegisters]] over the one-shot registers
    * of the concatenated batches — bit-for-bit, any batch split, any
    * re-delivery (IncrementalHllSpec).
    */
  def estimate(spark: SparkSession, stateDir: String): DataFrame =
    HllSketch.estimateFromRegisters(mergedRegisters(spark, stateDir), "g")

  /** Flat segment store, Spark's own segment marker — [[StorePolicy]]'s
    * default layout (no tombstones, so vacuum never fires).
    */
  val layout: StorePolicy.Layout = StorePolicy.Layout()

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop (the
    * [[IncrementalGraphAnn.appendAndMaintain]] precedent): micro-batch
    * segment dribble is compacted as a side effect of appending.
    * Maintenance renumbers history to batch=0; callers should hand out
    * fresh ids after a non-NoOp return, though for THIS face even a
    * re-delivered pre-swap id is absorbed by the max-merge algebra.
    */
  def appendAndMaintain(
      batch: DataFrame,
      groupCol: String,
      valueCol: String,
      stateDir: String,
      batchId: Long,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(batch, groupCol, valueCol, stateDir, batchId)
    StorePolicy.maintain(batch.sparkSession, stateDir, layout, cfg)
  }
}
