package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental DSIR maintenance — the streaming face of t20's data
  * selection ([[Dsir.importanceWeights]]). A production selection run
  * is not one-shot: corpus batches arrive continuously, and the raw
  * model q̂ (and the target model p̂, when target exemplars also
  * stream in) must absorb them without re-scanning history. Both
  * models are unigram censuses over a CLOSED hashed-feature space, so
  * they are plain SUMS over per-batch censuses — exactly the additive
  * segment algebra of [[IncrementalHll]]/[[IncrementalSpanCensus]] —
  * and per-document evidence is batch-atomic (a doc's bigrams never
  * straddle batches), so scoring state appends too.
  *
  * Segment layout (`stateDir/batch=<id>/`, marker LAST — the
  * [[IncrementalGraphAnn]] multi-part protocol, so
  * [[SegmentCompaction.compactedCopy]] folds these stores unchanged):
  *   - `census/`: (f, nr, nt) — the batch's bucket census, raw and
  *     target occurrence counts;
  *   - `feats/`:  (doc_id, f) — one row per bigram OCCURRENCE, the
  *     exact multiset the batch operator sums over (a grouped
  *     (doc, f, cnt) form scored as cnt·lr rounds differently than
  *     the occurrence sum at a 4 dp boundary — measured: 2 of 500
  *     docs flipped by 0.0001).
  *
  * Read-time semantics are IMPORTANCE-WEIGHT RESCORING over the
  * accumulated models: [[weights]] sums the censuses, derives the
  * 6 dp log-ratio table (identical formula, smoothing, and rounding
  * to the batch operator), and scores every accumulated document —
  * so a document's weight legitimately MOVES as later batches shift
  * q̂/p̂, and `weights` after N appends equals one-shot
  * `Dsir.importanceWeights` over the union (IncrementalDsirSpec pins
  * it under splits, re-delivery, and crash repair). Doc ids must be
  * globally unique across batches (the [[IncrementalIndex]]
  * contract); delivery is at-least-once idempotent per batch id.
  *
  * Scale shape: append = one kernel scan of the batch (features →
  * two model-sized partial aggregations + one doc-bucket census);
  * read = model-sized census sum + ONE broadcast join over the
  * accumulated (doc, bucket) evidence — never a rescan of raw text.
  */
object IncrementalDsir {

  private def fsOf(spark: SparkSession, stateDir: String) = {
    val p = new Path(stateDir)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Append one batch of documents. Idempotent per `batchId`; a
    * crashed partial segment (no marker) is invisible and overwritten
    * by the retry with identical deterministic contents (both parts
    * are pure functions of the batch alone).
    */
  def appendBatch(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      isTargetCol: String,
      stateDir: String,
      batchId: Long,
      buckets: Int = Dsir.DefaultBuckets): Unit = {
    val spark = newDocs.sparkSession
    val (statePath, fs) = fsOf(spark, stateDir)
    if (StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .exists(_._1 == batchId)) return
    val seg = new Path(statePath, s"batch=$batchId")
    fs.delete(seg, true)
    val feats = Dsir.featureRows(newDocs, idCol, textCol, isTargetCol, buckets)
      .localCheckpoint(true)
    feats.groupBy(col("__f").as("f"))
      .agg(count(lit(1)).as("nr"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("nt"))
      .write.parquet(new Path(seg, "census").toString)
    feats.select(col(idCol).as("doc_id"), col("__f").as("f"))
      .write.parquet(new Path(seg, "feats").toString)
    fs.create(new Path(seg, "_SUCCESS"), true).close()
  }

  /** Importance weights over the accumulated state: (doc_id, n_feats,
    * log_ratio) for every document appended so far, scored against
    * the CURRENT accumulated p̂/q̂ — bit-compatible with one-shot
    * [[Dsir.importanceWeights]] over the union (identical integer
    * counts, smoothing, 6 dp ratio rounding, 4 dp weight rounding).
    */
  def weights(
      spark: SparkSession,
      stateDir: String,
      buckets: Int = Dsir.DefaultBuckets): DataFrame = {
    val (statePath, fs) = fsOf(spark, stateDir)
    val segs = StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
    require(segs.nonEmpty, s"no committed batches under $stateDir")
    val census = spark.read
      .parquet(segs.map(s => s"${s._2}/census"): _*)
      .groupBy(col("f")).agg(sum(col("nr")).as("nr"), sum(col("nt")).as("nt"))
      .localCheckpoint(false)
    val totals = census.agg(sum(col("nr")).as("R"), sum(col("nt")).as("T"))
    val lr = census
      .crossJoin(broadcast(totals))
      .select(col("f"),
        round(
          log((col("nt") + lit(1L)) / (col("T") + lit(buckets.toLong))) -
            log((col("nr") + lit(1L)) / (col("R") + lit(buckets.toLong))),
          6).as("lr"))
    spark.read.parquet(segs.map(s => s"${s._2}/feats"): _*)
      .join(broadcast(lr), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("lr")), 4).as("log_ratio"))
  }

  /** Multi-part segments (census/feats) committed by a segment-level
    * marker written LAST — [[StorePolicy]]'s default layout (no
    * tombstones, so vacuum never fires).
    */
  val layout: StorePolicy.Layout = StorePolicy.Layout()

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop (the
    * [[IncrementalGraphAnn.appendAndMaintain]] precedent). Maintenance
    * renumbers history to batch=0, and THIS face's census sums are NOT
    * re-delivery-idempotent across that boundary — callers MUST hand
    * out fresh batch ids after a non-NoOp return (the swap-contract
    * caveat, load-bearing here).
    */
  def appendAndMaintain(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      isTargetCol: String,
      stateDir: String,
      batchId: Long,
      buckets: Int = Dsir.DefaultBuckets,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(newDocs, idCol, textCol, isTargetCol, stateDir, batchId, buckets)
    StorePolicy.maintain(newDocs.sparkSession, stateDir, layout, cfg)
  }
}
