package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-duplicate filtering — the streaming face of the
  * dedup ladder. A production corpus is not deduplicated once: new
  * crawl/ingest batches arrive continuously and must be screened
  * against everything already seen. This operator keeps a persistent
  * MinHash-signature state table and processes each arriving batch
  * with an ASYMMETRIC band join (state × batch, never state × state),
  * so per-batch cost is proportional to the batch and its collisions —
  * not to the accumulated corpus.
  *
  * Policy matches [[TextDedup.dropNearDuplicates]] exactly (greedy
  * one-pass: a doc is dropped iff ANY lower-id doc seen so far — kept
  * or itself dropped — estimates ≥ threshold), so feeding the same
  * corpus in any id-ordered batch split reproduces the batch result
  * bit-for-bit (IncrementalDedupSpec).
  *
  * State layout and delivery semantics: signatures live under
  * `stateDir/batch=<id>/` — one overwrite-mode write per batch, and a
  * batch counts as committed only once Spark's `_SUCCESS` marker
  * exists. foreachBatch is AT-LEAST-ONCE, so a retried micro-batch
  * re-runs `processBatch` with the same batchId: the state read skips
  * the (possibly partial) dir of the batch being processed, the
  * screen recomputes the identical survivor set from deterministic
  * signatures, and the write either overwrites the partial dir or is
  * skipped when `_SUCCESS` already landed. Retries therefore neither
  * grow the state nor change survivors, and a crash at ANY point
  * (before, during, or after the state write) is repaired by the
  * retry — there is no ordering window that loses a batch from state.
  *
  * Scale shape: state is O(docs × k) longs of signatures (the corpus
  * text never enters state); each batch runs one signature aggregation
  * over the batch, one band equi-join probing state buckets, and two
  * id equi-joins for the estimate. At 100 TB the state table would be
  * bucketed by band key so the probe becomes a bucket-local join; a
  * hot band bucket takes the same salting treatment as the batch path
  * (`Salting.skewSelfJoinPairs`) — documented, not needed at test SFs.
  */
object IncrementalDedup {

  /** Screen one arriving batch against the signature state at
    * `stateDir`; returns the surviving rows of `newDocs` and commits
    * the batch's signatures (survivors AND drops — the greedy policy
    * judges against everything seen) to `stateDir/batch=<id>`.
    *
    * `batchId` identifies the batch for idempotent retry (pass the
    * foreachBatch id); when None, the next id after the highest
    * committed batch is assigned — fine for single-writer manual use,
    * but retries then re-screen under a FRESH id, so streaming callers
    * must pass the real id.
    *
    * Ids must be globally unique and monotone across batches for the
    * stream == batch equivalence to hold (the usual ingest-sequence
    * id); within a batch any order works.
    */
  def processBatch(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      threshold: Double = 0.8,
      batchId: Option[Long] = None): DataFrame = {
    val spark = newDocs.sparkSession
    // materialized: consumed by the band join, the estimate join, the
    // survivors anti-join AND the state write
    val newSigs = TextDedup.minhashSignatures(newDocs, idCol, textCol)
      .localCheckpoint(true)
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = StorePolicy.committed(fs, statePath)
    val id = batchId.getOrElse(
      if (committed.isEmpty) 0L else committed.map(_._1).max + 1)
    // on retry the batch's own signatures are already committed:
    // exclude them from the prior-state read (no double-count) and
    // skip the rewrite below
    val alreadyCommitted = committed.exists(_._1 == id)
    val priorPaths = committed.filter(_._1 != id).map(_._2.toString)
    val allSigs =
      if (priorPaths.nonEmpty)
        spark.read.parquet(priorPaths: _*).unionByName(newSigs)
      else newSigs

    // asymmetric band join: probe side is ONLY the new batch; the
    // id_a < id_b condition with b ∈ batch yields exactly the pairs
    // whose higher (= to-be-judged) member is new
    val bandsAll = TextDedup.bandFrame(allSigs, idCol).as("a")
    val bandsNew = TextDedup.bandFrame(newSigs, idCol).as("b")
    val cand = bandsAll
      .join(bandsNew,
        col("a.band_id") === col("b.band_id") &&
          col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
    val sigA = allSigs.select(col(idCol).as("doc_a"), TextDedup.sigArray.as("sig_a"))
    val sigB = newSigs.select(col(idCol).as("doc_b"), TextDedup.sigArray.as("sig_b"))
    val drop = cand
      .join(sigA, Seq("doc_a"))
      .join(sigB, Seq("doc_b"))
      // same rounded estimate as the batch path — bit-identical gate
      .filter(TextDedup.estSim(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("doc_b").as(idCol))
      .distinct()
    // materialize BEFORE the state write so the returned frame never
    // races with state mutation, whatever the caller does with it
    val survivors = newDocs.join(drop, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    if (!alreadyCommitted)
      newSigs.write.mode("overwrite")
        .parquet(new Path(statePath, s"batch=$id").toString)
    survivors
  }

  /** Wire [[processBatch]] into a Structured Streaming sink: each
    * micro-batch is screened against the state and survivors are
    * handed to `onSurvivors` (write to the corpus table, publish,
    * etc.). The foreachBatch batchId keys the state write, so
    * at-least-once redelivery re-screens idempotently instead of
    * growing the state.
    */
  def attach(
      docsStream: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      threshold: Double = 0.8)(
      onSurvivors: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onSurvivors(
        processBatch(batch, idCol, textCol, stateDir, threshold, Some(batchId)),
        batchId)
    }
  }
}
