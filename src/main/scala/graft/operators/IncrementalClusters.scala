package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup CLUSTER maintenance — the streaming face of
  * d06 (`TextDedup.minhashCandidates` → `NearDupClusters
  * .connectedComponents`). A production corpus's duplicate clusters
  * are not computed once: every ingest batch can join existing
  * clusters, bridge two of them, or found new ones. This operator
  * keeps persistent signature + edge state and, per arriving batch,
  * runs ONE asymmetric band join (state ∪ batch) × batch — never
  * state × state — appending exactly the candidate edges whose later
  * endpoint is in the batch. Cluster ids are then read through the
  * SAME `NearDupClusters.connectedComponents` stage the one-shot d06
  * query runs, over the accumulated edge census.
  *
  * Equivalence contract (pinned by IncrementalClustersSpec): feeding
  * the same corpus in ANY batch split — id-ordered or not, unlike
  * [[IncrementalDedup]]'s greedy policy which needs id order —
  * accumulates exactly the one-shot candidate edge set, because the
  * probe join is judged in BOTH directions and (least, greatest)
  * normalized: an edge appears when the LATER of its endpoints
  * arrives, whichever endpoint that is. Signatures are deterministic
  * per doc, so re-delivery rewrites identical bytes.
  *
  * State layout and delivery semantics: `stateDir/batch=<id>/sigs`
  * then `.../edges` — the edges `_SUCCESS` marker is the batch's
  * commit point, and sigs are written first, so a crash between the
  * two writes leaves an uncommitted batch that a retry overwrites
  * with identical deterministic contents (the IncrementalDedup /
  * IncrementalSpanCensus repair story). foreachBatch is
  * at-least-once: a committed batchId is a no-op on retry.
  * Single-writer assumption as documented at
  * [[IncrementalSpanCensus.appendBatch]].
  *
  * Scale shape: state is O(docs × k) signature longs plus the edge
  * census (bounded by LSH collisions, near-linear in corpus); each
  * batch costs one signature pass over the batch and one band
  * equi-join probing state buckets. The CC read is iterative
  * equi-joins on the edge census only — the corpus text never enters
  * state, and no driver-side graph exists. At 100 TB the band-keyed
  * state table would be bucketed so the probe is bucket-local, and a
  * hot band takes `Salting.skewSelfJoinPairs`' treatment — same
  * documentation as the batch path.
  */
object IncrementalClusters {

  /** Absorb one batch: commit its signatures and the candidate edges
    * it completes (against prior state AND within itself) at the
    * d06 gate (`estSim >= threshold`). Idempotent per `batchId`.
    */
  def appendBatch(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      threshold: Double = 0.5,
      batchId: Option[Long] = None): Unit = {
    val spark = newDocs.sparkSession
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
    val id = batchId.getOrElse(
      if (committed.isEmpty) 0L else committed.map(_._1).max + 1)
    if (committed.exists(_._1 == id)) return
    // consumed by the band join, both estimate joins and the state write
    val newSigs = TextDedup.minhashSignatures(newDocs, idCol, textCol)
      .localCheckpoint(true)
    val priorPaths = committed.filter(_._1 != id)
      .map(p => new Path(p._2, "sigs").toString)
    val allSigs =
      if (priorPaths.nonEmpty)
        spark.read.parquet(priorPaths: _*).unionByName(newSigs)
      else newSigs
    // asymmetric band join judged in BOTH directions, then
    // (least, greatest)-normalized: the edge lands when its LATER
    // endpoint arrives regardless of id order, so batch splits need
    // no ordering discipline for the union to equal the one-shot set
    val cand = TextDedup.bandFrame(allSigs, idCol).as("a")
      .join(TextDedup.bandFrame(newSigs, idCol).as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(
        least(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_b"))
      .distinct()
    val sigA = allSigs.select(col(idCol).as("doc_a"), TextDedup.sigArray.as("sig_a"))
    val sigB = allSigs.select(col(idCol).as("doc_b"), TextDedup.sigArray.as("sig_b"))
    val edges = cand
      .join(sigA, Seq("doc_a"))
      .join(sigB, Seq("doc_b"))
      // the same rounded estimate as minhashCandidates — bit-identical
      // gate to the one-shot d06 pair set
      .filter(TextDedup.estSim(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val seg = new Path(statePath, s"batch=$id")
    newSigs.write.mode("overwrite").parquet(new Path(seg, "sigs").toString)
    edges.write.mode("overwrite").parquet(new Path(seg, "edges").toString)
  }

  /** Current cluster assignment over everything absorbed so far:
    * (doc_id, comp) through the SAME `connectedComponents` stage as
    * the one-shot d06 query. Docs in no candidate pair do not appear
    * (the CC contract); empty state yields an empty frame.
    */
  def clusters(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .map(p => new Path(p._2, "edges").toString)
    if (paths.isEmpty)
      Seq.empty[(Long, Long)].toDF("doc_id", "comp")
    else {
      val edges = spark.read.parquet(paths: _*).distinct()
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc_id", "comp")
      else NearDupClusters.connectedComponents(edges)
    }
  }

  /** Structured Streaming wiring: absorb each micro-batch, then hand
    * the refreshed cluster frame to the caller (publish, join back to
    * the corpus, etc.). The foreachBatch batchId keys the state
    * commit, so at-least-once redelivery is a no-op.
    */
  def attach(
      docsStream: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      threshold: Double = 0.5)(
      onClusters: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(batch, idCol, textCol, stateDir, threshold, Some(batchId))
      onClusters(clusters(batch.sparkSession, stateDir), batchId)
    }
  }

  /** Multi-part segments (sigs, then edges) committed by the
    * LAST-WRITTEN part's parquet marker — hence `edges/_SUCCESS` is
    * the commit signal [[StorePolicy]] watches. No tombstones, so
    * vacuum never fires.
    */
  val layout: StorePolicy.Layout =
    StorePolicy.Layout(commitMarker = "edges/_SUCCESS")

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop (the
    * [[IncrementalGraphAnn.appendAndMaintain]] precedent). Maintenance
    * renumbers history to batch=0 — callers must hand out fresh batch
    * ids after a non-NoOp return (a re-delivered pre-swap id would
    * re-append sigs/edges rows; reads dedup both, but the store would
    * carry the duplicates until the next fold).
    */
  def appendAndMaintain(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      threshold: Double = 0.5,
      batchId: Option[Long] = None,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(newDocs, idCol, textCol, stateDir, threshold, batchId)
    StorePolicy.maintain(newDocs.sparkSession, stateDir, layout, cfg)
  }
}
