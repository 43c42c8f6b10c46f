package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental IVF×PQ index maintenance — the streaming face of the
  * ANN family (s02/s08/s10), completing the triptych of incremental
  * operators: [[IncrementalDedup]] (signatures), [[IncrementalIndex]]
  * (posting lists), and this (vector codes). A production vector
  * index is fitted ONCE and then grows: new embedding batches arrive
  * continuously, are assigned to the FROZEN coarse cells and encoded
  * against the FROZEN PQ codebook (exactly how FAISS `add()` works
  * after `train()` — and exactly how the s10 convergence measurement
  * scales its corpus against a pinned model), and land as immutable
  * code segments partitioned by cell id, so probing N cells reads N
  * disk partitions per segment and nothing else.
  *
  * Delivery semantics (the [[IncrementalDedup]] contract): the model
  * is written once at index creation under `indexDir/model/`; code
  * segments live under `indexDir/batch=<id>/codes/` and count as
  * committed only once their `_SUCCESS` marker exists; a retried
  * batch id is a no-op when committed and an overwrite with
  * deterministic identical codes when partial. At-least-once
  * redelivery neither duplicates vectors nor moves any distance.
  *
  * Scale shape: append cost is one kernel-projection scan of the
  * batch (coarse argmax + m sub-quantizers per row, zero shuffles
  * except the cell-partitioned write); search reads only probed cells
  * (partition pruning on `c_id=` — demonstrated on-disk by
  * IvfPqSpec's pruning test) and scores through the same
  * [[ProductQuantizer.adcSearchCells]] stage as the one-shot s10
  * query. Segment compaction per cell composes orthogonally
  * ([[SegmentCompaction.compactedCopy]]); deletes ride committed
  * [[Tombstones]] segments (`indexDir/delete=<id>/`) subtracted at
  * search — because the model is FROZEN, the filtered search is
  * EXACTLY the index built from the surviving vectors (removing
  * candidates changes no other vector's cell or codes), the strongest
  * delete guarantee any face can offer, and TombstoneSpec pins that
  * frame equality.
  */
object IncrementalAnn {

  final case class Model(
      centroids: Array[Array[Float]],
      cb: ProductQuantizer.Codebook)

  /** Fit the frozen model (coarse centroids = first `nCentroids`
    * vectors by id, PQ codebook = [[ProductQuantizer.seedCodebook]] of
    * the first `k`) from a reference frame and persist it under
    * `indexDir/model/`.
    * Idempotent: an existing committed model is left untouched, so
    * the index's geometry can never drift between retries.
    */
  def createIndex(
      refVecs: DataFrame,
      vecCol: String,
      idCol: String,
      indexDir: String,
      nCentroids: Int,
      m: Int,
      k: Int,
      dim: Int): Model = {
    val spark = refVecs.sparkSession
    import spark.implicits._
    val indexPath = new Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(indexPath, "model/centroids/_SUCCESS")) &&
      fs.exists(new Path(indexPath, "model/codebook/_SUCCESS")))
      return loadModel(spark, indexDir)
    // centroids and codebook seeds are both "first n by id": one
    // collect of the longer prefix serves both
    val first = AnnIndex.firstVectors(refVecs, vecCol, idCol, math.max(nCentroids, k)).map(_._2)
    val cents = first.take(nCentroids)
    val cb = ProductQuantizer.seedCodebook(first.take(k), m, dim)
    cents.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("c_id", "vec")
      .coalesce(1).write.mode("overwrite")
      .parquet(new Path(indexPath, "model/centroids").toString)
    (for {
      j <- cb.codes.indices
      code <- cb.codes(j).indices
    } yield (j, code, cb.codes(j)(code).toSeq))
      .toDF("j", "code", "vec")
      .coalesce(1).write.mode("overwrite")
      .parquet(new Path(indexPath, "model/codebook").toString)
    Model(cents, cb)
  }

  /** The frozen model back from `indexDir/model/` (driver-sized). */
  def loadModel(spark: SparkSession, indexDir: String): Model = {
    val cents = spark.read.parquet(s"$indexDir/model/centroids")
      .orderBy(col("c_id"))
      .collect().map(_.getSeq[Float](1).toArray)
    val rows = spark.read.parquet(s"$indexDir/model/codebook")
      .orderBy(col("j"), col("code")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val codes = Array.tabulate(m)(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3))
    Model(cents, ProductQuantizer.Codebook(codes.head.head.length, codes))
  }

  /** Append one batch of vectors: assign frozen cells (native argmax
    * kernel), encode against the frozen codebook (native per-subspace
    * kernels), write the codes cell-partitioned. Idempotent per
    * `batchId`.
    */
  def appendBatch(
      newVecs: DataFrame,
      vecCol: String,
      idCol: String,
      indexDir: String,
      batchId: Long): Unit = {
    val spark = newVecs.sparkSession
    val indexPath = new Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (StorePolicy.committed(fs, indexPath, marker = layout().commitMarker)
      .exists(_._1 == batchId)) return
    // a tombstoned id would be silently subtracted at search — reject
    Tombstones.requireNotTombstoned(newVecs.select(col(idCol)), idCol, indexDir)
    val model = loadModel(spark, indexDir)
    val assigned = newVecs.select(col(idCol), col(vecCol),
      graft.functions.exprs
        .coarse_assign_cell(col(vecCol), model.centroids).as("c_id"))
    ProductQuantizer.encode(assigned, vecCol, model.cb)
      .select(col(idCol) +: col("c_id") +:
        (0 until model.cb.m).map(j => col(s"code_$j")): _*)
      .write.mode("overwrite").partitionBy("c_id")
      .parquet(new Path(indexPath, s"batch=$batchId/codes").toString)
  }

  /** ADC top-k over the accumulated code segments, scored through the
    * SAME [[ProductQuantizer.adcSearchCells]] stage as the one-shot
    * s10 query. Probe selection replays the family's driver-side
    * ranking (rounded cosine desc, cell id tie-break, zero-norm
    * queries probe the lowest cells).
    */
  def searchTopK(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      nprobe: Int,
      topK: Int,
      idCol: String = "vec_id",
      belowBatch: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val indexPath = new Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // belowBatch = the SNAPSHOT read (state as of a past batch
    // boundary, reproducible forever since segments are immutable);
    // tombstones pierce snapshots — erasure beats time travel
    val committed = StorePolicy.committed(fs, indexPath, marker = layout().commitMarker)
      .filter(_._1 < belowBatch)
    require(committed.nonEmpty, s"no committed segments under $indexDir")
    val model = loadModel(spark, indexDir)
    // per-segment reads (a multi-path read trips partition discovery
    // over the batch= parents), unioned; partition-value inference
    // reads small c_id values back as INT — normalize to the family's
    // long before the probe join
    val codes = Tombstones.dropDeleted(
      committed
        .map(c => spark.read
          .option("basePath", s"${c._2}/codes").parquet(s"${c._2}/codes"))
        .reduce(_.unionByName(_))
        .withColumn("c_id", col("c_id").cast("long")),
      Seq(idCol), indexDir)
    // model-sized collect: the query batch (the family's queryVectors
    // pattern); probes ranked exactly like coarseProbes
    val probes = queries
      .select(col(qIdCol).cast("long"), col(qVecCol)).collect().toSeq
      .flatMap { r =>
        val (qid, q) = (r.getLong(0), r.getSeq[Float](1).toArray)
        model.centroids.indices
          .map(i => (i.toLong, graft.functions.VectorFunctions.roundedCosine(q, model.centroids(i))))
          .sortWith(graft.functions.VectorFunctions.probeBefore)
          .take(nprobe).map { case (cid, _) => (qid, cid) }
      }.toDF("q_id", "c_id")
    ProductQuantizer.adcSearchCells(
      codes, idCol, "c_id", probes, queries, qIdCol, qVecCol, model.cb, topK)
  }

  /** This store's [[StorePolicy.Layout]]: the single `codes` part
    * commits with its parquet marker (`codes/_SUCCESS`); vacuum drops
    * rows by the caller's id column (freeing the ids for
    * re-insertion); and codes are PHYSICALLY cell-partitioned — the
    * layout says so, so the maintained copy re-writes `c_id=`
    * directories and probe-side partition pruning survives
    * compaction. The frozen `model/` dir is store-level aux state the
    * swap carries automatically.
    */
  def layout(idCol: String = "vec_id"): StorePolicy.Layout = StorePolicy.Layout(
    commitMarker = "codes/_SUCCESS",
    idColsByPart = Map("codes" -> Seq(idCol)),
    partitionColsByPart = Map("codes" -> Seq("c_id")))

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop (the
    * [[IncrementalGraphAnn.appendAndMaintain]] precedent): segment
    * dribble and tombstone pressure are relieved as a side effect of
    * appending. Maintenance renumbers history to batch=0 — callers
    * must hand out fresh batch ids after a non-NoOp return (a
    * re-delivered pre-swap id would duplicate its vectors in the
    * store; the codes are deterministic, but top-k would then surface
    * duplicate ids).
    */
  def appendAndMaintain(
      newVecs: DataFrame,
      vecCol: String,
      idCol: String,
      indexDir: String,
      batchId: Long,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(newVecs, vecCol, idCol, indexDir, batchId)
    StorePolicy.maintain(newVecs.sparkSession, indexDir, layout(idCol), cfg)
  }
}
