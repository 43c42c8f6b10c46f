package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental graph-ANN index maintenance — the streaming face of the
  * s19/s20 pair ([[NnDescent.knnGraph]] build, [[NnDescent.beamSearch]]
  * serve). A production vector index is built once and then MAINTAINED:
  * new embeddings arrive continuously and must become searchable
  * without rebuilding the n×k graph from scratch (the HNSW/DiskANN
  * insertion path: each new vector SEARCHES the current graph for its
  * neighbors, links to what it finds, and the found nodes link back).
  *
  * State layout and delivery semantics (the [[IncrementalHll]] /
  * [[IncrementalQuantiles]] contract): per-batch segments under
  * `stateDir/batch=<id>/` — immutable, committed iff Spark's
  * `_SUCCESS` marker exists; exactly one appending driver
  * (single-writer, the Structured Streaming model). Each segment holds
  * the batch's vectors plus its OUT-EDGES only (new id → k best
  * neighbors found at insert time). Nothing already committed is ever
  * rewritten — the serving graph is a PURE FUNCTION of the committed
  * segments, derived at read time by [[currentGraph]]: forward ∪
  * reversed edges (cosine is symmetric, so a reversed edge reuses the
  * stored similarity — no re-scoring), deduplicated, per-node
  * bottom-k. Reverse-edge re-truncation — the mutation HNSW performs
  * in place when an inserted node displaces an old neighbor — thereby
  * happens declaratively at read time, which is what makes the state
  * append-only and the whole protocol idempotent: a batch re-delivered
  * after a crash overwrites a partial segment with identical
  * deterministic contents (insertion is a pure function of the batch
  * and the PRIOR committed state — segment reads filter to batch ids
  * strictly below the appending id, so a retry after later appends
  * still derives the same frame) or no-ops when already committed.
  * One loud exception to the retry guarantee: the tombstone guard
  * checks the CURRENT delete set, so a delete of one of the batch's
  * ids landing BETWEEN a crashed attempt and its retry fails the retry
  * with require() instead of reproducing the segment — safe (nothing
  * half-written survives, the conflict surfaces to the writer) but the
  * writer must then drop or re-id the deleted rows; it is not the
  * silent replay the no-interleaved-delete path gets.
  *
  * Insertion = the s20 search: batch vectors beam-search the current
  * graph (md5-ordered-sample entries over the ACTUAL prior ids — the
  * documented scatter-gather driver shape; the batch is
  * micro-batch-sized, the coordinator walks the distributed index);
  * candidates additionally include the OTHER
  * members of the same batch (scored driver-side, |B|² bounded by the
  * micro-batch size) so intra-batch near-duplicates link to each other
  * instead of waiting for a later rebuild. Out-edges are the k best by
  * (−sim_micro, id) — integer-micro rounded-cosine scores, the s19
  * convention, so incremental ≡ batch scoring bit-for-bit per edge.
  *
  * Approximation contract: unlike the value-sketch faces (HLL, KMV,
  * quantiles) whose merge is EXACT, graph insertion is the standard
  * ANN approximation — incremental ≢ batch NN-descent graph
  * edge-for-edge. What IS pinned (IncrementalGraphAnnSpec):
  * determinism (same batch sequence → identical graph), structural
  * validity (≤ k ranked out-edges, no self-edges, every committed id
  * present and reachable as a search result), crash/re-delivery
  * idempotence, and search recall over the incrementally grown graph
  * within noise of the batch-built s19 graph on the same corpus.
  *
  * Scale shape: a segment is ≤ |B|·k edge rows + |B| vectors; the
  * read-time merge is one union + one partial-aggregating bottom-k
  * over n·2k edges — the same single-pass shape as one s19 round,
  * O(n·k) not O(n·k²), and cacheable per refresh. Insert cost per
  * batch is the s20 search cost: O(|B|·beam·k) scorings + |B|²
  * intra-batch, independent of n. Compact segments with
  * [[SegmentCompaction.compactedCopy]] when the count grows (swap at
  * a quiescent batch boundary — see its Scaladoc).
  */
object IncrementalGraphAnn {

  private def segPath(statePath: Path, batchId: Long, kind: String): Path =
    new Path(new Path(statePath, s"batch=$batchId"), kind)

  private def fsOf(spark: SparkSession, stateDir: String) = {
    val p = new Path(stateDir)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Bootstrap the index from the initial corpus: the s19 NN-descent
    * graph becomes segment `batch=0` (vectors + its full edge list).
    * `emb` must carry (vec_id, embedding).
    */
  def createIndex(
      emb: DataFrame,
      stateDir: String,
      k: Int,
      rounds: Int): Unit = {
    val spark = emb.sparkSession
    val (statePath, fs) = fsOf(spark, stateDir)
    require(StorePolicy.committed(fs, statePath, marker = layout.commitMarker).isEmpty,
      s"$stateDir already holds committed segments")
    val e = emb.select(col("vec_id"), col("embedding"))
    writeSegment(spark, statePath, 0L,
      NnDescent.knnGraph(e, "vec_id", "embedding", k, rounds)
        .select(col("id"), col("nbr"), col("sim_micro")),
      e)
  }

  /** Both halves of a segment, then the `_SUCCESS` marker LAST — the
    * marker commits the pair, so a crash between writes leaves an
    * uncommitted (ignored, overwritable) segment.
    */
  private def writeSegment(
      spark: SparkSession,
      statePath: Path,
      batchId: Long,
      edges: DataFrame,
      vecs: DataFrame): Unit = {
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(statePath, s"batch=$batchId")
    fs.delete(dir, true)
    edges.write.parquet(segPath(statePath, batchId, "edges").toString)
    vecs.write.parquet(segPath(statePath, batchId, "vectors").toString)
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** All committed vectors (vec_id, embedding), optionally only from
    * batches with id < `belowBatch` (the retry-stability read — see
    * class doc). `applyDeletes = false` is the INSERTION read: raw
    * state, so segment derivation stays a pure function of prior
    * batches even when a delete interleaves with a crash-retry (and
    * so the id-clash guard keeps tombstoned ids unreusable —
    * [[Tombstones]]' resurrection rule).
    */
  def vectors(
      spark: SparkSession,
      stateDir: String,
      belowBatch: Long = Long.MaxValue,
      applyDeletes: Boolean = true): DataFrame = {
    val (statePath, fs) = fsOf(spark, stateDir)
    val dirs = StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .filter(_._1 < belowBatch)
      .map { case (id, _) => segPath(statePath, id, "vectors").toString }
    require(dirs.nonEmpty, s"no committed batches under $stateDir")
    val raw = spark.read.parquet(dirs: _*)
    if (applyDeletes) Tombstones.dropDeleted(raw, Seq("vec_id"), stateDir)
    else raw
  }

  private def vectorsFrom(
      spark: SparkSession,
      stateDir: String,
      belowBatch: Long,
      deleted: Option[DataFrame]): DataFrame =
    Tombstones.subtract(
      vectors(spark, stateDir, belowBatch, applyDeletes = false),
      Seq("vec_id"), deleted)

  /** The serving graph from committed state alone: stored out-edges ∪
    * their reversals (symmetric similarity reused), deduplicated,
    * per-node k best by (−sim_micro, nbr) — (id, nbr, sim_micro,
    * rank), the s19/s20 graph schema. One union + one bottom-k pass
    * over the edge segments; never touches vectors.
    */
  def currentGraph(
      spark: SparkSession,
      stateDir: String,
      k: Int,
      belowBatch: Long = Long.MaxValue,
      applyDeletes: Boolean = true): DataFrame =
    graphFrom(spark, stateDir, k, belowBatch,
      if (applyDeletes) Tombstones.deletedIds(spark, stateDir) else None)

  /** [[currentGraph]] with the tombstone union already fetched —
    * [[searchTopK]] shares one fetch between the graph and the
    * vectors read.
    */
  private def graphFrom(
      spark: SparkSession,
      stateDir: String,
      k: Int,
      belowBatch: Long,
      deleted: Option[DataFrame]): DataFrame = {
    val (statePath, fs) = fsOf(spark, stateDir)
    val dirs = StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .filter(_._1 < belowBatch)
      .map { case (id, _) => segPath(statePath, id, "edges").toString }
    require(dirs.nonEmpty, s"no committed batches under $stateDir")
    // an edge dies with EITHER endpoint, and the subtraction runs
    // BEFORE the bottom-k so dead neighbors don't consume rank slots
    val stored = Tombstones.subtract(
      spark.read.parquet(dirs: _*), Seq("id", "nbr"), deleted)
    val undirected = stored
      .select(col("id"), col("nbr"), col("sim_micro"))
      .union(stored.select(col("nbr").as("id"), col("id").as("nbr"), col("sim_micro")))
      // a pair inserted from both sides (or re-linked by a later
      // batch at the same rounded score) is THE SAME undirected edge
      .dropDuplicates("id", "nbr", "sim_micro")
    undirected
      .groupBy(col("id"))
      .agg(graft.functions.BottomKPairsAgg.bottomKIdPairs(
        -col("sim_micro"), col("nbr"), k).as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(col("id"), col("col.v").cast("long").as("nbr"),
        (-col("col.h")).as("sim_micro"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Insert one batch of new vectors: beam-search the current graph
    * for each new vector's neighborhood (plus intra-batch candidates),
    * keep the k best as the batch's out-edges, commit both as segment
    * `batchId`. Idempotent per batch id — except a delete interleaved
    * between a crashed attempt and its retry, which fails the retry
    * loudly (see the class doc). New ids must be disjoint from
    * committed ids (enforced). `batch` must carry (vec_id, embedding).
    */
  def appendBatch(
      batch: DataFrame,
      stateDir: String,
      batchId: Long,
      k: Int,
      beam: Int,
      hops: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val (statePath, fs) = fsOf(spark, stateDir)
    require(batchId > 0, "batch 0 is the createIndex bootstrap segment")
    if (StorePolicy.committed(fs, statePath, marker = layout.commitMarker)
      .exists(_._1 == batchId)) return

    val newVecs = batch.select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    require(newVecs.map(_._1).distinct.length == newVecs.length,
      "duplicate vec_id within batch")

    // raw (tombstone-blind) reads: segment contents must be a pure
    // function of the batch + prior BATCH segments so a crash-retry
    // reproduces identical bytes even if a delete landed in between;
    // raw `existing` also keeps tombstoned ids unreusable below
    val graph = currentGraph(spark, stateDir, k, belowBatch = batchId,
      applyDeletes = false)
    val existing = vectors(spark, stateDir, belowBatch = batchId,
      applyDeletes = false)
    val newIdSet = newVecs.map(_._1).toSet
    val clash = existing.filter(col("vec_id").isInCollection(newIdSet)).count()
    require(clash == 0, s"$clash batch ids already committed")
    // a tombstoned id (even one deleted before it ever existed) would
    // be silently subtracted from every serving read — reject loudly
    Tombstones.requireNotTombstoned(batch.select(col("vec_id")), "vec_id", stateDir)

    // The s20 search, one query per new vector, over the PRIOR state.
    val queries = newVecs.toSeq.toDF("q_id", "q_emb")
    val found = NnDescent
      .beamSearch(graph.select(col("id"), col("nbr")), existing, queries,
        beam, hops)
      .select(col("q_id"), col("node"), col("sim_micro"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // Intra-batch candidates: |B|² driver scorings (micro-batch-sized
    // by contract) through the same rounded-cosine scalar.
    import graft.functions.VectorFunctions.roundedCosine
    val intra = for {
      (u, ue) <- newVecs
      (v, ve) <- newVecs
      if u != v
      c <- roundedCosine(ue, ve)
    } yield (u, v, math.floor(c * 1000000.0 + 0.5).toLong)

    val edges = (found ++ intra)
      .groupBy(_._1)
      .toSeq
      .flatMap { case (u, cands) =>
        cands.map(c => (c._2, c._3)).distinct
          .sortBy { case (v, s) => (-s, v) }
          .take(k)
          .map { case (v, s) => (u, v, s) }
      }
    writeSegment(spark, statePath, batchId,
      edges.toDF("id", "nbr", "sim_micro"),
      queries.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")))
  }

  /** Top-k search over the maintained index — [[NnDescent.beamSearch]]
    * over [[currentGraph]] and the committed vectors. `queries` must
    * carry (q_id, q_emb). `belowBatch` is the SNAPSHOT read (the state
    * as of that batch boundary, reproducible forever); tombstones
    * pierce snapshots — erasure is never time-travelled around.
    */
  def searchTopK(
      spark: SparkSession,
      stateDir: String,
      queries: DataFrame,
      k: Int,
      beam: Int,
      hops: Int,
      belowBatch: Long = Long.MaxValue,
      entries: Option[Map[Long, Seq[Long]]] = None): DataFrame = {
    // one tombstone fetch shared by the graph and the vectors read.
    // Default entry nodes use beamSearch's derivation — a deterministic
    // md5-ordered sample of the ACTUAL surviving ids, so a vacuumed or
    // sparsely-appended store seeds correctly (ids here are never the
    // dense 0..n-1 the old mod-n scheme assumed). Callers holding a
    // coarse quantizer over the store pass per-query `entries` (s20's
    // IVF ∪ sample recipe) for the fewer-hops win; entry ids must be
    // live (tombstoned entries have no vectors and drop out of the
    // first hop's fetch, which beamSearch tolerates).
    val del = Tombstones.deletedIds(spark, stateDir)
    NnDescent.beamSearch(
      graphFrom(spark, stateDir, k, belowBatch, del).select(col("id"), col("nbr")),
      vectorsFrom(spark, stateDir, belowBatch, del), queries, beam, hops, entries)
      .filter(col("rank") <= k)
  }

  /** [[searchTopK]] for a CORPUS-SCALE query batch —
    * [[NnDescent.beamSearchDistributed]] over the maintained store:
    * queries stay a DataFrame, so a multi-billion-row batch probes the
    * index with no driver state scaling in |Q| (the graph-based
    * decontamination / semdedup read d17 runs against the in-session
    * graph, here against the durable one). Same snapshot (`belowBatch`)
    * and tombstone semantics as the driver face; `entries` is the
    * DataFrame form ((q_id, node), every query covered).
    */
  def searchTopKDistributed(
      spark: SparkSession,
      stateDir: String,
      queries: DataFrame,
      k: Int,
      beam: Int,
      hops: Int,
      belowBatch: Long = Long.MaxValue,
      entries: Option[DataFrame] = None): DataFrame = {
    val del = Tombstones.deletedIds(spark, stateDir)
    NnDescent.beamSearchDistributed(
      graphFrom(spark, stateDir, k, belowBatch, del).select(col("id"), col("nbr")),
      vectorsFrom(spark, stateDir, belowBatch, del), queries, beam, hops, entries)
      .filter(col("rank") <= k)
  }

  /** Physical delete for this face: [[SegmentCompaction.vacuumedCopy]]
    * with the graph store's id columns — vectors die by `vec_id`,
    * edges with EITHER endpoint. The fresh store serves identically
    * to the tombstoned source and frees deleted ids for re-insertion.
    */
  def vacuumedCopy(
      spark: SparkSession,
      inStore: String,
      outStore: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024): Int =
    SegmentCompaction.vacuumedCopy(spark, inStore, outStore,
      Map("edges" -> Seq("id", "nbr"), "vectors" -> Seq("vec_id")),
      targetBytesPerFile)

  /** This store's id columns per part — [[StorePolicy]]'s vacuum
    * contract (edges die with either endpoint, vectors by vec_id).
    */
  val idColsByPart: Map[String, Seq[String]] =
    Map("edges" -> Seq("id", "nbr"), "vectors" -> Seq("vec_id"))

  /** This store's [[StorePolicy.Layout]]: segment-level marker
    * (written LAST by [[writeSegment]]), the vacuum contract above.
    */
  val layout: StorePolicy.Layout = StorePolicy.Layout(idColsByPart = idColsByPart)

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop: after
    * the segment commits, the policy reads the store's observable
    * state and — when segment count, small-file ratio or tombstone
    * bytes cross their thresholds — compacts or vacuums IN PLACE (the
    * crash-recoverable copy-and-swap). This is the production append
    * path: micro-batch dribble and delete pressure are relieved as a
    * side effect of appending, not by an operator remembering to run
    * the copy. Caveat inherited from the swap contract: maintenance
    * renumbers history to batch=0, so callers must hand out FRESH
    * batch ids after any non-NoOp return (re-delivering a pre-swap id
    * trips the id-clash guard rather than silently no-opping — the
    * class doc's retry exception, now on the maintenance boundary
    * too).
    *
    * @return the maintenance action taken (NoOp when no threshold
    *         crossed)
    */
  def appendAndMaintain(
      batch: DataFrame,
      stateDir: String,
      batchId: Long,
      k: Int,
      beam: Int,
      hops: Int,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(batch, stateDir, batchId, k, beam, hops)
    StorePolicy.maintain(batch.sparkSession, stateDir, layout, cfg)
  }

  /** Decontamination flags for ONE batch of arriving corpus vectors
    * against the maintained store (which here indexes the BENCHMARK /
    * eval set): every batch row beam-probes the store via
    * [[searchTopKDistributed]]; rows whose best hit clears `tauMicro`
    * (integer-micro rounded cosine, the d15/d16/d17 τ convention) are
    * flagged with the hit count, best similarity, and a deterministic
    * argmax contaminant id (max sim, min id — d17's tie-break, grouped
    * by the PROBE side since here the probes are the corpus). A pure
    * read: no state is written, so the output is a function of
    * (batch rows, committed store, `belowBatch`) only — which is what
    * makes the streaming face below idempotent under re-delivery and
    * stream ≡ batch by construction (StreamingGraphDecontaminateSpec).
    *
    * Pass a committed `belowBatch` snapshot id to pin the eval set for
    * a whole streaming run while the store keeps growing (the
    * GraphStoreDecontaminateSpec reproducibility property).
    */
  def decontaminateBatch(
      batch: DataFrame,
      stateDir: String,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int,
      hops: Int,
      tauMicro: Long,
      belowBatch: Long = Long.MaxValue,
      entries: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    // numeric-id contract, enforced in-plan (the NnDescent assert_true
    // pattern, zero extra actions): a non-numeric OR NULL idCol would
    // otherwise collapse every such probe into one NULL q_id group
    // (ADVICE r16 + r17) — fail loudly per offending row with the
    // offending value instead. Two eval traps this shape dodges:
    //  - try_cast, not cast: under ANSI (the Spark 4 default) a plain
    //    cast throws its own generic CAST_INVALID_INPUT before this
    //    guard's message can fire; under non-ANSI it nulls silently;
    //  - the assert must be a CaseWhen VALUE branch, never an addend:
    //    Add is null-intolerant and short-circuits left-to-right, so
    //    `nullId + assert_true(...)` returns NULL without ever
    //    evaluating the assert (measured — the r17 guard shape was
    //    dead code under both ANSI modes).
    val tryId = expr(s"try_cast(`$idCol` AS BIGINT)")
    val q = batch.select(
      when(tryId.isNull,
        assert_true(lit(false),
          concat(lit(s"decontaminateBatch requires a non-null numeric '$idCol'; got: "),
            coalesce(col(idCol).cast("string"), lit("NULL")))).cast("long"))
        .otherwise(tryId).as("q_id"),
      col(vecCol).as("q_emb"))
    val hits =
      searchTopKDistributed(spark, stateDir, q, k, beam, hops, belowBatch, entries)
        .filter(col("sim_micro") >= tauMicro)
        .select(col("q_id"), col("node"), col("sim_micro"))
    val agg = hits.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("sim_micro")).as("best_micro"))
    agg
      .join(hits.select(col("q_id"), col("sim_micro").as("best_micro"), col("node")),
        Seq("q_id", "best_micro"))
      .groupBy(col("q_id"), col("n_hits"), col("best_micro"))
      .agg(min(col("node")).as("best_contaminant"))
      .select(col("q_id").as(idCol), col("n_hits"),
        (col("best_micro") / lit(1000000.0)).as("best_cos"),
        col("best_contaminant"))
  }

  /** Structured Streaming face of [[decontaminateBatch]]: new corpus
    * batches arriving via foreachBatch are decontaminated against the
    * maintained graph store with NO driver loop over the batch — the
    * probe is [[NnDescent.beamSearchDistributed]], linear in the batch
    * size per hop and independent of store size. Flags for each
    * micro-batch go to `onFlags` (publish, anti-join the batch,
    * quarantine — the caller's sink). Because the read writes no
    * state, at-least-once re-delivery simply recomputes identical
    * flags; the caller's sink dedupes by its own batchId key (the
    * [[IncrementalClusters.attach]] convention).
    */
  def streamingDecontaminate(
      batches: DataFrame,
      stateDir: String,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int,
      hops: Int,
      tauMicro: Long,
      belowBatch: Long = Long.MaxValue)(
      onFlags: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onFlags(
        decontaminateBatch(batch, stateDir, idCol, vecCol, k, beam, hops,
          tauMicro, belowBatch),
        batchId)
    }
}
