package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental inverted-index maintenance — the streaming face of the
  * s12 lexical-retrieval path. A production corpus index is not built
  * once: ingest batches arrive continuously, and rebuilding posting
  * lists from scratch per refresh re-pays the whole corpus scan. This
  * operator appends each batch's postings as an immutable segment
  * (the Lucene segment model reduced to its Spark-native core) and
  * scores searches over the union of committed segments through the
  * SAME [[Bm25.scoreTopK]] stage the one-shot query uses.
  *
  * Why pure append works: documents are ATOMIC per batch (a doc's
  * tokens never straddle batches), so per-segment (doc, term, tf)
  * censuses and (doc, dl) rows are disjoint across segments — df,
  * n_docs, and s_tok are plain sums over the union with no merge
  * logic. Each segment is written by one `term_freqs`-kernel scan of
  * its batch: zero shuffle, cost proportional to the batch, never to
  * the accumulated corpus.
  *
  * Delivery semantics (the [[IncrementalDedup]] contract): segments
  * live under `indexDir/batch=<id>/{docs,postings}/`, a batch counts
  * as committed only once its last-written part's marker
  * (`postings/_SUCCESS`, [[layout]]) exists, and a retried batch id
  * overwrites the (possibly partial) segment with deterministic
  * identical contents — at-least-once redelivery neither duplicates
  * postings nor changes any score.
  *
  * Scale shape: at 100 TB each segment write is the batch's own scan;
  * search reads segments as one parquet union (partition-pruned by
  * `batch=` when a time-bounded search wants it) and everything
  * downstream is s12's plan — broadcast query terms, broadcast
  * query-vocabulary df census, one partial-aggregating exchange.
  * Segment COMPACTION (folding many small segments into one —
  * [[SegmentCompaction.compactedCopy]]) composes orthogonally when batch
  * counts grow. Deletes ride committed [[Tombstones]] segments
  * subtracted inside [[load]] — and because n_docs, s_tok, and df all
  * derive from the loaded frames at read time, the filtered search is
  * EXACTLY the index built without the deleted documents (global BM25
  * stats shift with the deletion, as they must). A deleted doc_id
  * stays dead even if re-appended (the subtraction can't tell the
  * rows apart) until [[SegmentCompaction.vacuumedCopy]] folds both
  * parts by doc_id ([[layout]]); TombstoneSpec pins the filtered-read
  * equality that makes that rewrite safe.
  */
object IncrementalIndex {

  /** Append one batch of documents as an immutable index segment.
    * Idempotent per `batchId`: an already-committed id is a no-op, a
    * partial segment (crash mid-write) is overwritten with identical
    * deterministic contents.
    */
  def appendBatch(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      batchId: Long): Unit = {
    val spark = newDocs.sparkSession
    val indexPath = new Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (StorePolicy.committed(fs, indexPath, marker = layout.commitMarker)
      .exists(_._1 == batchId)) return
    // a tombstoned doc_id would be silently subtracted at load — reject
    Tombstones.requireNotTombstoned(newDocs.select(col(idCol)), idCol, indexDir)
    val seg = new Path(indexPath, s"batch=$batchId")
    // one kernel scan of the batch; the struct is aliased once so the
    // docs and postings projections share it without re-evaluation
    val freqs = newDocs
      .select(col(idCol).as("doc_id"),
        graft.functions.exprs.term_freqs(col(textCol)).as("p"))
      .localCheckpoint(true)
    // docs part first, complete before postings starts: the commit
    // marker is postings/_SUCCESS, so a postings marker implies a docs
    // marker and a crash between the writes leaves an uncommitted
    // (ignored) segment
    freqs.select(col("doc_id"), col("p.dl").as("dl"))
      .write.mode("overwrite").parquet(new Path(seg, "docs").toString)
    freqs.select(col("doc_id"), explode(col("p.freqs")).as("f"))
      .select(col("doc_id"), col("f.term").as("term"), col("f.tf").as("tf"))
      .write.mode("overwrite").parquet(new Path(seg, "postings").toString)
  }

  /** The accumulated index: (docs(doc_id, dl), postings(doc_id, term,
    * tf)) over all committed segments. Empty frames when no segment
    * has committed yet. `belowBatch` bounds the read to batch ids
    * strictly below it — the SNAPSHOT read: immutable segments make
    * the store's state at any past batch boundary reproducible
    * forever, the property a training run pins its corpus with.
    * Tombstones deliberately PIERCE snapshots (they always apply in
    * full): a right-to-be-forgotten delete must not remain servable
    * from an old snapshot, so time travel applies to growth, never to
    * erasure.
    */
  def load(
      spark: SparkSession,
      indexDir: String,
      belowBatch: Long = Long.MaxValue): (DataFrame, DataFrame) = {
    val indexPath = new Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = StorePolicy.committed(fs, indexPath, marker = layout.commitMarker)
      .filter(_._1 < belowBatch)
    if (committed.isEmpty) {
      import spark.implicits._
      (Seq.empty[(Long, Long)].toDF("doc_id", "dl"),
        Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    } else {
      // tombstones subtract BEFORE anything downstream: df, n_docs and
      // s_tok all derive from these frames at read time, so the
      // filtered search scores EXACTLY like an index that never held
      // the deleted documents (BM25's global stats shift with the
      // deletion, as they must)
      val del = Tombstones.deletedIds(spark, indexDir)
      val docs = Tombstones.subtract(
        spark.read.parquet(committed.map(c => s"${c._2}/docs"): _*),
        Seq("doc_id"), del)
      val postings = Tombstones.subtract(
        spark.read.parquet(committed.map(c => s"${c._2}/postings"): _*),
        Seq("doc_id"), del)
      (docs, postings)
    }
  }

  /** BM25 top-k over the accumulated index, scored through the exact
    * stage the one-shot s12 query uses. `qt` = (query_id, term),
    * unique per pair (a doc's kernel freqs are already unique).
    */
  def searchTopK(
      spark: SparkSession,
      indexDir: String,
      qt: DataFrame,
      k: Int = 10,
      belowBatch: Long = Long.MaxValue): DataFrame = {
    val (docs, postings) = load(spark, indexDir, belowBatch)
    val tf = postings.join(docs, "doc_id")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("s_tok"))
    Bm25.scoreTopK(tf, qt, stats, k)
  }

  /** This store's [[StorePolicy.Layout]]: parts commit with per-part
    * parquet markers, postings written LAST — so `postings/_SUCCESS`
    * is the segment's commit signal; both parts die by doc_id under
    * vacuum (which ends the tombstone filter cost AND frees deleted
    * doc_ids for re-insertion).
    */
  val layout: StorePolicy.Layout = StorePolicy.Layout(
    commitMarker = "postings/_SUCCESS",
    idColsByPart = Map("docs" -> Seq("doc_id"), "postings" -> Seq("doc_id")))

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop (the
    * [[IncrementalGraphAnn.appendAndMaintain]] precedent): segment
    * dribble and tombstone pressure are relieved as a side effect of
    * appending. Maintenance renumbers history to batch=0 — callers
    * must hand out fresh batch ids after a non-NoOp return (a
    * re-delivered pre-swap id would re-append its postings and skew
    * df/n_docs until the next fold).
    */
  def appendAndMaintain(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      batchId: Long,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(newDocs, idCol, textCol, indexDir, batchId)
    StorePolicy.maintain(newDocs.sparkSession, indexDir, layout, cfg)
  }
}
