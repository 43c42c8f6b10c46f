package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental span-census maintenance — the streaming face of the
  * d09/t23 exact-substring family. A production corpus arrives in
  * batches; re-deriving the cross-document duplicated-span census from
  * scratch per refresh re-pays the whole corpus scan. This operator
  * appends each batch's span census as an immutable segment (the
  * [[IncrementalIndex]] segment model) and scrubs or filters documents
  * against the ACCUMULATED census through the same
  * [[SpanDedup.scrubCore]] stage the one-shot t23 query uses — so
  * stream ≡ batch is a property of census contents, not of two scrub
  * implementations agreeing.
  *
  * Why pure append works: documents are ATOMIC per batch and doc ids
  * are globally unique (the [[IncrementalIndex]] contract), so each
  * batch's distinct-(doc, span-hash) census rows count DISJOINT
  * document sets — the global "how many distinct docs contain this
  * span" census is a plain sum over segments with no merge logic.
  * Each segment is one shingle-kernel scan of its batch: cost
  * proportional to the batch, never to the accumulated corpus.
  *
  * Delivery semantics: a batch counts as committed only once its
  * census `_SUCCESS` marker exists; a retried batch id is a no-op on
  * a committed segment and overwrites a partial one with identical
  * deterministic contents — at-least-once redelivery never double
  * counts a document.
  *
  * Scale shape at 100 TB: segments hold (hash, count) pairs — the
  * ~1 % corpus-bytes fraction d09's census already budgets — and the
  * accumulated load is a sum-aggregate over their union, partition-
  * pruned by `batch=` when a time-bounded census is wanted. Scrubbing
  * a batch touches that batch's text plus the model-free census join;
  * the accumulated corpus text is never re-read.
  */
object IncrementalSpanCensus {

  /** Append one batch's distinct-(doc, span) census as an immutable
    * segment. Idempotent per `batchId`: a committed id is a no-op, a
    * partial segment (crash mid-write) is overwritten with identical
    * deterministic contents.
    *
    * Single-writer assumption: the committed-check followed by the
    * overwrite-write is not atomic, so the census directory must have
    * exactly one appending driver at a time (the Structured Streaming
    * model — one query owns the sink). Two CONCURRENT writers of the
    * same batchId could interleave check-then-write; because segment
    * contents are deterministic functions of (batch docs, n), even
    * that race converges to identical bytes, but the invariant callers
    * should rely on is sequential appendBatch calls per census dir.
    */
  def appendBatch(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      censusDir: String,
      batchId: Long,
      n: Int = 5): Unit = {
    val spark = newDocs.sparkSession
    val censusPath = new Path(censusDir)
    val fs = censusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (StorePolicy.committed(fs, censusPath, marker = layout.commitMarker)
      .exists(_._1 == batchId)) return
    val seg = new Path(censusPath, s"batch=$batchId")
    SpanDedup.docSpanHashes(newDocs, idCol, textCol, n)
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .write.mode("overwrite").parquet(new Path(seg, "census").toString)
  }

  /** The accumulated census: (h, nd) with nd = distinct documents
    * containing the span across ALL committed batches. Empty frame
    * when nothing has committed.
    */
  def load(spark: SparkSession, censusDir: String): DataFrame = {
    val censusPath = new Path(censusDir)
    val fs = censusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = StorePolicy.committed(fs, censusPath, marker = layout.commitMarker)
    if (committed.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("h", "nd")
    } else
      spark.read.parquet(committed.map(c => s"${c._2}/census"): _*)
        .groupBy(col("h")).agg(sum(col("nd")).as("nd"))
  }

  /** Scrub `docs` against the accumulated census — t23's rewrite with
    * the duplicated-hash set taken from state instead of from the
    * frame itself, through the SAME [[SpanDedup.scrubCore]] stage.
    * When `docs` are the committed batches' documents, the result
    * equals the one-shot [[SpanDedup.scrubSpans]] over their union
    * (pinned in IncrementalSpanCensusSpec).
    */
  def scrubAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      censusDir: String,
      n: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val census = load(docs.sparkSession, censusDir)
      .filter(col("nd") >= minDocs).select(col("h"))
    // spread the batch first — both the shingle pass and the rewrite
    // kernel are map-side (the scrubSpans/s01/s12 pattern)
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism)
    SpanDedup.scrubCore(spread, idCol, textCol,
      SpanDedup.posSpans(spread, idCol, textCol, n), census, n)
  }

  /** d09's budget filter against the accumulated census: keep only
    * documents whose duplicated-span fraction (spans seen in ≥
    * `minDocs` docs corpus-wide) is at most `maxDupFrac`.
    */
  def dropSpanDuplicatedAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      censusDir: String,
      n: Int = 5,
      minDocs: Int = 2,
      maxDupFrac: Double = 0.5): DataFrame = {
    val census = load(docs.sparkSession, censusDir)
      .filter(col("nd") >= minDocs).select(col("h"), lit(1).as("dup"))
    val stats = SpanDedup.docSpanHashes(docs, idCol, textCol, n)
      .join(census, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("dup"), lit(0))).as("n_dup_spans"))
      // round-4 BEFORE comparing, exactly like spanStats' dup_frac —
      // the unrounded quotient would drop boundary docs the one-shot
      // dropSpanDuplicated keeps, silently breaking stream ≡ batch
      .filter(round(try_divide(col("n_dup_spans"), col("n_spans")), 4) <= maxDupFrac)
      .select(col(idCol))
    docs.join(stats, Seq(idCol), "left_semi")
  }

  /** Single-part segments committed by the census part's parquet
    * marker — `census/_SUCCESS` is the commit signal [[StorePolicy]]
    * watches. No tombstones, so vacuum never fires.
    */
  val layout: StorePolicy.Layout =
    StorePolicy.Layout(commitMarker = "census/_SUCCESS")

  /** [[appendBatch]] + the [[StorePolicy.maintain]] closed loop (the
    * [[IncrementalGraphAnn.appendAndMaintain]] precedent). Maintenance
    * renumbers history to batch=0, and THIS face's census counts are
    * NOT re-delivery-idempotent across that boundary — callers MUST
    * hand out fresh batch ids after a non-NoOp return.
    */
  def appendAndMaintain(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      censusDir: String,
      batchId: Long,
      n: Int = 5,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    appendBatch(newDocs, idCol, textCol, censusDir, batchId, n)
    StorePolicy.maintain(newDocs.sparkSession, censusDir, layout, cfg)
  }
}
