package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental face of pipe01's full data-hygiene ladder — the shape
  * the 100 TB job actually runs: crawl/ingest batches arrive
  * continuously, each batch's TEXT is scanned exactly once, and the
  * ladder's cross-document state (content digests, MinHash signatures,
  * span census, per-doc verdicts) accumulates as immutable committed
  * segments. [[dispositions]] then derives the per-document
  * `dropped_at` frame from STATE ONLY — no text is ever re-read — and
  * equals the one-shot pipe01 ladder run on the union of all batches
  * (IncrementalHygieneLadderSpec pins ≡ under a 3-way split,
  * re-delivery, and crash repair).
  *
  * Why the equivalence decomposes per stage (pipe01's stage-set note,
  * continued):
  *   - exact + near dedup are PREFIX-STABLE under the id-ordered batch
  *     contract every incremental operator here shares (batch k's ids
  *     exceed batch k-1's): both policies drop a doc iff some LOWER-id
  *     doc matches, and lower-id docs are exactly the docs already in
  *     state — so per-batch verdicts are final ([[IncrementalDedup]]'s
  *     own guarantee, reused verbatim for stage 2).
  *   - the span budget is SET-dependent in the other direction (a
  *     doc's dup_frac counts FUTURE s2 docs too), so it cannot be
  *     final per batch: each batch appends its s2 survivors' (doc,
  *     span-hash) rows — disjoint doc sets, so the global census is a
  *     plain sum ([[IncrementalSpanCensus]]'s append argument) — and
  *     the span verdict is evaluated at read time against the
  *     accumulated census.
  *   - decontamination (fixed benchmark), the repetition gate, and
  *     the quality gate are DOC-LOCAL: verdicts computed on the
  *     batch's s2 survivors equal pipe01's (which computes them on
  *     later-stage inputs — subsets; the values depend only on the
  *     doc's own text), so the first-failing-stage CASE resolves
  *     identically however the span verdict lands.
  *
  * Delivery semantics (the [[IncrementalDedup]]/[[IncrementalHll]]
  * model): every segment write is keyed by `batchId`, committed only
  * once its `_SUCCESS` marker exists, skipped when already committed,
  * and deterministic — so at-least-once re-delivery and crash-at-any-
  * point retry converge to identical state. Single-writer per state
  * dir (the Structured Streaming contract).
  *
  * Scale shape: per batch, one text scan feeds the digest screen, the
  * signature build, the span shingling, and the three doc-local gates;
  * state joins are digest/band/id equi-joins against committed
  * segments (bucketed by their key at 100 TB). The benchmark Bloom
  * filter is rebuilt per batch here — a production deployment would
  * persist the benchmark sketch once (it is fixed) and broadcast it;
  * at test scale the rebuild costs less than the plumbing.
  */
object IncrementalHygieneLadder {

  private def writeSegment(
      df: DataFrame, dir: Path, batchId: Long,
      fs: org.apache.hadoop.fs.FileSystem): Unit =
    if (!StorePolicy.committed(fs, dir).exists(_._1 == batchId))
      df.write.mode("overwrite").parquet(new Path(dir, s"batch=$batchId").toString)

  private def readSegments(
      spark: SparkSession, dir: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      excludeId: Option[Long] = None): Option[DataFrame] = {
    val paths = StorePolicy.committed(fs, dir)
      .filter(c => !excludeId.contains(c._1)).map(_._2.toString)
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Ingest one id-ordered batch: screen it through the prefix-stable
    * stages against accumulated state, compute the doc-local verdicts,
    * and commit this batch's state segments. `bench` is the FIXED
    * benchmark suite (normalized like the batch text).
    */
  def processBatch(
      newDocs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      batchId: Long,
      nearThreshold: Double = 0.8,
      spanN: Int = 5,
      minQuality: Double = 0.64): Unit = {
    val spark = newDocs.sparkSession
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = newDocs.localCheckpoint(true) // consumed by every stage below

    // stage 1 — exact dedup: drop docs whose content digest is already
    // in state (a lower id saw it first), keep min id per digest within
    // the batch (exactDedup's own policy on the not-yet-seen remainder)
    val exactDir = new Path(root, "exact")
    val withDigest = batch.withColumn("__digest", md5(col(textCol)))
    val unseen = readSegments(spark, exactDir, fs, excludeId = Some(batchId)) match {
      case Some(prior) =>
        withDigest.join(prior.withColumnRenamed("digest", "__digest"),
          Seq("__digest"), "left_anti")
      case None => withDigest
    }
    val s1 = TextDedup.exactDedup(unseen, idCol, textCol)
      .drop("__digest").localCheckpoint(true)
    // state carries EVERY digest the batch introduced (kept or intra-
    // batch-dropped — both screen future batches identically)
    writeSegment(withDigest.select(col("__digest").as("digest")).distinct(),
      exactDir, batchId, fs)

    // stage 2 — near dedup: IncrementalDedup's asymmetric band screen,
    // state = the s1 survivors of every batch so far (pipe01 runs
    // dropNearDuplicates on s1; same greedy lower-id policy)
    val s2 = IncrementalDedup.processBatch(
      s1, idCol, textCol, new Path(root, "near").toString,
      nearThreshold, Some(batchId))

    // stage 3 state — the batch's s2 survivors' span rows; the global
    // census is a sum over segments (disjoint doc sets), evaluated at
    // dispositions() time because dup_frac counts FUTURE docs too
    writeSegment(SpanDedup.docSpanHashes(s2, idCol, textCol, spanN),
      new Path(root, "spans"), batchId, fs)

    // stages 4-6 — doc-local verdicts on the s2 survivors
    val m4 = Decontaminate.removeContaminatedBloom(s2, bench, idCol, textCol, spanN)
    val m5 = RepetitionFilter.dropRepetitive(s2, idCol, textCol)
    val m6 = s2.filter(graft.functions.TextFunctions.qualityScore(col(textCol)) >= minQuality)
    def mark(df: DataFrame, m: String) = df.select(col(idCol), lit(true).as(m))
    val verdicts = batch.select(col(idCol))
      .join(mark(s1, "m1"), Seq(idCol), "left")
      .join(mark(s2, "m2"), Seq(idCol), "left")
      .join(mark(m4, "m4"), Seq(idCol), "left")
      .join(mark(m5, "m5"), Seq(idCol), "left")
      .join(mark(m6, "m6"), Seq(idCol), "left")
      .select(col(idCol),
        when(col("m1").isNull, "exact")
          .when(col("m2").isNull, "near").as("early"),
        col("m4").isNull.as("hit4"),
        col("m5").isNull.as("rep"),
        col("m6").isNull.as("lowq"))
    writeSegment(verdicts, new Path(root, "verdicts"), batchId, fs)
  }

  /** The per-document disposition frame over everything ingested so
    * far — (idCol, dropped_at), bit-equal to one-shot pipe01 on the
    * union of the committed batches. Derives from state only: the
    * span census is summed across segments and each s2 survivor's
    * dup_frac evaluated against it (round-4 try_divide, the
    * spanStats contract); earlier-stage and doc-local verdicts read
    * straight from the verdict segments.
    */
  def dispositions(spark: SparkSession, stateDir: String, idCol: String): DataFrame = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val verd = readSegments(spark, new Path(root, "verdicts"), fs).getOrElse(
      throw new IllegalStateException(s"no committed batches under $stateDir"))
    val spanDisp = readSegments(spark, new Path(root, "spans"), fs).map { spans =>
      val census = spans.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      spans.join(census, Seq("h"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .select(col(idCol),
          (round(try_divide(col("n_dup_spans"), col("n_spans")), 4) > 0.5)
            .as("span_drop"))
    }.getOrElse(verd.select(col(idCol), lit(false).as("span_drop")).limit(0))
    verd.join(spanDisp, Seq(idCol), "left")
      .select(col(idCol),
        when(col("early").isNotNull, col("early"))
          .when(col("span_drop"), "span")
          .when(col("hit4"), "decontaminate")
          .when(col("rep"), "repetition")
          .when(col("lowq"), "quality")
          .otherwise("kept").as("dropped_at"))
  }
}
