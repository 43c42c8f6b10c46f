package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental face of pipe02's full pretraining manifest — the
  * ladder's streaming story ([[IncrementalHygieneLadder]]) extended to
  * the downstream a training run executes: near-dup clusters over the
  * kept set, the leakage-safe cluster split, the per-source mixture
  * gate, the epoch shuffle, and the in-shard packing.
  *
  * State model: [[processBatch]] delegates the six hygiene stages to
  * the ladder (each batch's text scanned ONCE) and additionally
  * commits one `meta` segment per batch — the batch's s2 survivors'
  * (id, source, token count, MinHash signature). [[manifest]] then
  * derives the FULL pipe02 frame from state only, no text re-read:
  *
  *  - dispositions from the ladder's state (≡ one-shot pipe01);
  *  - the cluster stage re-derived AT READ TIME over the CURRENT kept
  *    set from the stored signatures ([[TextDedup.bandFrame]] +
  *    salted band self-join + [[TextDedup.estSim]], the exact
  *    `minhashCandidates` machinery — bit-identical pairs by
  *    construction). Clusters cannot be maintained as incremental
  *    edge state: the span stage's verdict depends on FUTURE docs, so
  *    a doc's kept status — and with it the cluster membership the
  *    split must protect — is only final at read time;
  *  - split/gate/shard/pack recomputed from (kept ∩ meta) — frames
  *    bounded by the kept set, exactly the one-shot query's shapes.
  *
  * Delivery semantics inherited from the ladder: segments keyed by
  * batchId, committed by `_SUCCESS`, skipped when already committed,
  * deterministic — at-least-once re-delivery and crash-retry converge
  * (IncrementalManifestSpec pins ≡ the REGISTRY's one-shot pipe02
  * frame under a 3-way id-ordered split and re-delivery).
  *
  * Input contract: feed NORMALIZED text (the ladder spec's contract —
  * pipe02 normalizes before its ladder) and the same fixed benchmark
  * frame every batch; token counts are taken on the text as given.
  */
object IncrementalManifest {

  /** Ingest one id-ordered batch: the ladder's six stages, plus this
    * batch's `meta` segment (s2 survivors' id, source, tok,
    * signature). Meta derives from the COMMITTED verdict segment, so
    * a crash between the ladder commit and the meta commit repairs on
    * retry with identical contents.
    */
  def processBatch(
      newDocs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      stateDir: String,
      batchId: Long,
      nearThreshold: Double = 0.8,
      spanN: Int = 5,
      minQuality: Double = 0.64): Unit = {
    val spark = newDocs.sparkSession
    IncrementalHygieneLadder.processBatch(
      newDocs, bench, idCol, textCol, stateDir, batchId,
      nearThreshold, spanN, minQuality)
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "meta")
    if (!StorePolicy.committed(fs, metaDir, marker = layout.commitMarker).exists(_._1 == batchId)) {
      val verd = spark.read.parquet(
        new Path(root, s"verdicts/batch=$batchId").toString)
      val s2docs = newDocs.join(
        verd.filter(col("early").isNull).select(col(idCol)), Seq(idCol))
      val meta = TextDedup.minhashSignatures(s2docs, idCol, textCol)
        .join(s2docs.select(col(idCol), col(sourceCol).as("source"),
          graft.functions.TextFunctions.tokenCount(col(textCol))
            .cast("long").as("tok")), Seq(idCol))
      meta.write.mode("overwrite")
        .parquet(new Path(metaDir, s"batch=$batchId").toString)
    }
  }

  /** [[processBatch]] + the [[maintain]] closed loop — the convention
    * every other incremental face exposes (IncrementalDsir.scala's
    * appendAndMaintain shape), so the manifest's state stops being the
    * one store that accumulates segments forever (r16 watch item).
    */
  def processBatchAndMaintain(
      newDocs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      stateDir: String,
      batchId: Long,
      nearThreshold: Double = 0.8,
      spanN: Int = 5,
      minQuality: Double = 0.64,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    processBatch(newDocs, bench, idCol, textCol, sourceCol, stateDir, batchId,
      nearThreshold, spanN, minQuality)
    maintain(newDocs.sparkSession, stateDir, cfg)
  }

  /** The manifest state's sub-stores: the ladder's four plus `meta` —
    * each a flat `batch=<id>`/`_SUCCESS` store (default
    * [[StorePolicy.Layout]]) whose reads are pure functions of its row
    * union, so [[SegmentCompaction.compactedCopy]] is read-identity
    * per sub-store.
    */
  private val subStores = Seq("exact", "near", "spans", "verdicts", "meta")

  /** Per-sub-store layout: flat segments, Spark's own `_SUCCESS`. */
  val layout: StorePolicy.Layout = StorePolicy.Layout()

  /** Maintenance for the COMPOSITE store — [[StorePolicy.maintain]]'s
    * decide → materialize → swap loop lifted to the manifest's five
    * sub-stores, with ONE root-level swap instead of five independent
    * ones. Atomicity across sub-stores matters here: compaction
    * renumbers history to `batch=0`, so independently-maintained
    * `verdicts` and `meta` could transiently disagree on batch ids and
    * the [[manifest]] crash-window check (verdict ids ⊆ meta ids)
    * would false-alarm; folding all five into `<stateDir>.maint` and
    * committing with a root `_SUCCESS` before a single rename swap
    * keeps the id sets aligned through every crash window.
    *
    * Decision: each sub-store is measured with [[StorePolicy.statsOf]]
    * and the whole store compacts when ANY sub-store's
    * [[StorePolicy.decide]] is actionable (these stores carry no
    * tombstones, so the only actionable decision is Compact);
    * compacting the quiet sub-stores alongside is read-identity and
    * keeps every sub-store's history uniformly `batch=0`. Same
    * single-writer / quiescent-boundary / no-pre-swap-id-re-delivery
    * contract as [[StorePolicy.maintain]] — post-swap, a re-delivered
    * pre-swap batch id would re-screen against state that already
    * contains the batch itself (every doc would drop as an exact dup),
    * so the writer's bookkeeping must only hand out fresh ids.
    */
  def maintain(
      spark: SparkSession,
      stateDir: String,
      cfg: StorePolicy.Config = StorePolicy.Config()): StorePolicy.Action = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val work = new Path(stateDir + ".maint")
    val old = new Path(stateDir + ".old")
    recover(fs, root, work, old)
    val present = subStores.map(new Path(root, _)).filter(p =>
      StorePolicy.committed(fs, p, marker = layout.commitMarker).nonEmpty)
    val actionable = present.exists { p =>
      StorePolicy.decide(
        StorePolicy.statsOf(spark, p.toString, cfg, layout), cfg) !=
        StorePolicy.NoOp
    }
    if (!actionable) StorePolicy.NoOp
    else {
      // the fold must not bake in a verdicts/meta crash window — after
      // renumbering the subset check could never catch it (manifest()'s
      // contract note). Gate on VERDICTS having segments, not meta: if
      // the FIRST batch crashed between the verdict and meta commits,
      // meta is entirely empty and an aggressive maintain would
      // otherwise compact the orphan verdicts to batch 0, destroying
      // the re-delivery repair path (ADVICE r17). With an empty metaIds
      // set the guard already fails loudly with the full missing list.
      if (StorePolicy.committed(fs, new Path(root, "verdicts"),
        marker = layout.commitMarker).nonEmpty)
        requireMetaCoversVerdicts(fs, root, stateDir)
      present.foreach { p =>
        SegmentCompaction.compactedCopy(spark, p.toString,
          new Path(work, p.getName).toString, layout = layout)
      }
      // carry store-level aux state (anything that is not a sub-store
      // or a marker) — the StorePolicy.maintain convention
      if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath)
        .filter { p =>
          val n = p.getName
          !subStores.contains(n) && !n.startsWith("_") && !n.startsWith(".")
        }
        .foreach { p =>
          require(org.apache.hadoop.fs.FileUtil.copy(
            fs, p, fs, new Path(work, p.getName), false, true,
            spark.sparkContext.hadoopConfiguration),
            s"maintenance: aux copy of $p into $work failed")
        }
      // root marker LAST — commits the composite copy atomically
      fs.create(new Path(work, "_SUCCESS"), true).close()
      require(fs.rename(root, old), s"swap: rename $root -> $old failed")
      require(fs.rename(work, root), s"swap: rename $work -> $root failed")
      fs.delete(old, true)
      StorePolicy.Compact
    }
  }

  /** Re-converge after a crashed [[maintain]] — the
    * [[StorePolicy]] recovery shape with the composite root marker:
    * a missing live dir with a root-committed `.maint` resumes the
    * swap; a missing live dir without one rolls `.old` back;
    * leftovers are deleted. Idempotent, called at every entry.
    */
  private def recover(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path, work: Path, old: Path): Unit = {
    if (fs.exists(old)) {
      if (!fs.exists(root)) {
        if (fs.exists(new Path(work, "_SUCCESS"))) {
          require(fs.rename(work, root),
            s"recovery: rename $work -> $root failed")
        } else {
          require(fs.rename(old, root),
            s"recovery: rollback $old -> $root failed")
        }
      }
      fs.delete(old, true)
    }
    fs.delete(work, true)
  }

  /** Every committed verdict batch id must have a committed meta
    * segment — fails with the missing ids (the crash window between
    * the two commits; re-delivering those batches repairs it).
    */
  private def requireMetaCoversVerdicts(
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      stateDir: String): Unit = {
    val metaIds = StorePolicy.committed(fs, new Path(root, "meta"),
      marker = layout.commitMarker).map(_._1).toSet
    val missing = StorePolicy.committed(fs, new Path(root, "verdicts"),
      marker = layout.commitMarker).map(_._1)
      .filterNot(metaIds).sorted
    require(missing.isEmpty,
      s"ladder verdict batches [${missing.mkString(", ")}] have no " +
        s"committed meta segment under $stateDir — a crash landed between " +
        "the verdict and meta commits; re-deliver those batches to repair")
  }

  /** The full pipe02 manifest over everything ingested so far —
    * (idCol, dropped_at, cluster_id, split, selected, tok, shard, pos,
    * bin_id), bit-equal to the one-shot `pipe02_manifest` on the union
    * of the committed batches when the knobs match pipe02's (the
    * defaults). Derives from state only.
    */
  def manifest(
      spark: SparkSession,
      stateDir: String,
      idCol: String,
      clusterThreshold: Double = 0.5,
      mixBudget: Long = 700L,
      nShards: Long = 8L,
      capacity: Long = 512L,
      mixSalt: String = "p2mix_",
      shardSalt: String = "p2e0_"): DataFrame = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaSegs = StorePolicy.committed(fs, new Path(root, "meta"), marker = layout.commitMarker)
    val metaPaths = metaSegs.map(_._2.toString)
    require(metaPaths.nonEmpty, s"no committed meta segments under $stateDir")
    // loud input contract (ADVICE r16): a crash between the ladder's
    // verdict commit and the meta commit — or a lost meta _SUCCESS —
    // read BEFORE the repairing retry would otherwise hand that
    // batch's kept docs silent NULL split/tok/cluster_id, violating
    // the manifest's own null discipline. One listStatus per store;
    // [[maintain]] preserves the invariant by folding both stores in
    // one atomic swap (and re-checks it before folding).
    requireMetaCoversVerdicts(fs, root, stateDir)
    val disp = IncrementalHygieneLadder.dispositions(spark, stateDir, idCol)
      .localCheckpoint(true)
    val keptMeta = spark.read.parquet(metaPaths: _*)
      .join(disp.filter(col("dropped_at") === "kept").select(col(idCol)),
        Seq(idCol))
      .localCheckpoint(true)

    // near-dup clusters over the kept set, from stored signatures —
    // minhashCandidates' own band/salt/estimate machinery
    val bands = TextDedup.bandFrame(keptMeta, idCol)
    val cand = Salting
      .skewSelfJoinPairs(bands, Seq("band_id", "bkey"), idCol,
        buckets = 8, hotThreshold = 1024)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
    val sigA = keptMeta.select(col(idCol).as("doc_a"), TextDedup.sigArray.as("sig_a"))
    val sigB = keptMeta.select(col(idCol).as("doc_b"), TextDedup.sigArray.as("sig_b"))
    val pairs = cand
      .join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
      .filter(TextDedup.estSim(col("sig_a"), col("sig_b")) >= clusterThreshold)
      .select(col("doc_a"), col("doc_b"))
    val comps = NearDupClusters.connectedComponents(pairs)
      .withColumnRenamed("doc_id", idCol)

    // leakage-safe cluster split (t22's portable-hash convention)
    val splitB = pmod(
      graft.functions.exprs.token_hash60(col("cluster_id").cast("string")),
      lit(100L))
    val split = keptMeta.select(col(idCol), col("source"), col("tok"))
      .join(comps, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)))
      .withColumn("split",
        when(splitB < 80, "train").when(splitB < 90, "val").otherwise("test"))
      .select(col(idCol), col("source"), col("cluster_id"), col("split"), col("tok"))

    // per-source mixture gate on the train split
    val train = split.filter(col("split") === "train")
    val totals = train.groupBy(col("source")).agg(sum(col("tok")).as("src_tokens"))
    val mixB = pmod(
      graft.functions.exprs.token_hash60(
        concat(lit(mixSalt), col(idCol).cast("string"))), lit(10000L))
    val gated = train.join(broadcast(totals), Seq("source"))
      .withColumn("thr",
        least(lit(10000L),
          floor(lit(10000.0) * lit(mixBudget) / greatest(col("src_tokens"), lit(1L)))
            .cast("long")))
      .select(col(idCol), col("tok"), (mixB < col("thr")).as("sel"))
    val selected = gated.filter(col("sel")).select(col(idCol), col("tok"))

    // epoch shuffle + in-shard packing in shuffle order
    val sharded = Sharding.epochShuffle(selected, idCol, shardSalt, nShards)
    val packed = SeqPacking.packOrdered(
      sharded.join(selected, Seq(idCol))
        .select(col(idCol).as("doc_id"), col("shard").as("bucket"),
          col("pos").as("ord"), col("tok")),
      capacity)
      .select(col("doc_id").as(idCol), col("bin_id"))

    disp
      .join(split.select(col(idCol), col("cluster_id"), col("split"), col("tok")),
        Seq(idCol), "left")
      .join(gated.select(col(idCol), col("sel")), Seq(idCol), "left")
      .join(sharded, Seq(idCol), "left")
      .join(packed, Seq(idCol), "left")
      .select(col(idCol), col("dropped_at"), col("cluster_id"), col("split"),
        when(col("split").isNull, lit(null).cast("boolean"))
          .when(col("split") === "train", col("sel"))
          .otherwise(lit(true)).as("selected"),
        col("tok"), col("shard"), col("pos"), col("bin_id"))
  }
}
