package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** WHEN to run [[SegmentCompaction]] — the decision the mechanisms
  * deliberately left to the caller, now a size-tiered policy over
  * observable store state (the LSM convention: compact on accumulation,
  * vacuum on tombstone pressure).
  *
  * Signals, in priority order:
  *
  *  1. **Vacuum** when the committed tombstone union approaches
  *     broadcast size — the exact signal [[Tombstones.dropDeleted]]
  *     names: the serving subtraction is an anti-join whose tombstone
  *     side Spark broadcasts while small; a union past broadcast size
  *     turns every read into a shuffled anti-join, so the store should
  *     physically drop the dead rows (which also frees the ids for
  *     re-insertion). Vacuum subsumes compaction — the output is one
  *     segment with no tombstones.
  *  2. **Compact** when committed segments exceed `maxSegments` OR the
  *     small-file ratio crosses `smallFileRatio` (files below
  *     `smallFileBytes` — micro-batch dribble) — the read-side
  *     listing/footer cost grows with both, and the fold is
  *     read-identity by SegmentCompaction's pure-function-of-row-union
  *     argument.
  *  3. **NoOp** otherwise.
  *
  * The policy only DECIDES and (via [[maintainedCopy]]) materializes a
  * fresh store; the path swap stays the single-writer's duty at a
  * quiescent batch boundary, exactly as [[SegmentCompaction]]'s
  * Scaladoc prescribes. Thresholds are deployment knobs; the defaults
  * encode the reasoning above (8 MB tombstones ≈ Spark's default
  * broadcast-join threshold with headroom; 16 segments ≈ where
  * per-read listing overhead beats one fold's cost; small file =
  * < 1/4 of the 128 MB compaction target).
  */
object StorePolicy {

  sealed trait Action
  case object NoOp extends Action
  case object Compact extends Action
  case object Vacuum extends Action

  /** Store layout descriptor — the ONE fact sheet a face hands the
    * policy/compaction machinery so the whole maintenance loop is
    * generic (the r15 verdict's "store layout descriptor →
    * idColsByPart" hook, widened with the two other things layouts
    * actually differ in):
    *
    *  - `commitMarker`: relative path under `batch=<id>` whose
    *    existence commits a segment. The sketch faces use Spark's own
    *    segment-level `_SUCCESS`; the multi-part faces that commit via
    *    their LAST-WRITTEN part's parquet marker name it here
    *    (`postings/_SUCCESS`, `codes/_SUCCESS`, `edges/_SUCCESS`,
    *    `census/_SUCCESS`) — without it the policy would see zero
    *    committed segments and never fire. The face's own readers
    *    pass this same marker to [[committed]], so reads, the policy
    *    and compaction judge commitment by one marker.
    *  - `idColsByPart`: vacuum's id columns per part
    *    ([[SegmentCompaction.vacuumedCopy]]'s contract; flat stores
    *    key on `""`).
    *  - `partitionColsByPart`: physical partition columns a part's
    *    segments are written with (IncrementalAnn's `codes` are
    *    cell-partitioned for probe pruning) — the maintained copy
    *    must re-write with the same partitioning or compaction would
    *    silently trade away the read path's partition pruning.
    *
    * Maintained copies always commit their single output segment with
    * a segment-level `_SUCCESS` (flat: Spark's own; multi-part: manual
    * marker last) IN ADDITION to the per-part parquet markers, so the
    * output is committed under both conventions and every face reads
    * it unchanged.
    */
  final case class Layout(
      commitMarker: String = "_SUCCESS",
      idColsByPart: Map[String, Seq[String]] = Map.empty,
      partitionColsByPart: Map[String, Seq[String]] = Map.empty)

  /** Observable state the policy decides on, derived by [[statsOf]]
    * from the store's filesystem layout alone (committed segments
    * only — uncommitted attempts are invisible to reads and to the
    * policy alike).
    */
  final case class StoreStats(
      committedSegments: Int,
      dataFiles: Int,
      smallDataFiles: Int,
      dataBytes: Long,
      tombstoneBytes: Long) {
    def smallFileRatio: Double =
      if (dataFiles == 0) 0.0 else smallDataFiles.toDouble / dataFiles
  }

  final case class Config(
      maxSegments: Int = 16,
      smallFileBytes: Long = 32L * 1024 * 1024,
      smallFileRatio: Double = 0.5,
      vacuumTombstoneBytes: Long = 8L * 1024 * 1024)

  /** The committed segments under `statePath`, as `(id, path)` pairs:
    * the `<prefix><id>` directories that hold `marker`. A directory
    * whose id does not parse is not a segment. This is the one commit
    * rule every incremental face, [[SegmentCompaction]] and this
    * policy read by, so a segment is committed for all of them or for
    * none.
    */
  private[graft] def committed(
      fs: FileSystem, statePath: Path, prefix: String = "batch=",
      marker: String = "_SUCCESS"): Seq[(Long, Path)] =
    if (!fs.exists(statePath)) Seq.empty
    else fs.listStatus(statePath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.stripPrefix(prefix).toLong)
          .toOption.map(id => (id, st.getPath)))
      .filter { case (_, p) => fs.exists(new Path(p, marker)) }

  /** Walk the store once: committed `batch=` segments' parquet data
    * files (recursive — multi-part segments keep data under named
    * subdirs) and the committed `delete=` union's bytes. Segment
    * commit-ness is judged by the layout's marker; tombstone segments
    * always commit with Spark's own `_SUCCESS`.
    */
  def statsOf(
      spark: SparkSession, stateDir: String, cfg: Config = Config(),
      layout: Layout = Layout()): StoreStats = {
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = committed(fs, statePath, marker = layout.commitMarker).map(_._2)
    def dataFilesUnder(p: Path): Seq[Long] = {
      val it = fs.listFiles(p, true)
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && !name.startsWith("_") && !name.startsWith("."))
          sizes += st.getLen
      }
      sizes.toSeq
    }
    val sizes = segs.flatMap(dataFilesUnder)
    val tombBytes = committed(fs, statePath, "delete=")
      .map(_._2).flatMap(dataFilesUnder).sum
    StoreStats(
      committedSegments = segs.size,
      dataFiles = sizes.size,
      smallDataFiles = sizes.count(_ < cfg.smallFileBytes),
      dataBytes = sizes.sum,
      tombstoneBytes = tombBytes)
  }

  /** The decision alone — pure, unit-testable. */
  def decide(stats: StoreStats, cfg: Config = Config()): Action =
    if (stats.committedSegments == 0) NoOp
    else if (stats.tombstoneBytes >= cfg.vacuumTombstoneBytes) Vacuum
    else if (stats.committedSegments > cfg.maxSegments ||
      (stats.dataFiles > 1 && stats.smallFileRatio >= cfg.smallFileRatio &&
        stats.committedSegments > 1)) Compact
    else NoOp

  /** Decide on `inStore` and, when action is due, materialize the
    * fresh store at `outStore` ([[SegmentCompaction.compactedCopy]] /
    * [[SegmentCompaction.vacuumedCopy]]). Returns the action taken;
    * on [[NoOp]] nothing is written. The caller swaps paths at a
    * quiescent batch boundary — or calls [[maintain]], which runs
    * this copy AND the swap as one crash-recoverable protocol.
    *
    * @param layout the store's [[Layout]] (commit marker, vacuum id
    *               columns, physical partitioning)
    */
  def maintainedCopy(
      spark: SparkSession,
      inStore: String,
      outStore: String,
      layout: Layout,
      cfg: Config = Config()): Action = {
    val action = decide(statsOf(spark, inStore, cfg, layout), cfg)
    action match {
      case NoOp =>
      case Compact =>
        SegmentCompaction.compactedCopy(spark, inStore, outStore,
          layout = layout)
      case Vacuum =>
        SegmentCompaction.vacuumedCopy(spark, inStore, outStore,
          layout.idColsByPart, layout = layout)
    }
    action
  }

  /** The CLOSED LOOP: decide → materialize → path-swap, in place —
    * the maintenance hook the incremental stores call after an append
    * (e.g. [[IncrementalGraphAnn.appendAndMaintain]]), so segment
    * accumulation and tombstone pressure are relieved automatically
    * instead of by an operator remembering to run the copy.
    *
    * Protocol (single-writer, at a QUIESCENT batch boundary — no
    * concurrent reader or writer, SegmentCompaction's documented swap
    * contract; assumes atomic directory rename, i.e. HDFS/local
    * semantics):
    *
    *  1. [[recover]] any interrupted prior attempt (below);
    *  2. [[maintainedCopy]] into `<stateDir>.maint` — on [[NoOp]]
    *     nothing was written and nothing swaps;
    *  3. swap: rename `stateDir` → `<stateDir>.old`, rename the
    *     committed `.maint` → `stateDir`, delete `.old`.
    *
    * Every crash window re-converges on the next call: a crash during
    * (2) leaves the live store untouched and an uncommitted-or-stale
    * `.maint` that recovery deletes; between the two renames of (3)
    * the live path is briefly absent but `.old` + a COMMITTED `.maint`
    * uniquely identify the state and recovery completes the swap;
    * after the second rename, recovery just deletes the leftover
    * `.old`. Reads are identical before and after any action by
    * SegmentCompaction's pure-function-of-row-union argument —
    * StorePolicySpec pins the append-loop behavior, the threshold
    * crossings, and both crash recoveries.
    *
    * The copy renumbers history to `batch=0`, so the writer's batch-id
    * bookkeeping must not re-deliver pre-swap ids (the sketch faces
    * absorb them; [[IncrementalGraphAnn]]'s id-clash guard errors —
    * its class doc's retry exception).
    */
  def maintain(
      spark: SparkSession,
      stateDir: String,
      layout: Layout,
      cfg: Config = Config()): Action = {
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val work = new Path(stateDir + ".maint")
    val old = new Path(stateDir + ".old")
    recover(fs, statePath, work, old)
    val action = maintainedCopy(spark, stateDir, work.toString, layout, cfg)
    if (action != NoOp) {
      // maintained copies always commit with a segment-level marker
      // (flat: Spark's own; multi-part: manual, written last)
      require(committed(fs, work).nonEmpty,
        s"maintenance copy at $work did not commit")
      // carry store-level AUX state the copy does not produce (e.g.
      // IncrementalAnn's frozen `model/`) — everything that is not a
      // segment, a tombstone, or a marker — or the swap would drop it
      fs.listStatus(statePath).toSeq
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          !n.startsWith("batch=") && !n.startsWith("delete=") &&
            !n.startsWith("_") && !n.startsWith(".")
        }
        .foreach { p =>
          require(org.apache.hadoop.fs.FileUtil.copy(
            fs, p, fs, new Path(work, p.getName), false, true,
            spark.sparkContext.hadoopConfiguration),
            s"maintenance: aux copy of $p into $work failed")
        }
      require(fs.rename(statePath, old), s"swap: rename $statePath -> $old failed")
      require(fs.rename(work, statePath), s"swap: rename $work -> $statePath failed")
      fs.delete(old, true)
    }
    action
  }

  /** Re-converge after a crashed [[maintain]]. Idempotent; called at
    * every maintain entry. State is identified by which of the three
    * dirs exist (see maintain's window analysis): a missing live dir
    * with a committed `.maint` resumes the swap; a missing live dir
    * with no committed `.maint` rolls `.old` back (defensive — the
    * protocol never reaches it); otherwise leftovers are deleted.
    */
  private def recover(
      fs: FileSystem, statePath: Path, work: Path, old: Path): Unit = {
    if (fs.exists(old)) {
      if (!fs.exists(statePath)) {
        if (committed(fs, work).nonEmpty) {
          require(fs.rename(work, statePath),
            s"recovery: rename $work -> $statePath failed")
        } else {
          require(fs.rename(old, statePath),
            s"recovery: rollback $old -> $statePath failed")
        }
      }
      fs.delete(old, true)
    }
    // a stale copy target (crashed before or during the copy, or a
    // completed copy whose swap never started) is simply redone — the
    // decision may differ now that more segments have landed
    fs.delete(work, true)
  }
}
