package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Offline compaction for the incremental faces' segment stores — the
  * small-file answer every `Incremental*` Scaladoc defers to.
  *
  * A segment store is `stateDir/batch=<id>/`, one immutable segment
  * per processed batch, committed iff its `_SUCCESS` marker exists
  * ([[IncrementalHll]] / [[IncrementalQuantiles]] /
  * [[IncrementalGraphAnn]] / [[IncrementalHygieneLadder]]'s shared
  * contract). Every reader of such a store is a PURE FUNCTION of the
  * union of committed segment rows (register max-merge, KMV set-dedup
  * + re-bottom-k, fwd ∪ rev edge bottom-k, census sum) — so the raw
  * row union of N segments rewritten as ONE segment is
  * indistinguishable to every read path, no face-specific merge logic
  * needed. [[compactedCopy]] does exactly that, into a FRESH store:
  *
  *   - flat segments (the sketch faces: parquet files directly under
  *     `batch=<id>/`) → one union read, written as `batch=0`;
  *   - multi-part segments ([[IncrementalGraphAnn]]: named parquet
  *     subdirs `edges/`, `vectors/` + a manual marker) → one union
  *     read PER PART, written under `batch=0/<part>/`, the marker
  *     created last (the face's own crash protocol).
  *
  * Output files are sized to `targetBytesPerFile` from actual input
  * bytes (ceil(input bytes / target) partitions) — at 100 TB the point is
  * turning thousands of micro-batch files into scan-sized ones.
  *
  * Writing to a NEW directory side-steps every in-place hazard: the
  * copy is valid once its single segment commits, the old store stays
  * intact until the caller swaps paths, and a crash mid-copy leaves an
  * uncommitted (ignored, re-runnable) target. The swap itself is the
  * caller's single-writer duty: do it at a QUIESCENT batch boundary —
  * the engine's checkpoint committed past every folded batch — because
  * the copy renumbers history to segment 0, so a pre-compaction batch
  * id re-delivered against the new store would not be recognized as
  * committed. (For the value-idempotent sketch faces even that is
  * harmless — re-appending is absorbed by the merge algebra; for
  * [[IncrementalGraphAnn]] the id-clash guard turns it into an error
  * rather than silent corruption.)
  *
  * Uncommitted (crashed) segments in the source are excluded, exactly
  * as every read path excludes them.
  */
object SegmentCompaction {

  /** Union-read one part across segments and write it into the output
    * segment, preserving any physical partitioning the layout declares
    * for it (per-dir basePath reads — a naive multi-path read trips
    * partition discovery over the `batch=` parents — and a
    * repartition BY the partition columns so the fold doesn't explode
    * into files-per-task-per-partition-value).
    */
  private def copyPart(
      spark: SparkSession,
      fs: FileSystem,
      dirs: Seq[Path],
      out: Path,
      partCols: Seq[String],
      targetBytesPerFile: Long,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val n = sizedPartitions(fs, dirs, targetBytesPerFile)
    if (partCols.isEmpty) {
      transform(spark.read.parquet(dirs.map(_.toString): _*))
        .repartition(n)
        .write.parquet(out.toString)
    } else {
      import org.apache.spark.sql.functions.col
      transform(dirs
        .map(d => spark.read.option("basePath", d.toString).parquet(d.toString))
        .reduce(_.unionByName(_)))
        .repartition(n, partCols.map(col): _*)
        .write.partitionBy(partCols: _*).parquet(out.toString)
    }
  }

  private def partsOf(fs: FileSystem, seg: Path): Seq[String] =
    fs.listStatus(seg).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName)

  private def sizedPartitions(
      fs: FileSystem, dirs: Seq[Path], targetBytesPerFile: Long): Int = {
    val bytes = dirs.map(d => fs.getContentSummary(d).getLength).sum
    math.max(1, math.ceil(bytes.toDouble / targetBytesPerFile).toInt)
  }

  /** Fold every committed segment of `inStore` into a fresh store at
    * `outStore` holding the identical rows as ONE committed segment
    * `batch=0`. `outStore` must not already hold committed segments.
    *
    * @return number of committed segments folded
    */
  def compactedCopy(
      spark: SparkSession,
      inStore: String,
      outStore: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      layout: StorePolicy.Layout = StorePolicy.Layout()): Int = {
    val inPath = new Path(inStore)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = StorePolicy.committed(fs, inPath, marker = layout.commitMarker)
    require(segs.nonEmpty, s"no committed batches under $inStore")
    val outPath = new Path(outStore)
    // gate on committed BATCHES only: a crash between the tombstone
    // carry below and the batch fold leaves committed delete=0 rows,
    // and the retry must sail past them (it overwrites with identical
    // deterministic contents)
    require(StorePolicy.committed(fs, outPath).isEmpty,
      s"$outStore already holds committed segments")
    val outSeg = new Path(outPath, "batch=0")
    fs.delete(outSeg, true) // a crashed (uncommitted) prior attempt

    // tombstones ([[Tombstones]] `delete=<id>` segments) are part of
    // committed state — carry their union as `delete=0`, or the copy
    // would RESURRECT deleted rows. Written BEFORE the data fold: a
    // copy must never exist in a committed-batches-but-no-tombstones
    // state (that state SERVES the deleted rows), while the converse —
    // tombstones but no batches — is unreadable and retry-safe.
    Tombstones.deletedIds(spark, inStore).foreach(
      _.coalesce(1).write.mode("overwrite")
        .parquet(new Path(outPath, "delete=0").toString))

    val parts = partsOf(fs, segs.head._2)
    if (parts.isEmpty) {
      // flat segments: Spark's own _SUCCESS commits the copy
      copyPart(spark, fs, segs.map(_._2), outSeg,
        layout.partitionColsByPart.getOrElse("", Nil),
        targetBytesPerFile, identity)
    } else {
      parts.foreach { part =>
        val dirs = segs.map { case (_, p) => new Path(p, part) }
          .filter(fs.exists(_))
        copyPart(spark, fs, dirs, new Path(outSeg, part),
          layout.partitionColsByPart.getOrElse(part, Nil),
          targetBytesPerFile, identity)
      }
      // marker LAST — commits the multi-part segment atomically
      fs.create(new Path(outSeg, "_SUCCESS"), true).close()
    }
    segs.size
  }

  /** [[compactedCopy]] that additionally APPLIES the store's
    * tombstones: rows whose value in any of the part's id columns is
    * deleted are physically dropped, and the fresh store carries NO
    * tombstone segments — the vacuum that ends [[Tombstones]]' filter
    * cost and frees deleted ids for re-insertion. Read-equality with
    * the source store holds by construction: every serving read is a
    * pure function of (committed rows ∖ tombstoned rows), which is
    * exactly what the output materializes.
    *
    * @param idColsByPart id columns to subtract per part name; a flat
    *                     store uses the `""` key. A part with no entry
    *                     is copied unfiltered.
    */
  def vacuumedCopy(
      spark: SparkSession,
      inStore: String,
      outStore: String,
      idColsByPart: Map[String, Seq[String]],
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      layout: StorePolicy.Layout = StorePolicy.Layout()): Int = {
    val inPath = new Path(inStore)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = StorePolicy.committed(fs, inPath, marker = layout.commitMarker)
    require(segs.nonEmpty, s"no committed batches under $inStore")
    val outPath = new Path(outStore)
    require(StorePolicy.committed(fs, outPath).isEmpty &&
      StorePolicy.committed(fs, outPath, "delete=").isEmpty,
      s"$outStore already holds committed segments")
    val outSeg = new Path(outPath, "batch=0")
    fs.delete(outSeg, true)

    def vacuum(part: String)(df: org.apache.spark.sql.DataFrame) =
      Tombstones.dropDeleted(df, idColsByPart.getOrElse(part, Nil), inStore)
    val parts = partsOf(fs, segs.head._2)
    if (parts.isEmpty) {
      copyPart(spark, fs, segs.map(_._2), outSeg,
        layout.partitionColsByPart.getOrElse("", Nil),
        targetBytesPerFile, vacuum(""))
    } else {
      parts.foreach { part =>
        val dirs = segs.map { case (_, p) => new Path(p, part) }
          .filter(fs.exists(_))
        copyPart(spark, fs, dirs, new Path(outSeg, part),
          layout.partitionColsByPart.getOrElse(part, Nil),
          targetBytesPerFile, vacuum(part))
      }
      fs.create(new Path(outSeg, "_SUCCESS"), true).close()
    }
    segs.size
  }
}
