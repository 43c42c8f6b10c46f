package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tombstone deletes for the incremental faces' segment stores — the
  * production delete path (right-to-be-forgotten / takedown) an
  * append-only index needs. The batch segments stay IMMUTABLE:
  * a delete lands as its own committed segment `stateDir/delete=<id>/`
  * holding the deleted ids (`del_id`), and every SERVING read path
  * subtracts the union of committed tombstones before answering. The
  * read thereby stays a pure function of committed state, and all the
  * segment-store guarantees carry over unchanged:
  *
  *  - idempotent: a re-delivered delete id no-ops when committed and
  *    overwrites deterministically when partial (Spark's `_SUCCESS`
  *    commits the write); deleting an id twice — or an id that was
  *    never inserted — is harmless set union;
  *  - crash-safe: a partial tombstone without its marker is invisible
  *    to readers and re-runnable;
  *  - permanent until vacuumed: a tombstoned id cannot be re-inserted
  *    (the faces' id-clash guards check RAW state, tombstones
  *    included), because append-only segments cannot distinguish the
  *    dead rows from a re-insert — resurrection is a vacuum + fresh
  *    insert, the same rule LSM stores apply.
  *
  * INSERTION paths deliberately read raw (unfiltered) state: segment
  * contents must stay a pure function of (batch, prior BATCH
  * segments) so a crash-retry reproduces identical bytes even if a
  * delete landed in between. Serving quality on a heavily tombstoned
  * graph degrades gracefully (filtered nodes drop edges with them)
  * and is restored by [[SegmentCompaction.vacuumedCopy]], which
  * physically removes dead rows and the tombstones together.
  *
  * Scale shape: tombstones are request-sized (ids only, never
  * payload); the serving subtraction is a broadcast anti-join per id
  * column against the distinct tombstone union.
  */
object Tombstones {

  /** Commit one delete batch. Idempotent per `deleteId`; `ids` must
    * carry the id column named by `idCol`.
    */
  def append(ids: DataFrame, idCol: String, stateDir: String, deleteId: Long): Unit = {
    val spark = ids.sparkSession
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (StorePolicy.committed(fs, statePath, "delete=").exists(_._1 == deleteId)) return
    // explicit delete-before-write, mirroring the batch segments'
    // writeSegment crash protocol: mode("overwrite") would clear the
    // directory anyway, but making the cleanup explicit keeps the
    // "uncommitted attempt is removed wholesale, then rewritten"
    // invariant visible and identical on both segment kinds
    val target = new Path(statePath, s"delete=$deleteId")
    if (fs.exists(target)) fs.delete(target, true)
    ids.select(col(idCol).cast("long").as("del_id")).distinct()
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(target.toString)
  }

  /** Driver-side convenience for request-sized deletes. */
  def append(spark: SparkSession, stateDir: String, deleteId: Long, ids: Seq[Long]): Unit = {
    import spark.implicits._
    append(ids.toDF("del_id"), "del_id", stateDir, deleteId)
  }

  /** The union of committed tombstones — None when the store has
    * none, so callers skip the subtraction entirely.
    */
  def deletedIds(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val statePath = new Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = StorePolicy.committed(fs, statePath, "delete=")
    if (segs.isEmpty) None
    else Some(spark.read.parquet(segs.map(_._2.toString): _*).distinct())
  }

  /** Append-path guard: fail LOUDLY when a batch tries to insert a
    * tombstoned id — the serving subtraction could not tell the new
    * rows from the dead ones, so the insert would silently vanish.
    * (Also catches the preemptive-tombstone case: an id deleted
    * before it ever existed stays uninsertable, by the same rule.)
    */
  def requireNotTombstoned(batch: DataFrame, idCol: String, stateDir: String): Unit =
    deletedIds(batch.sparkSession, stateDir).foreach { del =>
      val clash = batch.join(del, batch(idCol) === del("del_id"), "left_semi").count()
      require(clash == 0,
        s"$clash batch ids are tombstoned in $stateDir — " +
          "deleted ids are unreusable until vacuumedCopy")
    }

  /** Subtract the store's tombstones from `df`: drop any row whose
    * value in ANY of `idCols` is deleted (an edge dies when EITHER
    * endpoint does). One anti-join per id column; the tombstone side
    * is parquet-backed with size stats, so Spark broadcasts it while
    * it is small — a tombstone set past broadcast size is the signal
    * to [[SegmentCompaction.vacuumedCopy]].
    */
  def dropDeleted(df: DataFrame, idCols: Seq[String], stateDir: String): DataFrame =
    subtract(df, idCols, deletedIds(df.sparkSession, stateDir))

  /** [[dropDeleted]] with the tombstone union already in hand — for
    * readers subtracting from several frames in one query (BM25's
    * docs + postings, the graph's edges + vectors), so the `delete=`
    * listing and union happen once per read, not once per frame.
    */
  def subtract(df: DataFrame, idCols: Seq[String], deleted: Option[DataFrame]): DataFrame =
    deleted match {
      case None => df
      case Some(del) =>
        idCols.foldLeft(df)((acc, c) =>
          acc.join(del, acc(c) === del("del_id"), "left_anti"))
    }
}
