package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Tombstone deletes on the incremental index faces: IVF×PQ filtered
  * search ≡ the index built WITHOUT the deleted vectors (the frozen
  * model makes that an exact frame equality, not a recall bound);
  * delete idempotence / crash repair; graph-ANN serving excludes
  * deleted endpoints while insertion stays tombstone-blind; and the
  * two compaction paths — carry (compactedCopy) and vacuum
  * (vacuumedCopy, which also frees the ids for re-insertion).
  */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  private val (nCents, pqM, pqK, dim, nprobe, topK, nq) = (16, 4, 16, 64, 4, 5, 8)
  private val (gK, gBeam, gHops) = (10, 20, 3)

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val vecs = Tables.embeddings(spark, sfDir).cache()
  private lazy val queries = vecs.filter($"vec_id" < nq)
    .select($"vec_id", $"embedding")
  private lazy val maxId = vecs.agg(max($"vec_id")).head().getLong(0)
  // deleted: a spread of corpus ids, none of them query ids
  private lazy val dead = Seq(maxId, maxId / 2, maxId / 3, nq.toLong + 1)

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- IVF×PQ face ----

  private def buildAnn(dir: String, rows: org.apache.spark.sql.DataFrame): Unit = {
    IncrementalAnn.createIndex(vecs, "embedding", "vec_id", dir, nCents, pqM, pqK, dim)
    val half = maxId / 2
    IncrementalAnn.appendBatch(
      rows.filter($"vec_id" <= half), "embedding", "vec_id", dir, 0L)
    IncrementalAnn.appendBatch(
      rows.filter($"vec_id" > half), "embedding", "vec_id", dir, 1L)
  }

  private def annSearch(dir: String): Set[String] =
    IncrementalAnn.searchTopK(spark, dir, queries, "vec_id", "embedding", nprobe, topK)
      .collect().map(_.toString).toSet

  test("IVF-PQ: tombstoned search == the index built without the deleted vectors") {
    val full = freshDir("ts_ann_full")
    buildAnn(full, vecs)
    Tombstones.append(spark, full, 0L, dead :+ (maxId + 999L)) // + never-inserted id
    val survivors = freshDir("ts_ann_surv")
    // same refVecs -> identical frozen model, so equality is exact
    buildAnn(survivors, vecs.filter(!$"vec_id".isInCollection(dead)))
    assert(annSearch(full) == annSearch(survivors),
      "filtered search differs from the survivors-only index")
  }

  test("delete re-delivery is a no-op; a crashed tombstone is invisible then repaired") {
    val dir = freshDir("ts_ann_redeliver")
    buildAnn(dir, vecs)
    Tombstones.append(spark, dir, 7L, Seq(maxId))
    val afterDelete = annSearch(dir)
    val neighbors = IncrementalAnn
      .searchTopK(spark, dir, queries, "vec_id", "embedding", nprobe, topK)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(!neighbors.contains(maxId), "deleted id still returned")
    // same delete id re-delivered with DIFFERENT contents: committed -> no-op
    Tombstones.append(spark, dir, 7L, Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(annSearch(dir) == afterDelete, "committed delete id was not a no-op")
    // crashed partial tombstone: no _SUCCESS -> invisible
    Tombstones.append(spark, dir, 8L, dead)
    val f = fs(dir)
    f.delete(new Path(s"$dir/delete=8/_SUCCESS"), false)
    assert(annSearch(dir) == afterDelete, "uncommitted tombstone leaked into a read")
    // retry commits and applies
    Tombstones.append(spark, dir, 8L, dead)
    val survivors = freshDir("ts_ann_surv2")
    buildAnn(survivors, vecs.filter(!$"vec_id".isInCollection(dead :+ maxId)))
    assert(annSearch(dir) == annSearch(survivors), "retried delete not applied")
  }

  // ---- BM25 inverted-index face ----

  test("BM25: tombstoned search == the index built without the deleted docs " +
    "(global stats shift with the deletion)") {
    val docs = Tables.documents(spark, sfDir).cache()
    val qt = docs.filter($"doc_id" % 97 === 0)
      .select($"doc_id".as("query_id"),
        explode(graft.functions.exprs.term_freqs($"text").getField("freqs")).as("f"))
      .select($"query_id", $"f.term".as("term"))
    val maxDoc = docs.agg(max($"doc_id")).head().getLong(0)
    // kill docs likely to appear in results (neighbors of query docs)
    // plus arbitrary ones — stats must shift either way
    val deadDocs = Seq(1L, 2L, maxDoc / 2, maxDoc)
    val half = maxDoc / 2

    def build(dir: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      IncrementalIndex.appendBatch(
        rows.filter($"doc_id" <= half), "doc_id", "text", dir, 0L)
      IncrementalIndex.appendBatch(
        rows.filter($"doc_id" > half), "doc_id", "text", dir, 1L)
    }
    val full = freshDir("ts_bm25_full")
    build(full, docs)
    Tombstones.append(spark, full, 0L, deadDocs)
    val survivors = freshDir("ts_bm25_surv")
    build(survivors, docs.filter(!$"doc_id".isInCollection(deadDocs)))
    val got = IncrementalIndex.searchTopK(spark, full, qt).collect().toSet
    val want = IncrementalIndex.searchTopK(spark, survivors, qt).collect().toSet
    assert(got.nonEmpty && got == want,
      s"filtered BM25 (${got.size} rows) differs from the survivors-only index (${want.size})")
  }

  // ---- graph-ANN face ----

  private lazy val graphStore: String = {
    val dir = freshDir("ts_graph")
    val half = maxId / 2
    IncrementalGraphAnn.createIndex(
      vecs.filter($"vec_id" <= half).select($"vec_id", $"embedding"),
      dir, gK, rounds = 3)
    IncrementalGraphAnn.appendBatch(
      vecs.filter($"vec_id" > half).select($"vec_id", $"embedding"),
      dir, 1L, gK, gBeam, gHops)
    Tombstones.append(spark, dir, 0L, dead)
    dir
  }

  private def graphRows(dir: String): Set[(Long, Long, Long, Int)] =
    IncrementalGraphAnn.currentGraph(spark, dir, gK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet

  test("graph-ANN: serving graph and search exclude every deleted endpoint") {
    val g = graphRows(graphStore)
    assert(g.nonEmpty)
    dead.foreach { d =>
      assert(!g.exists(e => e._1 == d || e._2 == d), s"deleted $d still in graph")
    }
    // structural validity survives the subtraction
    g.groupBy(_._1).foreach { case (id, edges) =>
      assert(edges.size <= gK, s"node $id has ${edges.size} > k edges")
      assert(edges.map(_._4).toSeq.sorted == (1 to edges.size),
        s"node $id ranks not contiguous")
    }
    val found = IncrementalGraphAnn
      .searchTopK(spark, graphStore, queries.select($"vec_id".as("q_id"),
        $"embedding".as("q_emb")), gK, gBeam, gHops)
      .select($"node").as[Long].collect().toSet
    assert(found.nonEmpty && dead.forall(d => !found.contains(d)),
      "a deleted id came back from search")
  }

  test("graph-ANN: a tombstoned id cannot be re-inserted; fresh ids still append") {
    val err = intercept[IllegalArgumentException] {
      IncrementalGraphAnn.appendBatch(
        Seq((dead.head, Seq.fill(dim)(0.1f))).toDF("vec_id", "embedding"),
        graphStore, 2L, gK, gBeam, gHops)
    }
    assert(err.getMessage.contains("already committed"))
    IncrementalGraphAnn.appendBatch(
      Seq((maxId + 1L, Seq.fill(dim)(0.1f))).toDF("vec_id", "embedding"),
      graphStore, 3L, gK, gBeam, gHops)
    assert(graphRows(graphStore).exists(_._1 == maxId + 1L),
      "fresh append blocked by tombstones")
  }

  test("a PREEMPTIVE tombstone (id never inserted) makes a later insert fail loudly") {
    Tombstones.append(spark, graphStore, 5L, Seq(maxId + 999L))
    val err = intercept[IllegalArgumentException] {
      IncrementalGraphAnn.appendBatch(
        Seq((maxId + 999L, Seq.fill(dim)(0.3f))).toDF("vec_id", "embedding"),
        graphStore, 4L, gK, gBeam, gHops)
    }
    assert(err.getMessage.contains("tombstoned"),
      s"preemptive tombstone must reject the insert, not swallow it: ${err.getMessage}")
  }

  test("compactedCopy retries past a crash that left only the tombstone carry") {
    // simulate: prior attempt wrote delete=0 (committed) then died
    // before the batch fold — the retry must proceed, not be blocked
    val out = freshDir("ts_carry_crash")
    Tombstones.append(spark, out, 0L, dead)
    SegmentCompaction.compactedCopy(spark, graphStore, out)
    assert(graphRows(out) == graphRows(graphStore),
      "retry after a carry-only crash serves a different graph")
  }

  test("compactedCopy carries tombstones; vacuumedCopy removes rows AND frees ids") {
    val carried = freshDir("ts_carry")
    SegmentCompaction.compactedCopy(spark, graphStore, carried)
    assert(graphRows(carried) == graphRows(graphStore),
      "compacted copy serves a different graph")
    assert(StorePolicy.committed(fs(carried), new Path(carried), "delete=").nonEmpty,
      "tombstones dropped by compaction — deleted rows resurrected")

    val clean = freshDir("ts_vacuum")
    IncrementalGraphAnn.vacuumedCopy(spark, graphStore, clean)
    assert(graphRows(clean) == graphRows(graphStore),
      "vacuumed copy serves a different graph")
    assert(StorePolicy.committed(fs(clean), new Path(clean), "delete=").isEmpty,
      "vacuumed store still holds tombstones")
    // physically absent, not just filtered
    val rawVecs = IncrementalGraphAnn
      .vectors(spark, clean, applyDeletes = false)
      .select($"vec_id").as[Long].collect().toSet
    dead.foreach(d => assert(!rawVecs.contains(d), s"$d survived the vacuum"))
    // and the id is free again: re-inserting a vacuumed id succeeds
    IncrementalGraphAnn.appendBatch(
      Seq((dead.head, Seq.fill(dim)(0.2f))).toDF("vec_id", "embedding"),
      clean, 1L, gK, gBeam, gHops)
    assert(graphRows(clean).exists(_._1 == dead.head),
      "vacuum did not free the deleted id")
  }
}
