package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-shape probe for the incremental faces — every stream ≡ batch
  * spec runs at planted-fixture scale (hundreds of rows), so this tool
  * is the first measurement of the per-batch cost CURVES on a real
  * corpus: does ingesting batch k cost more than batch 1 because of
  * accumulated state?
  *
  * Probe 1 (`manifest`): the sf corpus (pipe02's normalize + bench
  * split) in `nBatches` id-ordered batches through
  * [[graft.operators.IncrementalManifest.processBatch]]; per-batch
  * ingest wall, a mid-stream and a final [[IncrementalManifest
  * .manifest]] read wall (the read re-derives clusters over the FULL
  * kept set from stored signatures — by design, since kept-ness is
  * only final at read time; the read curve is the cost of that
  * design), and an identity assert against the registry's one-shot
  * pipe02 frame.
  *
  * Probe 2 (`graphann`): the sf embeddings through
  * [[graft.operators.IncrementalGraphAnn]] — createIndex on the first
  * chunk (dense-id bootstrap), then append/maintain per batch;
  * per-batch wall (each append beam-probes the PRIOR store: the curve
  * measures search-cost growth with store size) plus a final
  * distributed search sanity count.
  *
  * Output: one JSON line per measurement
  * (`{"probe":...,"step":...,"wall_s":...}`), stdout, greppable by
  * `^\{`. Identity failures exit nonzero — this tool is also the
  * sf-scale identity gate the specs can't afford.
  *
  * Probes 3-5 (`index`, `ann`, `spancensus`, added r20): the remaining
  * incremental faces with real read traffic. All three read paths are
  * pure segment unions (no read-time recompute), so each probe times
  * the per-batch ingest curve, a mid-stream and final read/search, and
  * asserts sf-scale identity against a one-shot pass over the same
  * corpus (postings, PQ codes, census counts respectively).
  *
  * Usage: runMain graft.tools.IncrementalProbe [sfDir] [nBatches] [face]
  *
  * `face` (all|manifest|graphann|index|ann|spancensus, default all)
  * selects one probe so the
  * two faces can be sized INDEPENDENTLY: appendBatch's intra-batch
  * candidate pass is |B|² driver tuples BY CONTRACT (micro-batches), so
  * the graph face needs many small batches, while the manifest face
  * wants few large ones — one shared nBatches mis-sizes one of them at
  * big SF (r19: 20k-vector appends stalled the driver in a 400 M-tuple
  * groupBy for 35+ min; 2k appends run in seconds).
  */
object IncrementalProbe {
  private def num(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val face = if (args.length > 2) args(2) else "all"
    require(Set("all", "manifest", "graphann", "index", "ann", "spancensus")(face),
      s"face must be all|manifest|graphann|index|ann|spancensus, got '$face'")
    def runs(f: String): Boolean = face == "all" || face == f
    val spark = graft.core.GraftSession.local(appName = "incremental-probe")
    import spark.implicits._

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def line(probe: String, step: String, wall: Double, extra: String = ""): Unit =
      println(s"""{"probe":"$probe","step":"$step","wall_s":${num(wall)}$extra}""")

    // ---- probe 1: hygiene ladder + manifest ----
    if (runs("manifest")) locally {
      import graft.core.Tables
      val dir = java.nio.file.Files.createTempDirectory("incprobe_man").toString
      val docs = Tables.documents(spark, sfDir)
      val norm = graft.functions.exprs.normalize_text($"text")
      val bench = docs.filter($"doc_id" % 37 === 0)
        .select($"doc_id", norm.as("text")).localCheckpoint()
      val corp = docs.filter($"doc_id" % 37 =!= 0)
        .select($"doc_id", norm.as("text"), $"source").localCheckpoint()
      val ids = corp.select($"doc_id").orderBy($"doc_id").as[Long].collect()
      val cuts = (1 until nBatches).map(i => ids(i * ids.length / nBatches))
      val ranges = (Long.MinValue +: cuts) :+ Long.MaxValue
      for (i <- 0 until nBatches) {
        val batch = corp.filter($"doc_id" >= ranges(i) && $"doc_id" < ranges(i + 1))
        val (_, w) = timed(graft.operators.IncrementalManifest.processBatch(
          batch, bench, "doc_id", "text", "source", dir, i.toLong))
        line("manifest", s"ingest_$i", w, s""","rows":${batch.count()}""")
        if (i == nBatches / 2 - 1 || i == nBatches - 1) {
          val (cnt, wr) = timed(
            graft.operators.IncrementalManifest.manifest(spark, dir, "doc_id").count())
          line("manifest", s"read_after_$i", wr, s""","rows":$cnt""")
        }
      }
      // identity vs the one-shot registry frame (what the oracle hashes)
      val inc = graft.operators.IncrementalManifest.manifest(spark, dir, "doc_id")
      val one = graft.queries.Registry.byName("pipe02_manifest").run(spark, sfDir)
      val diff = inc.exceptAll(one).count() + one.exceptAll(inc).count()
      line("manifest", "identity_diff_rows", 0.0, s""","rows":$diff""")
      require(diff == 0, s"incremental manifest diverges from one-shot pipe02 by $diff rows")
    }

    // ---- probe 2: graph-ANN append/maintain loop ----
    if (runs("graphann")) locally {
      import graft.core.Tables
      val dir = java.nio.file.Files.createTempDirectory("incprobe_ann").toString
      val emb = Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"embedding").localCheckpoint()
      val n = emb.count()
      val bootN = n / 2 // dense 0..bootN-1 bootstrap, rest appended
      val (_, wBoot) = timed(graft.operators.IncrementalGraphAnn.createIndex(
        emb.filter($"vec_id" < bootN), dir, k = 8, rounds = 3))
      line("graphann", "bootstrap", wBoot, s""","rows":$bootN""")
      val rest = n - bootN
      var maintained = 0
      for (i <- 0 until nBatches) {
        val lo = bootN + i * rest / nBatches
        val hi = bootN + (i + 1) * rest / nBatches
        val batch = emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        val (act, w) = timed(graft.operators.IncrementalGraphAnn.appendAndMaintain(
          batch, dir, (i + 1).toLong, k = 8, beam = 16, hops = 3))
        if (act != graft.operators.StorePolicy.NoOp) maintained += 1
        line("graphann", s"append_$i", w,
          s""","rows":${hi - lo},"action":"$act"""")
      }
      val probes = emb.filter($"vec_id" % 97 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val (hits, wS) = timed(graft.operators.IncrementalGraphAnn
        .searchTopKDistributed(spark, dir, probes, 10, 16, 3).count())
      line("graphann", "search", wS, s""","rows":$hits,"maintained":$maintained""")
      require(hits > 0, "post-loop distributed search returned nothing")
    }

    // ---- probe 3: inverted index / BM25 segment store ----
    // Risk profile: the read path is a pure segment union (no read-time
    // recompute like manifest's cluster re-derivation), so the curve to
    // watch is searchTopK vs accumulated postings volume, plus whether
    // per-batch appendBatch cost stays flat.
    if (runs("index")) locally {
      import graft.core.Tables
      val dir = java.nio.file.Files.createTempDirectory("incprobe_idx").toString
      val docs = Tables.documents(spark, sfDir)
        .select($"doc_id", $"text").localCheckpoint()
      val ids = docs.select($"doc_id").orderBy($"doc_id").as[Long].collect()
      val cuts = (1 until nBatches).map(i => ids(i * ids.length / nBatches))
      val ranges = (Long.MinValue +: cuts) :+ Long.MaxValue
      // model-sized query set at any SF: ~50 query docs' terms
      val qMod = math.max(97L, ids.length / 50L)
      val qt = docs.filter($"doc_id" % qMod === 0)
        .select($"doc_id".as("query_id"),
          explode(graft.functions.exprs.term_freqs($"text").getField("freqs")).as("f"))
        .select($"query_id", $"f.term".as("term")).localCheckpoint()
      for (i <- 0 until nBatches) {
        val batch = docs.filter($"doc_id" >= ranges(i) && $"doc_id" < ranges(i + 1))
        val (_, w) = timed(graft.operators.IncrementalIndex.appendBatch(
          batch, "doc_id", "text", dir, i.toLong))
        line("index", s"ingest_$i", w, s""","rows":${batch.count()}""")
        if (i == nBatches / 2 - 1 || i == nBatches - 1) {
          // aggregate THROUGH the data columns (CLAUDE.md r14: a bare
          // count lets pruning skip the postings payload)
          val (_, wr) = timed {
            val (d, p) = graft.operators.IncrementalIndex.load(spark, dir)
            d.agg(sum($"dl")).collect()
            p.agg(sum($"tf"), count($"term")).collect()
          }
          line("index", s"read_after_$i", wr)
          val (hits, ws) = timed(graft.operators.IncrementalIndex
            .searchTopK(spark, dir, qt).count())
          line("index", s"search_after_$i", ws, s""","rows":$hits""")
        }
      }
      // identity: accumulated segments vs a one-shot kernel pass over
      // the same corpus — postings equality implies search equality
      // (searchTopK scores through the same Bm25.scoreTopK stage)
      val (iDocs, iPost) = graft.operators.IncrementalIndex.load(spark, dir)
      val one = docs.select($"doc_id",
        graft.functions.exprs.term_freqs($"text").as("p"))
      val oneDocs = one.select($"doc_id", $"p.dl".as("dl"))
      val onePost = one.select($"doc_id", explode($"p.freqs").as("f"))
        .select($"doc_id", $"f.term".as("term"), $"f.tf".as("tf"))
      val dDiff = iDocs.exceptAll(oneDocs).count() + oneDocs.exceptAll(iDocs).count()
      val pDiff = iPost.exceptAll(onePost).count() + onePost.exceptAll(iPost).count()
      line("index", "identity_diff_rows", 0.0, s""","rows":${dDiff + pDiff}""")
      require(dDiff + pDiff == 0,
        s"incremental index diverges from one-shot: docs $dDiff postings $pDiff")
    }

    // ---- probe 4: IVF x PQ code store ----
    if (runs("ann")) locally {
      import graft.core.Tables
      val dir = java.nio.file.Files.createTempDirectory("incprobe_ivfpq").toString
      val emb = Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"embedding").localCheckpoint()
      val n = emb.count()
      // frozen geometry from the first half (the dense-prefix reference
      // frame), codes appended over the FULL id range in nBatches
      val (model, wFit) = timed(graft.operators.IncrementalAnn.createIndex(
        emb.filter($"vec_id" < n / 2), "embedding", "vec_id", dir,
        nCentroids = 16, m = 4, k = 16, dim = 64))
      line("ann", "fit_model", wFit, s""","rows":${n / 2}""")
      val queries = emb.filter($"vec_id" % math.max(97L, n / 100L) === 0)
        .select($"vec_id", $"embedding").localCheckpoint()
      for (i <- 0 until nBatches) {
        val lo = i * n / nBatches
        val hi = (i + 1) * n / nBatches
        val batch = emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        val (_, w) = timed(graft.operators.IncrementalAnn.appendBatch(
          batch, "embedding", "vec_id", dir, i.toLong))
        line("ann", s"ingest_$i", w, s""","rows":${hi - lo}""")
        if (i == nBatches / 2 - 1 || i == nBatches - 1) {
          val (hits, ws) = timed(graft.operators.IncrementalAnn.searchTopK(
            spark, dir, queries, "vec_id", "embedding",
            nprobe = 4, topK = 10).count())
          line("ann", s"search_after_$i", ws, s""","rows":$hits""")
        }
      }
      // identity: accumulated code segments vs one-shot encode of the
      // full corpus against the SAME frozen model
      // exceptAll compares POSITIONALLY, and a partitionBy("c_id")
      // read-back appends the partition column last — pin one explicit
      // column order (and c_id width) on both sides
      val codeCols = $"vec_id" +: $"c_id".cast("long").as("c_id") +:
        (0 until model.cb.m).map(j => col(s"code_$j"))
      val committedCodes = {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.operators.StorePolicy.committed(fs, p,
          marker = graft.operators.IncrementalAnn.layout().commitMarker)
          .map { case (_, b) => spark.read.option("basePath", s"$b/codes")
            .parquet(s"$b/codes").select(codeCols: _*) }
          .reduce(_.unionByName(_))
      }
      val oneCodes = graft.operators.ProductQuantizer.encode(
        emb.select($"vec_id", $"embedding",
          graft.functions.exprs.coarse_assign_cell($"embedding", model.centroids).as("c_id")),
        "embedding", model.cb)
        .select(codeCols: _*)
      val cDiff = committedCodes.exceptAll(oneCodes).count() +
        oneCodes.exceptAll(committedCodes).count()
      line("ann", "identity_diff_rows", 0.0, s""","rows":$cDiff""")
      require(cDiff == 0, s"incremental IVFxPQ codes diverge from one-shot by $cDiff rows")
    }

    // ---- probe 5: span census store ----
    if (runs("spancensus")) locally {
      import graft.core.Tables
      val dir = java.nio.file.Files.createTempDirectory("incprobe_span").toString
      val docs = Tables.documents(spark, sfDir)
        .select($"doc_id", $"text").localCheckpoint()
      val ids = docs.select($"doc_id").orderBy($"doc_id").as[Long].collect()
      val cuts = (1 until nBatches).map(i => ids(i * ids.length / nBatches))
      val ranges = (Long.MinValue +: cuts) :+ Long.MaxValue
      for (i <- 0 until nBatches) {
        val batch = docs.filter($"doc_id" >= ranges(i) && $"doc_id" < ranges(i + 1))
        val (_, w) = timed(graft.operators.IncrementalSpanCensus.appendBatch(
          batch, "doc_id", "text", dir, i.toLong))
        line("spancensus", s"ingest_$i", w, s""","rows":${batch.count()}""")
        if (i == nBatches / 2 - 1 || i == nBatches - 1) {
          val (_, wr) = timed(graft.operators.IncrementalSpanCensus
            .load(spark, dir).agg(sum($"nd"), count($"h")).collect())
          line("spancensus", s"read_after_$i", wr)
        }
      }
      // the census's real consumer: d09's budget filter over the corpus
      val (kept, wk) = timed(graft.operators.IncrementalSpanCensus
        .dropSpanDuplicatedAgainst(docs, "doc_id", "text", dir).count())
      line("spancensus", "drop_dup_filter", wk, s""","rows":$kept""")
      // identity: summed per-batch censuses vs one census over the
      // union (batches partition docs, so distinct-doc counts add)
      val inc = graft.operators.IncrementalSpanCensus.load(spark, dir)
      val one = graft.operators.SpanDedup.docSpanHashes(docs, "doc_id", "text", 5)
        .groupBy($"h").agg(count(lit(1)).as("nd"))
      val sDiff = inc.exceptAll(one).count() + one.exceptAll(inc).count()
      line("spancensus", "identity_diff_rows", 0.0, s""","rows":$sDiff""")
      require(sDiff == 0, s"incremental span census diverges from one-shot by $sDiff rows")
    }
    spark.stop()
  }
}
