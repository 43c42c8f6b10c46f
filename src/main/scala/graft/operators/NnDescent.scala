package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-based ANN construction by neighbor-of-neighbor refinement —
  * the NN-descent family (Dong, Moses & Li 2011, "Efficient k-nearest
  * neighbor graph construction for generic similarity measures"),
  * the build step behind the graph indexes (HNSW, NSG, DiskANN) that
  * dominate production ANN serving. The principle: a node's true
  * neighbors are likely neighbors of its current neighbors, so
  * iterating "gather each node's neighbors, reverse neighbors and
  * 2-hop neighbors, keep the k best" converges toward the exact kNN
  * graph in a handful of rounds without ever going O(n²).
  *
  * This implementation is the DETERMINISTIC batch face: seeded
  * neighbor lists (a random circulant from md5-derived strides — no
  * RNG, so an external oracle replays every round bit-for-bit), full
  * candidate regeneration per round (fwd ∪ rev ∪ 2-hop), rounded
  * cosine similarity (round 6, the s01 convention) quantized to
  * integer micros for ranking, and per-node top-k via the native
  * bottom-k heap aggregate on (−sim_micro, neighbor id) — the same
  * s12/q54 composition, so partial aggregation truncates candidate
  * lists map-side and no window/sort stage exists anywhere. True
  * NN-descent adds sampling and "new/old" flags to avoid re-scoring
  * settled pairs; those are throughput refinements of the SAME
  * join/top-k shape and are deliberately left out so every round is
  * a pure function the oracle can replay.
  *
  * Scale shape: each round is three id-keyed equi-joins (candidate
  * generation), a distinct, two embedding-fetch joins, and ONE
  * partial-aggregating top-k — all hash-partitioned on node id, no
  * nested loop, no corpus² anywhere; per-round cost is O(n·k²)
  * candidate scorings. Rounds localCheckpoint (the d06 iterative
  * pattern) so lineage stays flat. At 100 TB-scale n the k² fan-out
  * is the knob (production NN-descent samples it); the graph itself
  * (n × k edges) is the index you persist.
  */
object NnDescent {

  /** Seeded initial neighbor lists: (id, nbr) with nbr = (id + s_j)
    * mod n, strides s_j = 1 + (md5-int("s19:j") mod (n−1)) for
    * j = 1 … k — a RANDOM CIRCULANT graph (diameter ~log_k n), which
    * is what makes NN-descent converge: a cyclic init (i+1 … i+k) is
    * a 1-D lattice of diameter n/k whose 2-hop expansion crawls the
    * ring (measured: recall 0.06 → 0.11 over two rounds on the real
    * embeddings), while scattered strides reach any region in
    * O(log n) rounds (0.14 → 0.41 → 0.70 on the same data). Strides
    * are the engine-portable md5 convention, so the oracle derives
    * the identical graph; s_j ∈ [1, n−1] means no self edges by
    * construction, and a stride collision (two j with the same s_j)
    * just yields a duplicate edge that the candidate UNION dedups on
    * both engines. `ids` must carry a single long `id` column; the
    * 1-row `nRow` frame (columns `n`, `mn`, `mx`, `nd`) rides as a
    * broadcast so the plan stays one action (the X10 pattern).
    *
    * DENSE-ID CONTRACT: the (id + stride) mod n arithmetic only lands
    * on real nodes when ids are exactly 0..n-1 — a sparse id space
    * (a vacuumed [[IncrementalGraphAnn]] store, non-contiguous
    * appends) would silently seed edges to nonexistent nodes, which
    * the embedding-fetch joins then drop, starving the init graph.
    * The census carries min/max/distinct-count so the contract is
    * ENFORCED in-plan (`assert_true`, zero extra actions): mn = 0,
    * mx = n−1 AND nd = n is exactly equivalent to ids being the set
    * 0..n−1 (n distinct values bounded by [0, n−1] leave no room for
    * a duplicate masking an interior gap — the {0,2,2} corpus the
    * min/max-only guard waved through). A sparse or duplicated build
    * fails loudly at execution instead of converging on a crippled
    * seed. Sparse corpora reach a graph through
    * [[IncrementalGraphAnn]]'s insertion path, or by ranking ids
    * densely before the build.
    */
  def initNeighbors(ids: DataFrame, nRow: DataFrame, k: Int): DataFrame =
    ids.crossJoin(broadcast(nRow))
      .select(col("id"), explode(expr(s"sequence(1, $k)")).as("j"),
        col("n"), col("mn"), col("mx"), col("nd"))
      .select(col("id"), expr(
        """(id + 1 + (cast(conv(substring(md5(concat('s19:', cast(j as string))), 1, 8), 16, 10) as bigint)
          |  % (n - 1))) % n
          | + ifnull(cast(assert_true(mn = 0 and mx = n - 1 and nd = n,
          |     'NnDescent.initNeighbors requires DENSE ids 0..n-1; sparse stores build via IncrementalGraphAnn or rank ids first') as bigint), 0)""".stripMargin).as("nbr"))

  /** One refinement round: candidates = current ∪ reversed ∪ 2-hop
    * edges, scored by rounded cosine, per-node top-k kept. Returns
    * (id, nbr, sim_micro, rank) — rank 1 = best — localCheckpointed.
    * Nodes whose every candidate similarity is NULL (zero vectors)
    * drop out, identically on both engines.
    */
  def refineRound(nbrs: DataFrame, emb: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    val fwd = nbrs.select(col("id"), col("nbr").as("cand"))
    val rev = nbrs.select(col("nbr").as("id"), col("id").as("cand"))
    val hop2 = nbrs.as("a")
      .join(nbrs.as("b"), col("a.nbr") === col("b.id"))
      .select(col("a.id").as("id"), col("b.nbr").as("cand"))
    // Dedup shape deliberated r20 (guide §2.4) and KEPT as distinct():
    // repartition(id) + dropDuplicates(id, cand) would let the bottom-k
    // groupBy(id) run exchange-free (the r15 subset-key lesson, one
    // exchange instead of two) — but distinct()'s PARTIAL aggregate
    // dedups map-side BEFORE its exchange, while repartition ships
    // every raw candidate row. Measured A/B at sf0.1 (reps=5, quiet):
    // the one-exchange shape is SLOWER at both 32 cores (2.73 vs
    // 2.80 s — noise) and 8 cores (2.36 -> 2.76 s, +17% — real), so
    // the map-side dedup wins over the saved exchange at every width
    // tried. The (id, cand) exchange rows are 16 bytes; the candidate
    // fan-in bound k(k+2) keeps both shapes skew-free.
    val cands = fwd.union(rev).union(hop2)
      .filter(col("id") =!= col("cand"))
      .distinct()
    val scored = cands
      .join(emb.select(col("vec_id").as("id"), col("embedding").as("e_a")), Seq("id"))
      .join(emb.select(col("vec_id").as("cand"), col("embedding").as("e_b")), Seq("cand"))
      .select(col("id"), col("cand"),
        floor(round(cosineSimilarity(col("e_a"), col("e_b")), 6) * lit(1000000.0)
          + lit(0.5)).cast("long").as("sim_micro"))
      .filter(col("sim_micro").isNotNull)
    scored
      .groupBy(col("id"))
      .agg(graft.functions.BottomKPairsAgg.bottomKIdPairs(
        -col("sim_micro"), col("cand"), k).as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(col("id"), col("col.v").cast("long").as("nbr"),
        (-col("col.h")).as("sim_micro"), (col("pos") + 1).cast("int").as("rank"))
      .localCheckpoint(true)
  }

  /** The refined kNN graph after `rounds` rounds from the seeded
    * init: (id, nbr, sim_micro, rank).
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int, rounds: Int): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val ids = e.select(col("vec_id").as("id"))
    val nRow = e.agg(count(lit(1)).as("n"),
      min(col("vec_id")).as("mn"), max(col("vec_id")).as("mx"),
      countDistinct(col("vec_id")).as("nd"))
    var g = initNeighbors(ids, nRow, k)
    (1 to rounds).foreach { _ =>
      g = refineRound(g.select(col("id"), col("nbr")), e, k)
    }
    g
  }

  /** Compute-once shared kNN graph, keyed by (session, corpus tag,
    * build params) — the serve-side memo mirroring [[Bm25.sharedRanked]]:
    * a graph index is BUILT once and then serves every search (that is
    * the reason graph indexes exist), so s19 remains the measurement of
    * the build while s20 (and any other serve-side consumer) walks the
    * shared graph. Kept on purpose (VERDICT r13 item 4): graft.Bench
    * does not clear it between reps, so s20's number is the serve leg.
    * The build parameters (k, rounds, id/vector column names) are part
    * of the key, so two consumers over the same corpus dir with
    * different graph configs each get their own build. Builders hand
    * back already-materialized frames ([[knnGraph]]'s rounds
    * localCheckpoint eagerly), so the memo stores the reference. At
    * 100 TB the n × k edge list is the PERSISTED index
    * ([[IncrementalGraphAnn]] is the durable face).
    *
    * Limitation: the key is the corpus directory tag, not the data.
    * Data regenerated under the same directory mid-process is not
    * seen — the first build keeps serving. No caller does that today.
    */
  private val shared = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String, Int, Int, String, String), DataFrame]()

  def sharedGraph(
      spark: org.apache.spark.sql.SparkSession,
      tag: String,
      k: Int,
      rounds: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding")(
      build: => DataFrame): DataFrame =
    shared.computeIfAbsent((spark, tag, k, rounds, idCol, vecCol), _ => build)

  /** Beam search over a built kNN graph — the SERVE half of graph ANN
    * (the query path of HNSW/NSG/DiskANN, deterministic flat-beam
    * face): seed every query with its entry nodes, then for `hops`
    * rounds expand the beam through the graph's out-edges, score every
    * candidate against the query by rounded cosine, and keep the
    * `beam` best. Because each hop's candidate set CONTAINS the
    * previous beam, the per-query k-th-best similarity is
    * non-decreasing in hops (the spec pins it) — the search can only
    * improve. Returns (q_id, node, sim_micro, rank).
    *
    * Entry nodes: pass `entries` (query id → entry node ids, actual
    * graph nodes — e.g. IVF-seeded: each query's nearest coarse
    * centroid NODES, the HNSW-coarse-layer effect without a layered
    * graph; random entries pay O(log n) extra hops at 100× n). When
    * omitted, the default is the `beam` lowest ids in md5-hex order —
    * a deterministic pseudo-random sample of the ACTUAL id set (one
    * TakeOrdered partial top-k over the id column, no shuffle), so
    * sparse id spaces (a vacuumed [[IncrementalGraphAnn]] store,
    * non-contiguous appends) seed correctly; the previous md5-mod-n
    * scheme assumed dense 0..n-1 ids and silently dropped missing
    * entries. Engine-portable either way (md5 of the decimal id
    * string; an oracle replays ORDER BY substr(md5(id), 1, 8), id).
    *
    * Scale shape: the beam frame is |Q|×beam rows; each hop is one
    * equi-join against the n×k edge list (hash-partitioned on node
    * id), one embedding fetch join, one broadcast of the query
    * vectors, and ONE partial-aggregating bottom-k — per-hop cost
    * O(|Q|·beam·k) scorings, independent of n. At serving scale the
    * edge list is the persisted index; queries stream through in
    * batches of |Q|.
    *
    * `beam` is the exploration width (HNSW's ef_search) and should
    * EXCEED the caller's k for high recall: with beam == k the search
    * fixpoints the moment the current beam's neighborhood stops
    * improving the top-k — hop-3 recall on the real embeddings
    * measured 0.825 at beam = k = 10 vs 0.975 at beam = 2k
    * (GraphSearchSpec). The full final beam (rank 1…beam) is
    * returned; callers truncate to their k.
    *
    * Physical shape — driver-orchestrated scatter-gather (the s15/q54
    * driver-arithmetic pattern, and the production serving shape: a
    * query coordinator walking a persisted index): the graph and the
    * corpus stay DISTRIBUTED and are only ever touched by per-hop
    * candidate fetches — one job per hop joining the model-sized
    * frontier id list (broadcast literal) against the edge list and
    * the neighbor embeddings — while scoring, dedup and the top-beam
    * cut run as driver arithmetic over the gathered
    * |Q|·beam·(k+1)-sized candidate pool. Fetched adjacency and
    * vectors are cached across hops, so each round fetches only the
    * frontier's unseen nodes. An all-hops-in-one-lazy-plan variant is
    * the fallback when |Q| outgrows the driver (score via the same
    * kernel, rank via the bottom-k heap); at interactive |Q| it
    * measured ~1.4 s of pure AQE stage barriers for the same answer.
    *
    * `graph` must carry (id, nbr); `emb` (vec_id, embedding);
    * `queries` (q_id, q_emb), model-sized. Duplicate entries collapse
    * via the candidate sets' set semantics on both engines. Driver
    * scoring uses [[graft.functions.VectorFunctions.roundedCosine]],
    * the scalar the cosine kernel implements, so driver ≡ kernel ≡
    * oracle bit-for-bit (the s15 argument).
    */
  /** The default entry sample: the `m` lowest ids in (md5-hex, id)
    * order — a deterministic pseudo-random sample of the ACTUAL id set
    * (one TakeOrdered partial top-k over the id column, no shuffle),
    * correct on sparse id spaces. Exposed so callers composing their
    * own `entries` (s20's IVF ∪ sample mix) draw the same sample the
    * default path uses; engine-portable (ORDER BY
    * substr(md5(CAST(id AS VARCHAR)), 1, 8), id LIMIT m — 8-char
    * lowercase hex compares identically as string or parsed integer).
    */
  def sampleEntryIds(emb: DataFrame, m: Int): Seq[Long] =
    emb.select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc,
        col("vec_id").asc)
      .limit(m)
      .collect().map(_.getLong(0)).toSeq

  def beamSearch(
      graph: DataFrame,
      emb: DataFrame,
      queries: DataFrame,
      beam: Int,
      hops: Int,
      entries: Option[Map[Long, Seq[Long]]] = None): DataFrame = {
    import graft.functions.VectorFunctions.roundedCosine
    val spark = emb.sparkSession
    import spark.implicits._

    val qs = queries.select(col("q_id"), col("q_emb")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val defaultEntries: Seq[Long] =
      if (entries.isDefined) Nil else sampleEntryIds(emb, beam)
    val perQuery: Map[Long, Seq[Long]] = entries match {
      case Some(m) =>
        qs.foreach { case (qid, _) =>
          require(m.contains(qid) && m(qid).nonEmpty,
            s"entries must cover every query with >= 1 node; missing $qid") }
        qs.map { case (qid, _) => qid -> m(qid).distinct }.toMap
      case None => qs.map { case (qid, _) => qid -> defaultEntries }.toMap
    }
    val entryIds = perQuery.valuesIterator.flatten.toSeq.distinct

    val vecCache = scala.collection.mutable.Map[Long, Array[Float]]()
    val adjCache = scala.collection.mutable.Map[Long, Seq[Long]]()
    emb.join(broadcast(entryIds.toDF("vec_id")), Seq("vec_id"))
      .collect()
      .foreach(r => vecCache(r.getLong(0)) = r.getSeq[Float](1).toArray)

    var beams: Map[Long, Seq[Long]] = perQuery
    var ranked: Map[Long, Seq[(Long, Long)]] = Map.empty
    (1 to hops).foreach { _ =>
      val frontier = beams.valuesIterator.flatten.toSeq.distinct.filterNot(adjCache.contains)
      if (frontier.nonEmpty) {
        // ONE job: frontier edges + the neighbors' vectors, gathered
        // together (the graph side is an id-keyed broadcast probe; the
        // embedding fetch an id-keyed join — neither corpus shuffles).
        graph.select(col("id"), col("nbr"))
          .join(broadcast(frontier.toDF("id")), Seq("id"))
          .join(emb.select(col("vec_id").as("nbr"), col("embedding")), Seq("nbr"))
          .select(col("id"), col("nbr"), col("embedding"))
          .collect()
          .groupBy(_.getLong(0))
          .foreach { case (id, rows) =>
            adjCache(id) = rows.map(_.getLong(1)).toSeq
            rows.foreach(r => vecCache(r.getLong(1)) = r.getSeq[Float](2).toArray)
          }
        frontier.foreach(id => if (!adjCache.contains(id)) adjCache(id) = Nil)
      }
      ranked = qs.map { case (qid, qEmb) =>
        val cands = (beams(qid) ++ beams(qid).flatMap(adjCache.getOrElse(_, Nil))).distinct
        val scored = cands.flatMap { c =>
          vecCache.get(c).flatMap(roundedCosine(qEmb, _))
            .map(cos => (c, math.floor(cos * 1000000.0 + 0.5).toLong))
        }
        qid -> scored.sortBy { case (c, sim) => (-sim, c) }.take(beam)
      }.toMap
      beams = ranked.map { case (qid, rows) => qid -> rows.map(_._1) }
    }
    ranked.toSeq
      .flatMap { case (qid, rows) =>
        rows.zipWithIndex.map { case ((node, sim), i) => (qid, node, sim, i + 1) }
      }
      .toDF("q_id", "node", "sim_micro", "rank")
  }

  /** DISTRIBUTED beam search — the corpus-scale face of [[beamSearch]]
    * for the read that justifies a graph index in a training-data
    * pipeline: probing a NEW arbitrarily-large batch against the index
    * (graph-based decontamination / semantic-dedup joins), where a
    * driver loop over collected queries cannot run. Queries STAY a
    * DataFrame; per query the search is row-identical to the driver
    * face (GraphSearchSpec pins the equivalence) because both walk the
    * same candidate sets with the same integer-micro scores and
    * (−sim, node) tie order.
    *
    * Per hop, three declarative steps and NO driver state that scales
    * with |Q|:
    *
    *  1. expansion: beam × graph out-edges — an id-keyed equi-join on
    *     `node` (the n×k edge list is the persisted index side);
    *  2. scoring: candidates × embeddings — a second id-keyed
    *     equi-join on `node` that reuses step 1's partitioning, then
    *     the native cosine kernel quantized to integer micros (zero
    *     vectors drop, as in the driver face);
    *  3. ranking: previous beam ∪ scored expansion, repartitioned ONCE
    *     on `q_id`, then per-(q_id, node) dedup and the per-query
    *     bottom-`beam` heap BOTH run exchange-free on that
    *     partitioning (subset-clustering: hash(q_id) satisfies the
    *     (q_id, node) dedup's distribution) — so each hop moves the
    *     |Q|·beam·(k+1) candidate frame through exactly two shuffles
    *     (node, q_id), each linear in |Q| and independent of corpus
    *     size n. Hops localCheckpoint (the d06 iterative pattern).
    *
    * The query vector rides the beam frame (the `q_emb` column)
    * instead of re-joining a queries table every hop — beam·(k+1)
    * copies per query through each shuffle, the standard
    * vector-join trade for O(hops) fewer corpus-scale joins. Because
    * each hop's candidate set contains the previous beam, the per-query
    * k-th-best similarity is non-decreasing in hops, exactly as the
    * driver face.
    *
    * `entries`: optional (q_id, node) frame of per-query entry nodes
    * (e.g. IVF-seeded); every query needs ≥ 1 row. Default: the same
    * md5-ordered id sample as [[beamSearch]], one entry list shared by
    * all queries (a broadcast cross join — |Q| × beam rows, never a
    * shuffle). `graph` must carry (id, nbr); `emb` (vec_id, embedding);
    * `queries` (q_id, q_emb). Returns (q_id, node, sim_micro, rank) —
    * the driver face's schema; callers truncate rank to their k.
    */
  /** IVF-seeded entries for [[beamSearchDistributed]], derived IN-PLAN:
    * per query, the `probes` nearest coarse-centroid NODES by rounded
    * cosine — s20's entry recipe (the HNSW-coarse-layer effect), but
    * computed distributively so a corpus-scale query batch seeds
    * without driver math. Centroids (model-sized, the dense first-N
    * vec_ids by the s02 convention) ride one broadcast; scoring is
    * |Q| × |cents| kernel rows through a partial-aggregating bottom-k
    * on (−sim, c_id) — round-6 micro scores and the id tie-break, the
    * exact `probeBefore` order (zero-norm centroids score NULL and
    * drop, probeBefore's nulls-last). Returns (q_id, node) — union it
    * with a sample-entry cross join for s20's coverage mix.
    */
  def ivfEntries(
      queries: DataFrame,
      cents: Array[Array[Float]],
      probes: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    val spark = queries.sparkSession
    import spark.implicits._
    require(probes >= 1 && probes <= cents.length,
      s"probes must be in [1, ${cents.length}], got $probes")
    val centsDf = cents.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("node", "c_emb")
    queries.select(col("q_id"), col("q_emb"))
      .crossJoin(broadcast(centsDf))
      .select(col("q_id"), col("node"),
        floor(round(cosineSimilarity(col("q_emb"), col("c_emb")), 6)
          * lit(1000000.0) + lit(0.5)).cast("long").as("sim_micro"))
      .filter(col("sim_micro").isNotNull)
      .groupBy(col("q_id"))
      .agg(graft.functions.BottomKPairsAgg.bottomKIdPairs(
        -col("sim_micro"), col("node"), probes).as("top"))
      .select(col("q_id"), explode(col("top")).as("p"))
      .select(col("q_id"), col("p.v").cast("long").as("node"))
  }

  def beamSearchDistributed(
      graph: DataFrame,
      emb: DataFrame,
      queries: DataFrame,
      beam: Int,
      hops: Int,
      entries: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    val spark = emb.sparkSession
    import spark.implicits._
    require(hops >= 1, s"hops must be >= 1, got $hops")

    val q = queries.select(col("q_id"), col("q_emb"))
    val seeded: DataFrame = entries match {
      case Some(e) =>
        q.join(e.select(col("q_id"), col("node")), Seq("q_id"))
      case None =>
        q.crossJoin(broadcast(
          sampleEntryIds(emb, beam).toDF("node")))
    }
    val edges = graph.select(col("id").as("node"), col("nbr"))
    val vecs = emb.select(col("vec_id").as("node"), col("embedding"))

    def scored(cands: DataFrame): DataFrame = cands
      .join(vecs, Seq("node"))
      .select(col("q_id"), col("q_emb"), col("node"),
        floor(round(cosineSimilarity(col("q_emb"), col("embedding")), 6)
          * lit(1000000.0) + lit(0.5)).cast("long").as("sim_micro"))
      .filter(col("sim_micro").isNotNull)

    def topBeam(cands: DataFrame): DataFrame = cands
      .repartition(col("q_id"))
      // dedup then heap, both exchange-free on the q_id partitioning;
      // duplicate (q_id, node) rows carry identical deterministic
      // scores, so any survivor is THE row
      .dropDuplicates("q_id", "node")
      .groupBy(col("q_id"))
      .agg(first(col("q_emb")).as("q_emb"),
        graft.functions.BottomKPairsAgg.bottomKIdPairs(
          -col("sim_micro"), col("node"), beam).as("top"))
      .select(col("q_id"), col("q_emb"), posexplode(col("top")))
      .select(col("q_id"), col("q_emb"), col("col.v").cast("long").as("node"),
        (-col("col.h")).as("sim_micro"), (col("pos") + 1).cast("int").as("rank"))
      .localCheckpoint(true)

    def expanded(base: DataFrame): DataFrame = base
      .select(col("q_id"), col("q_emb"), col("node"))
      .join(edges, Seq("node"))
      .select(col("q_id"), col("q_emb"), col("nbr").as("node"))

    // hop 1 expands from the UNSCORED entry set (the driver face
    // fetches entry adjacency before scoring, so even an unscoreable
    // entry contributes its neighbors)
    var beams = topBeam(scored(seeded.unionByName(expanded(seeded))))
    (2 to hops).foreach { _ =>
      beams = topBeam(beams.drop("rank").unionByName(scored(expanded(beams))))
    }
    beams.select(col("q_id"), col("node"), col("sim_micro"), col("rank"))
  }
}
