package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`array<float>` column). Two paths:
  *
  *  - `s01` brute force: broadcast the (small) query set against the
  *    full corpus — exact, one scan, no shuffle of the corpus side.
  *    This is the correctness baseline and also the right physical
  *    plan at scale whenever the query set fits in a broadcast.
  *  - `s02` IVF: partition the corpus by nearest centroid (coarse
  *    quantizer), probe only the closest `nprobe` partitions per
  *    query — the scan shrinks by ~K/nprobe at 100 TB. Centroids are
  *    taken deterministically (first K vectors) so the DuckDB oracle
  *    can replay the exact same assignment.
  *
  * Similarities are rounded before ranking so FP summation-order
  * differences can't reorder the top-k between engines; ties break on
  * neighbor id.
  */
object SimilarityQueries {

  private val K = 10 // top-k
  private val NQ = 8 // query vectors: vec_id < NQ

  /** s01's exact ranked frame (q_id, rank, neighbor_id, cos_sim) —
    * shared with the s16 recall sweep so the audit's ground truth IS
    * the s01 query, not a second implementation.
    */
  private def bruteForceRanked(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    // spread the single-file corpus scan across all cores before the
    // O(corpus × queries) similarity stage
    val sim = e.repartition(s.sparkContext.defaultParallelism).crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(cosineSimilarity($"embedding", $"q_emb"), 6).as("cos_sim"))
    val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id".asc)
    sim.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"q_id", $"rank", $"vec_id".as("neighbor_id"), $"cos_sim")
  }

  val s01BruteForce = Q(
    "s01_ann_bruteforce",
    (s, dir) => bruteForceRanked(s, dir),
    Some(s"""WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQ),
      pairs AS (
        SELECT q_id, vec_id,
          round(list_dot_product(embedding::DOUBLE[], q_emb::DOUBLE[]) /
            (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
             sqrt(list_dot_product(q_emb::DOUBLE[], q_emb::DOUBLE[]))), 6) AS cos_sim
        FROM embeddings, q WHERE vec_id <> q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, cos_sim
      FROM ranked WHERE rank <= $K"""),
    headline = true)

  private val NCENTROIDS = 16
  private val NPROBE = 4

  // Coarse-quantizer plumbing shared by s02 (IVF), s10 (IVF×PQ) and
  // s11 (residual): centroids = first NCENTROIDS vectors
  // (deterministic, so the DuckDB oracle replays the identical cells),
  // assignment = max rounded cosine with id tie-break, probes = each
  // query's NPROBE nearest cells.

  /** The first `n` vectors as a driver-side array indexed by vec_id
    * (dense first-n vec_ids, asserted) — one collect. The coarse
    * centroids are its first NCENTROIDS rows and the PQ codebook seeds
    * its first PqK, so a query needing both collects the longer prefix
    * once and slices it.
    */
  private def firstVecs(s: org.apache.spark.sql.SparkSession, dir: String, n: Int): Array[Array[Float]] = {
    val vs = graft.operators.AnnIndex
      .firstVectors(Tables.embeddings(s, dir), "embedding", "vec_id", n)
    require(vs.map(_._1).toSeq == vs.indices.map(_.toLong),
      "the first-n vectors must be the dense vec_ids 0..n-1")
    vs.map(_._2)
  }

  /** The coarse centroids indexed by cell id, collected once per query
    * and passed to the zero-shuffle assignment, probe selection and
    * the residual-PQ math (s11).
    */
  private def centroidArray(s: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Float]] =
    firstVecs(s, dir, NCENTROIDS)

  /** (vec_id, embedding, c_id): corpus vector → nearest coarse cell.
    * ZERO-shuffle: centroids are collected driver-side (NCENTROIDS ×
    * dim floats — bounded model math, the KMeans-centroid pattern) and
    * enter the plan as literals, so assignment is one argmax
    * projection. The crossJoin + per-vector window alternative
    * shuffles corpus × 1 rows and sorts per vec_id — at 100 TB that is
    * a full-corpus shuffle spent recomputing what a map-side argmax
    * already knows. Semantics identical to the oracle's window replay:
    * the cosine array is indexed by c_id (centroids dense-ordered by
    * vec_id, asserted), array_position takes the FIRST max (= lowest
    * c_id on ties), and an all-NULL row (zero vector) falls to cell 0
    * exactly like ORDER BY cos DESC NULLS LAST, c_id ASC.
    */
  private def coarseAssign(
      s: org.apache.spark.sql.SparkSession, dir: String, cents: Array[Array[Float]]) = {
    import s.implicits._
    // ONE native kernel call per row (CoarseAssignCell) — the
    // declarative k-cosine array tree below costs the optimizer +
    // codegen k × dim literal subtrees per run and was measured
    // interpreted-slow at 500k rows (r9: 18 s of s02's 21 s)
    Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"vec_id", $"embedding",
        graft.functions.exprs
          .coarse_assign_cell($"embedding", cents).as("c_id"))
  }

  /** Declarative reference implementation of [[coarseAssign]]'s cell
    * column (k rounded-cosine subtrees → array argmax) — kept for
    * cross-checking the native kernel in IvfPqSpec.
    */
  private[queries] def coarseAssignExprCol(cents: Array[Array[Float]]): Column = {
    val sims = array(cents.map { c =>
      round(cosineSimilarity(col("embedding"), typedLit(c)), 6)
    }: _*)
    when(array_max(sims).isNull, lit(1L))
      .otherwise(array_position(sims, array_max(sims)))
      .minus(1).cast("long")
  }

  /** The dense first-NQ query vectors (one collect). */
  private def queryVectors(s: org.apache.spark.sql.SparkSession, dir: String): Array[(Long, Array[Float])] = {
    val qs = graft.operators.AnnIndex
      .firstVectors(Tables.embeddings(s, dir), "embedding", "vec_id", NQ)
    require(qs.map(_._1).toSeq == qs.indices.map(_.toLong),
      "query batch must be the dense first-NQ vec_ids")
    qs
  }

  /** Shared driver-side rounded cosine (see VectorFunctions.roundedCosine). */
  private def roundedCosine(a: Array[Float], b: Array[Float]): Option[Double] =
    graft.functions.VectorFunctions.roundedCosine(a, b)

  /** (q_id, q_emb, c_id): each query's NPROBE nearest cells. Probe
    * selection is pure model math — NQ × NCENTROIDS rounded cosines —
    * so it runs DRIVER-side (the KMeans-centroid pattern) instead of
    * paying a crossJoin + window job per query; at scale the probe
    * list is what prunes partitions, and it must exist on the driver
    * anyway to plan the pruned scan. Ordering replicates the former
    * window exactly: p_sim DESC NULLS LAST, c_id ASC, take NPROBE
    * (a zero-norm query or centroid yields NULL cosine → sorts last,
    * ties on rounded cosine break toward the lower cell id).
    */
  private def coarseProbes(
      s: org.apache.spark.sql.SparkSession, dir: String, cents: Array[Array[Float]]) = {
    import s.implicits._
    queryVectors(s, dir).toSeq.flatMap { case (qid, q) =>
      val ranked = cents.indices.map(i => (i.toLong, roundedCosine(q, cents(i))))
        .sortWith(graft.functions.VectorFunctions.probeBefore)
      ranked.take(NPROBE).map { case (cid, _) => (qid, q, cid) }
    }.toDF("q_id", "q_emb", "c_id")
  }

  /** IVF (inverted-file) ANN: coarse centroids = first NCENTROIDS
    * vectors; every corpus vector is assigned to its nearest centroid
    * (max cosine, id tie-break); each query probes its NPROBE nearest
    * centroid cells only. Recall < 1 by design — the oracle replays the
    * identical quantization, so results still hash-match exactly.
    */
  val s02IvfAnn = Q(
    "s02_ann_ivf",
    (s, dir) => {
      import s.implicits._
      val cents = centroidArray(s, dir)
      val assigned = coarseAssign(s, dir, cents)
      val probes = coarseProbes(s, dir, cents)
      // search only the probed cells
      val wRank = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id".asc)
      assigned.join(broadcast(probes), Seq("c_id"))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(cosineSimilarity($"embedding", $"q_emb"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(wRank))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id".as("neighbor_id"), $"cos_sim")
    },
    Some {
      s"""WITH $coarseSql,
      pairs AS (
        SELECT p.q_id, a.vec_id,
          ${cosSql("a.embedding", "p.q_emb")} AS cos_sim
        FROM assigned a JOIN probes p ON a.c_id = p.c_id
        WHERE a.vec_id <> p.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, cos_sim
      FROM ranked WHERE rank <= $K"""
    })

  private def cosSql(a: String, b: String): String =
    s"""round(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) /
        (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) *
         sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[]))), 6)"""

  /** The coarse-quantizer CTE chain ([[centroidArray]]/[[coarseAssign]]/
    * [[coarseProbes]] replayed in DuckDB) — shared by the s02 and s10
    * oracles. Ends with `assigned` (vec_id, embedding, c_id), `q`, and
    * `probes` (q_id, q_emb, c_id).
    */
  private def coarseSql: String = coarseSqlOver("embeddings")

  /** [[coarseSql]] over an arbitrary (vec_id, embedding) source CTE —
    * s18 runs the identical chain over the ROTATED table; s21 widens
    * the probe set (`nprobe`) to offset its metadata filter.
    */
  private def coarseSqlOver(src: String, nprobe: Int = NPROBE): String =
    s"""cents AS (
        SELECT vec_id AS c_id, embedding AS c_emb FROM $src WHERE vec_id < $NCENTROIDS),
      assigned AS (
        SELECT vec_id, embedding, c_id FROM (
          SELECT e.vec_id, e.embedding, c.c_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id ASC) AS arn
          FROM $src e, cents c)
        WHERE arn = 1),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM $src WHERE vec_id < $NQ),
      probes AS (
        SELECT q_id, q_emb, c_id FROM (
          SELECT q.q_id, q.q_emb, c.c_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY ${cosSql("q.q_emb", "c.c_emb")} DESC, c.c_id ASC) AS prn
          FROM q, cents c)
        WHERE prn <= $nprobe)"""

  /** Scalar int8 quantization of embeddings (max-abs symmetric): the
    * 4× storage/shuffle reduction every 100 TB embedding corpus takes.
    * Per vector: scale = max|x|/127, q_i = round(x_i/scale); the query
    * reports the reconstruction error actually incurred (bounded by
    * scale/2 per component). Zero vectors quantize to NULL scale via
    * try_divide — identical to the oracle's x/0.
    */
  val s03Quantize = Q(
    "s03_quantize_int8",
    (s, dir) => {
      import s.implicits._
      // r21 (guide §1.2 per-task work; the CLAUDE.md interpreted-HOF
      // lesson, measured): inlining `scale` (itself an O(d) fold)
      // inside the quant/absErr lambdas re-ran the fold PER ELEMENT —
      // O(d²) interpreted lambda evaluations per row, ~2.5 s honest at
      // sf0.1 (count() had pruned it all to 0.09 s for 20 rounds).
      // Stage the intermediates through projections: each named column
      // is computed once per row and the lambdas reference attributes,
      // O(d) per row. CollapseProject leaves the stages alone — since
      // SPARK-36718 it refuses to duplicate non-cheap expressions into
      // multiple consumers. Arithmetic is expression-identical to the
      // inline form (pure functions, same evaluation per element).
      val withScale = Tables.embeddings(s, dir).select(
        $"vec_id",
        transform($"embedding", v => v.cast("double")).as("x"),
        size($"embedding").cast("double").as("d"))
        .select($"vec_id", $"x", $"d",
          (aggregate($"x", lit(0.0), (acc, v) => greatest(acc, abs(v)))
            / lit(127.0)).as("sc"))
      val withErr = withScale.select($"vec_id", $"sc", $"d",
        zip_with($"x", transform($"x", v => round(try_divide(v, $"sc"))),
          (xv, qv) => abs(qv * $"sc" - xv)).as("abs_err"))
      withErr.select(
        $"vec_id",
        round($"sc", 8).as("scale"),
        // zero vector: every abs_err element is NULL; Spark's greatest
        // skips NULLs but the oracle's max over all-NULLs is NULL —
        // make the degenerate case explicit
        round(when($"sc" === 0.0, lit(null).cast("double"))
          .otherwise(aggregate($"abs_err", lit(0.0), (acc, e) => greatest(acc, e))), 8)
          .as("max_abs_err"),
        round(
          try_divide(
            aggregate($"abs_err", lit(0.0), (acc, e) => acc + e * e), $"d"),
          8).as("mse"))
    },
    Some("""SELECT vec_id,
        round(list_aggregate(list_transform(embedding::DOUBLE[], v -> abs(v)), 'max') / 127.0, 8) AS scale,
        round(list_aggregate(
          list_transform(
            list_zip(embedding::DOUBLE[],
              list_transform(embedding::DOUBLE[],
                v -> round(v / (list_aggregate(list_transform(embedding::DOUBLE[], y -> abs(y)), 'max') / 127.0)))),
            p -> abs(p[2] * (list_aggregate(list_transform(embedding::DOUBLE[], y -> abs(y)), 'max') / 127.0) - p[1])),
          'max'), 8) AS max_abs_err,
        round(list_reduce(
          list_prepend(0.0,
            list_transform(
              list_zip(embedding::DOUBLE[],
                list_transform(embedding::DOUBLE[],
                  v -> round(v / (list_aggregate(list_transform(embedding::DOUBLE[], y -> abs(y)), 'max') / 127.0)))),
              p -> abs(p[2] * (list_aggregate(list_transform(embedding::DOUBLE[], y -> abs(y)), 'max') / 127.0) - p[1]))),
          (acc, e) -> acc + e * e) / len(embedding), 8) AS mse
      FROM embeddings"""))

  private val NPLANES = 4 // sign-LSH hyperplanes -> 16 buckets
  private val Dim = 64 // embedding dimensionality (TESTDATA.md)
  // Multiprobe set: own bucket + the 4 Hamming-1 neighbors.
  private val ProbeMasks = Seq(0L, 1L, 2L, 4L, 8L)

  /** Deterministic pseudo-random hyperplane, engine-portable: weight
    * (p,j) = (md5-prefix-hash("p_j") % 201 - 100) / 128. k/128 with
    * |k| <= 100 is exactly representable in BOTH float32 and float64,
    * so Spark's float kernel and DuckDB's DOUBLE[] dot see identical
    * values — the sign of the projection (the bucket bit) can't flip
    * between engines.
    */
  private def hyperplane(p: Int): Array[Float] =
    Array.tabulate(Dim) { j =>
      val h = graft.functions.TextExprImpl.tokenHash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"${p}_${j}"))
      ((h % 201) - 100) / 128.0f
    }

  /** Sign-random-projection LSH ANN (the third rung of the ANN ladder:
    * s01 exact, s02 IVF partition-pruned, s04 LSH-bucketed): a 4-bit
    * signature per vector (4 codegen'd dot products, one linear pass),
    * candidates = multiprobe over the query's bucket + Hamming-1
    * neighbors (~5/16 of the corpus instead of all of it), exact
    * rounded-cosine rerank of candidates only. At 100 TB the signature
    * is a write-once partition column and probes become partition
    * pruning; more planes shrink the candidate set geometrically.
    */
  val s04LshAnn = Q(
    "s04_ann_lsh",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).repartition(s.sparkContext.defaultParallelism)
      val bucket = (0 until NPLANES).map { p =>
        when(dot($"embedding", typedLit(hyperplane(p))) > 0.0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      val sig = e.select($"vec_id", $"embedding", bucket.as("bucket"))
      val probes = sig.filter($"vec_id" < NQ)
        .withColumn("mask", explode(typedLit(ProbeMasks)))
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"bucket".bitwiseXOR($"mask").as("pbucket"))
      val wRank = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id".asc)
      sig.join(broadcast(probes), $"bucket" === $"pbucket")
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(cosineSimilarity($"embedding", $"q_emb"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(wRank))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id".as("neighbor_id"), $"cos_sim")
    },
    Some(s"""WITH hpw AS (
        SELECT p, j,
          ((CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 201) - 100) / 128.0 AS w
        FROM (SELECT unnest(range($NPLANES)) AS p), (SELECT unnest(range($Dim)) AS j)),
      hp AS (SELECT p, list(w ORDER BY j) AS hpv FROM hpw GROUP BY p),
      sig AS (
        SELECT e.vec_id,
          CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], h.hpv) > 0
                        THEN (CAST(1 AS BIGINT) << h.p) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e, hp h GROUP BY e.vec_id),
      probes AS (
        SELECT s.vec_id AS q_id, e.embedding AS q_emb,
          s.bucket + m.mask - 2 * (s.bucket & m.mask) AS pbucket
        FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id,
             (SELECT unnest([0, 1, 2, 4, 8]) AS mask) m
        WHERE s.vec_id < $NQ),
      pairs AS (
        SELECT p.q_id, e.vec_id,
          round(list_dot_product(e.embedding::DOUBLE[], p.q_emb::DOUBLE[]) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(p.q_emb::DOUBLE[], p.q_emb::DOUBLE[]))), 6) AS cos_sim
        FROM probes p
        JOIN sig s2 ON s2.bucket = p.pbucket
        JOIN embeddings e ON e.vec_id = s2.vec_id
        WHERE e.vec_id <> p.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, cos_sim
      FROM ranked WHERE rank <= $K"""),
    headline = true)

  /** Per-label mean embedding (centroid) — the building block for
    * k-means refit, cluster profiling, and class-prototype dedup.
    * posexplode fans each vector into (label, dim, x) rows; the partial
    * aggregate collapses map-side so the shuffle is O(labels × dim),
    * independent of corpus size. Output is the long form (label, j, m)
    * — rounded doubles hash-match across engines, where a
    * string-rendered array would be at the mercy of each engine's
    * double formatting.
    */
  val s05LabelCentroids = Q(
    "s05_label_centroids",
    (s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .select($"label", posexplode($"embedding").as(Seq("j", "x")))
        .groupBy($"label", $"j".cast("long").as("j"))
        .agg(round(avg($"x".cast("double")), 6).as("m"), count(lit(1)).as("n_vectors"))
    },
    Some(s"""WITH expl AS (
        SELECT label, j, embedding[j + 1]::DOUBLE AS x
        FROM embeddings, (SELECT unnest(range($Dim)) AS j))
      SELECT label, CAST(j AS BIGINT) AS j, round(avg(x), 6) AS m,
        count(*) AS n_vectors
      FROM expl GROUP BY label, j"""))

  private val KmK = 8 // k-means clusters
  private val KmIters = 2 // Lloyd iterations (fixed for replayability)

  /** Distributed k-means training (`operators.KMeans`) oracled
    * end-to-end: 2 Lloyd iterations from the deterministic first-K
    * init, then a final assignment with the fitted centroids. Output
    * is the long-form model — (cluster, j, m) centroid coordinates
    * (rounded 6 dp) plus each cluster's final member count. The DuckDB
    * oracle replays both iterations: assignment score is
    * round(|c|² − 2x·c, 6) with centroids cast to float32 exactly as
    * `KMeans.nearestCentroid` does (|x|² is per-row constant, so it
    * drops out of the argmin), argmin ties break on the lowest cluster
    * index, and an emptied cluster keeps its previous centroid.
    *
    * Scale shape (SCALE.md): per iteration the corpus is touched by
    * one codegen'd projection (K dot products/row) and one
    * O(K × dim)-wide partial-agg shuffle; only the K×dim model ever
    * reaches the driver.
    */
  val s06KMeans = Q(
    "s06_kmeans",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val model = graft.operators.KMeans.fit(e, "embedding", "vec_id", KmK, KmIters,
        computeWcss = false)
      val cents = model.centroids.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (m, j) => (i.toLong, j.toLong, m) }
      }.toSeq
      val centDf = cents.toDF("cluster", "j", "m_raw")
      val counts = graft.operators.KMeans.assign(e, "embedding", model.centroids)
        .groupBy($"cluster".cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_members"))
      centDf.join(counts, Seq("cluster"), "left")
        .select($"cluster", $"j", round($"m_raw", 6).as("m"),
          coalesce($"n_members", lit(0L)).as("n_members"))
    },
    Some(s"""WITH ${kmeansReplaySql()},
      cnt AS (SELECT cluster, count(*) AS n_members FROM a3w WHERE rn = 1 GROUP BY cluster)
      SELECT m.cluster, m.j, round(m.m, 6) AS m,
        CAST(COALESCE(c.n_members, 0) AS BIGINT) AS n_members
      FROM m2f m LEFT JOIN cnt c ON m.cluster = c.cluster"""))

  /** DuckDB replay of `KMeans.fit(K = KmK, iters = KmIters)` plus the
    * final assignment — the CTE chain shared by s06 (model output) and
    * s07 (SemDeDup cluster blocking). Ends with `m2f` (fitted
    * centroids, long form) and `a3w` (rn = 1 rows are the final
    * (vec_id, cluster) assignment).
    */
  private def kmeansReplaySql(src: String = "embeddings"): String =
    s"""js AS (SELECT unnest(range($Dim)) AS j),
      c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, embedding AS c_emb
        FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $KmK)),
      a1 AS (
        SELECT e.vec_id, e.embedding, c.cluster,
          round(list_dot_product(c.c_emb::DOUBLE[], c.c_emb::DOUBLE[])
            - 2.0 * list_dot_product(e.embedding::DOUBLE[], c.c_emb::DOUBLE[]), 6) AS score
        FROM $src e, c0 c),
      a1w AS (
        SELECT vec_id, embedding, cluster, row_number() OVER (
          PARTITION BY vec_id ORDER BY score ASC, cluster ASC) AS rn
        FROM a1),
      m1 AS (
        SELECT cluster, j, avg(embedding[j + 1]::DOUBLE) AS m
        FROM a1w, js WHERE rn = 1 GROUP BY cluster, j),
      -- a cluster emptied in iteration 1 keeps its INIT centroid
      -- (KMeans.fit fallback) — m1 alone would silently drop it
      c0l AS (
        SELECT cluster, j, c_emb[j + 1]::DOUBLE AS m0 FROM c0, js),
      m1f AS (
        SELECT c0l.cluster, c0l.j, COALESCE(m1.m, c0l.m0) AS m
        FROM c0l LEFT JOIN m1 ON c0l.cluster = m1.cluster AND c0l.j = m1.j),
      c1 AS (SELECT cluster, j, CAST(m AS FLOAT) AS cm FROM m1f),
      c1sq AS (SELECT cluster, sum(cm::DOUBLE * cm::DOUBLE) AS c2 FROM c1 GROUP BY cluster),
      d1 AS (
        SELECT e.vec_id, c.cluster, sum(e.embedding[c.j + 1]::DOUBLE * c.cm::DOUBLE) AS dp
        FROM $src e, c1 c GROUP BY e.vec_id, c.cluster),
      a2 AS (
        SELECT e.vec_id, e.embedding, d.cluster, round(s.c2 - 2.0 * d.dp, 6) AS score
        FROM $src e
        JOIN d1 d ON e.vec_id = d.vec_id
        JOIN c1sq s ON d.cluster = s.cluster),
      a2w AS (
        SELECT vec_id, embedding, cluster, row_number() OVER (
          PARTITION BY vec_id ORDER BY score ASC, cluster ASC) AS rn
        FROM a2),
      m2 AS (
        SELECT cluster, j, avg(embedding[j + 1]::DOUBLE) AS m
        FROM a2w, js WHERE rn = 1 GROUP BY cluster, j),
      m2f AS (
        SELECT m1f.cluster, m1f.j, COALESCE(m2.m, m1f.m) AS m
        FROM m1f LEFT JOIN m2 ON m1f.cluster = m2.cluster AND m1f.j = m2.j),
      c2f AS (SELECT cluster, j, CAST(m AS FLOAT) AS cm FROM m2f),
      c2sq AS (SELECT cluster, sum(cm::DOUBLE * cm::DOUBLE) AS c2 FROM c2f GROUP BY cluster),
      d2 AS (
        SELECT e.vec_id, c.cluster, sum(e.embedding[c.j + 1]::DOUBLE * c.cm::DOUBLE) AS dp
        FROM $src e, c2f c GROUP BY e.vec_id, c.cluster),
      a3 AS (
        SELECT d.vec_id, d.cluster, round(s.c2 - 2.0 * d.dp, 6) AS score
        FROM d2 d JOIN c2sq s ON d.cluster = s.cluster),
      a3w AS (
        SELECT vec_id, cluster, row_number() OVER (
          PARTITION BY vec_id ORDER BY score ASC, cluster ASC) AS rn
        FROM a3)"""

  private val SemThreshold = 0.35

  /** Semantic dedup (`operators.SemDedup` — SemDeDup, arXiv:2303.09540)
    * oracled end-to-end: k-means over L2-NORMALIZED embeddings (the
    * paper's setup — unit vectors make L2 Lloyd = cosine clustering;
    * the `srcn` CTE replays the double-divide/float-round
    * normalization bit-for-bit), within-cluster rounded-cosine pairs,
    * greedy lowest-id-wins drop. Output = surviving (vec_id, cluster).
    * Threshold 0.35 follows d05's tuning (max blocked cos_sim ≈ 0.47
    * in the synthetic embeddings), so the drop set is non-empty at
    * every SF and the oracle exercises the full cluster → pair →
    * anti-join pipeline: survivors 429/500 at sf0.001, 407/500 at
    * sf0.01, 1191/2000 at sf0.1 (all oracle-green; the corpus arrives
    * pre-normalized, so the unit projection is value-neutral here).
    * Blocking is audited independently of the oracle replay in
    * SemDedupSpec: planted cos ≈ 0.9998 copies must co-cluster and
    * drop end-to-end — the check a replay oracle cannot provide.
    */
  val s07SemDedup = Q(
    "s07_semdedup",
    (s, dir) => {
      import s.implicits._
      graft.operators.SemDedup
        .semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
          KmK, KmIters, SemThreshold)
        .select($"vec_id", $"cluster".cast("long").as("cluster"))
    },
    Some(s"""WITH srcn AS (
        SELECT vec_id,
          list_transform(embedding,
            x -> (x::DOUBLE / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))::FLOAT)
            AS embedding
        FROM embeddings),
      ${kmeansReplaySql("srcn")},
      asg AS (SELECT vec_id, cluster FROM a3w WHERE rn = 1),
      prs AS (
        SELECT b.vec_id AS vb,
          round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
             sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))), 4) AS cos_sim
        FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id)
      SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
      FROM asg a
      WHERE a.vec_id NOT IN (SELECT vb FROM prs WHERE cos_sim >= $SemThreshold)"""),
    headline = true)

  private val PqM = 4 // subspaces (64-dim -> 16 dims each)
  private val PqK = 16 // codewords per subspace: vec_id < PqK slices
  private val PqTopK = 5

  /** The PQ CTE chain (`ProductQuantizer.fitCodebook`/`encode`/
    * `adcTable` replayed in DuckDB) — shared by the s08, s09, s10 and
    * (over residual vectors) s11 oracles. `src`/`vecCol` name the
    * vector table: codewords are the first-PqK rows' slices. Ends with
    * `codesw` (vec_id, c0..c3) and `dtab` (q_id, j, code, d).
    */
  private def pqSql(src: String = "embeddings", vecCol: String = "embedding"): String = {
    val sd = 64 / PqM
    s"""js AS (SELECT unnest(range($PqM)) AS j),
      cbsub AS (
        SELECT j, vec_id AS code, $vecCol[j*$sd+1:(j+1)*$sd] AS cs
        FROM $src, js WHERE vec_id < $PqK),
      dsub AS (
        SELECT e.vec_id, c.j, c.code,
          round(
            list_dot_product(e.$vecCol[c.j*$sd+1:(c.j+1)*$sd]::DOUBLE[],
                             e.$vecCol[c.j*$sd+1:(c.j+1)*$sd]::DOUBLE[])
            - 2*list_dot_product(e.$vecCol[c.j*$sd+1:(c.j+1)*$sd]::DOUBLE[],
                                 c.cs::DOUBLE[])
            + list_dot_product(c.cs::DOUBLE[], c.cs::DOUBLE[]), 6) AS d
        FROM $src e, cbsub c),
      enc AS (
        SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS rn
          FROM dsub)
        WHERE rn = 1),
      codesw AS (
        SELECT vec_id,
          max(CASE WHEN j=0 THEN code END) AS c0,
          max(CASE WHEN j=1 THEN code END) AS c1,
          max(CASE WHEN j=2 THEN code END) AS c2,
          max(CASE WHEN j=3 THEN code END) AS c3
        FROM enc GROUP BY vec_id),
      dtab AS (SELECT vec_id AS q_id, j, code, d FROM dsub WHERE vec_id < $NQ)"""
  }

  /** Product quantization + asymmetric-distance search
    * (operators.ProductQuantizer): vectors compress to PqM code ids
    * (the memory-bound scale path past s02's IVF — 64-dim float32 →
    * 4 bytes at this setting), queries stay exact, and every corpus
    * distance is PqM lookups into a broadcast query-to-codeword table
    * summed left-to-right on both engines. The codebook here is the
    * deterministic first-PqK slices (s02's convention) so DuckDB can
    * replay encode + search bit-for-bit; the production path refines
    * the same codebook with per-subspace Lloyd iterations
    * (ProductQuantizerSpec pins distortion non-increase).
    */
  val s08PqAdc = Q(
    "s08_pq_adc",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val cb = graft.operators.ProductQuantizer
        .fitCodebook(e, "embedding", "vec_id", PqM, PqK, dim = 64)
      // spread the single-file scan before the codegen'd encode projection
      val enc = graft.operators.ProductQuantizer
        .encode(e.repartition(s.sparkContext.defaultParallelism), "embedding", cb)
      val q = e.filter($"vec_id" < NQ)
      graft.operators.ProductQuantizer
        .adcSearch(enc, "vec_id", q, "vec_id", "embedding", cb, PqTopK)
    },
    Some {
      s"""WITH ${pqSql()},
      pairs AS (
        SELECT t0.q_id, c.vec_id, t0.d + t1.d + t2.d + t3.d AS adc
        FROM codesw c
        JOIN dtab t0 ON t0.j=0 AND t0.code=c.c0
        JOIN dtab t1 ON t1.q_id=t0.q_id AND t1.j=1 AND t1.code=c.c1
        JOIN dtab t2 ON t2.q_id=t0.q_id AND t2.j=2 AND t2.code=c.c2
        JOIN dtab t3 ON t3.q_id=t0.q_id AND t3.j=3 AND t3.code=c.c3
        WHERE c.vec_id <> t0.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, adc AS adc_dist
      FROM ranked WHERE rank <= $PqTopK"""
    })

  /** PQ recall gate — d07's role for the vector path: recall@k of
    * s08's compressed-domain search against the EXACT squared-L2
    * top-k, computed independently of the PQ chain (brute-force
    * distances, s01's shape). A quantization bug that silently
    * reordered neighbors would keep s08 green (both engines replay
    * the same codebook algebra) but drop `recall` here. Reported per
    * query vector; the audit side is O(queries × corpus) — the
    * same "expensive baseline audits the cheap path" shape as d07.
    * Measured recall on the synthetic embeddings is LOW by
    * construction (~0.1–0.2 vs ~0.01 chance): the vectors are
    * near-uniform, so exact top-5 neighbors are nearly equidistant
    * and heavy compression (64 floats → 4 code ids) can't separate
    * them — the audit reports that honestly rather than hiding it
    * (ProductQuantizerSpec pins signal ≥ 10× chance and that Lloyd
    * refinement cuts real-data distortion).
    */
  val s09PqRecall = Q(
    "s09_pq_recall",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val cb = graft.operators.ProductQuantizer
        .fitCodebook(e, "embedding", "vec_id", PqM, PqK, dim = 64)
      val enc = graft.operators.ProductQuantizer
        .encode(e.repartition(s.sparkContext.defaultParallelism), "embedding", cb)
      val q = e.filter($"vec_id" < NQ)
      val approx = graft.operators.ProductQuantizer
        .adcSearch(enc, "vec_id", q, "vec_id", "embedding", cb, PqTopK)
        .select($"q_id", $"neighbor_id", lit(1L).as("hit"))
      // exact ground truth: full squared L2, rank-on-rounded, id ties
      val qx = q.select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val wExact = Window.partitionBy($"q_id").orderBy($"d2".asc, $"vec_id".asc)
      val exact = e.repartition(s.sparkContext.defaultParallelism)
        .crossJoin(broadcast(qx))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(dot($"embedding", $"embedding")
            - lit(2.0) * dot($"embedding", $"q_emb")
            + dot($"q_emb", $"q_emb"), 6).as("d2"))
        .withColumn("rank", row_number().over(wExact))
        .filter($"rank" <= PqTopK)
        .select($"q_id", $"vec_id".as("neighbor_id"))
      exact.join(approx, Seq("q_id", "neighbor_id"), "left")
        .groupBy($"q_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce($"hit", lit(0L))).as("n_caught"))
        .select($"q_id", $"n_true", $"n_caught",
          round($"n_caught" / $"n_true", 4).as("recall"))
    },
    Some {
      val sd = 64 / PqM
      val s08Sql = s08PqAdc.oracle.get
      s"""WITH approx AS (SELECT q_id, neighbor_id FROM ($s08Sql)),
      qx AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQ),
      dists AS (
        SELECT qx.q_id, e.vec_id,
          round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
            - 2*list_dot_product(e.embedding::DOUBLE[], qx.q_emb::DOUBLE[])
            + list_dot_product(qx.q_emb::DOUBLE[], qx.q_emb::DOUBLE[]), 6) AS d2
        FROM embeddings e, qx WHERE e.vec_id <> qx.q_id),
      exact AS (
        SELECT q_id, vec_id AS neighbor_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, vec_id ASC) AS rank
          FROM dists)
        WHERE rank <= $PqTopK)
      SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_true,
        CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
        round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall
      FROM exact t
      LEFT JOIN approx a ON a.q_id = t.q_id AND a.neighbor_id = t.neighbor_id
      GROUP BY t.q_id"""
    })

  /** IVF×PQ — the production ANN index composition (FAISS IVFPQ,
    * Jégou et al. 2011, "Product quantization for nearest neighbor
    * search"): s02's coarse quantizer prunes the scan to nprobe/K of
    * the corpus, s08's product quantizer compresses what remains to m
    * code ids per vector, and search is an ADC table-lookup scan of
    * ONLY the probed cells. At 100 TB the cell id is a write-time
    * partition column (probe = partition pruning) and the PQ codes are
    * ~0.4% of raw embedding bytes, so a query touches nprobe
    * partitions of 4-byte codes instead of the full float corpus. Both
    * stages are already individually oracle-checked (s02, s08); this
    * query pins their composition — the DuckDB oracle replays coarse
    * assignment, probe selection, PQ encoding, and the cell-restricted
    * ADC rank end-to-end. Recall vs the exact top-k is audited
    * independently in IvfPqSpec (the s09 pattern: pruning + heavy
    * compression on near-uniform synthetic vectors is reported
    * honestly, not hidden).
    */
  val s10IvfPq = Q(
    "s10_ann_ivfpq",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      // centroids and codebook seeds are both first-n prefixes: one collect
      val first = firstVecs(s, dir, math.max(NCENTROIDS, PqK))
      val cents = first.take(NCENTROIDS)
      val cb = graft.operators.ProductQuantizer.seedCodebook(first.take(PqK), PqM, dim = 64)
      // coarse cell + PQ codes in ONE projection pass over the corpus
      val enc = graft.operators.ProductQuantizer
        .encode(coarseAssign(s, dir, cents), "embedding", cb)
      val probes = coarseProbes(s, dir, cents).select($"q_id", $"c_id")
      val q = e.filter($"vec_id" < NQ)
      graft.operators.ProductQuantizer
        .adcSearchCells(enc, "vec_id", "c_id", probes, q, "vec_id", "embedding", cb, PqTopK)
    },
    Some {
      s"""WITH $coarseSql,
      ${pqSql()},
      pairs AS (
        SELECT p.q_id, c.vec_id, t0.d + t1.d + t2.d + t3.d AS adc
        FROM codesw c
        JOIN assigned a ON a.vec_id = c.vec_id
        JOIN probes p ON p.c_id = a.c_id
        JOIN dtab t0 ON t0.q_id = p.q_id AND t0.j=0 AND t0.code=c.c0
        JOIN dtab t1 ON t1.q_id = p.q_id AND t1.j=1 AND t1.code=c.c1
        JOIN dtab t2 ON t2.q_id = p.q_id AND t2.j=2 AND t2.code=c.c2
        JOIN dtab t3 ON t3.q_id = p.q_id AND t3.j=3 AND t3.code=c.c3
        WHERE c.vec_id <> p.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, adc AS adc_dist
      FROM ranked WHERE rank <= $PqTopK"""
    },
    headline = true)

  /** Residual IVF×PQ — FAISS IVFPQ's actual default (`by_residual`):
    * the product quantizer codes the RESIDUAL (vector − its cell's
    * centroid) instead of the raw vector, so the codebook spends its
    * bits on what the coarse cell did not explain — the composition
    * that makes IVFPQ accurate in production. Differences from s10:
    * the codebook is fit on the first-PqK residuals, encode subtracts
    * the row's own cell centroid inside the native kernel
    * (`PqEncodeResidualCode`), and each (query, probed cell) pair gets
    * its OWN ADC table because the query's residual differs per cell
    * (table rows = queries × nprobe × m × k, still driver-bounded).
    * Residual elements round to float32 before any distance math, so
    * the oracle's `(x - c)::FLOAT` replays the kernel bit-for-bit.
    * IvfPqSpec audits recall vs exact for both variants side by side.
    */
  val s11IvfPqResidual = Q(
    "s11_ann_ivfpq_residual",
    (s, dir) => {
      import s.implicits._
      val cents = centroidArray(s, dir)
      val assigned = coarseAssign(s, dir, cents)
      val cb = graft.operators.ProductQuantizer
        .fitResidualCodebook(assigned, "embedding", "c_id", "vec_id", cents, PqM, PqK, dim = 64)
      val enc = graft.operators.ProductQuantizer
        .encodeResidual(assigned, "embedding", "c_id", cents, cb)
      val probes = coarseProbes(s, dir, cents).select($"q_id", $"c_id")
      val q = Tables.embeddings(s, dir).filter($"vec_id" < NQ)
      graft.operators.ProductQuantizer
        .adcSearchCellsResidual(enc, "vec_id", "c_id", probes, q, "vec_id", "embedding",
          cents, cb, PqTopK)
    },
    Some {
      val sd = 64 / PqM
      s"""WITH $coarseSql,
      res AS (
        SELECT a.vec_id, a.c_id,
          list_transform(list_zip(a.embedding, c.c_emb), p -> (p[1] - p[2])::FLOAT) AS r
        FROM assigned a JOIN cents c ON a.c_id = c.c_id),
      ${pqSql("res", "r")},
      qres AS (
        SELECT p.q_id, p.c_id,
          list_transform(list_zip(p.q_emb, c.c_emb), pp -> (pp[1] - pp[2])::FLOAT) AS r
        FROM probes p JOIN cents c ON p.c_id = c.c_id),
      qdtab AS (
        SELECT e.q_id, e.c_id, c.j, c.code,
          round(
            list_dot_product(e.r[c.j*$sd+1:(c.j+1)*$sd]::DOUBLE[],
                             e.r[c.j*$sd+1:(c.j+1)*$sd]::DOUBLE[])
            - 2*list_dot_product(e.r[c.j*$sd+1:(c.j+1)*$sd]::DOUBLE[],
                                 c.cs::DOUBLE[])
            + list_dot_product(c.cs::DOUBLE[], c.cs::DOUBLE[]), 6) AS d
        FROM qres e, cbsub c),
      pairs AS (
        SELECT p.q_id, cw.vec_id, t0.d + t1.d + t2.d + t3.d AS adc
        FROM codesw cw
        JOIN res a ON a.vec_id = cw.vec_id
        JOIN probes p ON p.c_id = a.c_id
        JOIN qdtab t0 ON t0.q_id=p.q_id AND t0.c_id=a.c_id AND t0.j=0 AND t0.code=cw.c0
        JOIN qdtab t1 ON t1.q_id=p.q_id AND t1.c_id=a.c_id AND t1.j=1 AND t1.code=cw.c1
        JOIN qdtab t2 ON t2.q_id=p.q_id AND t2.c_id=a.c_id AND t2.j=2 AND t2.code=cw.c2
        JOIN qdtab t3 ON t3.q_id=p.q_id AND t3.c_id=a.c_id AND t3.j=3 AND t3.code=cw.c3
        WHERE cw.vec_id <> p.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, adc AS adc_dist
      FROM ranked WHERE rank <= $PqTopK"""
    },
    // headline since r9: the FAISS-default production ANN path (s10's
    // by_residual sibling) — same scale-safe plan shape (one scan, one
    // broadcast join of per-(query, cell) tables, WindowGroupLimit
    // rank), so it belongs in the measured record
    headline = true)

  /** s12: BM25 top-k lexical retrieval — the inverted-index shape that
    * sits beside embedding ANN in every retrieval / RAG data pipeline
    * (Robertson & Zaragoza 2009; Lucene's BM25 with the +1 idf that
    * keeps saturated terms non-negative). Query set = every corpus doc
    * with doc_id % 97 == 0, self-matches excluded, top-10 per query.
    *
    * Scale shape: posting-list construction is ZERO-shuffle — the
    * native `term_freqs` kernel (one codegen'd call per document)
    * emits each doc's (term, tf) census and length row-locally, so
    * the corpus-wide explode + (doc, term) groupBy exchange — the
    * single largest shuffle of a lexical index build at 100 TB —
    * never happens. Corpus stats (doc count, total token count) ride
    * as a 1-row broadcast frame (t20's X10 pattern) rather than eager
    * driver scalars, so the whole query is ONE action; the df census
    * is FULL-vocabulary (word-count-shaped, vocab-sized partials) and
    * so has no dependency on the query branch — AQE runs the census,
    * the stats pass, and the query branch as concurrent leaf stages,
    * where a query-restricted census would serialize behind the qt
    * broadcast (r11's measured critical path). The query-term table
    * and the query-vocabulary restriction of the census are tiny and
    * explicitly `broadcast()` — per-term idf and per-posting
    * saturation num/denom are computed broadcast-side / posting-side
    * so the contribution frame (the plan's biggest) does 3 FP ops per
    * row — and scoring is two shuffle-free map-side joins over the
    * posting lists plus one partial-aggregating groupBy on (query_id,
    * doc_id) restricted to query-matched postings — the plan's only
    * corpus-scale exchange. (A served production index
    * would persist/write the compact posting lists once; here each
    * branch recomputes the cheap kernel scan instead — at one query
    * batch per corpus read, materialization costs more than it saves.)
    * Top-10 is folded into a native bottom-k-per-query aggregate
    * (the q54 BottomKPairsAgg pattern): partial aggregation truncates
    * map-side, so the per-query exchange moves k-sized heaps instead
    * of every scored pair, and the sort + window stage the old
    * row_number shape paid is gone. At 100 TB the posting
    * lists are the big side and stopword terms are the skew — AQE's
    * skew-join split handles them; block-max WAND pruning is the next
    * rung and is deliberately out of scope.
    *
    * Determinism contract (CLAUDE.md): every FP op before the sum is
    * written in the same left-associative order on both sides over
    * exact integers, so each rounds identically; the per-term
    * contribution is then quantized to integer MICRO-units, making the
    * per-(query, doc) sum a bigint — exact and summation-order-free
    * (a 4-dp round of a double sum still flipped one boundary row at
    * sf0.001). The 4-dp HALF_UP round then happens in INTEGER
    * arithmetic ((sum + 50) div 100 on the 6-dp micros) — rounding
    * the double quotient instead hit a half boundary at sf1, where
    * Spark's BigDecimal round and DuckDB's multiply-then-round
    * disagree — followed by one exact integer/1e4 division; ranking
    * orders on that score with a doc_id tie-break.
    */
  /** s12's ranked frame (query_id, rank, doc_id, score), reused by the
    * s14 hybrid fusion so both consumers score through the identical
    * lexical stage.
    */
  private def bm25Ranked(s: org.apache.spark.sql.SparkSession, dir: String) = {
      import s.implicits._
      import graft.functions.exprs
      val docs = Tables.documents(s, dir)
      // Spread the corpus across all cores FIRST: the scoring stage
      // (broadcast joins + partial agg over every query-matched
      // posting — hundreds of millions of rows at sf10) is map-side
      // on whatever partitioning the scan gives, and a single-file
      // local corpus gives 1-2 partitions — measured as the whole
      // query running ~1.5 cores wide at sf1/sf10. On a real cluster
      // the scan is thousands of splits and this exchange is ~free
      // relative to the scoring work it parallelizes; `stats` reads
      // the SAME exchange (reuse), so the corpus bytes move once.
      val spread = docs.repartition(s.sparkContext.defaultParallelism)
      // Posting-list build: the one corpus exchange above, then zero
      // further shuffle. `term_freqs` computes each doc's (term, tf)
      // census and length inside its own row (one codegen'd kernel
      // call per doc); the projection + explode that follow never
      // exchange anything. The kernel struct is aliased ONCE (`p`) so
      // CollapseProject cannot duplicate the non-cheap call into
      // per-field copies.
      //
      // DELIBERATED r20 (guide §2.4) and KEPT LAZY: the final adaptive
      // plan does run FOUR specialized corpus scans (the %97 filter and
      // column pruning split the "shared" spread exchange per branch —
      // plans/r20/s12_bm25_topk_before.txt nodes 1/9/16/34), but a
      // localCheckpoint of the one-kernel-pass per-doc census measured
      // WORSE at every configuration tried: sf0.1/32c 1.12 -> 1.22 s,
      // sf0.1/8c 0.97 -> 1.20 s, sf1/32c 4.70 -> 4.90 s, sf1/8c
      // 6.80 -> 7.71 s (reps>=3 medians, quiet). Serializing the
      // per-doc term-census maps through the checkpoint costs more
      // than re-running the codegen'd kernel 3-4x — the Scaladoc's
      // "materialization costs more than it saves" is measured, not
      // assumed.
      val tf = spread
        .select($"doc_id", exprs.term_freqs($"text").as("p"))
        .select($"doc_id", $"p.dl".as("dl"), explode($"p.freqs").as("f"))
        .select($"doc_id", $"dl", $"f.term".as("term"), $"f.tf".as("tf"))
      // Corpus stats (N docs, total tokens) as a 1-row frame attached
      // inside scoreTopK's broadcast build (t20's X10 pattern) instead
      // of eager driver scalars: the whole query is ONE action, and
      // AQE runs this census, the query branch, and the df census as
      // CONCURRENT leaf stages — the kernel pass here costs no
      // wall-clock while the df census owns the critical path.
      val stats = spread.agg(
        count(lit(1)).as("n_docs"),
        sum(exprs.term_freqs($"text").getField("dl")).as("s_tok"))
      // The query-term table is DERIVED from the posting frame (a
      // 1-in-97 filter after the shared spread exchange): the third
      // kernel evaluation the old raw-scan branch paid is gone, and
      // qt's stage reads the exchange the census is reading anyway —
      // it finishes inside the census's window, so the broadcast
      // build leaves the critical path. Kernel freqs are per-doc
      // unique, so no distinct is needed.
      val qt = tf.filter($"doc_id" % 97 === 0)
        .select($"doc_id".as("query_id"), $"term")
      // Scoring (df census restricted to query vocabulary hence
      // broadcastable, integer-micro contributions via floor — no
      // per-row BigDecimal, bigint sums, integer 4-dp half-up,
      // rounded-score ranking) lives in operators.Bm25.scoreTopK,
      // SHARED with the incremental index so stream ≡ batch is a
      // property of index contents, not of two scorers agreeing.
      graft.operators.Bm25.scoreTopK(tf, qt, stats, k = 10)
  }

  val s12Bm25 = Q(
    "s12_bm25_topk",
    (s, dir) => bm25Ranked(s, dir),
    Some(s"""WITH toks AS (
        SELECT doc_id, unnest(${graft.functions.TextFunctions.wsTokensSql}) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                       (SELECT count(*) FROM toks) AS s),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      qt AS (SELECT DISTINCT doc_id AS query_id, term FROM toks
             WHERE doc_id % 97 = 0),
      contrib AS (
        SELECT q.query_id, t.doc_id,
          CAST(floor(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) *
            ((t.tf * 2.2) /
             (t.tf + 1.2 * (0.25 + (0.75 * l.dl * st.n) / st.s)))
            * 1000000.0 + 0.5) AS BIGINT) AS c
        FROM tf t
        JOIN dl l USING (doc_id)
        JOIN dfreq d USING (term)
        JOIN qt q USING (term), stats st
        WHERE t.doc_id <> q.query_id),
      scored AS (
        SELECT query_id, doc_id,
          (CAST((sum(c) + 50) // 100 AS BIGINT)) / 10000.0 AS score
        FROM contrib GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored)
      SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10"""),
    headline = true)

  /** s13: SQ8 asymmetric-distance top-k — the search rung that s03's
    * scalar quantization feeds (FAISS `IndexScalarQuantizer(QT_8bit)`
    * shape). The corpus is compressed 4× to per-vector max-abs int8
    * codes; queries stay float32; the score is the asymmetric inner
    * product scale × dot(codes, q), i.e. the reconstruction's dot
    * with NO decode step — the codes-as-integer-floats ride straight
    * through the same [[graft.functions.DotProductF]] kernel the
    * exact queries use. Completes the quantization ladder: s03
    * measures the encode error, s13 searches the codes, s08/s10/s11
    * are the product-quantized rungs.
    *
    * Scale shape: encode is ONE codegen'd kernel call per vector in
    * the corpus scan (zero shuffle, no BigDecimal — see
    * [[graft.functions.VectorExprImpl.sq8Encode]]); the NQ query
    * vectors broadcast; scoring is a map-side broadcast nested-loop
    * over the scan, and top-10 per query goes through the
    * row_number → filter shape Spark pre-truncates with
    * WindowGroupLimit. At 100 TB the codes are what you'd PERSIST —
    * the scan reads 1/4 the bytes of the float corpus — and the
    * only exchange is the model-sized top-k combine.
    *
    * Determinism contract (CLAUDE.md): code_j = floor(x_j/scale + .5)
    * and micro-score = floor(scale × dot × 1e6 + .5) are the same
    * IEEE ops in the same order on both engines (dot is the
    * sequential left fold both kernels implement), so scores are
    * bit-equal; ranking orders on the quantized micros with a vec_id
    * tie-break. Zero vectors (scale = 0) are filtered on BOTH sides.
    */
  val s13Sq8Adc = Q(
    "s13_sq8_adc",
    (s, dir) => {
      import s.implicits._
      import graft.functions.exprs
      val e = Tables.embeddings(s, dir)
      val q = e.filter($"vec_id" < NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      // kernel struct aliased ONCE so CollapseProject can't duplicate
      // the encode into per-field copies
      val codes = e
        .select($"vec_id", exprs.sq8_encode($"embedding").as("enc"))
        .select($"vec_id", $"enc.scale".as("scale"), $"enc.codes".as("codes"))
        .filter($"scale" > 0.0)
      val scored = codes
        .repartition(s.sparkContext.defaultParallelism)
        .crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          floor($"scale" * exprs.dot_f($"codes", $"q_emb") * lit(1000000.0) + lit(0.5))
            .cast("long").as("micro"))
      val w = Window.partitionBy($"q_id").orderBy($"micro".desc, $"vec_id".asc)
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id".as("neighbor_id"),
          ($"micro" / lit(1000000.0)).as("adc_score"))
    },
    Some(s"""WITH enc AS (
        SELECT vec_id,
          list_aggregate(list_transform(embedding::DOUBLE[], v -> abs(v)), 'max') / 127.0 AS scale,
          embedding::DOUBLE[] AS e
        FROM embeddings),
      codes AS (
        SELECT vec_id, scale,
          list_transform(e, v -> floor(v / scale + 0.5)) AS c
        FROM enc WHERE scale > 0),
      q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
            FROM embeddings WHERE vec_id < $NQ),
      pairs AS (
        SELECT q.q_id, c.vec_id,
          CAST(floor(c.scale * list_dot_product(c.c, q.q_emb) * 1000000.0 + 0.5) AS BIGINT) AS micro
        FROM codes c, q WHERE c.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, micro,
          row_number() OVER (
            PARTITION BY q_id ORDER BY micro DESC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, micro / 1000000.0 AS adc_score
      FROM ranked WHERE rank <= $K"""),
    headline = true)

  /** s14: hybrid retrieval — reciprocal-rank fusion of the s12 BM25
    * top-10 and a dense cosine top-10 over the same query set (Cormack
    * et al. 2009, RRF with k0 = 60: score = Σ 1/(60 + rank); the
    * standard first fusion every lexical+vector retrieval stack runs
    * before learned rerankers). Queries are the 1-in-97 documents;
    * the dense list exists only where the query/candidate has an
    * embedding (at sf0.1 the embedding table covers a prefix of the
    * corpus — docs without vectors participate lexically, exactly the
    * production partial-coverage case), and the FULL OUTER fusion
    * scores single-list hits with the contribution they have.
    *
    * Scale shape: the lexical branch is s12's RANKED FRAME, not s12's
    * plan — [[graft.operators.Bm25.sharedRanked]] computes it once per
    * (session, corpus) and `localCheckpoint`s the |queries| × 10
    * result, so the fusion never re-runs the posting/scoring pipeline
    * (the production hybrid stack's shape: one lexical ranking shared
    * by every downstream fusion; s12 itself stays the un-memoized
    * measurement of that pipeline). The dense branch is s01's
    * broadcast-queries scan shape restricted to the 1-in-97 query
    * vectors. Fusion is a UNION of per-list contributions — each list
    * has unique (query_id, doc_id), so summing union'd contributions
    * ≡ the full-outer coalesce sum — repartitioned ONCE by query_id:
    * hash(query_id) satisfies the (query_id, doc_id) aggregate's
    * clustering AND the final rank window's, so the sum and the
    * window run off that single model-sized exchange (the old
    * full-outer sort-merge join cost two exchanges + two sorts more).
    *
    * Determinism contract: contributions are INTEGER nano-units
    * (1e9 div (60 + rank) — exact bigint division on both engines, no
    * FP), summed as bigints; ranking orders on rrf_micro with a
    * doc_id tie-break.
    */
  val s14HybridRrf = Q(
    "s14_hybrid_rrf",
    (s, dir) => {
      import s.implicits._
      val lex = graft.operators.Bm25.sharedRanked(s, dir)(bm25Ranked(s, dir))
        .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
      val e = Tables.embeddings(s, dir)
      val q = e.filter($"vec_id" % 97 === 0)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val sim = e.repartition(s.sparkContext.defaultParallelism)
        .crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("doc_id"),
          round(cosineSimilarity($"embedding", $"q_emb"), 6).as("cos_sim"))
      val wd = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"doc_id".asc)
      val den = sim.withColumn("vec_rank", row_number().over(wd))
        .filter($"vec_rank" <= K)
        .select($"query_id", $"doc_id", $"vec_rank")
      val contrib = lex
        .select($"query_id", $"doc_id",
          expr("1000000000 div (60 + lex_rank)").cast("long").as("c"))
        .unionByName(den.select($"query_id", $"doc_id",
          expr("1000000000 div (60 + vec_rank)").cast("long").as("c")))
      val fused = contrib.repartition($"query_id")
        .groupBy($"query_id", $"doc_id")
        .agg(sum($"c").cast("long").as("rrf_micro"))
      val wf = Window.partitionBy($"query_id").orderBy($"rrf_micro".desc, $"doc_id".asc)
      fused.withColumn("rank", row_number().over(wf))
        .filter($"rank" <= K)
        .select($"query_id", $"rank", $"doc_id", $"rrf_micro")
    },
    Some {
      val s12Sql = s12Bm25.oracle.get
      s"""WITH lex AS (
        SELECT query_id, doc_id, rank AS lex_rank FROM ($s12Sql)),
      dq AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        WHERE vec_id % 97 = 0),
      denp AS (
        SELECT d.query_id, e.vec_id AS doc_id,
          round(list_dot_product(e.embedding::DOUBLE[], d.q_emb::DOUBLE[]) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(d.q_emb::DOUBLE[], d.q_emb::DOUBLE[]))), 6) AS cos_sim
        FROM embeddings e, dq d WHERE e.vec_id <> d.query_id),
      den AS (
        SELECT query_id, doc_id, rank AS vec_rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, doc_id ASC) AS rank
          FROM denp)
        WHERE rank <= $K),
      fused AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
          coalesce(l.doc_id, d.doc_id) AS doc_id,
          CAST(coalesce(1000000000 // (60 + l.lex_rank), 0) +
               coalesce(1000000000 // (60 + d.vec_rank), 0) AS BIGINT) AS rrf_micro
        FROM lex l FULL JOIN den d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC) AS rank
        FROM fused)
      SELECT query_id, rank, doc_id, rrf_micro FROM ranked WHERE rank <= $K"""
    },
    headline = true)

  private val CPOOL = 20 // s15 MMR candidate pool per query
  private val KSEL = 5 // s15 MMR selections per query
  private val MmrLambda = 0.5 // relevance/diversity balance; 0.5 is exact in FP

  /** s15: MMR-diversified top-k (Carbonell & Goldstein 1998, maximal
    * marginal relevance) — the diversity-aware selection stage that
    * runs AFTER ANN in retrieval and training-data curation: pick k
    * results that are relevant to the query but not redundant with
    * each other, score(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s).
    * Greedy by definition — each pick changes the redundancy term for
    * the rest — and the greedy state is |Q|×CPOOL, so the rounds run
    * as DRIVER arithmetic over the collected pool (the q13/q54/t16
    * driver-model pattern), not as KSEL sequential Spark jobs.
    *
    * Scale shape: ONE corpus pass builds the top-CPOOL candidate pool
    * per query (s01's broadcast-queries scan + WindowGroupLimit), and
    * the pool is checkpointed WITH its embeddings so the pairwise
    * similarity matrix (|Q| × CPOOL² rows) never rescans the corpus;
    * both frames are then model-sized, collected once, and the KSEL
    * greedy rounds cost zero job barriers.
    *
    * Determinism: rel and s_ab are round-6 cosines; λ = 0.5 makes
    * λ·rel and (1−λ)·ms EXACT FP products (power of two), and the
    * score a single IEEE subtraction — identical on both engines;
    * ties break on doc_id; max() is summation-order-free. The oracle
    * replays all KSEL greedy rounds as generated CTE chains (t21's
    * unrolled-iteration pattern).
    */
  val s15MmrDiversify = Q(
    "s15_mmr_diversify",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val q = e.filter($"vec_id" < NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val sim = e.repartition(s.sparkContext.defaultParallelism)
        .crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("doc_id"), $"embedding",
          round(cosineSimilarity($"embedding", $"q_emb"), 6).as("rel"))
        .filter($"rel".isNotNull)
      val wc = Window.partitionBy($"q_id").orderBy($"rel".desc, $"doc_id".asc)
      // candidate pool carries embeddings so the pairwise stage never
      // rescans the corpus; checkpointed — every greedy round consumes it
      val cand = sim.withColumn("rk", row_number().over(wc)).filter($"rk" <= CPOOL)
        .select($"q_id", $"doc_id", $"rel", $"embedding")
        .localCheckpoint(true)
      val ps = cand.select($"q_id", $"doc_id".as("d_a"), $"embedding".as("emb_a"))
        .join(cand.select($"q_id".as("pq_id"), $"doc_id".as("d_b"), $"embedding".as("emb_b")),
          $"q_id" === $"pq_id" && $"d_a" =!= $"d_b")
        .select($"q_id", $"d_a", $"d_b",
          round(cosineSimilarity($"emb_a", $"emb_b"), 6).as("s_ab"))
        .localCheckpoint(true)
      // Greedy selection on the DRIVER (the q13/q54/withRank pattern):
      // the pool (|Q|×CPOOL) and pairwise-sim (|Q|×CPOOL²) frames are
      // model-sized and already checkpointed — running the KSEL rounds
      // as Spark jobs paid ~3·KSEL sequential job barriers over
      // few-thousand-row frames (r12's heaviest non-pipeline headliner
      // at 3.2 s). Arithmetic is byte-identical to the oracle's CTE
      // chain: score = λ·rel − (1−λ)·max s_ab with λ = 0.5 (both
      // products exact powers-of-two scalings), max is order-free,
      // ties break on doc_id asc. Round 1 (empty selected set) scores
      // 0.5·rel, whose order equals the rel order the oracle's sel1
      // uses (exact monotone scaling).
      val poolRows = cand.select($"q_id", $"doc_id", $"rel").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val simByPair = ps.collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
        .toMap
      val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
      poolRows.groupBy(_._1).foreach { case (qid, cs) =>
        var rem = cs.map(c => (c._2, c._3)).toVector // (doc_id, rel)
        val sel = scala.collection.mutable.ArrayBuffer[Long]()
        var i = 1
        while (i <= KSEL && rem.nonEmpty) {
          var bestDoc = -1L
          var bestScore = Double.NegativeInfinity
          rem.foreach { case (d, rel) =>
            val score =
              if (sel.isEmpty) MmrLambda * rel
              else MmrLambda * rel -
                (1 - MmrLambda) * sel.iterator.map(sd => simByPair((qid, d, sd))).max
            if (score > bestScore || (score == bestScore && d < bestDoc)) {
              bestDoc = d; bestScore = score
            }
          }
          out += ((qid, i, bestDoc, bestScore))
          sel += bestDoc
          rem = rem.filter(_._1 != bestDoc)
          i += 1
        }
      }
      out.toSeq.toDF("q_id", "sel_rank", "doc_id", "mmr_score")
    },
    Some {
      def cos(a: String, b: String) =
        s"""round(list_dot_product($a.embedding::DOUBLE[], $b.embedding::DOUBLE[]) /
          (sqrt(list_dot_product($a.embedding::DOUBLE[], $a.embedding::DOUBLE[])) *
           sqrt(list_dot_product($b.embedding::DOUBLE[], $b.embedding::DOUBLE[]))), 6)"""
      val steps = (2 to KSEL).map { i =>
        s"""sc$i AS (
          SELECT r.q_id, r.doc_id,
            $MmrLambda * r.rel - ${1 - MmrLambda} * coalesce(max(p.s_ab), 0.0) AS mmr_score
          FROM rem${i - 1} r
          JOIN ps p ON p.q_id = r.q_id AND p.d_a = r.doc_id
          JOIN sel${i - 1} s ON s.q_id = p.q_id AND s.doc_id = p.d_b
          GROUP BY r.q_id, r.doc_id, r.rel),
        pick$i AS (
          SELECT q_id, doc_id, $i AS sel_rank, mmr_score FROM (
            SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY mmr_score DESC, doc_id ASC) AS rk
            FROM sc$i) WHERE rk = 1),
        sel$i AS (
          SELECT q_id, doc_id, sel_rank, mmr_score FROM sel${i - 1}
          UNION ALL
          SELECT q_id, doc_id, sel_rank, mmr_score FROM pick$i),
        rem$i AS (
          SELECT * FROM rem${i - 1} r WHERE NOT EXISTS (
            SELECT 1 FROM pick$i k
            WHERE k.q_id = r.q_id AND k.doc_id = r.doc_id))"""
      }.mkString(",\n", ",\n", "")
      s"""WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQ),
      rel0 AS (
        SELECT q.q_id, e.vec_id AS doc_id, e.embedding,
          round(list_dot_product(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[]))), 6) AS rel
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      cand AS (
        SELECT q_id, doc_id, embedding, rel FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY rel DESC, doc_id ASC) AS rk
          FROM rel0 WHERE rel IS NOT NULL)
        WHERE rk <= $CPOOL),
      ps AS (
        SELECT a.q_id, a.doc_id AS d_a, b.doc_id AS d_b, ${cos("a", "b")} AS s_ab
        FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.doc_id <> b.doc_id),
      sel1 AS (
        SELECT q_id, doc_id, 1 AS sel_rank, $MmrLambda * rel AS mmr_score FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY rel DESC, doc_id ASC) AS rk
          FROM cand) WHERE rk = 1),
      rem1 AS (
        SELECT c.q_id, c.doc_id, c.rel FROM cand c WHERE NOT EXISTS (
          SELECT 1 FROM sel1 s WHERE s.q_id = c.q_id AND s.doc_id = c.doc_id))$steps
      SELECT q_id, sel_rank, doc_id, mmr_score FROM sel$KSEL"""
    },
    headline = true)

  private val SweepProbes = Seq(1, 2, 4, 8) // s16 nprobe sweep points

  /** Each query's top-`maxProbe` cells WITH their probe rank —
    * [[coarseProbes]] generalized so one frame serves every sweep
    * point (filter on `prn`).
    */
  private def coarseProbesRanked(
      s: org.apache.spark.sql.SparkSession, dir: String, cents: Array[Array[Float]],
      maxProbe: Int) = {
    import s.implicits._
    queryVectors(s, dir).toSeq.flatMap { case (qid, q) =>
      val ranked = cents.indices.map(i => (i.toLong, roundedCosine(q, cents(i))))
        .sortWith(graft.functions.VectorFunctions.probeBefore)
      ranked.take(maxProbe).zipWithIndex.map { case ((cid, _), idx) =>
        (qid, q, cid, idx + 1)
      }
    }.toDF("q_id", "q_emb", "c_id", "prn")
  }

  /** s16: IVF recall-vs-nprobe sweep — the tuning curve every ANN
    * deployment produces before picking its speed/recall operating
    * point (FAISS's `nprobe` knob; the s09/d07 audit pattern turned
    * into the full curve). For each nprobe in {1,2,4,8}: recall@K of
    * the IVF search against s01's exact ranking, reported as the
    * per-query mean AND the worst query (tail recall is what SLAs
    * break on, and a mean alone hides it).
    *
    * Scale shape: ONE cell-filtered corpus scan serves every sweep
    * point — cosines are computed once for the union (max-nprobe)
    * probe set with each pair carrying its cell's probe rank, and
    * each sweep point just filters `prn <= n` before its
    * WindowGroupLimit rank (the frame is checkpointed; so is the
    * exact ground truth, s01's own stage shared via
    * `bruteForceRanked`). Everything after the two scans is
    * |queries|-sized. Recall arithmetic is integer overlap counts
    * divided by exact constants, rounded identically on both engines.
    */
  val s16IvfRecallSweep = Q(
    "s16_ivf_recall_sweep",
    (s, dir) => {
      import s.implicits._
      val exact = bruteForceRanked(s, dir)
        .select($"q_id", $"neighbor_id")
        .localCheckpoint(true) // the overlap join consumes it per sweep point
      val cents = centroidArray(s, dir)
      val assigned = coarseAssign(s, dir, cents)
      val probes = coarseProbesRanked(s, dir, cents, SweepProbes.max)
      // integer-micro scores (floor(round6 · 1e6 + 0.5), the s19/s20
      // ordering convention — strictly monotone on 6-dp-rounded
      // doubles, so the (cos desc, vec_id asc) rank order is EXACTLY
      // the (-micro, vec_id) heap order; NULL cosines drop on BOTH
      // sides — the oracle's rank CTEs filter cos_sim IS NOT NULL, so
      // the equivalence is structural, not data-dependent (ADVICE r20))
      val pairs = assigned.join(broadcast(probes), Seq("c_id"))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"prn", $"vec_id",
          floor(round(cosineSimilarity($"embedding", $"q_emb"), 6)
            * lit(1000000.0) + lit(0.5)).cast("long").as("cos_micro"))
        .filter($"cos_micro".isNotNull)
        .localCheckpoint(true) // every sweep point reads this one scan
      // r20 rework (guide §2.3/§2.4; the q54/s12 bottom-k pattern, then
      // ONE pass over all sweep points): the old shape ran FOUR
      // independent sweep branches — each a row_number window
      // re-exchanging the whole pair frame on q_id plus a stats-less
      // post-checkpoint join the planner turned into a SortMergeJoin
      // against the 80-row exact set (20 exchanges / 8 windows / 4 SMJ
      // at sf0.1, plans/r20/s16_ivf_recall_sweep_before.txt), and the
      // old count() bench action never executed any of it (the
      // noop-sink fix surfaced the real 1.36 s / 3.7× cost). Now: the
      // sweep-point list rides a broadcast cross join (a pair with
      // probe rank p belongs to every point n >= p — at most 4 map-side
      // copies, no extra exchange), ONE partial-aggregating bottom-k
      // heap per (nprobe, q_id) truncates map-side, the hit set (4 ×
      // NQ × K rows) broadcasts into ONE overlap join, and one
      // two-level aggregate emits all four (mean, min) rows — a single
      // linear pipeline instead of four window+SMJ branches.
      val pts = SweepProbes.toDF("nprobe")
      val hits = pairs
        .crossJoin(broadcast(pts))
        .filter($"prn" <= $"nprobe")
        .groupBy($"nprobe", $"q_id")
        .agg(graft.functions.BottomKPairsAgg.bottomKIdPairs(
          -$"cos_micro", $"vec_id", K).as("top"))
        .select($"nprobe", $"q_id", explode($"top").as("p"))
        .select($"nprobe", $"q_id", $"p.v".cast("long").as("neighbor_id"),
          lit(1).as("hit"))
      exact.crossJoin(broadcast(pts))
        .join(broadcast(hits), Seq("nprobe", "q_id", "neighbor_id"), "left")
        .groupBy($"nprobe", $"q_id")
        .agg(sum(coalesce($"hit", lit(0))).as("ov"))
        .groupBy($"nprobe")
        .agg(
          round(sum($"ov") / lit(NQ * K), 4).as("mean_recall"),
          round(min($"ov") / lit(K), 4).as("min_recall"))
        .select($"nprobe", $"mean_recall", $"min_recall")
    },
    Some {
      val points = SweepProbes.map { n =>
        s"""rank$n AS (
          SELECT q_id, vec_id, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
          FROM pairs WHERE prn <= $n AND cos_sim IS NOT NULL),
        ov$n AS (
          SELECT e.q_id,
            sum(CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END) AS ov
          FROM exact e LEFT JOIN (
            SELECT q_id, vec_id FROM rank$n WHERE rank <= $K) r
            ON r.q_id = e.q_id AND r.vec_id = e.neighbor_id
          GROUP BY e.q_id),
        row$n AS (
          SELECT $n AS nprobe,
            round(sum(ov) / ${NQ * K}, 4) AS mean_recall,
            round(min(ov) / $K, 4) AS min_recall
          FROM ov$n)"""
      }.mkString(",\n")
      val union = SweepProbes.map(n => s"SELECT * FROM row$n").mkString(" UNION ALL ")
      s"""WITH $coarseSql,
      probesr AS (
        SELECT q_id, q_emb, c_id, prn FROM (
          SELECT q.q_id, q.q_emb, c.c_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY ${cosSql("q.q_emb", "c.c_emb")} DESC, c.c_id ASC) AS prn
          FROM q, cents c)
        WHERE prn <= ${SweepProbes.max}),
      pairs AS (
        SELECT p.q_id, p.prn, a.vec_id,
          ${cosSql("a.embedding", "p.q_emb")} AS cos_sim
        FROM assigned a JOIN probesr p ON a.c_id = p.c_id
        WHERE a.vec_id <> p.q_id),
      epairs AS (
        SELECT q.q_id, e.vec_id,
          ${cosSql("e.embedding", "q.q_emb")} AS cos_sim
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      exact AS (
        SELECT q_id, vec_id AS neighbor_id FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
          FROM epairs)
        WHERE rank <= $K),
      $points
      $union"""
    },
    headline = true)

  private val CBIN = 50 // s17 Hamming candidate pool per query

  /** One 32-bit sign-pack word as a Spark column: bit j of the word is
    * `embedding[off + j] > 0` (strict — zeros and NULLs pack as 0, the
    * same CASE both engines evaluate). A static 32-term integer sum, so
    * the whole pack stays inside whole-stage codegen.
    */
  private def signPackWord(off: Int): Column =
    (0 until 32).map { j =>
      when(element_at(col("embedding"), lit(off + j + 1)) > 0f,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The identical 32-term pack in DuckDB SQL (1-based list index). */
  private def signPackSql(off: Int): String =
    (0 until 32).map { j =>
      s"(CASE WHEN embedding[${off + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** s17: binary-quantized retrieve-then-rerank — the 1-bit compression
    * rung below s13's int8 and s08's PQ (FAISS `IndexBinaryFlat` /
    * binary-quantized vector-DB shape, Hamming over sign bits as the
    * cheap first stage). Each 64-dim float vector compresses 32× to two
    * 32-bit sign words; stage 1 ranks the corpus per query by exact
    * Hamming distance over those 64 bits and keeps a CBIN-candidate
    * pool; stage 2 fetches ONLY the candidates' float vectors and
    * reranks by exact rounded cosine — the production two-stage shape
    * where the compressed index is what you scan and full vectors are
    * touched k-candidates at a time.
    *
    * Scale shape: packing is a map-side 64-term codegen'd sum in the
    * corpus scan (no kernel needed — the expression is static); the
    * stage-1 window shuffles only (q_id, vec_id, hamming) — ~20 bytes a
    * row against the 256-byte vector, which is the point of the
    * compressed stage; WindowGroupLimit pre-truncates the pool. The
    * rerank joins the |Q|×CBIN candidate frame (broadcast) back to the
    * embeddings scan, so full vectors cross the plan only for
    * candidates. Hamming is exact integers; cosine is the shared
    * round-6 contract; ties break on vec_id at both stages.
    *
    * XOR rides Spark's native `bitwiseXOR`; DuckDB 1.0 has no xor(), so
    * the oracle uses the m05-established `(a|b) - (a&b)` identity.
    */
  val s17BinaryRerank = Q(
    "s17_binary_rerank",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val packed = e
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", signPackWord(0).as("w0"), signPackWord(32).as("w1"))
      val q = packed.filter($"vec_id" < NQ)
        .select($"vec_id".as("q_id"), $"w0".as("qw0"), $"w1".as("qw1"))
      val ham = packed.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (bit_count($"w0".bitwiseXOR($"qw0")) +
            bit_count($"w1".bitwiseXOR($"qw1"))).cast("long").as("hamming"))
      val wc = Window.partitionBy($"q_id").orderBy($"hamming".asc, $"vec_id".asc)
      val cand = ham.withColumn("crk", row_number().over(wc))
        .filter($"crk" <= CBIN)
        .select($"q_id", $"vec_id", $"hamming")
      val qe = e.filter($"vec_id" < NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val rer = e.join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(qe), Seq("q_id"))
        .select($"q_id", $"vec_id", $"hamming",
          round(cosineSimilarity($"embedding", $"q_emb"), 6).as("cos_sim"))
      val wr = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id".asc)
      rer.withColumn("rank", row_number().over(wr))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id".as("neighbor_id"), $"hamming", $"cos_sim")
    },
    Some(s"""WITH b AS (
        SELECT vec_id,
          CAST(${signPackSql(0)} AS BIGINT) AS w0,
          CAST(${signPackSql(32)} AS BIGINT) AS w1
        FROM embeddings),
      qb AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM b WHERE vec_id < $NQ),
      ham AS (
        SELECT q.q_id, b.vec_id,
          CAST(bit_count((b.w0 | q.qw0) - (b.w0 & q.qw0)) +
               bit_count((b.w1 | q.qw1) - (b.w1 & q.qw1)) AS BIGINT) AS hamming
        FROM b, qb q WHERE b.vec_id <> q.q_id),
      cand AS (
        SELECT q_id, vec_id, hamming FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY hamming ASC, vec_id ASC) AS crk
          FROM ham) WHERE crk <= $CBIN),
      qe AS (SELECT vec_id AS q_id, embedding AS q_emb
             FROM embeddings WHERE vec_id < $NQ),
      rer AS (
        SELECT c.q_id, c.vec_id, c.hamming,
          ${cosSql("e.embedding", "qe.q_emb")} AS cos_sim
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN qe ON qe.q_id = c.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM rer)
      SELECT q_id, rank, vec_id AS neighbor_id, hamming, cos_sim
      FROM ranked WHERE rank <= $K"""),
    headline = true)

  /** s18: rotated product quantization — the OPQ rung of the ANN
    * ladder (Ge et al. 2013 "Optimized Product Quantization"; FAISS's
    * `OPQ` pre-transform). PQ quantizes subspaces independently, so
    * energy concentrated in a few dims wastes codewords; s18 applies
    * a seeded structured orthogonal rotation R = H·D
    * ([[graft.operators.Opq]] — exactly orthogonal by construction,
    * closed-form, hash-seeded) and re-runs the ENTIRE s10 IVF×PQ
    * pipeline in the rotated space: rotated centroids, rotated
    * codebook seeds, rotated probes, cell-restricted ADC rank. OpqSpec
    * pins R·Rᵀ = I bit-exactly, kernel ≡ driver rotation, norm
    * preservation, and distortion PARITY with s08's unrotated
    * codebooks on the real table (the testdata embeddings are
    * near-isotropic, so there is nothing for a rotation to fix —
    * measured ±2% of raw across SFs and Lloyd/ramp variants; OPQ's
    * win lives on correlated/PCA-ordered real-world embeddings,
    * attribution pinned the m07 way).
    *
    * Scale shape: the rotation is ONE codegen'd matvec kernel call
    * per corpus row inside the same projection pass that assigns the
    * coarse cell — zero extra shuffles over s10 (at production dim
    * the H·D structure applies in O(d log d) via the fast
    * Walsh–Hadamard transform). Model vectors (centroids, seeds,
    * probe queries) rotate driver-side through the identical math —
    * the first-k of the rotated table IS the rotation of the raw
    * first-k, so no extra corpus job is paid.
    *
    * Determinism: every R entry is ±2⁻³·±1 (exact binary), the
    * rotated coordinate is float(Σ R_ij·x_j) double-accumulated in j
    * order — DuckDB replays it as CAST(list_dot_product(x::DOUBLE[],
    * row) AS FLOAT) with the row list built in j order and signs from
    * the md5-parity convention — and everything downstream is s10's
    * already-pinned rank-on-rounded chain over the rotated table.
    */
  val s18OpqRotate = Q(
    "s18_opq_rotate",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Opq
      val R = Opq.rotation(64, "s18")
      val rot = Tables.embeddings(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id",
          graft.functions.exprs.mat_vec_f($"embedding", R).as("embedding"))
      // centroids and codebook seeds are both first-n prefixes: one collect
      val first = firstVecs(s, dir, math.max(NCENTROIDS, PqK)).map(Opq.rotateVec(_, R))
      val cents = first.take(NCENTROIDS)
      val cb = graft.operators.ProductQuantizer.seedCodebook(first.take(PqK), PqM, dim = 64)
      // coarse cell + PQ codes in ONE projection pass over the rotated
      // corpus (s10's shape, rotation fused into the same stage)
      val assigned = rot.select($"vec_id", $"embedding",
        graft.functions.exprs.coarse_assign_cell($"embedding", cents).as("c_id"))
      val enc = graft.operators.ProductQuantizer.encode(assigned, "embedding", cb)
      val probes = queryVectors(s, dir).toSeq.flatMap { case (qid, q0) =>
        val q = Opq.rotateVec(q0, R)
        val ranked = cents.indices.map(i => (i.toLong, roundedCosine(q, cents(i))))
          .sortWith(graft.functions.VectorFunctions.probeBefore)
        ranked.take(NPROBE).map { case (cid, _) => (qid, cid) }
      }.toDF("q_id", "c_id")
      val q = rot.filter($"vec_id" < NQ)
      graft.operators.ProductQuantizer
        .adcSearchCells(enc, "vec_id", "c_id", probes, q, "vec_id", "embedding", cb, PqTopK)
    },
    Some {
      s"""WITH sgn AS (
        SELECT j, CASE WHEN CAST(('0x' || substr(md5('s18:' || j), 1, 8)) AS BIGINT) % 2 = 0
          THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sg
        FROM (SELECT unnest(range(64)) AS j)),
      rrow AS (
        SELECT i.i,
          list(CASE WHEN bit_count(i.i & s.j) % 2 = 0 THEN s.sg ELSE -s.sg END / 8.0
            ORDER BY s.j) AS rw
        FROM (SELECT unnest(range(64)) AS i) i, sgn s
        GROUP BY i.i),
      remb AS MATERIALIZED (
        SELECT e.vec_id,
          list(CAST(list_dot_product(e.embedding::DOUBLE[], r.rw::DOUBLE[]) AS FLOAT)
            ORDER BY r.i) AS embedding
        FROM embeddings e, rrow r
        GROUP BY e.vec_id),
      ${coarseSqlOver("remb")},
      ${pqSql("remb")},
      pairs AS (
        SELECT p.q_id, c.vec_id, t0.d + t1.d + t2.d + t3.d AS adc
        FROM codesw c
        JOIN assigned a ON a.vec_id = c.vec_id
        JOIN probes p ON p.c_id = a.c_id
        JOIN dtab t0 ON t0.q_id = p.q_id AND t0.j=0 AND t0.code=c.c0
        JOIN dtab t1 ON t1.q_id = p.q_id AND t1.j=1 AND t1.code=c.c1
        JOIN dtab t2 ON t2.q_id = p.q_id AND t2.j=2 AND t2.code=c.c2
        JOIN dtab t3 ON t3.q_id = p.q_id AND t3.j=3 AND t3.code=c.c3
        WHERE c.vec_id <> p.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, adc AS adc_dist
      FROM ranked WHERE rank <= $PqTopK"""
    },
    headline = true)

  private val NnK = 10 // s19 neighbor-list width
  private val NnRounds = 3 // s19 refinement rounds (~log_k n on scattered init)

  /** s19: graph-ANN construction by NN-descent-style refinement
    * (Dong et al. 2011) — the build step behind the graph indexes
    * (HNSW/NSG/DiskANN) that dominate production ANN serving, and the
    * one ANN family the s01–s18 ladder still lacked. Seeded
    * random-circulant neighbor lists (md5-derived strides — no RNG,
    * and the scattered init is what makes convergence O(log n) rounds;
    * see NnDescent's Scaladoc for the measured cyclic-vs-strided gap)
    * refine for NnRounds rounds: gather each node's neighbors, REVERSE
    * neighbors and 2-hop neighbors, score by rounded cosine, keep the
    * k best. Output: the first-NQ nodes' final neighbor lists.
    * Measured recall vs the exact kNN graph on the real embeddings:
    * 0.14 → 0.41 → 0.70 over the three rounds (NnDescentSpec), ~0.99
    * at round 3 on clustered vectors — random near-uniform embeddings
    * are the structure-free hard case.
    *
    * Scale shape: every round is id-keyed equi-joins + ONE
    * partial-aggregating native bottom-k (the s12/q54 heap — no
    * window/sort anywhere), rounds localCheckpoint (the d06 iterative
    * pattern), per-round cost O(n·k²) scorings — never O(n²). See
    * [[graft.operators.NnDescent]] for the full argument and the
    * deliberate omission of true NN-descent's sampling refinements.
    *
    * Determinism: integer-micro similarities (floor(round6·1e6 + 0.5)
    * — same doubles, same ops both engines), id tie-breaks, UNION-set
    * candidate semantics; the oracle replays both rounds as
    * MATERIALIZED CTE chains (the t21 unrolled-iteration pattern).
    * NnDescentSpec audits recall against s01's exact ranking.
    */
  val s19NnDescent = Q(
    "s19_nndescent",
    (s, dir) => {
      import s.implicits._
      graft.operators.NnDescent
        .knnGraph(Tables.embeddings(s, dir), "vec_id", "embedding", NnK, NnRounds)
        .filter($"id" < NQ)
        .select($"id".as("q_id"), $"rank", $"nbr".as("neighbor_id"),
          ($"sim_micro" / lit(1000000.0)).as("cos_sim"))
    },
    Some {
      s"""WITH $nnGraphChainSql
      SELECT id AS q_id, rank, nbr AS neighbor_id,
        sim_micro / 1000000.0 AS cos_sim
      FROM nb$NnRounds WHERE id < $NQ"""
    },
    headline = true)

  /** The s19 NN-descent graph as a DuckDB CTE chain (`nc`, `nb0`,
    * cand/nb per round — ends at `nb{NnRounds}`), shared by the s19
    * and s20 oracles so the searched graph IS the s19 graph, not a
    * second derivation. Every chained/multi-read CTE is MATERIALIZED
    * (the d12 2^k-inline lesson).
    */
  private def nnGraphChainSql: String = {
    def roundSql(r: Int) = s"""
      cand$r AS MATERIALIZED (
        SELECT id, cand FROM (
          SELECT id, nbr AS cand FROM nb$r
          UNION
          SELECT nbr AS id, id AS cand FROM nb$r
          UNION
          SELECT a.id, b.nbr AS cand FROM nb$r a JOIN nb$r b ON a.nbr = b.id)
        WHERE id <> cand),
      nb${r + 1} AS MATERIALIZED (
        SELECT id, cand AS nbr, sim_micro, rn AS rank FROM (
          SELECT id, cand, sim_micro,
            row_number() OVER (PARTITION BY id ORDER BY sim_micro DESC, cand ASC) AS rn
          FROM (
            SELECT c.id, c.cand,
              CAST(floor(${cosSql("ea.embedding", "eb.embedding")} * 1000000.0 + 0.5) AS BIGINT) AS sim_micro
            FROM cand$r c
            JOIN embeddings ea ON ea.vec_id = c.id
            JOIN embeddings eb ON eb.vec_id = c.cand)
          WHERE sim_micro IS NOT NULL)
        WHERE rn <= $NnK)"""
    val rounds = (0 until NnRounds).map(roundSql).mkString(",")
    s"""nc AS (SELECT count(*) AS c FROM embeddings),
      nb0 AS MATERIALIZED (
        SELECT e.vec_id AS id,
          (e.vec_id + 1 + (CAST(('0x' || substr(md5('s19:' || j.j), 1, 8)) AS BIGINT)
            % (nc.c - 1))) % nc.c AS nbr
        FROM embeddings e, (SELECT unnest(range(1, ${NnK + 1})) AS j) j, nc),$rounds"""
  }

  private val BeamHops = 3 // s20 search hops (candidate set ⊇ beam ⇒ monotone)
  private val BeamWidth = 2 * NnK // exploration width (ef_search > k — see beamSearch)
  private val EntryProbes = 2 * NPROBE // IVF-seeded entries per query (see s20)

  /** s20: beam search over the s19 NN-descent graph — the SERVE half
    * of graph ANN (the query path of HNSW/NSG/DiskANN, deterministic
    * flat-beam face; s19 is the build half). Every query starts from
    * its IVF-SEEDED entry nodes — the s02 coarse layer reused as
    * HNSW's upper layer: the query's [[EntryProbes]] nearest coarse
    * centroids, which are actual corpus nodes (the dense first-
    * NCENTROIDS vec_ids), so the walk begins near the query's region
    * instead of paying hops to get there — UNIONED with the operator's
    * default md5-ordered id sample, which keeps the exploration
    * coverage the tight IVF seeds alone give up (measured on the
    * sf0.001 fixture: pure-IVF converges fastest early but plateaus at
    * 0.90–0.925 hop-3 recall vs the sample's 0.9375; the mix
    * dominates BOTH at every hop — 0.85 / 0.925 / 0.9375 — and its
    * hop-1 recall already beats sample-only hop-2, the fewer-hops win
    * that grows O(log n) with corpus size; GraphSearchSpec pins the
    * dominance). Entry selection is pure driver model math (NQ ×
    * NCENTROIDS rounded cosines, the coarseProbes pattern) plus one
    * TakeOrdered id sample. Then
    * BeamHops rounds of "expand the beam through the graph's
    * out-edges, score candidates by rounded cosine vs the query, keep
    * the BeamWidth best", output truncated to the NnK best —
    * BeamWidth = 2k is the ef_search exploration slack (beam = k
    * measurably fixpoints early; see beamSearch's Scaladoc). Because
    * each hop's candidate set contains the previous beam, the
    * k-th-best similarity per query is non-decreasing in hops
    * (GraphSearchSpec pins it, plus recall vs s01's exact ranking on
    * both the real and clustered embeddings, and the measured
    * IVF-vs-random hop curve).
    *
    * THE MEASURED NUMBER IS THE SERVE LEG: the graph rides
    * [[graft.operators.NnDescent.sharedGraph]] (computed once per
    * session — the production shape: an index is built once and
    * amortized over every search; graft.Bench deliberately does not
    * clear this memo, the s12/s14 build-vs-consume split), while s19
    * remains the measurement of the BUILD.
    *
    * Scale shape: per-hop cost is O(|Q|·beam·k) scorings independent
    * of corpus size — the graph (n×k edges, the persisted index) is
    * touched only by an id-keyed equi-join; query vectors broadcast
    * (the s01 budget argument); ranking is the native bottom-k heap,
    * no window/sort. See [[graft.operators.NnDescent.beamSearch]].
    *
    * Determinism: the searched graph IS s19's (the oracle reuses the
    * identical CTE chain via [[nnGraphChainSql]]); entries replay as
    * the coarse-probe CTE (the s02 chain); integer-micro scores, id
    * tie-breaks, UNION-set candidates; each hop replayed as a
    * MATERIALIZED CTE.
    */
  val s20GraphSearch = Q(
    "s20_graph_search",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val g = graft.operators.NnDescent.sharedGraph(s, dir, NnK, NnRounds)(
        graft.operators.NnDescent
          .knnGraph(e, "vec_id", "embedding", NnK, NnRounds))
      val cents = centroidArray(s, dir)
      val sample = graft.operators.NnDescent.sampleEntryIds(
        e.select($"vec_id", $"embedding"), BeamWidth)
      val entries: Map[Long, Seq[Long]] =
        queryVectors(s, dir).map { case (qid, qv) =>
          qid -> (cents.indices
            .map(i => (i.toLong, roundedCosine(qv, cents(i))))
            .sortWith(graft.functions.VectorFunctions.probeBefore)
            .take(EntryProbes).map(_._1) ++ sample)
        }.toMap
      val q = e.filter($"vec_id" < NQ)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      graft.operators.NnDescent
        .beamSearch(g.select($"id", $"nbr"),
          e.select($"vec_id", $"embedding"), q, BeamWidth, BeamHops,
          Some(entries))
        .filter($"rank" <= NnK)
        .select($"q_id", $"rank", $"node".as("neighbor_id"),
          ($"sim_micro" / lit(1000000.0)).as("cos_sim"))
    },
    Some {
      s"""WITH $nnGraphChainSql,
      ${coarseSqlOver("embeddings", EntryProbes)},
      qv AS MATERIALIZED (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQ),
      $sampleEntriesSql,
      beam0 AS MATERIALIZED (
        SELECT q_id, c_id AS node FROM probes
        UNION
        SELECT q.q_id, s.node FROM qv q, samp s),${beamChainSql(BeamHops, BeamWidth)}
      SELECT q_id, rank, node AS neighbor_id, sim_micro / 1000000.0 AS cos_sim
      FROM beam$BeamHops WHERE rank <= $NnK"""
    },
    headline = true)

  /** The beam-search hop chain as DuckDB CTEs — `bc{h}`/`beam{h+1}`
    * for h = 0 until `hops`, expanding `beam0` over the s19 graph
    * `nb{NnRounds}` against the `qv` query frame (the s20/d17 shared
    * replay; every chained CTE MATERIALIZED per the d12 lesson).
    */
  private def beamChainSql(hops: Int, width: Int): String = {
    def hopSql(h: Int) = s"""
      bc$h AS (
        SELECT q_id, node FROM beam$h
        UNION
        SELECT b.q_id, g.nbr AS node
        FROM beam$h b JOIN nb$NnRounds g ON b.node = g.id),
      beam${h + 1} AS MATERIALIZED (
        SELECT q_id, node, sim_micro, rn AS rank FROM (
          SELECT q_id, node, sim_micro,
            row_number() OVER (PARTITION BY q_id ORDER BY sim_micro DESC, node ASC) AS rn
          FROM (
            SELECT c.q_id, c.node,
              CAST(floor(${cosSql("q.q_emb", "e.embedding")} * 1000000.0 + 0.5) AS BIGINT) AS sim_micro
            FROM bc$h c
            JOIN qv q ON q.q_id = c.q_id
            JOIN embeddings e ON e.vec_id = c.node)
          WHERE sim_micro IS NOT NULL)
        WHERE rn <= $width)"""
    (0 until hops).map(hopSql).mkString(",")
  }

  /** The operator's default entry sample as a CTE (`samp`), exactly
    * [[graft.operators.NnDescent.sampleEntryIds]]'s derivation.
    */
  private def sampleEntriesSql: String = s"""
      samp AS (
        SELECT vec_id AS node FROM embeddings
        ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id
        LIMIT $BeamWidth)"""

  private val DecontamTauMicro = 300000L // d17's flag threshold (d15/d16's τ = 0.30)

  /** d17: GRAPH-BASED semantic decontamination — the corpus-scale
    * probe face that justifies maintaining a graph index in a
    * training-data pipeline: the WHOLE benchmark split (vec_id % 20 =
    * 0, the d15/d16 eval split — not a model-sized query set) probes
    * the s19 NN-descent graph through
    * [[graft.operators.NnDescent.beamSearchDistributed]], and every
    * corpus vector found within τ = 0.30 of any benchmark item is
    * flagged with its hit count, best similarity and deterministic
    * argmax benchmark id (d15's output shape, 6-dp micro scores).
    *
    * vs d15 (brute-force) and d16 (IVF-blocked): the graph walk costs
    * O(|bench|·beam·k) scorings per hop INDEPENDENT of corpus size —
    * the 100 TB regime where even d16's cell-restricted scan pays a
    * corpus pass, an amortized index pays only the probe. Queries stay
    * a DataFrame end-to-end (per-hop id-keyed equi-joins + the native
    * bottom-k; zero driver collects — the plan pin in GraphSearchSpec),
    * so a multi-billion-row benchmark batch runs exactly like this
    * one. Flags are the final beam's qualifying corpus nodes: recall
    * vs d15's exhaustive set is the graph-search recall
    * (GraphDecontaminateSpec pins flagged ⊆ d15 with a measured
    * floor; the same honest-floor stance as d16).
    *
    * THE MEASURED NUMBER IS THE PROBE LEG: the graph rides the same
    * [[graft.operators.NnDescent.sharedGraph]] memo as s20 (one build
    * serves every consumer — the reason the index exists).
    *
    * Determinism: the searched graph IS s19's (identical CTE chain),
    * entries the s20 mix — in-plan IVF probes ([[NnDescent.ivfEntries]]
    * — distributed, so the recipe survives a billion-row benchmark)
    * ∪ the md5-ordered id sample — integer-micro scores, id
    * tie-breaks; each hop replays as a MATERIALIZED CTE and the
    * argmax-bench join mirrors d15's oracle algebra.
    */
  val d17GraphDecontaminate = Q(
    "d17_graph_decontaminate",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val g = graft.operators.NnDescent.sharedGraph(s, dir, NnK, NnRounds)(
        graft.operators.NnDescent
          .knnGraph(e, "vec_id", "embedding", NnK, NnRounds))
      val bench = e.filter($"vec_id" % 20 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      // s20's mixed entry recipe, FULLY distributed: in-plan IVF
      // probes (the coarse layer aims each benchmark item at its
      // region) ∪ the operator's md5-ordered id sample (coverage) —
      // zero driver math on the corpus-scale query side
      val sample = graft.operators.NnDescent.sampleEntryIds(
        e.select($"vec_id", $"embedding"), BeamWidth)
      val entries = graft.operators.NnDescent
        .ivfEntries(bench, centroidArray(s, dir), EntryProbes)
        .unionByName(bench.select($"q_id")
          .crossJoin(broadcast(sample.toDF("node"))))
      val hits = graft.operators.NnDescent
        .beamSearchDistributed(g.select($"id", $"nbr"),
          e.select($"vec_id", $"embedding"), bench, BeamWidth, BeamHops,
          Some(entries))
        .filter($"node" % 20 =!= 0 && $"sim_micro" >= DecontamTauMicro)
        .select($"q_id", $"node", $"sim_micro")
      val agg = hits.groupBy($"node")
        .agg(count(lit(1)).as("n_hits"), max($"sim_micro").as("best_micro"))
      agg.join(hits.select($"node", $"sim_micro".as("best_micro"), $"q_id"),
          Seq("node", "best_micro"))
        .groupBy($"node", $"n_hits", $"best_micro")
        .agg(min($"q_id").as("best_bench"))
        .select($"node".as("vec_id"), $"n_hits",
          ($"best_micro" / lit(1000000.0)).as("best_cos"), $"best_bench")
    },
    Some {
      s"""WITH $nnGraphChainSql,
      qv AS MATERIALIZED (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id % 20 = 0),
      $sampleEntriesSql,
      cents_b AS (
        SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < $NCENTROIDS),
      probes_b AS (
        SELECT q_id, c_id AS node FROM (
          SELECT q.q_id, c.c_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY ${cosSql("q.q_emb", "c.c_emb")} DESC, c.c_id ASC) AS prn
          FROM qv q, cents_b c)
        WHERE prn <= $EntryProbes),
      beam0 AS MATERIALIZED (
        SELECT q_id, node FROM probes_b
        UNION
        SELECT q.q_id, s.node FROM qv q, samp s),${beamChainSql(BeamHops, BeamWidth)},
      hits AS MATERIALIZED (
        SELECT q_id, node, sim_micro FROM beam$BeamHops
        WHERE node % 20 <> 0 AND sim_micro >= $DecontamTauMicro),
      agg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_hits,
          max(sim_micro) AS best_micro
        FROM hits GROUP BY node)
      SELECT a.node AS vec_id, a.n_hits, a.best_micro / 1000000.0 AS best_cos,
        min(h.q_id) AS best_bench
      FROM agg a JOIN hits h ON h.node = a.node AND h.sim_micro = a.best_micro
      GROUP BY a.node, a.n_hits, a.best_micro"""
    },
    headline = true)

  private val NPROBE_F = 2 * NPROBE // filtered search widens the probe set

  /** s21: FILTERED ANN — top-k restricted to corpus vectors satisfying
    * a metadata predicate (here: the query's own `label` class, the
    * "nearest same-language/same-source neighbors" read). The
    * production problem this solves: post-filtering a plain top-k
    * starves under a selective predicate (a 10%-selective filter
    * leaves ~1 of 10 results), while brute-force pre-filtering
    * re-scans the corpus per predicate. The scale shape is
    * PRE-FILTERED IVF: the s02 cell-probe scan with the predicate
    * applied to candidates BEFORE scoring — the filter rides the same
    * cell-pruned scan, cutting score work by the filter's selectivity
    * — and the probe set widened ([[NPROBE_F]] = 2×[[NPROBE]], the
    * ef-style slack every production filtered search applies) so the
    * per-cell candidate loss to the filter doesn't starve recall.
    * Labels here are ~10-way, so the filter keeps ~10% of candidates
    * — exactly the regime where the widening matters. The oracle
    * replays the identical quantization, probes, and predicate, so
    * results hash-match exactly; recall vs the FILTERED brute force
    * is pinned in IvfPqSpec.
    */
  val s21FilteredAnn = Q(
    "s21_filtered_ann",
    (s, dir) => {
      import s.implicits._
      val cents = centroidArray(s, dir)
      // coarseAssign + the predicate column: same zero-shuffle argmax
      // projection, label carried through the scan (no self-join)
      val assigned = Tables.embeddings(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding", $"label",
          graft.functions.exprs.coarse_assign_cell($"embedding", cents).as("c_id"))
      val qlab = Tables.embeddings(s, dir).filter($"vec_id" < NQ)
        .select($"vec_id", $"label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val probes = queryVectors(s, dir).toSeq.flatMap { case (qid, qv) =>
        val ranked = cents.indices.map(i => (i.toLong, roundedCosine(qv, cents(i))))
          .sortWith(graft.functions.VectorFunctions.probeBefore)
        ranked.take(NPROBE_F).map { case (cid, _) => (qid, qv, qlab(qid), cid) }
      }.toDF("q_id", "q_emb", "q_label", "c_id")
      val wRank = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id".asc)
      assigned.join(broadcast(probes), Seq("c_id"))
        // predicate BEFORE scoring — candidates that fail the filter
        // never reach the cosine
        .filter($"vec_id" =!= $"q_id" && $"label" === $"q_label")
        .select($"q_id", $"vec_id",
          round(cosineSimilarity($"embedding", $"q_emb"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(wRank))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id".as("neighbor_id"), $"cos_sim")
    },
    Some {
      s"""WITH ${coarseSqlOver("embeddings", NPROBE_F)},
      qlab AS (
        SELECT vec_id AS q_id, label AS q_label FROM embeddings WHERE vec_id < $NQ),
      pairs AS (
        SELECT p.q_id, a.vec_id,
          ${cosSql("a.embedding", "p.q_emb")} AS cos_sim
        FROM assigned a
        JOIN embeddings l ON a.vec_id = l.vec_id
        JOIN probes p ON a.c_id = p.c_id
        JOIN qlab ql ON p.q_id = ql.q_id
        WHERE a.vec_id <> p.q_id AND l.label = ql.q_label),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM pairs)
      SELECT q_id, rank, vec_id AS neighbor_id, cos_sim
      FROM ranked WHERE rank <= $K"""
    },
    headline = true)

  val all: Seq[Q] = Seq(s01BruteForce, s02IvfAnn, s03Quantize, s04LshAnn,
    s05LabelCentroids, s06KMeans, s07SemDedup, s08PqAdc, s09PqRecall, s10IvfPq,
    s11IvfPqResidual, s12Bm25, s13Sq8Adc, s14HybridRrf, s15MmrDiversify,
    s16IvfRecallSweep, s17BinaryRerank, s18OpqRotate, s19NnDescent,
    s20GraphSearch, s21FilteredAnn, d17GraphDecontaminate)
}
