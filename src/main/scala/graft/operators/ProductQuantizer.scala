package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dot, dotF, roundHalfUp}

/** Product quantization (PQ) for embedding columns — the memory-bound
  * ANN scale path past IVF (s02): the vector is split into `m`
  * subspaces, each subspace gets its own k-entry codebook, and a
  * vector is stored as `m` small code ids (64-dim float32 → `m` bytes
  * at k ≤ 256, a 32× compression). Search uses asymmetric distance
  * computation (ADC): the query stays exact, each corpus vector's
  * distance is the SUM over subspaces of a precomputed
  * query-to-codeword table lookup — no corpus floats touched at query
  * time.
  *
  * Scale shape: the codebook is driver-side (m × k × subDim floats, a
  * few KB) and enters plans as literals; encoding is one codegen'd
  * projection over the corpus (argmin per subspace — same |c|² − 2x·c
  * expansion as [[KMeans]]); the ADC table is O(queries × m × k) rows
  * (broadcast), so a search shuffles code ids only. Everything is
  * rank-on-rounded (6 dp per subspace distance) so a DuckDB oracle
  * replays encode and search bit-for-bit.
  */
object ProductQuantizer {

  /** `codes(j)(i)` = codeword i of subspace j (subDim floats each). */
  final case class Codebook(subDim: Int, codes: Array[Array[Array[Float]]]) {
    def m: Int = codes.length
    def k: Int = codes.head.length
  }

  /** 1-based slice of subspace `j`. */
  private def sub(vecCol: Column, j: Int, subDim: Int): Column =
    slice(vecCol, j * subDim + 1, subDim)

  /** Rounded squared L2 between subspace `j` of `vecCol` and codeword
    * `c`: round(x·x − 2x·c + c·c, 6) — the ONE distance formula both
    * engines evaluate, so argmin ties and rank order can't drift.
    */
  private def subDist(vecCol: Column, j: Int, subDim: Int, c: Array[Float]): Column = {
    val xs = sub(vecCol, j, subDim)
    val cl = typedLit(c)
    val c2 = c.map(x => x.toDouble * x.toDouble).sum
    round(dot(xs, xs) - lit(2.0) * dot(xs, cl) + lit(c2), 6)
  }

  /** Codebook from the `k` lowest-id vectors' slices — deterministic
    * and replayable by an external oracle. `refineIters` > 0 runs that
    * many Lloyd iterations PER SUBSPACE (reusing [[KMeans.fit]] on the
    * sliced frame) — the production path; refinement only moves
    * codewords, never changes the search plumbing. One seed collect
    * per call; a query that also needs the same first-k vectors as
    * coarse centroids collects once and calls [[seedCodebook]].
    */
  def fitCodebook(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      k: Int,
      dim: Int,
      refineIters: Int = 0): Codebook = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val seeded = seedCodebook(AnnIndex.firstVectors(df, vecCol, idCol, k).map(_._2), m, dim)
    if (refineIters == 0) seeded
    else {
      val subDim = seeded.subDim
      val codes = Array.tabulate(m) { j =>
        // Lloyd trains on EVERY row, not just the validated seeds: a
        // wrong-dimension non-seed vector would silently contribute a
        // truncated slice, so the slice input fails loudly instead.
        // The guard lives INSIDE the __sub projection (not a dropped
        // assert column Catalyst could prune away).
        val guarded = when(size(col(vecCol)) === dim, col(vecCol))
          .otherwise(raise_error(concat(
            lit("PQ vector has "), size(col(vecCol)).cast("string"),
            lit(s" dims, expected $dim"))))
        val sliced = df.select(col(idCol), sub(guarded, j, subDim).as("__sub"))
        KMeans.fit(sliced, "__sub", idCol, k, refineIters, computeWcss = false)
          .centroids.map(_.map(_.toFloat))
      }
      Codebook(subDim, codes)
    }
  }

  /** Codebook whose codewords are `seeds`' m subspace slices (the
    * unrefined [[fitCodebook]]), from seed vectors the caller already
    * holds. A shorter vector would silently mis-slice (slice()
    * truncates, dot() folds over the shorter side), so every seed is
    * validated before any codebook math.
    */
  private[graft] def seedCodebook(seeds: Array[Array[Float]], m: Int, dim: Int): Codebook = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    seeds.find(_.length != dim).foreach(s =>
      throw new IllegalArgumentException(
        s"codebook seed has ${s.length} dims, expected $dim"))
    val subDim = dim / m
    Codebook(subDim, Array.tabulate(m)(j => seeds.map(_.slice(j * subDim, (j + 1) * subDim))))
  }

  /** Append `code_0..code_{m-1}` (int): per subspace, the index of the
    * nearest codeword (rounded squared L2, first-min tie-break). One
    * whole-stage-codegen projection — no joins, no shuffles, and ONE
    * native expression node per subspace (`PqEncodeCode`): the
    * declarative k-subDist argmin tree costs the optimizer and Janino
    * seconds per run at m×k expression subtrees.
    */
  def encode(df: DataFrame, vecCol: String, cb: Codebook): DataFrame =
    (0 until cb.m).foldLeft(df) { (acc, j) =>
      acc.withColumn(s"code_$j",
        graft.functions.exprs.pq_encode_code(
          col(vecCol), j * cb.subDim, cb.subDim, cb.codes(j),
          expectedDim = cb.subDim * cb.m))
    }

  /** Declarative reference implementation of [[encode]] (k subDist
    * columns → array argmin) — kept for cross-checking the native
    * kernel in ProductQuantizerSpec.
    */
  private[operators] def encodeExpr(df: DataFrame, vecCol: String, cb: Codebook): DataFrame =
    (0 until cb.m).foldLeft(df) { (acc, j) =>
      val ds = array(cb.codes(j).map(c => subDist(col(vecCol), j, cb.subDim, c)): _*)
      acc.withColumn(s"code_$j",
        (array_position(ds, array_min(ds)) - 1).cast("int"))
    }

  /** [[subDist]] evaluated driver-side with bit-identical arithmetic:
    * the same sequential float→double dot accumulation as the codegen
    * kernel (`VectorExprImpl.dotF`), the same (x·x − 2x·c) + c² term
    * order, and Spark `round`'s HALF_UP rounding ([[roundHalfUp]]).
    */
  private def roundedSubDist(xs: Array[Float], c: Array[Float]): Double = {
    val c2 = c.map(x => x.toDouble * x.toDouble).sum
    roundHalfUp(dotF(xs, xs) - 2.0 * dotF(xs, c) + c2, 6)
  }

  /** ADC lookup table: one row per (query, subspace, code) with the
    * exact query-to-codeword rounded distance. O(queries × m × k) —
    * broadcast-sized for any sane query batch, so it is computed
    * DRIVER-side (the KMeans-centroid pattern: bounded model math on
    * the driver, data stays distributed). The declarative alternative
    * — exploding an m×k struct array of subDist expressions — generates
    * a class past what Janino compiles, which costs a doomed
    * multi-second compile attempt on EVERY run before the interpreted
    * fallback.
    *
    * This flat shape is the oracle's `dtab` CTE and the reference
    * implementation for [[adcArrayTable]] (cross-checked cell-by-cell
    * in ProductQuantizerSpec); the search paths join the array shape.
    */
  private[operators] def adcTable(queries: DataFrame, qIdCol: String, qVecCol: String, cb: Codebook): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs = queries.select(col(qIdCol).cast("long"), col(qVecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rows = for {
      (qid, vec) <- qs.toSeq
      j <- 0 until cb.m
      i <- cb.codes(j).indices
    } yield (qid, j, i,
      roundedSubDist(vec.slice(j * cb.subDim, (j + 1) * cb.subDim), cb.codes(j)(i)))
    rows.toDF(qIdCol, "j", "code", "d")
  }

  /** Shared ADC rank stage: `dtabArr` holds ONE broadcastable row per
    * query (or per (query, probed cell) for the residual path) whose
    * `__darr(j)(i)` is the rounded subspace-j distance to codeword i.
    * A single broadcast join attaches it to every candidate row and
    * the distance composes as m `element_at` lookups summed
    * left-to-right — the same double values and addition order as the
    * r8 shape (m separate broadcast joins) and as the oracle's
    * t0.d + t1.d + ..., but ONE join stage instead of m: at m = 16+
    * production subspaces the old shape was m broadcast builds and m
    * join stages per search. Rank on (adc asc, id asc); the query
    * vector itself is excluded on id collision. Empty `keys` means
    * `dtabArr` carries only per-query rows for an unrestricted scan —
    * a crossJoin, the s08 full-ADC shape.
    */
  private def adcRank(
      base: DataFrame,
      idCol: String,
      dtabArr: DataFrame,
      m: Int,
      topK: Int,
      keys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined =
      if (keys.isEmpty) base.crossJoin(broadcast(dtabArr))
      else base.join(broadcast(dtabArr), keys)
    val adc = (0 until m).map { j =>
      element_at(element_at(col("__darr"), j + 1), col(s"code_$j") + 1)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col(idCol).asc)
    joined
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col(idCol).as("neighbor_id"), col("adc").as("adc_dist"))
  }

  /** [[adcTable]] reshaped for [[adcRank]]'s single join: one row per
    * query, the full m × k distance grid as a nested array. Driver
    * math identical to [[adcTable]]'s rows.
    */
  private[operators] def adcArrayTable(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      cb: Codebook): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs = queries.select(col(qIdCol).cast("long"), col(qVecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    qs.toSeq.map { case (qid, vec) =>
      qid -> (0 until cb.m).map { j =>
        cb.codes(j).map(c =>
          roundedSubDist(vec.slice(j * cb.subDim, (j + 1) * cb.subDim), c)).toSeq
      }
    }.toDF("q_id", "__darr")
  }

  /** Top-k ADC search → (q_id, rank, neighbor_id, adc_dist): every
    * (query, corpus) distance is the sum of m table lookups, composed
    * as m broadcast joins so both engines add the m doubles in the
    * same left-to-right order. Rank on (adc asc, id asc); the query
    * vector itself is excluded when ids collide. Query ids are aliased
    * internally, so corpus and queries may share an id column name.
    */
  def adcSearch(
      encoded: DataFrame,
      idCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      cb: Codebook,
      topK: Int): DataFrame = {
    val dtabArr = adcArrayTable(queries, qIdCol, qVecCol, cb)
    val base = encoded
      .select(col(idCol) +: (0 until cb.m).map(j => col(s"code_$j")): _*)
    adcRank(base, idCol, dtabArr, cb.m, topK)
  }

  /** IVF×PQ (the FAISS IVFPQ composition, Jégou et al. 2011): ADC
    * search restricted per query to its probed coarse cells. `encoded`
    * must carry the coarse cell id in `cellCol` alongside code_0..m-1;
    * `probes` holds one row per (q_id, cell) candidate cell. The scan
    * touches only probed cells' candidates (~nprobe/K of the corpus at
    * scale — with the cell as a write-time partition column this is
    * partition pruning), and each candidate costs m table lookups
    * instead of a dim-wide dot product. Same rank semantics as
    * [[adcSearch]], so recall loss comes only from cell pruning +
    * quantization — audited in IvfPqSpec.
    */
  def adcSearchCells(
      encoded: DataFrame,
      idCol: String,
      cellCol: String,
      probes: DataFrame,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      cb: Codebook,
      topK: Int): DataFrame = {
    // probe list × per-query distance grid pre-joined small-side, so
    // the corpus scan pays ONE broadcast join keyed on the cell id —
    // the shape partition pruning replaces at scale
    val dtabArr = broadcast(probes.select(col("q_id"), col(cellCol)))
      .join(adcArrayTable(queries, qIdCol, qVecCol, cb), Seq("q_id"))
    val base = encoded
      .select(col(idCol) +: col(cellCol) +: (0 until cb.m).map(j => col(s"code_$j")): _*)
    adcRank(base, idCol, dtabArr, cb.m, topK, keys = Seq(cellCol))
  }

  /** Float32 residual of `vec` against its cell's centroid — the ONE
    * definition shared by codebook fit, encode kernel, and ADC table
    * (each element rounds to binary32 before any distance math, like
    * the oracle's `(x - c)::FLOAT`).
    */
  private def residualOf(vec: Array[Float], cent: Array[Float]): Array[Float] = {
    val n = math.min(vec.length, cent.length)
    Array.tabulate(n)(i => vec(i) - cent(i))
  }

  /** Residual-PQ codebook (FAISS `by_residual`): codewords are the
    * first `k` vectors' RESIDUAL slices — each seed vector minus its
    * assigned cell's centroid. `assigned` must carry (idCol, vecCol,
    * cellCol); seeds collect driver-side like [[fitCodebook]]'s.
    */
  def fitResidualCodebook(
      assigned: DataFrame,
      vecCol: String,
      cellCol: String,
      idCol: String,
      centroids: Array[Array[Float]],
      m: Int,
      k: Int,
      dim: Int): Codebook = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val seeds = assigned.orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol), col(cellCol).cast("long")).collect()
      .map(r => residualOf(r.getSeq[Float](0).toArray, centroids(r.getLong(1).toInt)))
    seedCodebook(seeds, m, dim)
  }

  /** Append residual-PQ codes: per subspace, the nearest codeword to
    * (vec − centroid[cell]) — one native kernel expression per code
    * column ([[graft.functions.PqEncodeResidualCode]]), zero shuffles.
    */
  def encodeResidual(
      df: DataFrame,
      vecCol: String,
      cellCol: String,
      centroids: Array[Array[Float]],
      cb: Codebook): DataFrame =
    (0 until cb.m).foldLeft(df) { (acc, j) =>
      acc.withColumn(s"code_$j",
        graft.functions.exprs.pq_encode_residual_code(
          col(vecCol), col(cellCol).cast("long"), centroids, j * cb.subDim, cb.subDim, cb.codes(j),
          expectedDim = cb.subDim * cb.m))
    }

  /** Residual ADC table: one row per (query, PROBED CELL, subspace,
    * code) — the query's residual differs per cell, so each probed
    * cell gets its own lookup table. O(queries × nprobe × m × k),
    * driver-computed like [[adcTable]]. Reference implementation for
    * [[adcArrayTableResidual]] (cross-checked in ProductQuantizerSpec).
    */
  private[operators] def adcTableResidual(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      probes: DataFrame,
      cellCol: String,
      centroids: Array[Array[Float]],
      cb: Codebook): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs = queries.select(col(qIdCol).cast("long"), col(qVecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val ps = probes.select(col("q_id").cast("long"), col(cellCol).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = for {
      (qid, cell) <- ps.toSeq
      r = residualOf(qs(qid), centroids(cell.toInt))
      j <- 0 until cb.m
      i <- cb.codes(j).indices
    } yield (qid, cell, j, i,
      roundedSubDist(r.slice(j * cb.subDim, (j + 1) * cb.subDim), cb.codes(j)(i)))
    rows.toDF("q_id", cellCol, "j", "code", "d")
  }

  /** [[adcTableResidual]] reshaped for [[adcRank]]'s single join: one
    * row per (query, probed cell) with that pair's m × k residual
    * distance grid. Rows exist ONLY for probed pairs, so the inner
    * join on the cell id IS the probe restriction — no separate
    * probes join.
    */
  private[operators] def adcArrayTableResidual(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      probes: DataFrame,
      cellCol: String,
      centroids: Array[Array[Float]],
      cb: Codebook): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs = queries.select(col(qIdCol).cast("long"), col(qVecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val ps = probes.select(col("q_id").cast("long"), col(cellCol).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    ps.toSeq.map { case (qid, cell) =>
      val r = residualOf(qs(qid), centroids(cell.toInt))
      (qid, cell, (0 until cb.m).map { j =>
        cb.codes(j).map(c =>
          roundedSubDist(r.slice(j * cb.subDim, (j + 1) * cb.subDim), c)).toSeq
      })
    }.toDF("q_id", cellCol, "__darr")
  }

  /** Residual IVF×PQ search: [[adcSearchCells]] with per-(query, cell)
    * lookup tables — candidates join their cell's table, so distances
    * are against the query residual in that cell.
    */
  def adcSearchCellsResidual(
      encoded: DataFrame,
      idCol: String,
      cellCol: String,
      probes: DataFrame,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      centroids: Array[Array[Float]],
      cb: Codebook,
      topK: Int): DataFrame = {
    val dtabArr =
      adcArrayTableResidual(queries, qIdCol, qVecCol, probes, cellCol, centroids, cb)
    val base = encoded
      .select(col(idCol) +: col(cellCol) +: (0 until cb.m).map(j => col(s"code_$j")): _*)
    adcRank(base, idCol, dtabArr, cb.m, topK, keys = Seq(cellCol))
  }

  /** Mean quantization distortion: avg over rows of Σ_j min-code
    * distance — the PQ quality metric refinement should reduce.
    */
  def distortion(df: DataFrame, vecCol: String, cb: Codebook): Double = {
    val perRow = (0 until cb.m).map { j =>
      array_min(array(cb.codes(j).map(c => subDist(col(vecCol), j, cb.subDim, c)): _*))
    }.reduce(_ + _)
    df.select(avg(perRow).as("d")).head().getDouble(0)
  }
}
