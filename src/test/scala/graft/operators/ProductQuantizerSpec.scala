package graft.operators

import graft.SparkSpec

/** PQ semantics on a 4-dim corpus split into m=2 subspaces: codewords
  * encode to themselves, ADC reproduces exact distances when vectors
  * sit on the codebook grid, and Lloyd refinement never increases
  * distortion.
  */
class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  // ids 0/1 are the codebook seeds (k=2); 2..5 are corpus points near
  // one seed per subspace
  private val vecs = Seq(
    (0L, Seq(0f, 0f, 10f, 10f)),
    (1L, Seq(4f, 4f, 20f, 20f)),
    (2L, Seq(0.5f, 0.5f, 19f, 19f)),
    (3L, Seq(3.5f, 3.5f, 11f, 11f)),
    (4L, Seq(0.1f, 0.1f, 10.5f, 10.5f)),
    (5L, Seq(3.9f, 4.1f, 20.5f, 19.5f))).toDF("vec_id", "embedding")

  private val cb =
    ProductQuantizer.fitCodebook(vecs, "embedding", "vec_id", m = 2, k = 2, dim = 4)

  test("codewords encode to themselves; corpus picks the near seed per subspace") {
    val codes = ProductQuantizer.encode(vecs, "embedding", cb)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(codes(0L) == ((0, 0)) && codes(1L) == ((1, 1)), s"seeds: $codes")
    // doc 2: first half near seed 0 (0.5 vs 3.5 away), second near seed 1
    assert(codes(2L) == ((0, 1)), s"doc 2 mixes subspace codes: ${codes(2L)}")
    assert(codes(3L) == ((1, 0)), s"doc 3 mirrors doc 2: ${codes(3L)}")
  }

  test("native encode kernel == declarative argmin tree") {
    // 4-dim fixture AND the real 64-dim embeddings: the codegen'd
    // PqEncodeCode loop must agree with the slice+dot column formula
    // on every row, including argmin ties broken on the first index
    val fix = ProductQuantizer.encode(vecs, "embedding", cb).collect().map(_.toSeq)
    val fixRef = ProductQuantizer.encodeExpr(vecs, "embedding", cb).collect().map(_.toSeq)
    assert(fix.toSeq == fixRef.toSeq)
    val e = graft.core.Tables.embeddings(spark, sfDir)
    val book = ProductQuantizer
      .fitCodebook(e, "embedding", "vec_id", m = 4, k = 16, dim = 64)
    val real = ProductQuantizer.encode(e, "embedding", book)
      .select($"vec_id", $"code_0", $"code_1", $"code_2", $"code_3")
      .collect().map(_.toSeq).toSeq
    val realRef = ProductQuantizer.encodeExpr(e, "embedding", book)
      .select($"vec_id", $"code_0", $"code_1", $"code_2", $"code_3")
      .collect().map(_.toSeq).toSeq
    assert(real == realRef, "native and declarative PQ codes diverge on real data")
  }

  test("ADC distance is exact for on-grid vectors and ranks deterministically") {
    val enc = ProductQuantizer.encode(vecs, "embedding", cb)
    val q = vecs.filter($"vec_id" === 0L)
    val res = ProductQuantizer
      .adcSearch(enc, "vec_id", q, "vec_id", "embedding", cb, topK = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // neighbor 1 decodes to exactly itself: adc == |v0 - v1|^2 = 32 + 200
    val one = res.find(_._2 == 1L).get
    assert(one._3 == 232.0, s"on-grid ADC must be exact: $one")
    // every corpus vector decoding to seed 0 in a subspace contributes 0
    val four = res.find(_._2 == 4L).get
    assert(four._1 == 1 && four._3 == 0.0,
      s"doc 4 decodes to (0,0) => distance 0, rank 1: $four")
  }

  test("array-shaped ADC table == flat reference, raw and residual") {
    // the search paths join the nested-array shape (one broadcast
    // join); the flat shape is the oracle's dtab CTE — every (q, j,
    // code) cell must agree bit-for-bit or adcRank's element_at
    // lookups silently drift from the replayed SQL
    val q = vecs.filter($"vec_id" < 2)
    val flat = ProductQuantizer.adcTable(q, "vec_id", "embedding", cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    val arr = ProductQuantizer.adcArrayTable(q, "vec_id", "embedding", cb)
      .collect().flatMap { r =>
        val darr = r.getSeq[Seq[Double]](1)
        for (j <- darr.indices; i <- darr(j).indices)
          yield (r.getLong(0), j, i) -> darr(j)(i)
      }.toMap
    assert(arr == flat, "raw ADC array table diverges from the flat reference")

    val cents = Array(Array(0f, 0f, 10f, 10f), Array(4f, 4f, 20f, 20f))
    val probes = Seq((0L, 0L), (0L, 1L), (1L, 1L)).toDF("q_id", "c_id")
    val flatR = ProductQuantizer
      .adcTableResidual(q, "vec_id", "embedding", probes, "c_id", cents, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    val arrR = ProductQuantizer
      .adcArrayTableResidual(q, "vec_id", "embedding", probes, "c_id", cents, cb)
      .collect().flatMap { r =>
        val darr = r.getSeq[Seq[Double]](2)
        for (j <- darr.indices; i <- darr(j).indices)
          yield (r.getLong(0), r.getLong(1), j, i) -> darr(j)(i)
      }.toMap
    assert(arrR == flatR, "residual ADC array table diverges from the flat reference")
  }

  test("refits are deterministic, match the seed codebook, and differ by m") {
    def codes(c: ProductQuantizer.Codebook) = c.codes.map(_.map(_.toSeq).toSeq).toSeq
    val first = ProductQuantizer.fitCodebook(vecs, "embedding", "vec_id", m = 2, k = 2, dim = 4)
    val again = ProductQuantizer.fitCodebook(vecs, "embedding", "vec_id", m = 2, k = 2, dim = 4)
    assert(codes(again) == codes(first), "refit must be deterministic")
    // the s10/s18 path: seeds collected once by the caller
    val seeded = ProductQuantizer.seedCodebook(
      AnnIndex.firstVectors(vecs, "embedding", "vec_id", 2).map(_._2), m = 2, dim = 4)
    assert(codes(seeded) == codes(first), "seedCodebook must equal the unrefined fit")
    val other = ProductQuantizer.fitCodebook(vecs, "embedding", "vec_id", m = 1, k = 2, dim = 4)
    assert(other.m == 1 && first.m == 2)
    assert(codes(other) != codes(first), "different m must give a different codebook")
  }

  test("a wrong-dimension NON-seed vector fails loudly in fit and encode") {
    // seeds (ids 0,1) are valid; the short vector hides past them —
    // exactly the case the r8 seed-only validation missed (silent
    // slice truncation in the Lloyd branch and both encode kernels)
    val short3 = (vecs.collect().map(r => (r.getLong(0), r.getSeq[Float](1))) :+
      (9L, Seq(1f, 2f))).toSeq.toDF("vec_id", "embedding")
    val fitErr = intercept[Exception] {
      ProductQuantizer.fitCodebook(short3, "embedding", "vec_id",
        m = 2, k = 2, dim = 4, refineIters = 1)
    }
    assert(fitErr.getMessage != null &&
      (fitErr.getMessage.contains("expected 4") ||
        Option(fitErr.getCause).exists(_.getMessage.contains("expected 4"))),
      s"Lloyd fit must name the dimension mismatch: ${fitErr.getMessage}")
    val encErr = intercept[Exception] {
      ProductQuantizer.encode(short3, "embedding", cb).collect()
    }
    assert(encErr.toString.contains("expected 4") ||
      Option(encErr.getCause).exists(_.toString.contains("expected 4")),
      s"encode must name the dimension mismatch: $encErr")
    val cents = Array(Array(0f, 0f, 10f, 10f), Array(4f, 4f, 20f, 20f))
    val shortAssigned = short3.withColumn("c_id",
      org.apache.spark.sql.functions.lit(0L))
    val resErr = intercept[Exception] {
      ProductQuantizer.encodeResidual(shortAssigned, "embedding", "c_id", cents, cb).collect()
    }
    assert(resErr.toString.contains("expected 4") ||
      Option(resErr.getCause).exists(_.toString.contains("expected 4")),
      s"residual encode must name the dimension mismatch: $resErr")
  }

  test("Lloyd refinement never increases distortion") {
    val raw = ProductQuantizer.distortion(vecs, "embedding", cb)
    val refined = ProductQuantizer
      .fitCodebook(vecs, "embedding", "vec_id", m = 2, k = 2, dim = 4, refineIters = 2)
    val less = ProductQuantizer.distortion(vecs, "embedding", refined)
    assert(less <= raw + 1e-9, s"refined distortion $less > raw $raw")
    assert(less < raw, s"this corpus is off-grid, refinement must help: $less vs $raw")
  }

  test("PQ search carries signal on the real embeddings; refinement cuts their distortion") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.dot
    val e = graft.core.Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 8)

    def recallOf(refineIters: Int): Double = {
      val book = ProductQuantizer
        .fitCodebook(e, "embedding", "vec_id", m = 4, k = 16, dim = 64, refineIters = refineIters)
      val approx = ProductQuantizer
        .adcSearch(ProductQuantizer.encode(e, "embedding", book),
          "vec_id", q, "vec_id", "embedding", book, topK = 5)
        .select($"q_id", $"neighbor_id")
      val qx = q.select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val w = Window.partitionBy($"q_id").orderBy($"d2".asc, $"vec_id".asc)
      val exact = e.crossJoin(broadcast(qx))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(dot($"embedding", $"embedding")
            - lit(2.0) * dot($"embedding", $"q_emb")
            + dot($"q_emb", $"q_emb"), 6).as("d2"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"))
      exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi").count().toDouble /
        exact.count()
    }

    // the test embeddings are near-uniform, so top-5 neighbors are
    // nearly equidistant and recall@5 is noise-dominated — refinement
    // provably cuts DISTORTION, not recall, on such data. Chance
    // recall is 5/(N-1) ≈ 0.01; both codebooks must sit far above it.
    val (raw, refined) = (recallOf(0), recallOf(2))
    assert(raw >= 0.1 && refined >= 0.1,
      s"PQ recall@5 at chance level — the quantizer lost the signal: raw $raw refined $refined")

    val cbRaw = ProductQuantizer
      .fitCodebook(e, "embedding", "vec_id", m = 4, k = 16, dim = 64)
    val cbRef = ProductQuantizer
      .fitCodebook(e, "embedding", "vec_id", m = 4, k = 16, dim = 64, refineIters = 2)
    val (dRaw, dRef) = (ProductQuantizer.distortion(e, "embedding", cbRaw),
      ProductQuantizer.distortion(e, "embedding", cbRef))
    assert(dRef < dRaw,
      s"Lloyd refinement must cut real-data distortion: $dRef vs $dRaw")
  }
}
