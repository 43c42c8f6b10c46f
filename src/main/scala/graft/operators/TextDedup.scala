package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.wsTokens

/** User-facing deduplication operators over a document DataFrame
  * (id column + text column). The same builders back the
  * oracle-checked queries in `graft.queries.DedupQueries`.
  *
  * Scale notes: every step is a linear scan plus one hash-partitioned
  * shuffle on a derived key (content hash / band key); candidate
  * verification touches only colliding pairs. Nothing is quadratic in
  * corpus size except the verification of actual collisions.
  */
object TextDedup {

  // MinHash parameters: k permutations h_i(x) = (a_i·x + b_i) mod P over
  // md5-prefix shingle hashes, banded (numBands × bandRows). P is the
  // smallest prime > 2^32.
  val NumHashes = 12
  val BandRows = 3
  val NumBands: Int = NumHashes / BandRows
  val P = 4294967311L
  def aCoef(i: Int): Long = 2L * i + 1
  def bCoef(i: Int): Long = 7L + 11L * i

  /** Word n-gram shingles of `text` (short docs fall back to the whole
    * token string as one shingle). Native codegen'd expression — see
    * `graft.functions.WordShingles`.
    */
  def shingles(text: Column, n: Int = 5): Column =
    graft.functions.exprs.word_shingles(text, n)

  /** Declarative reference implementation (interpreted higher-order
    * functions) — kept for cross-checking the native kernel in tests.
    */
  def shinglesFold(text: Column, n: Int = 5): Column = {
    val toks = wsTokens(text)
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
  }

  /** Engine-portable unsigned-32-bit shingle hash (md5 prefix). */
  def shingleHash(sh: Column): Column =
    conv(substring(md5(sh), 1, 8), 16, 10).cast("long")

  /** (id, shingle-hash) distinct pairs — the input to minhashing. */
  def docShingleHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(shingles(col(textCol))).as("sh"))
      .distinct()
      .select(col(idCol), shingleHash(col("sh")).as("h"))

  /** Per-document MinHash signature: one row per doc with mh_0..mh_k-1. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docShingleHashes(docs, idCol, textCol)
    val mhCols = (0 until NumHashes).map(i =>
      min((lit(aCoef(i)) * col("h") + lit(bCoef(i))) % lit(P)).as(s"mh_$i"))
    hashed.groupBy(col(idCol)).agg(mhCols.head, mhCols.tail: _*)
  }

  /** No-op: signatures are no longer memoized across calls, so there
    * is nothing to drop. Kept only because
    * `perfbench/src/main/scala/perfbench/Harness.scala:91-92` calls it
    * before every query, and nothing under `perfbench/` may change.
    */
  def clearSharedSignatures(spark: SparkSession): Unit = ()

  /** Banded LSH keys of a signature frame: one row per (doc, band)
    * with the band's row-concatenated bucket key. Shared by the batch
    * self-join ([[minhashCandidates]]) and the incremental
    * state-vs-batch join ([[IncrementalDedup]]).
    */
  private[operators] def bandFrame(mins: DataFrame, idCol: String): DataFrame = {
    val bandCols = (0 until NumBands).map { j =>
      struct(lit(j).as("band_id"),
        concat_ws("_", (0 until BandRows).map(r => col(s"mh_${j * BandRows + r}")): _*).as("bkey"))
    }
    mins
      .select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band_id"), col("bk.bkey"))
  }

  /** Signature array column mh_0..mh_k-1 (for whole-signature joins). */
  private[operators] def sigArray: Column =
    array((0 until NumHashes).map(i => col(s"mh_$i")): _*)

  /** Signature-estimated Jaccard of two signature arrays — the single
    * definition of the estimate (rounding included) that both the batch
    * ([[minhashCandidates]]) and incremental ([[IncrementalDedup]])
    * paths gate on, so stream == batch stays bit-identical by
    * construction.
    */
  private[operators] def estSim(sigA: Column, sigB: Column): Column =
    round(
      size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b)) /
        lit(NumHashes.toDouble), 4)

  /** LSH candidate pairs (id_a < id_b) with signature-estimated
    * similarity in [0,1]. The band-bucket self-join goes through
    * `Salting.skewSelfJoinPairs`: a hot band (> `hotThreshold` member
    * docs — e.g. a boilerplate shingle set shared by millions of pages)
    * would otherwise put its whole quadratic pair expansion on one
    * reducer; salting spreads it over `saltBuckets` reducers with
    * identical output (equivalence asserted in TextDedupSpec).
    */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      saltBuckets: Int = 8,
      hotThreshold: Long = 1024): DataFrame = {
    // Materialized signatures: the salted self-join evaluates its
    // input in five branches (hot-key agg, semi, anti, probe, build)
    // and the estimate stage reads them twice more — without the
    // materialization the shingle→minhash aggregation reruns per
    // branch. Signatures are O(docs × k) longs (tiny next to the
    // corpus). localCheckpoint rather than persist(): an eager
    // checkpoint materializes once and its blocks are reclaimed by the
    // ContextCleaner when unreferenced, with no CacheManager entry.
    val mins = minhashSignatures(docs, idCol, textCol).localCheckpoint(true)
    val exploded = bandFrame(mins, idCol)
    val cand = Salting
      .skewSelfJoinPairs(exploded, Seq("band_id", "bkey"), idCol,
        buckets = saltBuckets, hotThreshold = hotThreshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
    // estimate similarity by comparing whole signatures as arrays (two
    // joins on doc id) instead of exploding k rows per doc — same
    // result, k× less shuffled data
    val sigA = mins.select(col(idCol).as("doc_a"), sigArray.as("sig_a"))
    val sigB = mins.select(col(idCol).as("doc_b"), sigArray.as("sig_b"))
    cand
      .join(sigA, Seq("doc_a"))
      .join(sigB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        estSim(col("sig_a"), col("sig_b")).as("est_sim"))
  }

  /** Exact dedup: keep the lowest-id row per identical content. One
    * shuffle on the content hash; full rows survive (no re-join).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Near-dedup: drop every doc that is the HIGHER-id member of a
    * candidate pair at/above the similarity threshold. (Greedy one-pass
    * policy — a doc survives iff no kept lower-id near-duplicate
    * exists; transitive chains collapse toward the lowest id.)
    */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val drop = minhashCandidates(docs, idCol, textCol)
      .filter(col("est_sim") >= threshold)
      .select(col("doc_b").as(idCol))
      .distinct()
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** ASYMMETRIC near-dup detection: shingle-set containment
    * C(A,B) = |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|) ≥ `minContainment`
    * (Broder 1997's containment beside resemblance). Catches the pair
    * Jaccard-LSH structurally misses: a short document (quote,
    * excerpt, abstract) living inside a much longer one has Jaccard
    * ≈ |A|/|B| → 0 but containment ≈ 1, so minhash banding on
    * resemblance never surfaces it.
    *
    * Candidate generation is a frequency-capped inverted index (the
    * blocking side of prefix-filter joins, PPJoin family): two docs
    * are candidates iff they share a shingle hash whose document
    * frequency is in [2, dfCap]. The cap is the skew guard — a
    * boilerplate shingle shared by millions of pages would otherwise
    * put a quadratic pair expansion on one reducer — and the
    * documented recall tradeoff: a pair sharing ONLY above-cap
    * shingles is invisible. At 100 TB the census (hash, df) shuffle
    * is the corpus-bytes fraction of d09's, candidate expansion is
    * ≤ dfCap² rows per qualifying hash, and exact verification runs
    * on candidate pairs only (d02's set-join shape).
    *
    * Output: (doc_a < doc_b, inter, containment round-4,
    * contained_id = the smaller-set doc, ties to doc_a).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dfCap: Int = 20,
      minContainment: Double = 0.8): DataFrame = {
    // 60-bit hashes via the span family's shared (id, hash) builder
    // (SpanDedup.docSpanHashes — d09/t23's frame): at corpus scale a
    // 32-bit space would manufacture phantom intersections between
    // unrelated docs, and containment's numerator is exactly what
    // collisions inflate
    val hashed = SpanDedup.docSpanHashes(docs, idCol, textCol, 5)
      .localCheckpoint(true) // census, blocking AND set-build consume it
    val rare = hashed.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("h"))
    val blk = hashed.join(rare, Seq("h"))
    val cand = blk.select(col("h"), col(idCol).as("doc_a"))
      .join(blk.select(col("h"), col(idCol).as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val sets = hashed.groupBy(col(idCol))
      .agg(collect_set(col("h")).as("hs"))
      .localCheckpoint(true) // both verification joins consume it
    cand
      .join(sets.select(col(idCol).as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("inter"),
        least(size(col("hs_a")), size(col("hs_b"))).cast("long").as("min_sz"),
        when(size(col("hs_a")) <= size(col("hs_b")), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("inter") / col("min_sz"), 4).as("containment"),
        col("contained_id"))
      .filter(col("containment") >= minContainment)
  }
}
