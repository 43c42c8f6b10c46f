package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.wsTokens
import graft.functions.VectorFunctions.roundHalfUp

/** Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
  * unigram model) — the other tokenizer family in production use
  * beside BPE ([[BpeTrainer]]). Where BPE grows a vocabulary bottom-up
  * by merging, the unigram model starts from an over-complete seed
  * vocabulary (all frequent substrings) and fits piece probabilities
  * by EM over every possible segmentation of every word; encoding is
  * the Viterbi argmax segmentation.
  *
  * EM here is the exact soft flavour: the E-step computes each
  * piece-occurrence's marginal probability with the standard
  * forward/backward lattice DP over word positions, and the M-step
  * renormalizes expected counts. The whole fit is replayable in the
  * DuckDB oracle (t26) because every FP step is deterministic by
  * construction:
  *  - piece probabilities are rounded to 6 dp before every round, on
  *    the driver by Spark `round`'s replica (the t14 engine-pairing);
  *  - the lattice DPs use only IEEE +/·/÷ in a FIXED accumulation
  *    order (increasing split position; no logs, no re-association),
  *    so alphas/betas are bit-identical across engines;
  *  - each occurrence's marginal is quantized to integer MICRO-units
  *    (floor(x·1e6 + 0.5)) before any cross-row sum, so corpus-level
  *    expected counts are exact bigints, summation-order-free.
  *
  * Scale shape (BpeTrainer's): the corpus-sized work is ONE token
  * census (explode → groupBy word), one top-N collect of its
  * substring census for the seed, and per EM round one kernel call
  * per DISTINCT word ([[graft.functions.UnigramEm]], model as
  * driver-side state) whose expected counts fold per partition into a
  * |pieces|-sized bigint vector that the driver merges and
  * renormalizes — one [[ModelFold]] job per round, and one more for
  * the Viterbi census: 7 jobs for two rounds (word census 2, seed 2,
  * EM 1 + 1, Viterbi 1). The word and seed censuses stay distributed
  * aggregates: the first grows with the corpus vocabulary, the second
  * with the piece alphabet, neither with the model. Micro-quantization
  * headroom: expected-count sums reach ~1e6 micro-units per corpus
  * token, so bigint overflow needs ~9e12 tokens — at the 100 TB scale
  * drop the quantum to 1e4 or shard the M-step sum.
  *
  * Caps (applied identically in the oracle): words are alphanumeric
  * whitespace tokens of ≤ [[MaxWord]] chars (SentencePiece caps
  * sentence/piece lengths the same way); candidate pieces are 1..4
  * chars; the seed keeps every single char (coverage guarantee) plus
  * the top [[SeedMulti]] multi-char substrings by occurrence-weighted
  * frequency (ties lexicographic).
  */
object UnigramTrainer {

  val MaxWord = 12
  val SeedMulti = 48

  private val WordPattern = "^[A-Za-z0-9]+$"
  private val SingleChars = 62 // WordPattern's alphabet: the single-char pieces

  final case class PieceStat(piece: String, em_prob: Double, vit_count: Long)

  /** Distinct-word frequency table over alphanumeric tokens. */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(wsTokens(col(textCol))).as("w"))
      .filter(col("w").rlike(WordPattern) && length(col("w")) <= MaxWord)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Occurrence-weighted substring census (lengths 1..4): the seed
    * vocabulary candidates.
    */
  private def substringCensus(words: DataFrame): DataFrame =
    words
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), st ->
              transform(sequence(1, least(${graft.functions.UnigramImpl.MaxPiece},
                                          length(w) - st + 1)),
                ln -> substring(w, st, ln))))""")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** The seed vocabulary in pid order (by piece) with occurrence
    * counts: every single char + the top-[[SeedMulti]] multi-char
    * substrings by (cnt desc, piece asc). One top-N collect: single
    * chars sort first and number at most [[SingleChars]]. Pieces are
    * ASCII, so the driver's String order is Spark's binary order.
    */
  private def seedTable(words: DataFrame): Seq[(String, Long)] = {
    val (singles, multi) = substringCensus(words)
      .orderBy((length(col("piece")) >= 2).asc, col("cnt").desc, col("piece").asc)
      .limit(SingleChars + SeedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .partition(_._1.length == 1)
    (singles ++ multi.take(SeedMulti)).sortBy(_._1)
  }

  /** Renormalize model-sized counts into 6-dp probabilities on the
    * driver: Spark's `round(cnt / tot, 6)` (the DuckDB pairing the t14
    * contract uses) replicated bit for bit — a long/long → double
    * divide, then [[roundHalfUp]]. No counts (no words), no model.
    */
  private def normalized(cnts: Seq[Long]): Array[Double] = {
    val tot = cnts.sum.toDouble
    cnts.map(c => roundHalfUp(c.toDouble / tot, 6)).toArray
  }

  /** Per-piece sums of (pid int, n bigint) rows: one [[ModelFold]]
    * job into a |pieces|-sized count vector (exact: `Math.addExact`).
    */
  private def pieceSums(pidN: DataFrame, nPieces: Int): Array[Long] =
    ModelFold(pidN)(() => new Array[Long](nPieces))(
      (acc, row) => {
        val pid = row.getInt(0)
        acc(pid) = Math.addExact(acc(pid), row.getLong(1))
        acc
      },
      ModelFold.addExact)

  /** Fit the unigram model with `rounds` EM iterations and Viterbi-
    * encode the corpus under the final model. Returns the model-sized
    * result frame (piece, em_prob, vit_count), pieces sorted into the
    * deterministic pid order (lexicographic).
    */
  def train(docs: DataFrame, textCol: String, rounds: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordTable(docs, textCol).localCheckpoint(true)
    val seed = seedTable(words)
    val pieces = seed.map(_._1).toArray
    var probs = normalized(seed.map(_._2))
    var r = 0
    while (r < rounds) {
      val e = explode(graft.functions.exprs.unigram_em(col("w"), pieces, probs)).as("e")
      val cnts = pieceSums(words.select(col("freq"), e)
        .select(col("e.pid"), col("e.micro") * col("freq")), pieces.length)
      probs = normalized(cnts.toSeq)
      r += 1
    }
    val vit = pieceSums(words.select(
      explode(graft.functions.exprs.unigram_viterbi(col("w"), pieces, probs)), col("freq")),
      pieces.length)
    pieces.indices
      .map(i => PieceStat(pieces(i), probs(i), vit(i)))
      .toDF()
  }
}
