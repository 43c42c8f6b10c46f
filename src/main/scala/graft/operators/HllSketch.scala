package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.roundHalfUp

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007) made
  * ENGINE-PORTABLE — the property the sketch family note in
  * [[KmvSketch]] said HLL lacks. Stock HLL implementations differ per
  * engine (hash function, register packing, bias tables), which forces
  * tolerance-gate oracles (q24). This one is deterministic end to end,
  * so an external SQL oracle replays the ESTIMATE bit-for-bit:
  *
  *  - hash = the engine-portable md5-prefix (`token_hash60`, 60 bits),
  *    the dedup ladder's contract; register index = top `p` = 8 bits,
  *    rank = leading-zero count of the remaining 52-bit window + 1,
  *    computed with INTEGER smear-and-popcount (w | w>>1 | ... | w>>32
  *    then 53 − bit_count) — no floats, no CASE ladder, w = 0 falls
  *    out as rank 53 naturally;
  *  - the harmonic-mean denominator Σ 2^(−M_j) is scaled by 2^53 into
  *    EXACT INTEGER arithmetic: Σ 2^(53−M_j) ≤ 256·2^53 = 2^61 fits a
  *    long, so partial sums are order-independent (a double summation
  *    would round differently per aggregation order);
  *  - the estimate is then ONE IEEE division of two shared-literal
  *    values (`RawNumerator` / S), rounded at 4 dp; and
  *  - the small-range linear-counting branch (E ≤ 2.5m with empty
  *    registers) reads a PRE-ROUNDED 256-entry ln table embedded as
  *    literals on both engines (the m06 shared-basis pattern) — zero
  *    transcendental calls at query time, so libm differences between
  *    the JVM and any other engine cannot split the result.
  *
  * Scale shape: registers are a two-level partial aggregate — the
  * first shuffle carries at most groups × 256 (group, register, max
  * rank) rows after map-side combine, the second collapses them to one
  * row per group. Register frames MERGE by max (the HLL union); the
  * spec pins that registers(A ∪ B) == max-merge(registers(A),
  * registers(B)), which is what makes the sketch shardable across
  * partitions, days or corpora exactly like any partial aggregate.
  */
object HllSketch {

  /** Register count m = 2^p. p = 8 → ±1.04/√256 ≈ 6.5% std error. */
  val P = 8
  val M: Int = 1 << P // 256

  /** alpha_m · m² · 2^53 — the raw-estimate numerator with the 2^53
    * integer scaling folded in; ONE double literal shared verbatim
    * with the oracle SQL (double toString round-trips exactly).
    */
  val RawNumerator: Double =
    0.7213 / (1.0 + 1.079 / M) * M.toDouble * M.toDouble * math.pow(2.0, 53)

  /** Raw-vs-linear-counting switch point: 2.5 · m. */
  val LcThreshold: Double = 2.5 * M

  /** Linear-counting estimates m·ln(m/V) for V = 1..m, PRE-ROUNDED to
    * 4 dp — the only transcendental in the estimator, evaluated once
    * here and embedded as literals on both engines.
    */
  val LcTable: IndexedSeq[Double] = (1 to M).map { v =>
    roundHalfUp(M.toDouble * math.log(M.toDouble / v), 4)
  }

  import org.apache.spark.sql.Column

  private def smearRank(w: Column): Column = {
    // leading-zero rank over the 52-bit window: smear the MSB down,
    // popcount = MSB position + 1, rank = 53 - popcount (w = 0 -> 53)
    val s = Seq(1, 2, 4, 8, 16, 32).foldLeft(w) { (acc, k) =>
      acc.bitwiseOR(shiftright(acc, k))
    }
    (lit(53) - bit_count(s)).cast("long")
  }

  /** The register frame: (groupCol, j, m) — max rank per register,
    * only FILLED registers present (empty ones are implicit zeros,
    * reconstructed in the estimator; materializing groups × 256 rows
    * for mostly-empty registers would defeat the sketch). NULL values
    * are excluded (countDistinct semantics, the KMV guard).
    */
  def registers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val h = graft.functions.exprs.token_hash60(col(valueCol).cast("string"))
    df.select(col(groupCol), h.as("h"))
      .filter(col("h").isNotNull)
      .select(col(groupCol),
        shiftright(col("h"), 60 - P).as("j"),
        smearRank(col("h").bitwiseAND(lit((1L << (60 - P)) - 1))).as("r"))
      .groupBy(col(groupCol), col("j"))
      .agg(max(col("r")).as("m"))
  }

  /** The estimator over an existing register frame (groupCol, j, m) —
    * (groupCol, n_empty, est_raw, est_distinct). Shared by the one-shot
    * query path and [[IncrementalHll]]'s merged streaming state.
    */
  def estimateFromRegisters(regs: DataFrame, groupCol: String): DataFrame = {
    val sums = regs
      .select(col(groupCol),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))").as("term"))
      .groupBy(col(groupCol))
      .agg(sum(col("term")).as("s_filled"), count(lit(1)).as("n_filled"))
      .select(col(groupCol),
        (lit(M.toLong) - col("n_filled")).as("n_empty"),
        (col("s_filled") + (lit(M.toLong) - col("n_filled")) * lit(1L << 53))
          .as("s_total"))
    sums.select(col(groupCol), col("n_empty"),
        round(lit(RawNumerator) / col("s_total").cast("double"), 4).as("est_raw"))
      .select(col(groupCol), col("n_empty"), col("est_raw"),
        when(col("est_raw") <= LcThreshold && col("n_empty") > 0,
          element_at(typedlit(LcTable.toArray), col("n_empty").cast("int")))
          .otherwise(col("est_raw")).as("est_distinct"))
  }

  /** Per-group estimate with the exact-count audit riding along:
    * (groupCol, n_empty, est_raw, est_distinct, exact_distinct,
    * rel_err). `est_distinct` applies the standard small-range rule:
    * linear counting when est_raw ≤ 2.5m and any register is empty.
    */
  def distinctEstimate(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val est = estimateFromRegisters(registers(df, groupCol, valueCol), groupCol)
    val exact = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("exact_distinct"))
    est.join(exact, Seq(groupCol))
      .select(col(groupCol), col("n_empty"), col("est_raw"), col("est_distinct"),
        col("exact_distinct"),
        round(abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct"), 4).as("rel_err"))
  }

  /** The oracle-side replay of the full estimator as DuckDB SQL over
    * `FROM (rows of (g, v))` — kept HERE so the query's oracle and the
    * operator share every literal by construction (RawNumerator, the
    * ln table, the threshold). `src` must yield columns `g, v`.
    */
  def oracleSql(src: String, groupAlias: String = "g"): String = {
    val tbl = LcTable.mkString("[", ", ", "]")
    s"""WITH src AS ($src),
      hh AS (
        SELECT DISTINCT g,
          CAST(('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM src WHERE v IS NOT NULL),
      rr AS (
        SELECT g, h >> ${60 - P} AS j,
          h & ${(1L << (60 - P)) - 1} AS w
        FROM hh),
      sm AS (
        SELECT g, j, w | (w >> 1) AS w1 FROM rr),
      sm2 AS (SELECT g, j, w1 | (w1 >> 2) AS w2 FROM sm),
      sm3 AS (SELECT g, j, w2 | (w2 >> 4) AS w3 FROM sm2),
      sm4 AS (SELECT g, j, w3 | (w3 >> 8) AS w4 FROM sm3),
      sm5 AS (SELECT g, j, w4 | (w4 >> 16) AS w5 FROM sm4),
      rk AS (
        SELECT g, j, 53 - bit_count(w5 | (w5 >> 32)) AS r FROM sm5),
      reg AS (SELECT g, j, max(r) AS m FROM rk GROUP BY g, j),
      agg AS (
        SELECT g,
          CAST(sum(1::BIGINT << (53 - m)) AS BIGINT) AS s_filled,
          CAST(count(*) AS BIGINT) AS n_filled
        FROM reg GROUP BY g),
      tot AS (
        SELECT g, $M - n_filled AS n_empty,
          s_filled + ($M - n_filled) * ${1L << 53} AS s_total
        FROM agg),
      er AS (
        SELECT g, n_empty,
          round($RawNumerator / CAST(s_total AS DOUBLE), 4) AS est_raw
        FROM tot),
      ed AS (
        SELECT g, n_empty, est_raw,
          CASE WHEN est_raw <= $LcThreshold AND n_empty > 0
               THEN list_extract($tbl, CAST(n_empty AS INTEGER))
               ELSE est_raw END AS est_distinct
        FROM er),
      ex AS (
        SELECT g, count(DISTINCT v) AS exact_distinct
        FROM src WHERE v IS NOT NULL GROUP BY g)
      SELECT ed.g AS $groupAlias, ed.n_empty, ed.est_raw, ed.est_distinct,
        CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
        round(abs(ed.est_distinct - ex.exact_distinct) / ex.exact_distinct, 4)
          AS rel_err
      FROM ed JOIN ex ON ed.g = ex.g"""
  }
}
