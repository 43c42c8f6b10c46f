package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The BM25 scoring stage, factored out of s12 so the one-shot query
  * and the incremental index ([[IncrementalIndex]]) score through the
  * SAME code path — the stream ≡ batch equivalence is then a property
  * of the index contents, not of two scoring implementations agreeing.
  *
  * Arithmetic is the s12 determinism contract verbatim: per-(query,
  * term, doc) contributions quantized to integer micros with
  * floor(x + 0.5) (no per-row BigDecimal), bigint sums, 4-dp half-up
  * in integer arithmetic, ranking on the rounded score with a doc_id
  * tie-break. See SimilarityQueries.s12Bm25 for the full rationale
  * and the DuckDB replay.
  */
object Bm25 {

  /** Compute-once shared lexical ranking, keyed by (session, corpus
    * tag). The first caller builds the ranked frame and
    * `localCheckpoint`s it eagerly — it is |queries| × k rows, i.e.
    * model-sized at any corpus scale — and every later consumer in the
    * same session reads the materialized blocks instead of re-running
    * the full posting/scoring pipeline. This is the production shape a
    * hybrid-retrieval stack has anyway: the lexical ranking is
    * computed once and SHARED by every fusion/reranker downstream
    * (s14), while s12 — the measurement of the lexical pipeline
    * itself — deliberately does NOT read this memo.
    */
  private val shared = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()

  def sharedRanked(spark: org.apache.spark.sql.SparkSession, tag: String)(
      build: => DataFrame): DataFrame =
    shared.computeIfAbsent((spark, tag), _ => build.localCheckpoint(true))

  /** Top-k BM25 per query over a posting-list frame.
    *
    * @param tf postings carrying document length: (doc_id, dl, term, tf)
    * @param qt query terms: (query_id, term), unique per (query, term)
    * @param stats ONE-row frame (n_docs, s_tok) — attached inside the
    *   broadcast build by cross-join (the X10 pattern), so corpus
    *   stats never become eager driver scalars and the whole plan
    *   stays one action. Computed as its own subtree (not derived from
    *   the census): Spark cannot share one aggregate between two
    *   consumers without materialization — a census-derived s_tok
    *   plans either a duplicate census subtree (column pruning makes
    *   the branches non-identical, so no exchange reuse) or an
    *   unpartitioned vocab window (the optimizer strips any constant
    *   partition key, r12 measured both) — while a separate stats
    *   aggregate is a CONCURRENT leaf stage under AQE, off the
    *   critical path entirely
    * @param k neighbors kept per query
    */
  def scoreTopK(tf: DataFrame, qt: DataFrame, stats: DataFrame, k: Int): DataFrame = {
    // Full-vocabulary df census, deliberately NOT restricted to the
    // query vocabulary before aggregating: the census then has no
    // dependency on the query branch, so AQE runs both as concurrent
    // leaf stages — the old query-restricted census sat behind the qt
    // broadcast, making s12's critical path qt → census → scoring
    // (three sequential jobs; r11's measured perf gap). The
    // word-count-shaped shuffle moves only vocab-sized partials; the
    // query-vocabulary restriction still happens BEFORE the broadcast.
    val census = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dfreq = census
      // left_semi against the SAME broadcast(qt) the scoring join
      // builds — the BroadcastExchange is reused, where a
      // qt.distinct() restriction paid its own aggregate + broadcast
      // (two extra AQE stages measured on the critical path)
      .join(broadcast(qt), Seq("term"), "left_semi")
      // the corpus stats ride the same tiny broadcast (1-row ×
      // vocab-row cross inside the build) — one broadcast fewer, and
      // the scoring stage loses its BNLJ cross-join node
      .crossJoin(stats)
      // idf is a per-TERM constant: computing it here runs |vocab|
      // logs inside the tiny broadcast build instead of one log per
      // contribution row (|postings| × |queries-sharing-term| rows —
      // the plan's biggest frame). Same expression tree over the same
      // exact-integer inputs → bit-identical to the oracle's per-row ln.
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .select(col("term"), col("df"), col("s_tok"), col("n_docs"), col("idf"))
    tf.join(broadcast(dfreq), "term")
      // the BM25 term-frequency saturation num/denom are per-POSTING
      // values: compute them on the posting frame (before the qt join
      // fans each posting out per matching query) so the contribution
      // stage does 3 FP ops per row instead of ~10. The projection
      // sits under the join, so CollapseProject cannot merge it into
      // the post-join select. Left-associative order is the oracle's:
      // num = tf·2.2; denom = tf + 1.2·(0.25 + (0.75·dl·n)/s).
      .select(col("doc_id"), col("term"), col("idf"),
        (col("tf") * lit(2.2)).as("num"),
        (col("tf") + lit(1.2) * (lit(0.25) +
          (lit(0.75) * col("dl") * col("n_docs")) / col("s_tok"))).as("denom"))
      .join(broadcast(qt), "term")
      .filter(col("doc_id") =!= col("query_id"))
      // floor(x + 0.5), NOT round(x, 0): same half-up for the
      // strictly-positive contributions, without a BigDecimal per row
      .select(col("query_id"), col("doc_id"),
        floor(col("idf") * (col("num") / col("denom")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("sum_c"))
      // 4-dp half-up entirely in bigint arithmetic — score_i is the
      // rounded score in 1e-4 units, a bigint, so the top-k order
      // (score desc, doc_id asc) is the integer order (-score_i asc,
      // doc_id asc)
      .select(col("query_id"), col("doc_id"),
        expr("(sum_c + 50) div 100").as("score_i"))
      // Per-query top-k folded INTO the aggregation (the q54
      // BottomKPairsAgg pattern): a native bottom-k heap per query
      // keeps k pairs ordered by (-score_i, doc_id) — partial
      // aggregation truncates map-side, so the final exchange moves
      // only k-sized heaps per query per partition, where the old
      // pair-agg → row_number window shape exchanged EVERY scored
      // (query, doc) pair and then paid a sort + window stage (r12's
      // one remaining perf barrier). doc_id rides as the LONG payload
      // (bit-exact for arbitrary 64-bit ids).
      .groupBy(col("query_id"))
      .agg(graft.functions.BottomKPairsAgg.bottomKIdPairs(
        -col("score_i"), col("doc_id"), k).as("top"))
      // eval() returns the pairs already sorted by (h asc, v asc) =
      // (score desc, doc_id asc) — rank is the array position
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.v").cast("long").as("doc_id"),
        (-col("col.h") / lit(10000.0)).as("score"))
  }
}
