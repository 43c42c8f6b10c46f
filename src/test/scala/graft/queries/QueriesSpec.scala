package graft.queries

import graft.SparkSpec

/** Fast regression over the whole registry at sf0.001: every query
  * runs, has its declared schema shape, and a few known invariants
  * hold. The DuckDB hash-compare at sf0.01 is the authoritative gate
  * (tools/check.py); this spec catches breakage inside `sbt test`.
  */
class QueriesSpec extends SparkSpec {

  Registry.all.foreach { q =>
    test(s"${q.name} runs and returns a well-formed result") {
      val df = q.run(spark, sfDir)
      val n = df.count()
      assert(n >= 0)
      assert(df.columns.nonEmpty)
      assert(df.columns.forall(_.nonEmpty))
    }
  }

  test("every query name is unique and every oracle key has a query") {
    assert(Registry.all.map(_.name).distinct.size == Registry.all.size)
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
  }

  test("headline set is non-empty and scale-safe members only") {
    assert(Registry.headline.nonEmpty)
    assert(Registry.headline.map(_.name).contains("q01_pricing_summary"))
  }

  test("q05 window top-1: one row per supplier, revenue is that supplier's max") {
    val df = Registry.byName("q05_window_top1").run(spark, sfDir)
    assert(df.count() == df.select("l_suppkey").distinct().count())
  }

  test("q12 topk returns exactly 10 rows in strict descending price order") {
    val rows = Registry.byName("q12_topk").run(spark, sfDir).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("s01 brute-force ANN: k neighbors per query, ranks contiguous, no self-match") {
    val rows = Registry.byName("s01_ann_bruteforce").run(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 10))
      assert(!rs.exists(_.getLong(2) == qid))
    }
  }

  test("s02 IVF ANN recall vs s01 exact is reasonable on this corpus") {
    val exact = Registry.byName("s01_ann_bruteforce").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Registry.byName("s02_ann_ivf").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall collapsed — quantization broken")
  }

  test("q24 sketches: both estimator accuracy gates hold on every group") {
    val rows = Registry.byName("q24_sketches").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"approx_count_distinct >15% off for ${r.getString(0)}")
      assert(r.getBoolean(4), s"hll_sketch estimate >15% off for ${r.getString(0)}")
    }
  }

  test("d01 exact dedup: keep_id is the minimum doc_id of its group") {
    val df = Registry.byName("d01_exact_dedup").run(spark, sfDir)
    import org.apache.spark.sql.functions._
    assert(df.agg(sum((col("keep_id") < 0).cast("int"))).head().getLong(0) == 0)
    assert(df.agg(min(col("n_copies"))).head().getLong(0) >= 1)
  }

  test("s04 LSH ANN: multiprobe recall vs s01 exact holds up") {
    val exact = Registry.byName("s01_ann_bruteforce").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Registry.byName("s04_ann_lsh").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall collapsed — bucketing broken")
  }

  test("s05 centroids: long form (label, j) rows, 64 dims/label, n_vectors sums to corpus×dim") {
    val rows = Registry.byName("s05_label_centroids").run(spark, sfDir).collect()
    val corpus = graft.core.Tables.embeddings(spark, sfDir).count()
    val keys = rows.map(r => (r.getInt(0), r.getLong(1)))
    assert(keys.distinct.length == rows.length, "(label, j) must be unique")
    keys.groupBy(_._1).foreach { case (_, ks) =>
      assert(ks.map(_._2).sorted.toSeq == (0L until 64L), "each label needs dims 0..63")
    }
    assert(rows.map(_.getLong(3)).sum == corpus * 64)
  }

  test("q27 semi/anti partition the customer table exactly") {
    val rows = Registry.byName("q27_semi_anti").run(spark, sfDir).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total == graft.core.Tables.customer(spark, sfDir).count())
  }

  test("q33 window suite: quartiles are 1..4 and pct_rank within [0,1]") {
    val rows = Registry.byName("q33_window_suite").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(4) >= 1 && r.getLong(4) <= 4))
    assert(rows.forall(r => r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
  }

  test("q34 argmax: richest/poorest differ whenever a nation has >1 customer") {
    val rows = Registry.byName("q34_argmax_agg").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // richest ties with poorest only for single-customer nations
    val multi = rows.filter(_.getLong(1) >= 0) // all rows; sanity only
    assert(multi.forall(r => r.getString(4) != null && r.getString(5) != null))
  }

  test("s14 hybrid RRF: scores are exact two-list contribution sums, ranks contiguous") {
    val rows = Registry.byName("s14_hybrid_rrf").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every score must decompose as c_lex + c_dense with each
    // contribution either 0 or 1e9 div (60 + rank), rank in 1..10 —
    // the integer-nano RRF contract (and both-zero is impossible:
    // a fused pair came from at least one list)
    val contribs = (1 to 10).map(r => 1000000000L / (60 + r)).toSet
    val valid = (for {
      a <- contribs + 0L; b <- contribs + 0L if a != 0L || b != 0L
    } yield a + b).toSet
    assert(rows.forall { case (_, _, _, m) => valid(m) },
      s"non-decomposable rrf_micro in ${rows.filterNot(t => valid(t._4)).take(3).toSeq}")
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq,
        s"query $q ranks not contiguous")
      assert(rs.length <= 10)
    }
  }

  test("s15 MMR: 5 distinct picks per query, rank 1 is the relevance argmax") {
    val mmr = Registry.byName("s15_mmr_diversify").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val exact = Registry.byName("s01_ann_bruteforce").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(mmr.nonEmpty)
    mmr.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 5).toSeq, s"query $q ranks: ${rs.toSeq}")
      assert(rs.map(_._3).distinct.length == 5, s"query $q picked a doc twice")
      // greedy round 1 maximizes pure relevance = s01's top-1 neighbor
      val top1 = exact.find(e => e._1 == q && e._2 == 1).get._3
      assert(rs.find(_._2 == 1).get._3 == top1,
        s"query $q MMR rank-1 must equal the exact top-1")
    }
  }

  test("s16 recall sweep: monotone in nprobe, bounds hold, mean >= min") {
    val rows = Registry.byName("s16_ivf_recall_sweep").run(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    rows.foreach { case (n, mean, mn) =>
      assert(mean >= mn && mn >= 0.0 && mean <= 1.0, s"nprobe=$n: mean=$mean min=$mn")
    }
    // probing MORE cells can only add candidates: recall is monotone
    rows.sliding(2).foreach { case Array((_, m1, n1), (_, m2, n2)) =>
      assert(m2 >= m1 - 1e-9 && n2 >= n1 - 1e-9, s"recall must not decrease: $rows")
    }
  }

  test("t25 vocab growth: cumulative series are monotone and consistent with per-decile counts") {
    val rows = Registry.byName("t25_vocab_growth").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 <= 9))
    val (cumT, cumK) = rows.foldLeft((0L, 0L)) { case ((t, k), (_, nt, ntk, ct, ck)) =>
      assert(ct == t + nt && ck == k + ntk, s"cumulative mismatch at $rows")
      (ct, ck)
    }
    assert(cumT > 0 && cumK > 0)
  }

  test("t24/t25 planted corpus: token-less docs keep their rows, decile gaps skip") {
    import spark.implicits._
    // r21 reworks: t24's explode_outer + broadcast LEFT join replaced
    // the explicit doc_id join-back (a token-less document's zero row
    // now comes from the outer explode), and t25's fixed-domain pivot
    // must omit deciles with no token occurrences (the old tok_t frame
    // semantics). testdata has no token-less docs or empty deciles, so
    // the oracle gate can't see either edge — plant them.
    val dir = java.nio.file.Files.createTempDirectory("t24t25").toString
    Seq((0L, "a b"), (1L, ""), (2L, "b ! c"), (3L, "   "))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t24 = Registry.byName("t24_bpe_tokenize").run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.get(3)))
      .toMap
    assert(t24.keySet == Set(0L, 1L, 2L, 3L), s"t24 lost a document: $t24")
    assert(t24(1L) == ((0L, 0L, null)), s"empty doc row: ${t24(1L)}")
    assert(t24(3L) == ((0L, 0L, null)), s"whitespace doc row: ${t24(3L)}")
    assert(t24(0L)._1 == 2L, s"doc 0 has 2 alphanumeric words: ${t24(0L)}")
    assert(t24(2L)._1 == 2L, s"'!' is not a word: ${t24(2L)}")
    // deciles (n_docs=4): doc0->0, doc1->2, doc2->5, doc3->7; docs 1/3
    // are token-less so deciles 2 and 7 must be ABSENT; types a,b
    // first-sighted at 0, !,c at 5; decile 5 has 3 occurrences (b,!,c)
    val t25 = Registry.byName("t25_vocab_growth").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(t25.toSeq == Seq((0L, 2L, 2L, 2L, 2L), (5L, 2L, 3L, 4L, 5L)),
      s"planted t25 curve mismatch: ${t25.toSeq}")
  }

  test("q50 heatmap: shares sum to ~1 over at most 168 cells") {
    val rows = Registry.byName("q50_activity_heatmap").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 168)
    assert(rows.forall { case (d, h, n, _) => d >= 0 && d <= 6 && h >= 0 && h <= 23 && n > 0 })
    val s = rows.map(_._4).sum
    assert(math.abs(s - 1.0) <= rows.length * 0.00005 + 1e-9, s"share mass $s")
  }

  test("q46 markov: per-prev probabilities sum to ~1 and rows cover the type alphabet") {
    val rows = Registry.byName("q46_markov_transitions").run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      val psum = rs.map(_._4).sum
      // each p is rounded to 4 dp, so the row-count bounds the drift
      assert(math.abs(psum - 1.0) <= rs.length * 0.00005 + 1e-9,
        s"prev=$prev probabilities sum to $psum")
      assert(rs.forall(_._3 >= 1L))
    }
  }

  private def sf001 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString

  /** Jobs of `body` once the tables' schemas are cached: the first
    * read of a path infers its schema in a job of its own.
    */
  private def warmJobs(tables: String*)(body: => Unit): Int = {
    tables.foreach(t => graft.core.Tables(spark, sf001, t))
    jobsDuring(body)
  }

  test("q46 runs in at most 3 jobs on the sf0.01 events") {
    // the lag window's map stage + the census fold + the output action
    val jobs = warmJobs("events") {
      Registry.byName("q46_markov_transitions").run(spark, sf001)
        .write.format("noop").mode("overwrite").save()
    }
    assert(jobs <= 3, s"q46 ran $jobs jobs")
  }

  test("q48 builds in at most 5 jobs on the sf0.01 events") {
    // lag checkpoint 2 + the census fold 1 + the top-20 collect 2
    val jobs = warmJobs("events") { Registry.byName("q48_transition_anomaly").run(spark, sf001) }
    assert(jobs <= 5, s"q48 build ran $jobs jobs")
  }

  test("s06 builds in at most 7 jobs on the sf0.01 embeddings") {
    // the seed collect and two Lloyd rounds' centroid collects; s06
    // reads no WCSS, so no round runs the WCSS `head()` (11 jobs with it)
    val jobs = warmJobs("embeddings") { Registry.byName("s06_kmeans").run(spark, sf001) }
    assert(jobs <= 7, s"s06 build ran $jobs jobs")
  }

  test("s17 binary rerank: shape, exact hamming vs driver-side sign pack, cosine agrees with s01") {
    val rows = Registry.byName("s17_binary_rerank").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // k rows per query, contiguous ranks, no self-match, hamming in [0, 64]
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 10), s"q=$qid ranks")
      assert(rs.forall(_._3 != qid))
      assert(rs.forall(r => r._4 >= 0 && r._4 <= 64))
    }
    // driver-side reference: sign-pack every vector naively, recompute the
    // hamming of each reported (query, neighbor) pair
    val embs = graft.core.Tables.embeddings(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    def pack(v: Array[Float]): (Long, Long) = {
      var w0 = 0L; var w1 = 0L
      (0 until 32).foreach { j => if (v(j) > 0f) w0 |= (1L << j) }
      (0 until 32).foreach { j => if (v(32 + j) > 0f) w1 |= (1L << j) }
      (w0, w1)
    }
    rows.foreach { case (qid, _, nid, ham, _) =>
      val (q0, q1) = pack(embs(qid)); val (n0, n1) = pack(embs(nid))
      val ref = java.lang.Long.bitCount(q0 ^ n0) + java.lang.Long.bitCount(q1 ^ n1)
      assert(ham == ref, s"hamming mismatch ($qid,$nid): $ham vs $ref")
    }
    // the rerank's cosine is the shared round-6 contract: wherever a pair
    // also appears in s01's exact top-10, the scores are identical
    val exact = Registry.byName("s01_ann_bruteforce").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val overlap = rows.filter(r => exact.contains((r._1, r._3)))
    assert(overlap.nonEmpty)
    overlap.foreach { case (qid, _, nid, _, cos) =>
      assert(math.abs(cos - exact((qid, nid))) < 1e-12, s"cos mismatch ($qid,$nid)")
    }
    // two-stage recall vs the exact top-10 at CBIN=50 on this corpus:
    // measured 1.0 at sf0.001; pin a generous floor so regressions show
    val hit = rows.count(r => exact.contains((r._1, r._3)))
    assert(hit >= (0.55 * exact.size).toInt,
      s"binary-rerank recall degraded: $hit / ${exact.size}")
  }

  test("t27 freq spectrum: bucket algebra exact, shares are a probability mass") {
    val rows = Registry.byName("t27_freq_spectrum").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty && rows.length <= 11)
    assert(rows.map(_._1).distinct.length == rows.length)
    // for f <= 10 buckets, tokens = f * types exactly; the 11 bucket holds the tail
    rows.filter(_._1 <= 10).foreach { case (f, nt, ntok, _, _) =>
      assert(ntok == f * nt, s"bucket $f: $ntok != $f*$nt")
    }
    rows.filter(_._1 == 11).foreach { case (_, nt, ntok, _, _) =>
      assert(ntok > 10 * nt)
    }
    // the spectrum partitions the trigram type space and its occurrences
    val docs = graft.core.Tables.documents(spark, sfDir)
    import org.apache.spark.sql.functions._
    val toks = docs
      .select(explode(graft.operators.TextDedup.shingles(col("text"), 3)).as("t"))
      .filter(size(split(col("t"), " ")) === 3)
    assert(rows.map(_._2).sum == toks.distinct.count())
    assert(rows.map(_._3).sum == toks.count())
    Seq(rows.map(_._4).sum, rows.map(_._5).sum).foreach { s =>
      assert(math.abs(s - 1.0) <= rows.length * 0.00005 + 1e-9, s"share mass $s")
    }
  }

  test("q52 sequence mining: per-n ranks contiguous, patterns well-formed, support bounded") {
    val rows = Registry.byName("q52_sequence_mining").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byN = rows.groupBy(_._1)
    assert(byN.keySet.subsetOf(Set(2L, 3L, 4L)))
    byN.foreach { case (n, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"n=$n ranks not contiguous")
      assert(rs.length <= 10)
      // an n-gram pattern has exactly n-1 separators and no spaces
      rs.foreach { case (_, _, p, support) =>
        assert(p.count(_ == '>') == n - 1 && !p.contains(" "), s"malformed pattern $p")
        assert(support >= 1)
      }
      // support is non-increasing down the ranking
      rs.sortBy(_._2).map(_._4).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a >= b)
        case _ =>
      }
    }
    // a contained (n+1)-gram can never out-support its prefix n-gram
    val sup = rows.map(r => r._3 -> r._4).toMap
    rows.filter(_._1 == 3L).foreach { case (_, _, p, s3) =>
      val prefix = p.split('>').take(2).mkString(">")
      sup.get(prefix).foreach(s2 => assert(s2 >= s3, s"$prefix support < $p"))
    }
  }

  test("q51 attribution: every model conserves credit and revenue mass exactly") {
    val rows = Registry.byName("q51_attribution").run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    val models = rows.map(_._1).distinct.sorted
    assert(models.toSeq ==
      Seq("first_touch", "last_touch", "linear", "position_based"))
    // each conversion hands out exactly 1e6 micro-credits under every
    // model, so per-model totals (credit AND credited revenue) agree
    assert(rows.groupBy(_._1).values.map(_.map(_._4).sum).toSet.size == 1)
    assert(rows.groupBy(_._1).values.map(_.map(_._6).sum).toSet.size == 1)
    val total = rows.filter(_._1 == "linear").map(_._4).sum
    assert(total > 0 && total % 1000000L == 0L, s"credit mass $total")
    // the touch census is model-independent
    val byChannel = rows.groupBy(_._2).values
    byChannel.foreach(rs => assert(rs.map(_._3).distinct.length == 1))
    rows.foreach { case (_, _, n, credit, conv, _) =>
      assert(n > 0 && credit >= 0)
      assert(math.abs(conv - credit / 1000000.0) < 1e-9)
    }
  }
}
