package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[UnigramTrainer]] against a corpus small enough to run the
  * EM arithmetic by hand, plus coverage properties on the real
  * synthetic corpus. The fixture corpus "ab b ab b" has exactly two
  * distinct words and three seed pieces {a, b, ab}, so every lattice
  * quantity is enumerable:
  *
  *   seed census: a:2, b:4, ab:2 → p0 = (0.25, 0.5, 0.25)
  *   word "ab" lattice: Z = p(ab) + p(a)p(b); marginals
  *     m(ab) = p(ab)/Z, m(a) = m(b) = p(a)p(b)/Z
  *   word "b" lattice: Z = p(b), m(b) = 1
  */
class UnigramTrainerSpec extends SparkSpec {
  import spark.implicits._

  private def micro(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
  private def r6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r6l(n: Long, d: Long): Double = r6(n.toDouble / d.toDouble)

  test("two-round EM matches the hand-computed fixture, Viterbi picks the whole-word piece") {
    val corpus = Seq((1L, "ab b"), (2L, "ab b")).toDF("doc_id", "text")

    // ---- round 1 (from p0 = 0.25 / 0.5 / 0.25, all exact doubles) ----
    val (pa0, pb0, pab0) = (0.25, 0.5, 0.25)
    val z1 = pab0 + pa0 * pb0
    val cnt1 = Map(
      "a" -> 2L * micro(pa0 * pb0 / z1),
      "b" -> (2L * micro(pa0 * pb0 / z1) + 2L * micro(1.0)),
      "ab" -> 2L * micro(pab0 / z1))
    val tot1 = cnt1.values.sum
    val p1 = cnt1.map { case (k, v) => k -> r6l(v, tot1) }

    // ---- round 2 (same lattice shapes under p1) ----
    val z2 = p1("ab") + p1("a") * p1("b")
    val cnt2 = Map(
      "a" -> 2L * micro(p1("a") * p1("b") / z2),
      "b" -> (2L * micro(p1("a") * p1("b") / z2) + 2L * micro(1.0)),
      "ab" -> 2L * micro(p1("ab") / z2))
    val tot2 = cnt2.values.sum
    val p2 = cnt2.map { case (k, v) => k -> r6l(v, tot2) }

    val out = UnigramTrainer.train(corpus, "text", rounds = 2)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.keySet == Set("a", "b", "ab"))
    Seq("a", "b", "ab").foreach { piece =>
      assert(out(piece)._1 == p2(piece),
        s"piece $piece: em_prob ${out(piece)._1} != hand-computed ${p2(piece)}")
    }
    // Viterbi under p2: p(ab) > p(a)p(b) so "ab" segments as the whole
    // word (freq 2); "b" as itself (freq 2); "a" is never used
    assert(p2("ab") > p2("a") * p2("b"))
    assert(out("ab")._2 == 2L && out("b")._2 == 2L && out("a")._2 == 0L,
      s"viterbi counts: $out")
  }

  test("the seed is every single char plus the top SeedMulti multi-char substrings") {
    // all 62 word chars in 12-char words (every substring of those ties
    // at count 1), plus repeated words that lift a few substrings above
    // the tie; punctuation tokens are not words
    val alphabet = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
    val words = alphabet.grouped(UnigramTrainer.MaxWord).map(_.mkString).toSeq ++
      Seq("hello", "hello", "hello", "help", "help", "world", "word", "ab")
    val corpus = words.zipWithIndex.map { case (w, i) => (i.toLong, s"$w !! -- a-b") }
      .toDF("doc_id", "text")

    val census = words.flatMap { w =>
      for {
        st <- w.indices
        ln <- 1 to math.min(graft.functions.UnigramImpl.MaxPiece, w.length - st)
      } yield w.substring(st, st + ln)
    }.groupBy(identity).map { case (piece, occ) => piece -> occ.size.toLong }
    val multi = census.toSeq.filter(_._1.length >= 2).sortBy { case (p, c) => (-c, p) }
    val k = UnigramTrainer.SeedMulti
    assert(alphabet.forall(c => census.contains(c.toString)))
    assert(multi.size > k && multi(k - 1)._2 == multi(k)._2,
      s"the fixture must tie at the cut: ${multi.slice(k - 2, k + 2)}")
    val expected = census.keySet.filter(_.length == 1) ++ multi.take(k).map(_._1)

    val out = UnigramTrainer.train(corpus, "text", rounds = 1).collect().map(_.getString(0))
    assert(out.toSeq == expected.toSeq.sorted, "seed pieces in pid (piece) order")
  }

  test("two EM rounds on the sf0.01 documents run at most 7 jobs") {
    val docs = graft.core.Tables.documents(
      spark, java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString)
    // words 2 (census checkpoint) + seed 2 (top-N collect) + EM 1 + 1
    // + Viterbi 1 (one ModelFold job each); normalization runs on the
    // driver
    val jobs = jobsDuring { UnigramTrainer.train(docs, "text", rounds = 2) }
    assert(jobs <= 7, s"train(rounds = 2) ran $jobs jobs")
  }

  test("a corpus without alphanumeric words trains to an empty model") {
    val corpus = Seq((1L, "!! ... --"), (2L, "? a-b")).toDF("doc_id", "text")
    assert(UnigramTrainer.train(corpus, "text", rounds = 2).collect().isEmpty)
  }

  test("EM keeps a normalized model and Viterbi covers the corpus (real corpus)") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val out = UnigramTrainer.train(docs, "text", rounds = 2).collect()
    assert(out.nonEmpty)
    // probabilities renormalize to ~1 (each piece is 6-dp rounded)
    val sumP = out.map(_.getDouble(1)).sum
    assert(math.abs(sumP - 1.0) < out.length * 1e-6, s"sum(em_prob) = $sumP")
    // every alphanumeric word occurrence is Viterbi-segmented into >= 1
    // piece (single chars are always in the vocab), so total piece
    // usage covers at least the word occurrences
    val nWords = docs
      .select(explode(graft.functions.TextFunctions.wsTokens($"text")).as("w"))
      .filter($"w".rlike("^[A-Za-z0-9]+$") && length($"w") <= UnigramTrainer.MaxWord)
      .count()
    val used = out.map(_.getLong(2)).sum
    assert(used >= nWords, s"viterbi pieces $used < word occurrences $nWords")
    // and never more than the corpus character count (pieces are >= 1 char)
    assert(out.forall(r => r.getLong(2) >= 0L))
  }

  test("multi-char pieces that EM keeps probable are preferred by Viterbi over char runs") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val out = UnigramTrainer.train(docs, "text", rounds = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // at least one multi-char piece must survive EM with real usage:
    // the corpus's 31-word vocabulary repeats whole words constantly,
    // so the unigram objective must keep whole-word pieces
    val multiUsed = out.filter(p => p._1.length >= 2 && p._3 > 0)
    assert(multiUsed.nonEmpty,
      s"no multi-char piece used by Viterbi: ${out.sortBy(-_._3).take(10).toSeq}")
  }
}
