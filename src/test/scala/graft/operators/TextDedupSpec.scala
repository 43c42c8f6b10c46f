package graft.operators

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exactDedup keeps the lowest id per identical text, full rows survive") {
    val d = docs(
      1L -> "alpha beta gamma",
      2L -> "alpha beta gamma",
      3L -> "totally different text here",
      4L -> "alpha beta gamma")
    val out = TextDedup.exactDedup(d, "doc_id", "text")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(out.columns.toSeq == Seq("doc_id", "text"))
  }

  test("minhashCandidates finds a near-duplicate pair and scores it high") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = ((1 to 39).map(i => s"w$i") :+ "wX").mkString(" ")
    val far = (1 to 40).map(i => s"z$i").mkString(" ")
    val cand = TextDedup.minhashCandidates(
      docs(1L -> base, 2L -> near, 3L -> far), "doc_id", "text").collect()
    val pair = cand.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined, s"expected (1,2) candidate, got ${cand.mkString(",")}")
    assert(pair.get.getDouble(2) >= 0.5)
    assert(!cand.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("dropNearDuplicates removes higher-id near-dups, keeps distinct docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = ((1 to 39).map(i => s"w$i") :+ "wX").mkString(" ")
    val far = (1 to 40).map(i => s"z$i").mkString(" ")
    val out = TextDedup.dropNearDuplicates(
      docs(1L -> base, 2L -> near, 3L -> far), "doc_id", "text", threshold = 0.5)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("end-to-end near-dup collapse: candidates -> clusters -> representatives") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near1 = ((1 to 39).map(i => s"w$i") :+ "wX").mkString(" ")
    val near2 = ((1 to 39).map(i => s"w$i") :+ "wY").mkString(" ")
    val far = (1 to 40).map(i => s"z$i").mkString(" ")
    val d = docs(1L -> base, 2L -> near1, 3L -> near2, 4L -> far)
    val pairs = TextDedup.minhashCandidates(d, "doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("est_sim") >= 0.5)
      .select("doc_a", "doc_b")
    val kept = NearDupClusters.keepRepresentatives(d, pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    // 1,2,3 collapse to representative 1; 4 is untouched
    assert(kept == Seq(1L, 4L), s"got $kept")
  }

  test("identical docs give identical signatures; est_sim = 1.0") {
    val t = (1 to 30).map(i => s"tok$i").mkString(" ")
    val cand = TextDedup.minhashCandidates(
      docs(1L -> t, 2L -> t), "doc_id", "text").head()
    assert(cand.getDouble(2) == 1.0)
  }

  test("files appended under an unchanged path change signatures and candidates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_append").toString
    val text = "alpha beta gamma delta epsilon zeta"
    docs(1L -> text).write.mode("overwrite").parquet(dir)
    def read() = spark.read.parquet(dir)
    def counts() = (TextDedup.minhashSignatures(read(), "doc_id", "text").count(),
      TextDedup.minhashCandidates(read(), "doc_id", "text").count())
    val first = counts()
    // same plan, same root path — but a duplicate appended underneath;
    // a stale signature frame would let it survive dedup
    docs(2L -> text).write.mode("append").parquet(dir)
    val second = counts()
    assert(first == ((1L, 0L)) && second == ((2L, 1L)),
      s"appended docs must reach signatures and candidates (got $first then $second)")
  }

  test("distinct in-memory corpora give distinct signatures") {
    // two same-schema, same-cardinality local corpora
    val a = TextDedup.minhashSignatures(
      docs(1L -> "aa bb cc dd ee ff"), "doc_id", "text")
    val b = TextDedup.minhashSignatures(
      docs(1L -> "gg hh ii jj kk ll"), "doc_id", "text")
    assert(a.collect().map(_.toSeq).toSeq != b.collect().map(_.toSeq).toSeq,
      "distinct local corpora must give distinct signatures")
  }

  test("distinct checkpointed corpora (LogicalRDD leaves) give distinct signatures") {
    // r20 regression: an RDD-backed leaf (localCheckpoint) has no path,
    // no inputFiles, and a schema-only canonicalized plan — a memo keyed
    // on plan identity once collided two such corpora and served one
    // the other's signatures (a planted suite corpus flipped pipe02's
    // cluster stage in the shared test session)
    val a = TextDedup.minhashSignatures(
      docs(1L -> "aa bb cc dd ee ff").localCheckpoint(), "doc_id", "text")
    val b = TextDedup.minhashSignatures(
      docs(1L -> "gg hh ii jj kk ll").localCheckpoint(), "doc_id", "text")
    assert(a.collect().map(_.toSeq).toSeq != b.collect().map(_.toSeq).toSeq,
      "distinct checkpointed corpora must give distinct signatures")
  }

  test("containmentPairs surfaces a low-Jaccard containment pair Jaccard dedup misses") {
    // doc 2 (24 tokens) is verbatim inside doc 1 (120 tokens):
    // Jaccard ~= 20/116 ~= 0.17, containment = 1.0
    val big = (1 to 120).map(i => s"w$i").mkString(" ")
    val inside = (41 to 64).map(i => s"w$i").mkString(" ")
    val far = (1 to 40).map(i => s"z$i").mkString(" ")
    val out = TextDedup.containmentPairs(
      docs(1L -> big, 2L -> inside, 3L -> far), "doc_id", "text").collect()
    assert(out.length == 1, s"expected one pair, got ${out.mkString(",")}")
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getDouble(3) == 1.0, s"containment ${r.getDouble(3)}")
    assert(r.getLong(4) == 2L, "contained_id must be the smaller-set doc")
  }

  test("containmentPairs df-cap blocks hot-shingle-only pairs (the documented recall tradeoff)") {
    // every doc shares the same 5-token boilerplate prefix and nothing
    // else; with 25 docs the boilerplate shingles' df=25 > dfCap=20, so
    // no candidate survives blocking
    val boiler = "terms of service apply here"
    val d = docs((1 to 25).map(i =>
      i.toLong -> s"$boiler unique$i body$i content$i words$i here$i"): _*)
    val out = TextDedup.containmentPairs(d, "doc_id", "text").collect()
    assert(out.isEmpty,
      s"above-cap shingles must not generate candidates, got ${out.mkString(",")}")
    // and with a cap that admits them, the same corpus yields pairs —
    // the exclusion above is the cap, not the verify threshold
    val loose = TextDedup.containmentPairs(d, "doc_id", "text", dfCap = 30,
      minContainment = 0.1).collect()
    assert(loose.nonEmpty)
  }

  test("salted band join returns exactly the plain join's candidates") {
    // 8 copies of one text make every band of those docs a hot bucket
    // when hotThreshold=0; mixed-in near and far docs exercise the
    // cold path simultaneously.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = ((1 to 39).map(i => s"w$i") :+ "wX").mkString(" ")
    val rows = (1L to 8L).map(i => i -> base) ++ Seq(
      9L -> near,
      10L -> (1 to 40).map(i => s"z$i").mkString(" "),
      11L -> (1 to 40).map(i => s"y$i").mkString(" "))
    val d = docs(rows: _*)
    def pairs(hot: Long) = TextDedup
      .minhashCandidates(d, "doc_id", "text", saltBuckets = 4, hotThreshold = hot)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val salted = pairs(hot = 0) // every band bucket takes the salted path
    val plain = pairs(hot = Long.MaxValue) // nothing salted
    assert(salted == plain, s"salted=$salted plain=$plain")
    assert(salted.nonEmpty)
  }
}
