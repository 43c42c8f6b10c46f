package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SaltingSpec extends SparkSpec {
  import spark.implicits._

  test("skewSelfJoinPairs == plain self-join pairs, each pair exactly once") {
    // key "hot" has 30 members (above threshold → salted path), "warm"
    // has 5 (cold path), "solo" has 1 (no pairs).
    val rows = (1L to 30L).map(i => ("hot", i)) ++
      (31L to 35L).map(i => ("warm", i)) :+ (("solo", 36L))
    val df = rows.toDF("k", "id")
    val out = Salting.skewSelfJoinPairs(df, Seq("k"), "id", buckets = 4, hotThreshold = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (for {
      (ka, a) <- rows; (kb, b) <- rows if ka == kb && a < b
    } yield (a, b)).toSeq
    assert(out.sorted == expected.sorted, "pair sets differ")
    assert(out.length == out.distinct.length, "a pair was emitted twice")
    assert(out.length == (30 * 29) / 2 + (5 * 4) / 2)
  }

  test("planted hot band: per-salt-bucket pair work is bounded") {
    // One hot key with 64 members (a boilerplate LSH band at scale).
    // Unsalted, one reducer does all 64x63/2 pairs; salted, the probe
    // side's reducer for salt s does |probe_s| x 64 pair work — bounded
    // iff no salt bucket swallows the whole membership.
    val m = 64
    val df = (1L to m).map(i => ("hot", i)).toDF("k", "id")
    // replicate the deterministic salt the salted path assigns probes
    val saltCounts = df
      .withColumn("__salt", pmod(xxhash64($"id"), lit(8L)))
      .groupBy($"__salt").count()
      .collect().map(_.getLong(1))
    assert(saltCounts.length >= 4,
      s"hot membership spread over only ${saltCounts.length} of 8 salt buckets")
    assert(saltCounts.max <= m / 2,
      s"one salt bucket holds ${saltCounts.max}/$m probes — pair work not bounded")
    // and the salted plan still emits exactly the m(m-1)/2 pairs once
    val out = Salting.skewSelfJoinPairs(df, Seq("k"), "id", buckets = 8, hotThreshold = 4)
    assert(out.count() == m.toLong * (m - 1) / 2)
  }
}
