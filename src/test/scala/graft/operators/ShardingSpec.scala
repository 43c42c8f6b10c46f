package graft.operators

import graft.SparkSpec

class ShardingSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")

  private def shuffleOf(salt: String) =
    Sharding.epochShuffle(docs, "doc_id", salt, nShards = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("every doc appears exactly once; positions are 1-based and dense per shard") {
    val out = shuffleOf("epoch0_")
    assert(out.map(_._1).sorted == (1L to 200L),
      "the shuffle must be a permutation of the corpus")
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size.toLong),
        s"shard $shard positions not dense: ${rows.map(_._3).sorted}")
    }
  }

  test("same salt is bit-identical; different salts give different permutations") {
    val a = shuffleOf("epoch0_")
    assert(a == shuffleOf("epoch0_"), "re-execution must be deterministic")
    val b = shuffleOf("epoch1_")
    // same corpus, different epoch: the (shard, pos) layout must change
    assert(a.toSet != b.toSet, "salt change must re-permute")
  }

  test("adding a doc does not move docs across shards (shard is id-stable)") {
    val grown = (1L to 201L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val before = shuffleOf("epoch0_").map(r => r._1 -> r._2).toMap
    val after = Sharding.epochShuffle(grown, "doc_id", "epoch0_", 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before.forall { case (id, s) => after(id) == s },
      "shard assignment must be a pure function of (salt, id)")
  }
}
