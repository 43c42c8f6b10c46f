package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for self-joins: when one join key carries a
  * disproportionate share of rows (the classic hot-key shuffle
  * straggler at 100 TB), salt the hot key's probe rows over `buckets`
  * reducers and replicate its build rows across the salts. The salt is
  * a deterministic hash of the id column, so re-runs are stable.
  */
object Salting {

  /** Skew-aware self-join for candidate-pair generation (LSH band
    * buckets, blocking keys): emits every pair `(id_a < id_b)` of rows
    * sharing `keys`, exactly once — identical output to a plain
    * self-join, different physical distribution.
    *
    * A plain self-join puts ALL rows of one key on one reducer; a hot
    * LSH band with m members does m² pair-work there (the classic
    * straggler at 100 TB). Here keys with multiplicity > `hotThreshold`
    * are split out: the probe side gets a deterministic salt in
    * [0, buckets), the build side is replicated across all salts, so
    * the hot key's m² work spreads over `buckets` reducers at the cost
    * of buckets× replication of only the hot rows. Cold keys join
    * plain. The hot-key set is tiny by definition (they are the heavy
    * hitters) → broadcast.
    */
  def skewSelfJoinPairs(
      df: DataFrame,
      keys: Seq[String],
      idCol: String,
      buckets: Int = 8,
      hotThreshold: Long = 1024,
      carry: Seq[String] = Nil): DataFrame = {
    // buckets = 0 would pmod-by-zero the probe side and emit a
    // descending sequence(0,-1) salt list on the build side — corrupt
    // pairs, silently. buckets = 1 is legal (pure passthrough).
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(hotThreshold >= 0, s"hotThreshold must be >= 0, got $hotThreshold")
    // ONE pair join with a conditional salt, not a cold/hot split with
    // a union: cold rows take salt 0 on both sides (meet exactly once,
    // no replication), hot rows take the deterministic probe salt /
    // full build replication. A pair always shares its key, so both
    // members agree on hotness — output is identical to the plain
    // self-join, but the plan is one census + two broadcast hot-tags +
    // one join, instead of the semi/anti split + two joins + union
    // (whose empty hot side still cost its stages when nothing is hot).
    val hotKeys = df
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__kn"))
      .filter(col("__kn") > hotThreshold)
      .drop("__kn")
      .withColumn("__hot", lit(true))
    val tagged = df.join(broadcast(hotKeys), keys, "left")
      .withColumn("__hot", coalesce(col("__hot"), lit(false)))
    val probe = tagged.withColumn("__salt",
      when(col("__hot"), pmod(xxhash64(col(idCol)), lit(buckets.toLong)))
        .otherwise(lit(0L)))
    val build = tagged.withColumn("__salt",
      explode(when(col("__hot"), sequence(lit(0L), lit(buckets.toLong - 1)))
        .otherwise(array(lit(0L)))))

    // `carry` columns ride through as <c>_a/<c>_b, so a downstream
    // verify stage (cosine, Jaccard) reads them straight off the pair
    // row instead of re-joining a corpus-sized table on each id — at
    // scale that re-join is a second full shuffle the carry avoids.
    probe.as("a").join(build.as("b"), keys :+ "__salt")
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a") +: col(s"b.$idCol").as("id_b") +:
        carry.flatMap(c =>
          Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
  }
}
