package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic epoch shuffle + shard assignment — the last step
  * before a training run reads the corpus. Every epoch needs the SAME
  * pseudo-random permutation on every re-execution (resumable jobs,
  * replicated readers), so the order comes from a salted content-free
  * hash of the document id, never from RNG state: shard =
  * hash(salt ∥ id) mod nShards, position = rank of the hash within the
  * shard. Changing the salt ("epoch1_", "epoch2_", …) yields an
  * independent permutation; re-running the same salt is bit-identical.
  *
  * The hash is the engine-portable md5-prefix (`token_hash60`, the
  * q26/t12 convention) so the DuckDB oracle replays the permutation
  * exactly (t15_shard_shuffle).
  *
  * Scale shape: one projection computes the hash, one shuffle
  * hash-partitions by shard, one within-shard sort assigns positions —
  * the canonical sort-within-partitions write pattern. nShards is
  * sized well above executor count at 100 TB (thousands of shards ⇒
  * each sorts a bounded slice in parallel, and the subsequent
  * per-shard file write streams in position order).
  */
object Sharding {

  /** (id, shard, pos) for every row of `docs`: a deterministic salted
    * permutation, sharded. `pos` is 1-based and dense within each
    * shard. Hash ties (260-bit-unlikely) break on id, so the output is
    * a total order regardless.
    */
  def epochShuffle(
      docs: DataFrame,
      idCol: String,
      salt: String,
      nShards: Long): DataFrame = {
    val h = graft.functions.exprs.token_hash60(
      concat(lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h").asc, col(idCol).asc)
    docs
      .select(col(idCol), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }
}
