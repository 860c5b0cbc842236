package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities. AQE's skew-join handles sort-merge skew
  * automatically at runtime; explicit salting remains the tool when a
  * hot key overwhelms even a single AQE-split partition, or for
  * aggregations.
  */
object Skew {

  /** Salted equi-join of a skewed `big` side with a `small` side:
    * big rows get a pseudo-random salt in [0, salts) derived from the
    * whole row (uniform within a hot key), small rows are replicated
    * across all salts, and the join key becomes (key, salt) — one hot
    * key now spreads over `salts` shuffle partitions. Result is
    * row-identical to the unsalted join (salt values never affect
    * matching).
    */
  def saltedJoin(big: DataFrame, small: DataFrame,
                 bigKey: String, smallKey: String,
                 salts: Int): DataFrame = {
    val bigS = big.withColumn("__salt",
      pmod(hash(big.columns.map(col).toSeq: _*), lit(salts)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    // SHUFFLE_HASH, not broadcast: salting spreads a hot key across
    // (key, salt) SHUFFLE partitions — the pattern's entire point.
    // Left to the planner, the salts-times-replicated small side
    // still estimates under the broadcast threshold and the plan
    // degenerates to a BHJ whose HashedRelation (salts x |small|) is
    // built single-threaded on the driver — measured ~1.2 s of
    // jobless wall here, more than every executor stage combined.
    // The hint keeps the build per-partition and executor-side.
    bigS.join(smallS.hint("shuffle_hash"),
        bigS(bigKey) === smallS(smallKey) &&
        bigS("__salt") === smallS("__salt"))
      .drop("__salt")
  }
}
