package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — the write-time layout that makes
  * MULTI-dimensional range predicates prunable from ONE sort key.
  *
  * A single-column sort bounds only that column per file: filtering
  * `user_id BETWEEN ... AND ts BETWEEN ...` over a ts-sorted table
  * still scans every file, because each file spans the full user
  * domain. Interleaving the bits of both (bucketed) dimensions into
  * one Morton code and range-partitioning on IT gives every output
  * file a compact ~square bounding box in (user, time) space — both
  * dimensions bounded at once, so parquet min/max stats prune files
  * for two-sided windows. `ZOrderLayoutSpec` measures exactly that:
  * per-file normalized extents under z-order vs a linear sort.
  *
  * The interleave is built as an UNROLLED expression tree (one
  * shift/mask/or chain per bit, folded with bitwise OR) — plain
  * Catalyst arithmetic that stays inside WholeStageCodegen, rather
  * than an array higher-order function (which would re-evaluate the
  * lambda per element outside codegen). The same unrolled form is
  * emitted as SQL text for the DuckDB oracle, so the code is
  * hash-verified bit-for-bit.
  */
object ZOrder {

  /** Morton code of two non-negative bucketed columns, `bits` bits
    * each: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * Inputs must already be bucketed into [0, 2^bits); use
    * [[bucket]] for the capped bucketing. */
  def morton(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** The matching DuckDB SQL expression (same unrolled interleave). */
  def mortonSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  /** Clamp a non-negative value into the `bits`-bit bucket domain. */
  def bucket(c: Column, bits: Int = 16): Column =
    least(c.cast("long"), lit((1L << bits) - 1))

  def bucketSql(c: String, bits: Int = 16): String =
    s"least(CAST($c AS BIGINT), ${(1L << bits) - 1})"
}
