package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Expression helpers shared across the operator battery.
  *
  * Cross-engine determinism rule (the DuckDB oracle gate hashes values):
  * floating-point aggregation is order-dependent, so any SUM/AVG over a
  * double column is computed in DECIMAL — decimal arithmetic is exact and
  * associative, so Spark (whatever its partial-aggregation tree looks
  * like) and DuckDB produce bitwise-identical results; the final cast
  * back to double is a single deterministic conversion. This matters at
  * 100 TB too: results stop depending on partition count / AQE decisions.
  *
  * Everything here is built from org.apache.spark.sql.functions (codegen
  * friendly, stays inside WholeStageCodegen) — no UDFs.
  */
object GraftFunctions {

  /** Exact order-independent sum of a money-like double column. */
  def dsum(c: Column, precision: Int = 18, scale: Int = 2): Column =
    sum(c.cast(DecimalType(precision, scale))).cast(DoubleType)

  /** Exact average = decimal sum / count, divided in double space. */
  def davg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType) / count(lit(1))

  /** Whitespace tokenizer (keeps the reference's split semantics:
    * java.util.regex, trailing empties preserved with limit -1). */
  def tokens(c: Column): Column = split(c, " ", -1)

  /** Distinct whitespace tokens. */
  def tokenSet(c: Column): Column = array_distinct(tokens(c))

  /** All w-token shingles of a token-array column, joined by single
    * spaces: shingle i = tokens[i..i+w-1], i in 1..n-w+1 (1-based).
    * Guarded: n < w yields an empty array.
    *
    * Built from w aligned slices zip_with-concatenated — NOT
    * `transform(sequence(1, n-w+1), i -> array_join(slice(tok, i, w)))`:
    * there `tok` sits INSIDE the lambda, so an expensive inline token
    * expression (split, regexp_extract_all) re-evaluates once PER
    * SHINGLE POSITION — O(n · tokenize) per row, quadratic in doc
    * length (q_textrank's edge build measured 2.6 s of its 4.2 s wall
    * in exactly this). zip_with/slice take the arrays as ARGUMENTS,
    * evaluated once per row (w slice calls), whatever CollapseProject
    * inlines. */
  def shingles(tok: Column, w: Int): Column = {
    val len = size(tok) - (w - 1)
    val joined = (2 to w).foldLeft(slice(tok, lit(1), len)) { (acc, k) =>
      zip_with(acc, slice(tok, lit(k), len), (a, b) => concat(a, lit(" "), b))
    }
    when(size(tok) >= w, joined)
      .otherwise(array().cast(ArrayType(StringType)))
  }

  private val Dec = DecimalType(10, 6)
  private val DecAcc = DecimalType(24, 12)

  /** Exact dot product of two float-array columns: elements are cast to
    * DECIMAL(10,6) (deterministic rounding of the float value), products
    * (scale 12, exact) summed exactly — order-independent, so bitwise-
    * reproducible across engines and across partitionings. The re-cast
    * inside the sum lambda pins the accumulator type (Spark's decimal
    * addition otherwise widens precision every step and the aggregate()
    * HOF rejects the drifting type); it is lossless because scale stays
    * 12 and |dot| << 1e12. */
  def dotDecimal(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(Dec) * y.cast(Dec)),
      lit(0).cast(DecAcc),
      (acc, x) => (acc + x).cast(DecAcc))

  /** Cosine similarity via exact decimal dot/norms; final double math
    * (division, sqrt) is IEEE-deterministic. */
  def cosineDecimal(a: Column, b: Column): Column =
    dotDecimal(a, b).cast(DoubleType) /
      sqrt(dotDecimal(a, a).cast(DoubleType) * dotDecimal(b, b).cast(DoubleType))

  /** Scaled-integer vector: float elements -> round(x * 1e6) as LONG.
    * Deterministic (double multiply + HALF_UP round are identical in
    * any IEEE engine) and exact thereafter: all dot/norm arithmetic on
    * the scaled vectors is pure 64-bit integer math — order-independent
    * like the decimal path but ~10x faster (no BigDecimal). With |x|<~40
    * and dim 64, |dot| < 64*(4e7)^2 ~ 1e17 < 2^63. */
  def vecScaled(v: Column): Column =
    transform(v, x => round(x.cast(DoubleType) * 1e6).cast(LongType))

  /** Exact integer dot product of two scaled-long arrays — delegates to
    * the codegen'd DotLong expression (identical values to the
    * aggregate/zip_with HOF, ~an order of magnitude faster on pairwise
    * joins because the loop lives inside WholeStageCodegen). */
  def dotLong(a: Column, b: Column): Column = DotLong.dot_long(a, b)

  /** Cosine from precomputed scaled arrays + integer self-norms:
    * cos = dot / sqrt(na * nb), computed in double at the very end.
    * (Precompute na/nb once per ROW before a pairwise join — computing
    * them per PAIR triples the work.) */
  def cosineFromScaled(a: Column, b: Column, na: Column, nb: Column): Column =
    dotLong(a, b).cast(DoubleType) /
      sqrt(na.cast(DoubleType) * nb.cast(DoubleType))
}
