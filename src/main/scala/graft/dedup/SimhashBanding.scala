package graft.dedup

/** Corpus-parameterized banding plan for 64-bit SimHash near-duplicate
  * probing at hamming radius r — Manku, Jain & Das Sarma, "Detecting
  * Near-Duplicates for Web Crawling" (WWW'07) §3, the generalized
  * block-permutation ("probe every block subset") construction.
  *
  * The 64-bit fingerprint is split into `b` contiguous blocks. A pair
  * at hamming distance <= r differs in at most r blocks, so it agrees
  * EXACTLY on at least b-r blocks; probing every C(b, b-r) = C(b, r)
  * block subset of size b-r as its own equi-join table therefore finds
  * every such pair — the banding is lossless at radius r (the property
  * [[SimhashBandingSpec]] exercises over random bit flips). Each probe
  * key carries the concatenated bits of its b-r blocks, i.e. roughly
  * t = 64·(b-r)/b bits.
  *
  * Why b must grow with corpus size N: a probe table keyed on t bits
  * collides a RANDOM (non-near-dup) pair with probability 2^-t, so the
  * banded self-join materializes about
  *
  *   E[false candidates] = Σ_probes  N²/2 · 2^-t(probe)
  *
  * rows BEFORE the cheap hamming verify. A fixed 4×16-bit split
  * (b=4, t=16) is fine at battery scale but produces ~3·10¹³ shuffled
  * rows at N=10⁹ — the candidate join itself becomes the bottleneck at
  * exactly the corpus size LSH exists for. Widening the key (keeping
  * more, narrower blocks per probe) drives the false-candidate mass
  * back under N at the cost of more probe tables:
  *
  *   N = 500  (sf0.1):  b=4 →  4 probes, 16-bit keys, E[false] ≈ 8
  *   N = 10⁶:           b=5 → 10 probes, ~25-bit keys, E[false] ≈ 2·10⁵
  *   N = 10⁹:           b=7 → 35 probes, ~36-bit keys, E[false] ≈ 2·10⁸
  *
  * [[choose]] picks the smallest b in [r+1, 16] whose expected
  * false-candidate count stays within the corpus size (each false
  * candidate costs one 128-bit shuffle row plus two bit_counts — a
  * per-row cost comparable to the fingerprint scan itself, so "at most
  * one false candidate per corpus row" keeps the verify stage no
  * heavier than the scan). b=16 (52-bit keys, 560 probes) is the
  * fallback ceiling — enough for ~10¹² docs before E[false] > N again.
  *
  * The probe-key SHAPE (which block subset, which bits) is what this
  * object owns; [[probeKeys]] is the executable reference semantics —
  * the Catalyst expression in DedupQueries must produce exactly these
  * (comb, bits) rows, and the spec cross-checks the two.
  */
object SimhashBanding {

  val Bits = 64

  final case class Plan(b: Int, r: Int) {
    require(b > r && b <= Bits, s"need r < b <= $Bits, got b=$b r=$r")

    /** Block i covers fingerprint bits [starts(i), starts(i+1)) —
      * near-equal widths when b does not divide 64. */
    val starts: IndexedSeq[Int] = (0 to b).map(i => i * Bits / b)

    def width(i: Int): Int = starts(i + 1) - starts(i)

    /** All (b-r)-subsets of block indices, one probe table each,
      * in stable lexicographic order (the comb index is positional). */
    val combos: IndexedSeq[IndexedSeq[Int]] =
      (0 until b).combinations(b - r).map(_.toIndexedSeq).toIndexedSeq

    def keyBits(c: IndexedSeq[Int]): Int = c.map(width).sum

    /** Expected false-candidate PAIRS across all probe tables for a
      * corpus of n uniformly random fingerprints (pre-verify join
      * output volume, the quantity that must not go quadratic). */
    def expectedFalsePairs(n: Long): Double =
      combos.map(c => n.toDouble * n / 2.0 / math.pow(2.0, keyBits(c).toDouble)).sum
  }

  /** Smallest plan whose expected false-candidate volume is at most
    * max(n, 1024) — i.e. O(corpus) verify work. The 1024 floor keeps
    * tiny test corpora from demanding needlessly wide keys. */
  def choose(n: Long, r: Int = 3, maxB: Int = 16): Plan = {
    val budget = math.max(n.toDouble, 1024.0)
    (r + 1 to maxB).iterator.map(Plan(_, r))
      .find(_.expectedFalsePairs(n) <= budget)
      .getOrElse(Plan(maxB, r))
  }

  /** Reference semantics for the probe keys of one fingerprint: for
    * each combo, the kept blocks' bits concatenated high-to-low in
    * block order. Mirrors the Catalyst construction in DedupQueries
    * bit-for-bit; used by the spec to validate losslessness and the
    * Spark expression. */
  def probeKeys(fp: Long, plan: Plan): Seq[(Int, Long)] =
    plan.combos.zipWithIndex.map { case (combo, ci) =>
      val bits = combo.foldLeft(0L) { (acc, i) =>
        val v = (fp >>> plan.starts(i)) & mask(plan.width(i))
        (acc << plan.width(i)) | v
      }
      (ci, bits)
    }

  /** Low-w-bits mask, safe at w = 64 (1L << 64 wraps to 1 on the JVM). */
  def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1

  /** The ONE Catalyst form of [[probeKeys]]: per block-subset a
    * struct(comb, bits) expression over a 64-bit fingerprint column.
    * The batch banded self-join (DedupQueries.bandedRows) builds from
    * this — a single construction site, so the agreement with
    * [[probeKeys]] that SimhashBandingSpec certifies cannot drift
    * between copies. */
  def probeStructs(fp64: org.apache.spark.sql.Column,
                   plan: Plan): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    def block(i: Int) =
      shiftrightunsigned(fp64, plan.starts(i))
        .bitwiseAND(lit(SimhashBanding.mask(plan.width(i))))
    plan.combos.zipWithIndex.map { case (combo, ci) =>
      val bits = combo.foldLeft(lit(0L)) { (acc, i) =>
        shiftleft(acc, plan.width(i)).bitwiseOR(block(i))
      }
      struct(lit(ci).as("comb"), bits.as("bits"))
    }
  }
}
