package graft.functions

/** Single source of truth for the seeded universal-hash family
  * h_i(x) = (a_i·x + b_i) mod p over the Mersenne prime p = 2^31−1,
  * shared by the native `graft_minhash` expression and the composed
  * oracle in MinhashSignatureSpec — the two must stay bit-identical,
  * so the derivation lives in exactly one place.
  */
object UniversalHash {
  /** Mersenne prime 2^31 − 1: `a·h + b` stays below 2^62 for
    * 0 ≤ h < p, so ANSI overflow checking never trips. */
  val Prime = 2147483647L

  /** Fixed-seed coefficient pairs (a ∈ [1, 2^31−2], b ∈ [0, 2^31−1]) —
    * identical across executors, runs, and cluster sizes, the property
    * LSH banding correctness depends on. */
  def coefficients(n: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(n)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }
}
