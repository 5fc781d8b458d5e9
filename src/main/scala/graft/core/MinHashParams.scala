package graft.core

/** Configuration of the MinHash sketch family.
  *
  * Reproduces the reference's parameter surface
  * (`/root/reference/src/minhash_clustering.cpp:77-83`, README:61-70):
  *   - `kmerLen`   (k, default 6): character shingle length.
  *   - `bandWidth` (c = the reference's `shingle_size`, default 2): number of
  *     minima kept per hash function; a "band" is one hash function's c minima.
  *   - `numHashes` (h): number of hash functions = number of bands.
  *   - `prime`     P = 1,280,000,003 (`minhash_clustering.cpp:27`).
  *   - `randoms`   interleaved (a_i, b_i) pairs for the universal hash family
  *     h_i(x) = (a_i * x + b_i) mod P
  *     (`shingling_cluster_generator_optimized.cpp:621-624`), loaded from a
  *     checked-in file exactly like the reference's `-x use_fixed_randoms`
  *     path (`shingling_toolbox.cpp:22-39`, README:77).
  *
  * 64-bit safety is *checked*, not assumed: the largest possible kmer value
  * for A-Z-normalized input is 25·Σ_{i<k}20^i, and the constructor requires
  * max_kmer * max(a_i) + max(b_i) to fit in a signed 64-bit long. With the
  * checked-in randoms (a, b < 2^31) this admits kmerLen <= 7; larger k with
  * the default family would silently wrap negative (diverging from the
  * reference's math), so it fails loudly here instead.
  */
final case class MinHashParams(
    kmerLen: Int = 6,
    bandWidth: Int = 2,
    numHashes: Int = 41,
    prime: Long = MinHashParams.DefaultPrime,
    randoms: Array[Long] = HashRandoms.default
) extends Serializable {
  require(kmerLen >= 1, s"kmerLen must be >= 1, got $kmerLen")
  require(bandWidth >= 1, s"bandWidth must be >= 1, got $bandWidth")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
  require(
    randoms.length >= 2 * numHashes,
    s"need ${2 * numHashes} randoms for $numHashes hash functions, got ${randoms.length}"
  )
  // overflow guard: max kmer value (digits up to 25, base 20) times the
  // largest multiplier must stay within signed 64-bit, or (x*a + b) % P
  // wraps negative and the sketch silently diverges from the reference
  require({
    val maxKmer = (0 until kmerLen).foldLeft(BigInt(0))((acc, _) =>
      acc * 20 + 25)
    val maxA = (0 until numHashes).map(a).max
    val maxB = (0 until numHashes).map(b).max
    maxKmer * maxA + maxB <= BigInt(Long.MaxValue)
  }, s"kmerLen=$kmerLen with this hash family overflows signed 64-bit " +
     "arithmetic in (x*a + b); use kmerLen <= 7 or smaller multipliers")

  def a(i: Int): Long = randoms(2 * i)
  def b(i: Int): Long = randoms(2 * i + 1)

  /** h_i(x) = (a_i*x + b_i) mod P — the permutation family the north rule
    * requires byte-exact (`shingling_cluster_generator_optimized.cpp:621-624`).
    */
  @inline def hash(i: Int, x: Long): Long = (x * a(i) + b(i)) % prime

  /** The same family holding only the (a, b) pairs its `numHashes`
    * functions read — what a plan expression carries.
    */
  def trimmed: MinHashParams =
    if (randoms.length == 2 * numHashes) this
    else copy(randoms = java.util.Arrays.copyOf(randoms, 2 * numHashes))

  /** Stable digest of the hash family (k, c, P and every (a, b) random;
    * not `numHashes`) plus the caller's `extra` fields — what persisted
    * sketch rows depend on, stored in snapshot manifests so a resume under
    * a different family fails or recomputes instead of mixing sketch spaces.
    */
  def fingerprint(extra: String = ""): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"k=$kmerLen;c=$bandWidth;p=$prime;$extra".getBytes("UTF-8"))
    val buf = java.nio.ByteBuffer.allocate(8)
    randoms.foreach { r => buf.clear(); buf.putLong(r); md.update(buf.array()) }
    md.digest().take(12).map(x => f"$x%02x").mkString
  }

  // equality and printing by CONTENT: `randoms` is an Array, whose default
  // equality is reference identity. Catalyst compares plan expressions with
  // `==` (exchange reuse, `sameResult`) and prints their arguments in
  // `explain`, so two equal families must compare equal and read as values.
  override def equals(o: Any): Boolean = o match {
    case p: MinHashParams =>
      kmerLen == p.kmerLen && bandWidth == p.bandWidth &&
        numHashes == p.numHashes && prime == p.prime &&
        java.util.Arrays.equals(randoms, p.randoms)
    case _ => false
  }

  override def hashCode: Int =
    java.util.Arrays.hashCode(Array[Long](kmerLen, bandWidth, numHashes,
      prime, java.util.Arrays.hashCode(randoms).toLong))

  override def toString: String =
    s"MinHashParams(k=$kmerLen, c=$bandWidth, h=$numHashes, P=$prime, " +
      f"randoms=${randoms.length}#${java.util.Arrays.hashCode(randoms)}%08x)"
}

object MinHashParams {
  val DefaultPrime: Long = 1280000003L
}
