package graft.core

/** Character k-shingle integer encoding.
  *
  * Reproduces `compute_kmer_int_value`
  * (`/root/reference/src/shingling_cluster_generator_optimized.cpp:604-619`):
  * positional base-20 value with digit = `char - 'A'`,
  *   v(kmer) = Σ_i (kmer[i]-'A') * 20^(k-1-i),
  * maintained with an O(1) rolling update. The reference's quirk — digits may
  * exceed the base 20 for letters past 'T' (`ALPHABET_SIZE=20`, protein
  * alphabet) — is reproduced as-is: the positional value stays consistent
  * between the initial and rolling paths, which is all the sketch needs.
  *
  * Inputs are expected to be normalized to chars >= 'A' (our pipeline
  * uppercases and strips non-A-Z upstream); for A-Z the digits are 0..25 and
  * the max value for k=6 is 25 * Σ20^i ≈ 8.4e7, comfortably < 2^27.
  */
object Shingler {
  val AlphabetSize = 20 // `shingling_cluster_generator_optimized.cpp:26`

  /** Integer value of every k-mer occurrence, in document order (the
    * occurrence multiset that feeds the c-min sketch). Empty when
    * text.length < k.
    */
  def kmerValues(text: String, k: Int): Array[Long] = {
    val n = text.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val out = new Array[Long](n)
    // high = 20^(k-1), the weight of the leading digit
    var high = 1L
    var j = 1
    while (j < k) { high *= AlphabetSize; j += 1 }
    // initial positional sum (`:607-610`)
    var v = 0L
    var i = 0
    while (i < k) { v = v * AlphabetSize + (text.charAt(i) - 'A'); i += 1 }
    out(0) = v
    // rolling update (`:612-616`)
    i = 1
    while (i < n) {
      v -= (text.charAt(i - 1) - 'A') * high
      v *= AlphabetSize
      v += text.charAt(i + k - 1) - 'A'
      out(i) = v
      i += 1
    }
    out
  }

  /** The distinct shingle set (for exact-Jaccard verification), sorted. */
  def shingleSet(text: String, k: Int): Array[Long] = {
    val vs = kmerValues(text, k)
    java.util.Arrays.copyOf(vs, sortDistinct(vs, vs.length))
  }

  /** Sorts `vs(0 until n)` and moves its distinct values to the front, in
    * place; returns how many there are.
    */
  def sortDistinct(vs: Array[Long], n: Int): Int = {
    if (n == 0) return 0
    java.util.Arrays.sort(vs, 0, n)
    var w = 1
    var i = 1
    while (i < n) {
      if (vs(i) != vs(w - 1)) { vs(w) = vs(i); w += 1 }
      i += 1
    }
    w
  }

  /** |A∩B| / |A∪B| over two sorted distinct arrays (merge count). */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    val inter = intersectionSize(a, b)
    inter.toDouble / (a.length + b.length - inter)
  }

  def intersectionSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  // ---- compact set representation for the verification shuffle ----------
  // The Jaccard-verify join ships each doc's shingle set once per candidate
  // pair side; as Array[Long] that is ~8 bytes/shingle. Sorted-distinct
  // values delta+varint encode to ~2-3 bytes/shingle (values < 2^31 for
  // k <= 7, which MinHashParams enforces), shrinking the dominant shuffle
  // ~3-4x. Layout: varint(count), then varint(first), varint(deltas...).

  /** Delta-varint encoding of a sorted-distinct non-negative value array. */
  def packSet(vs: Array[Long]): Array[Byte] = packSet(vs, vs.length)

  /** The same encoding of the prefix `vs(0 until n)`. */
  def packSet(vs: Array[Long], n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(n * 3 + 5)
    def putVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    putVarint(n.toLong)
    var prev = 0L
    var i = 0
    while (i < n) {
      putVarint(vs(i) - prev) // first delta = first value (prev = 0)
      prev = vs(i)
      i += 1
    }
    out.toByteArray
  }

  /** Streaming decoder over a packed set — no array materialization. */
  private final class PackedCursor(buf: Array[Byte]) {
    private var pos = 0
    private def varint(): Long = {
      var v = 0L; var shift = 0
      var b = buf(pos); pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7FL) << shift; shift += 7
        b = buf(pos); pos += 1
      }
      v | ((b & 0x7FL) << shift)
    }
    val count: Int = varint().toInt
    private var emitted = 0
    private var cur = 0L
    def hasNext: Boolean = emitted < count
    def next(): Long = { cur += varint(); emitted += 1; cur }
  }

  def packedSize(a: Array[Byte]): Int = new PackedCursor(a).count

  /** |A∩B| over two packed sets — streaming merge, zero allocation. */
  def intersectionSizePacked(a: Array[Byte], b: Array[Byte]): Int = {
    val x = new PackedCursor(a)
    val y = new PackedCursor(b)
    var c = 0
    if (!x.hasNext || !y.hasNext) return 0
    var xv = x.next()
    var yv = y.next()
    var done = false
    while (!done) {
      if (xv == yv) {
        c += 1
        if (x.hasNext && y.hasNext) { xv = x.next(); yv = y.next() } else done = true
      } else if (xv < yv) {
        if (x.hasNext) xv = x.next() else done = true
      } else {
        if (y.hasNext) yv = y.next() else done = true
      }
    }
    c
  }
}
