package graft.functions

import graft.core.{MinHasher, MinHashParams, Shingler}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, Literal, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's two text kernels, both
  * one pass over the raw UTF8 bytes through the shared [[KmerScan]]:
  *
  *   - [[MinHashBandKeys]]: text -> packed MinHash band keys,
  *     byte-identical to `MinHasher.bandKeys(normalize(text))`;
  *   - [[PackedShingleSet]]: text -> the packed distinct k-mer set,
  *     byte-identical to `Shingler.packSet` of `Shingler.shingleSet` over
  *     `normalize(text)`;
  *
  * where `normalize` is Spark's `upper` followed by stripping non-A-Z.
  * Neither needs a `regexp_replace` pass, an uppercase string copy or a
  * ScalaUDF wrapper: normalisation happens inline on the byte stream, and
  * whole-stage codegen calls the kernel directly (`doGenCode`). The c-min
  * insert loop is the verified reference math
  * (`shingling_cluster_generator_optimized.cpp:604-693`), tested equal to
  * [[MinHasher]] / [[graft.core.Shingler]] on random and adversarial
  * inputs under non-default hash families.
  *
  * The band-key expression carries its whole hash family: `params` (k, c,
  * h, prime and the (a, b) pairs; content equality, see
  * [[MinHashParams.trimmed]]). Emits an empty array when the >= c
  * occurrence gate fails, so the caller's posexplode yields no band rows.
  */
case class MinHashBandKeys(child: Expression, params: MinHashParams,
    fromHash: Int = 0)
    extends UnaryExpression with ExpectsInputTypes {

  // AbstractDataType is private[sql]; the inferred type conforms
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  @transient private lazy val kernel = new BandKeyKernel(params, fromHash)

  override def nullSafeEval(input: Any): Any =
    kernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kr = ctx.addReferenceObj("bandKeyKernel", kernel,
      classOf[BandKeyKernel].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $kr.eval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `packed_shingle_set(text, k)`: the verify stage's set payload
  * ([[graft.core.Shingler.packSet]] layout), computed in one pass.
  */
case class PackedShingleSet(child: Expression, kmerLen: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "packed_shingle_set"

  @transient private lazy val kernel = new ShingleSetKernel(kmerLen)

  override def nullSafeEval(input: Any): Any =
    kernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kr = ctx.addReferenceObj("shingleSetKernel", kernel,
      classOf[ShingleSetKernel].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $kr.eval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The one text -> k-mer path of the native kernels: inline `upper + strip
  * non-A-Z` (pure-ASCII fast path; on non-ASCII input the exact semantics
  * of Spark's `upper()` via `UTF8String.toUpperCase`), then the rolling
  * base-20 value of every k-mer occurrence in document order — the same
  * math as `Shingler.kmerValues(normalize(text), k)` without the
  * normalised copy.
  *
  * Thread-confined buffers via ThreadLocal: one kernel instance is shared
  * by every task of a plan in an executor (`addReferenceObj`), so
  * per-instance mutable state would race.
  */
final class KmerScan(val k: Int) extends Serializable {
  require(k >= 1, s"kmerLen must be >= 1, got $k")
  // 20^(k-1): weight of the digit leaving the rolling window
  private val high: Long = {
    var v = 1L; var i = 1
    while (i < k) { v *= 20L; i += 1 }
    v
  }

  @transient private lazy val valueBuf = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](256)
  }
  @transient private lazy val ring = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](k)
  }

  /** This thread's value buffer; the last [[scan]] filled its prefix. */
  def values: Array[Long] = valueBuf.get()

  /** Writes the value of every k-mer occurrence of the normalised `s` into
    * [[values]] and returns how many there are.
    */
  def scan(s: UTF8String): Int = {
    val bytes = s.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) {
      if (bytes(i) < 0) ascii = false
      i += 1
    }
    val in = if (ascii) bytes else normalizeNonAscii(s)
    var out = valueBuf.get()
    if (out.length < in.length) {
      out = new Array[Long](in.length)
      valueBuf.set(out)
    }
    val dig = ring.get()
    var m = 0L // normalised chars consumed
    var n = 0  // k-mer occurrences written
    var v = 0L // rolling positional value
    var ri = 0 // ring slot of the OLDEST digit
    i = 0
    while (i < in.length) {
      val bb = in(i)
      var d = -1
      if (bb >= 'A' && bb <= 'Z') d = bb - 'A'
      else if (bb >= 'a' && bb <= 'z') d = bb - 'a'
      if (d >= 0) {
        if (m < k) v = v * 20L + d
        else v = (v - dig(ri) * high) * 20L + d
        dig(ri) = d.toLong
        ri += 1
        if (ri == k) ri = 0
        m += 1
        if (m >= k) { out(n) = v; n += 1 }
      }
      i += 1
    }
    n
  }

  /** Exact `upper + strip non-A-Z` for non-ASCII input: UTF8String
    * .toUpperCase is precisely Spark's `upper()`, then keep A-Z bytes.
    */
  private def normalizeNonAscii(s: UTF8String): Array[Byte] = {
    val up = s.toUpperCase.toString
    val out = new Array[Byte](up.length)
    var w = 0
    var i = 0
    while (i < up.length) {
      val ch = up.charAt(i)
      if (ch >= 'A' && ch <= 'Z') { out(w) = ch.toByte; w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, w)
  }
}

/** The band-key kernel: c-min insert per hash function over the
  * [[KmerScan]] stream — the same math as [[MinHasher.bandKeys]].
  */
final class BandKeyKernel(val params: MinHashParams, val fromHash: Int = 0)
    extends Serializable {
  require(fromHash >= 0 && fromHash <= params.numHashes,
    s"fromHash $fromHash out of [0, ${params.numHashes}]")
  private val scanner = new KmerScan(params.kmerLen)
  private val c = params.bandWidth
  // hash range [fromHash, numHashes): position j in the output array is
  // absolute hash index fromHash + j (the incremental sweep's append pass
  // computes ONLY the new bands; fromHash = 0 is the full signature)
  private val h = params.numHashes - fromHash
  private val prime = params.prime
  private val as: Array[Long] = Array.tabulate(h)(i => params.a(fromHash + i))
  private val bs: Array[Long] = Array.tabulate(h)(i => params.b(fromHash + i))

  @transient private lazy val minima = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](h * c)
  }

  def eval(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(bandKeys(s))

  def bandKeys(s: UTF8String): Array[Long] = {
    val n = scanner.scan(s)
    if (n < c) return Array.emptyLongArray // the >= c emission gate
    val ks = scanner.values
    val buf = minima.get()
    java.util.Arrays.fill(buf, Long.MaxValue)
    var p = 0
    while (p < n) {
      val x = ks(p)
      var j = 0
      while (j < h) {
        val hv = (x * as(j) + bs(j)) % prime
        // bounded sorted insert (ascending, duplicates kept) — the
        // reference's update_hash_func_min_values (`:636-672`)
        val base = j * c
        var pos = base + c - 1
        if (hv < buf(pos)) {
          while (pos > base && hv < buf(pos - 1)) {
            buf(pos) = buf(pos - 1); pos -= 1
          }
          buf(pos) = hv
        }
        j += 1
      }
      p += 1
    }
    val out = new Array[Long](h)
    var j = 0
    while (j < h) {
      out(j) =
        if (c == 2) buf(j * 2) * prime + buf(j * 2 + 1)
        else if (c == 1) buf(j)
        else MinHasher.pack(
          java.util.Arrays.copyOfRange(buf, j * c, j * c + c), prime)
      j += 1
    }
    out
  }
}

/** The shingle-set kernel: the [[KmerScan]] stream sorted, deduplicated
  * and packed in place with [[Shingler]]'s own routines.
  */
final class ShingleSetKernel(val kmerLen: Int) extends Serializable {
  private val scanner = new KmerScan(kmerLen)

  def eval(s: UTF8String): Array[Byte] = {
    val n = scanner.scan(s)
    val vs = scanner.values
    Shingler.packSet(vs, Shingler.sortDistinct(vs, n))
  }
}

/** SQL surface: `minhash_band_keys(text[, k, c, numHashes])` — registered
  * either via `spark.sql.extensions=graft.functions.GraftExtensions` or
  * [[GraftFunctions.register]] on a live session. Uses the checked-in
  * reference hash family ([[graft.core.HashRandoms.default]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.bandKeysFunction)
    ext.injectFunction(GraftFunctions.jaccardGateFunction)
  }
}

object GraftFunctions {
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"minhash_band_keys: $what must be an integer literal, got $other")
  }

  val bandKeysFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_band_keys"),
    new ExpressionInfo(classOf[MinHashBandKeys].getName, "minhash_band_keys"),
    (exprs: Seq[Expression]) => exprs match {
      case Seq(text) => MinHashBandKeys(text, MinHashParams().trimmed)
      case Seq(text, k, c, nh) => MinHashBandKeys(text, MinHashParams(
        kmerLen = intLit(k, "kmerLen"), bandWidth = intLit(c, "bandWidth"),
        numHashes = intLit(nh, "numHashes")).trimmed)
      case _ => throw new IllegalArgumentException(
        "minhash_band_keys(text[, kmerLen, bandWidth, numHashes])")
    })

  /** `packed_jaccard_gate(x, y, tau)` over [[graft.core.Shingler.packSet]]
    * payloads.
    */
  val jaccardGateFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("packed_jaccard_gate"),
    new ExpressionInfo(classOf[PackedJaccardGate].getName,
      "packed_jaccard_gate"),
    (exprs: Seq[Expression]) => exprs match {
      case Seq(x, y, Literal(tau: Double, _)) => PackedJaccardGate(x, y, tau)
      case Seq(x, y, Literal(tau: org.apache.spark.sql.types.Decimal, _)) =>
        PackedJaccardGate(x, y, tau.toDouble) // SQL `0.5` parses as Decimal
      case _ => throw new IllegalArgumentException(
        "packed_jaccard_gate(x binary, y binary, tau double-literal)")
    })

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_band_keys", bandKeysFunction._3, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "packed_jaccard_gate", jaccardGateFunction._3, "built-in")
  }
}
