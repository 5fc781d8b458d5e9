package graft.functions

import graft.SparkSpec
import graft.core.{HashRandoms, MinHasher, MinHashParams, Shingler}
import graft.pipeline.DedupPipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class MinHashBandKeysSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Spark's `upper()`, then strip non-A-Z — the normalization the native
    * kernels fuse into their byte loop.
    */
  private def normalize(raw: String): String =
    UTF8String.fromString(raw).toUpperCase.toString
      .filter(ch => ch >= 'A' && ch <= 'Z')

  private def udfKeys(p: MinHashParams, raw: String): Seq[Long] =
    new MinHasher(p).bandKeys(normalize(raw)).toSeq

  /** Hash families beyond the default: a shuffled randoms array, the gate
    * queries' 16-element `Ops.hashPairs` prefix, and a non-default prime.
    */
  private val families: Seq[(String, MinHashParams)] = {
    val shuffled = new scala.util.Random(5)
      .shuffle(HashRandoms.default.toSeq).toArray
    Seq(
      "default" -> MinHashParams(numHashes = 8),
      "shuffled" -> MinHashParams(numHashes = 8, randoms = shuffled),
      "hashPairs" -> graft.ops.MinHashDocQueries.params,
      "prime" -> MinHashParams(numHashes = 8, prime = 1000000007L),
      "shuffled+prime" -> MinHashParams(numHashes = 8, prime = 999999937L,
        randoms = shuffled))
  }

  private val cases: Seq[String] = {
    val rng = new scala.util.Random(61)
    Seq(
      "", "A", "ABCDE", "ABCDEF", "ABCDEFG", // below/at/above the k=6 gate
      "abcdefg", "AbCdEfGh", // case folding
      "ab, cd! ef\ngh12ij", // punctuation/digits stripped
      "straße größe", // ß: full uppercase mapping differs from simple
      "ınanç ISPARTA", // dotless i
      "日本語テキストabcdefgh", // non-ASCII + ASCII mix
      "ABCDEF" * 20 // repeated shingles (multiset duplicates)
    ) ++ (0 until 50).map { _ =>
      (0 until rng.nextInt(200)).map { _ =>
        val r = rng.nextInt(100)
        if (r < 60) ('a' + rng.nextInt(26)).toChar
        else if (r < 85) ('A' + rng.nextInt(26)).toChar
        else if (r < 95) " ,.!?0123456789".charAt(rng.nextInt(15))
        else "éßıÉÀ日本".charAt(rng.nextInt(7))
      }.mkString
    }
  }

  /** `e` over one string input, evaluated interpreted and through a
    * generated (codegen) projection.
    */
  private def evalBoth(e: Expression => Expression, s: String): (Any, Any) = {
    val expr = e(BoundReference(0, StringType, nullable = true))
    val row = InternalRow(UTF8String.fromString(s))
    val codegen = GenerateUnsafeProjection.generate(Seq(expr))
    (expr.eval(row), codegen(row).copy().get(0, expr.dataType))
  }

  test("kernel == normalize+MinHasher on random, exotic, and edge inputs") {
    for ((name, p) <- families) {
      val kernel = new BandKeyKernel(p)
      cases.foreach { s =>
        assert(kernel.bandKeys(UTF8String.fromString(s)).toSeq == udfKeys(p, s),
          s"$name diverged on: '$s'")
        // the expression carries the family: interpreted and codegen
        // evaluation agree with the kernel
        val (interp, gen) = evalBoth(MinHashBandKeys(_, p.trimmed), s)
        Seq(interp, gen).foreach { v =>
          assert(v.asInstanceOf[ArrayData].toLongArray().toSeq ==
            udfKeys(p, s), s"$name expression diverged on: '$s'")
        }
      }
      // every band-width packing branch (c = 1, 2, 3) agrees with MinHasher
      for (c <- 1 to 3) {
        val pc = p.copy(bandWidth = c, numHashes = 5)
        val kc = new BandKeyKernel(pc)
        cases.foreach { s =>
          assert(kc.bandKeys(UTF8String.fromString(s)).toSeq == udfKeys(pc, s),
            s"$name c=$c diverged on: '$s'")
        }
      }
    }
  }

  test("range kernel [from, until) == MinHasher.bandsInRange on every split") {
    val rng = new scala.util.Random(67)
    val rangeCases = Seq("", "ABCDE", "ABCDEFG", "The quick brown fox",
      "ab! cd") ++ cases.take(20) ++
      (0 until 20).map(_ => (0 until rng.nextInt(150))
        .map(_ => ('a' + rng.nextInt(28)).toChar).mkString)
    for ((name, p0) <- families; from <- Seq(0, 1, 5, 7, 8)) {
      val p = p0.copy(numHashes = 8)
      val kernel = new BandKeyKernel(p, from)
      rangeCases.foreach { s =>
        val want = new MinHasher(p).bandsInRange(normalize(s), from,
          p.numHashes)
        val got = kernel.bandKeys(UTF8String.fromString(s))
        assert(got.toSeq == want.map(_._2).toSeq,
          s"$name from=$from diverged on: '$s'")
        // and the (Int, Long) band indices line up with position + from
        assert(want.map(_._1).toSeq == got.indices.map(_ + from),
          s"band indices must be contiguous from $from")
      }
    }
  }

  test("packed_shingle_set == Shingler.packSet(shingleSet(normalize)), interpreted and codegen") {
    for (k <- Seq(1, 3, 6)) {
      val kernel = new ShingleSetKernel(k)
      cases.foreach { s =>
        val want = Shingler.packSet(Shingler.shingleSet(normalize(s), k))
        assert(kernel.eval(UTF8String.fromString(s)).sameElements(want),
          s"k=$k kernel diverged on: '$s'")
        val (interp, gen) = evalBoth(PackedShingleSet(_, k), s)
        assert(interp.asInstanceOf[Array[Byte]].sameElements(want),
          s"k=$k interpreted diverged on: '$s'")
        assert(gen.asInstanceOf[Array[Byte]].sameElements(want),
          s"k=$k codegen diverged on: '$s'")
      }
    }
    val (nullInterp, nullGen) = evalBoth(PackedShingleSet(_, 6), null)
    assert(nullInterp == null && nullGen == null, "null text yields null")
  }

  test("band-key expression compares and prints its hash family by content") {
    val text = BoundReference(0, StringType, nullable = true)
    val p = MinHashParams(numHashes = 8, randoms = HashRandoms.default.clone())
    // a different Array instance with the same content: equal expressions
    // (so exchange reuse holds), and a family change is a different one
    assert(MinHashBandKeys(text, p.trimmed) ==
      MinHashBandKeys(text, MinHashParams(numHashes = 8).trimmed))
    assert(MinHashBandKeys(text, p.trimmed).hashCode ==
      MinHashBandKeys(text, MinHashParams(numHashes = 8).trimmed).hashCode)
    assert(MinHashBandKeys(text, p.trimmed) !=
      MinHashBandKeys(text, p.copy(prime = 1000000007L).trimmed))
    assert(MinHashBandKeys(text, p.trimmed) !=
      MinHashBandKeys(text, families(1)._2.trimmed))
    val shown = MinHashBandKeys(text, p.trimmed).toString
    assert(shown.contains("P=1280000003") && shown.contains("h=8") &&
      !shown.contains("[J@"), s"unreadable plan argument: $shown")
  }

  test("expression evaluates via codegen, no ScalaUDF in the plan") {
    val docs = Seq((1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "x")).toDF("id", "text")
    val bands = DedupPipeline.signatures(spark, docs, MinHashParams(numHashes = 8))
    val plan = bands.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into:\n$plan")
    // "*(n)" is the WholeStageCodegen marker in the compact plan string —
    // the expression must sit INSIDE a codegen span
    assert(plan.linesIterator.exists(l =>
      l.contains("minhash_band_keys") && l.trim.startsWith("*(")),
      s"expression not inside a codegen span:\n$plan")

    val p = MinHashParams(numHashes = 8)
    val got = bands.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = Seq((1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"), (3L, "x"))
      .flatMap { case (id, t) =>
        udfKeys(p, t).zipWithIndex.map { case (key, band) => (id, band, key) }
      }.toSet
    assert(got == want)
  }

  test("SQL registration: extensions builder + literal args") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT minhash_band_keys('ABCDEFGH', 6, 2, 4) AS ks").head()
      .getAs[scala.collection.Seq[Long]](0)
    val want = new MinHasher(MinHashParams(numHashes = 4))
      .bandKeys("ABCDEFGH").toSeq
    assert(got.toSeq == want)
  }

  test("null text yields null (nullSafeEval contract)") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("ABCDEFGHIJ")))
      .toDF("id", "text")
    import org.apache.spark.sql.GraftSqlBridge
    val keys = GraftSqlBridge.column(MinHashBandKeys(
      GraftSqlBridge.expression(col("text")), MinHashParams(numHashes = 4)))
    val rows = df.select(col("id"), keys.as("ks")).collect()
    assert(rows.find(_.getLong(0) == 1L).get.isNullAt(1))
    assert(!rows.find(_.getLong(0) == 2L).get.isNullAt(1))
  }
}
