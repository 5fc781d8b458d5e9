package graft.functions

import graft.SparkSpec
import graft.core.{MinHashParams, Shingler}
import graft.pipeline.{DedupPipeline, Pages, PagesGen}

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackedJaccardGateSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def pack(s: String): Array[Byte] =
    Shingler.packSet(Shingler.shingleSet(s, 6))

  test("kernel == UDF-form arithmetic on adversarial set pairs") {
    val fixtures = Seq(
      ("", ""), // empty vs empty
      ("ABCDEFGH", ""), // empty one side
      ("ABCDEFGH", "ABCDEFGH"), // identical
      ("ABCDEFGHIJKLMNOP", "IJKLMNOPQRSTUV"), // partial overlap
      ("ABCDEF", "GHIJKL"), // disjoint
      ("A" * 200, "A" * 200 + "B") // long runs, duplicate shingles
    )
    for ((a, b) <- fixtures; tau <- Seq(0.0, 0.3, 0.5, 0.9, 1.0)) {
      val (x, y) = (pack(a), pack(b))
      val i = Shingler.intersectionSizePacked(x, y)
      val want =
        i >= tau * (Shingler.packedSize(x) + Shingler.packedSize(y) - i)
      assert(PackedJaccardGate.gate(x, y, tau) == want,
        s"a='${a.take(12)}' b='${b.take(12)}' tau=$tau")
    }
  }

  test("interpreted eval == codegen eval, and the plan carries no ScalaUDF") {
    val rows = Seq(
      (1L, pack("ABCDEFGHIJ"), pack("ABCDEFGHIJ")),
      (2L, pack("ABCDEFGHIJ"), pack("KLMNOPQRST")),
      (3L, pack("ABCDEFGHIJKL"), pack("ABCDEFGHIJ")), // J = 5/7 >= 0.5
      (4L, null, pack("ABCDEFGHIJ"))
    ).toDF("id", "x", "y")
    val gate = GraftSqlBridge.column(PackedJaccardGate(
      GraftSqlBridge.expression(col("x")),
      GraftSqlBridge.expression(col("y")), 0.5))
    // repartition so ConvertToLocalRelation can't pre-evaluate the plan;
    // collect FIRST so AQE finalizes and the plan string shows the actual
    // WholeStageCodegen spans
    val out = rows.repartition(2).select(col("id"), gate.as("keep"))
    val got = out.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getBoolean(1))).toMap
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("packed_jaccard_gate") && l.trim.stripPrefix("+- ")
        .startsWith("*(")),
      s"expression not inside a codegen span:\n$plan")
    assert(got(1L) == true && got(2L) == false && got(3L) == true)
    assert(got(4L) == null, "null input must yield null (nullSafeEval)")
  }

  test("SQL registration: packed_jaccard_gate literal form") {
    GraftFunctions.register(spark)
    Seq((1L, pack("ABCDEFGHIJ"), pack("ABCDEFGHIJ")),
      (2L, pack("ABCDEF"), pack("GHIJKL")))
      .toDF("id", "x", "y").createOrReplaceTempView("pjg_in")
    val got = spark.sql(
      "SELECT id, packed_jaccard_gate(x, y, 0.5) AS keep FROM pjg_in")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false))
  }

  test("verify stage through the native gate == serial oracle pairs") {
    val pages = PagesGen.small
    val p = MinHashParams(numHashes = 8)
    val df = Pages.toDS(spark, pages).toDF()
    val docs = DedupPipeline.extractDocs(df)
    val bands = DedupPipeline.signatures(spark, docs, p)
    val (raw, _) = DedupPipeline.candidatePairs(spark, bands, Int.MaxValue)
    val (verified, cleanup) =
      DedupPipeline.verifyPairsManaged(spark, raw, docs, p, 0.5)
    val plan = verified.queryExecution.executedPlan.toString
    assert(plan.contains("packed_jaccard_gate"),
      s"verify must run the native gate:\n$plan")
    val got = verified.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cleanup()
    val idOf = docs.select("url", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.core.SerialOracle
      .run(pages.map(pg => idOf(pg.url) -> pg.text), p, 0.5).pairs
    assert(got == want)
  }
}
