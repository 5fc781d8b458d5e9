package graft.pipeline
// (iteration signatures are observed during the checkpoint job — see the
// fallback-counter assertion at the bottom of this suite)

import graft.SparkSpec
import graft.core.UnionFind

import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ccOf(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] =
    ConnectedComponents.run(spark,
      edges.toDF("a", "b"), nodes.toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def oracle(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    val uf = new UnionFind
    nodes.foreach(uf.add)
    edges.foreach { case (a, b) => uf.union(a, b) }
    uf.componentsByMinLabel()
  }

  test("simple chain + isolated node") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L)
    assert(ccOf(edges, nodes) == oracle(edges, nodes))
  }

  test("empty edge set: everyone is a singleton") {
    val nodes = Seq(3L, 1L, 7L)
    assert(ccOf(Seq.empty, nodes) == nodes.map(n => n -> n).toMap)
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val edges = Seq((1L, 1L), (2L, 1L), (1L, 2L), (2L, 1L), (3L, 3L))
    val nodes = Seq(1L, 2L, 3L)
    assert(ccOf(edges, nodes) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("random graphs match the union-find oracle") {
    val rng = new scala.util.Random(23)
    for (trial <- 0 until 5) {
      val n = 30 + rng.nextInt(70)
      val nodes = (0 until n).map(_ => rng.nextLong().abs % 100000).distinct
      val m = rng.nextInt(2 * n)
      val edges = (0 until m).map { _ =>
        (nodes(rng.nextInt(nodes.length)), nodes(rng.nextInt(nodes.length)))
      }
      assert(ccOf(edges, nodes) == oracle(edges, nodes), s"trial $trial")
    }
  }

  test("inputMaterialized + knownEdgeCount skip-paths match the default run") {
    // canonical (a < b) distinct edges, parquet-backed as a stage table is
    withTempDir("graft-ccmat") { tmp =>
      val dir = s"$tmp/edges"
      val edges = Seq((1L, 2L), (2L, 5L), (7L, 8L), (3L, 9L))
      val nodes = Seq(1L, 2L, 3L, 5L, 7L, 8L, 9L, 11L)
      edges.toDF("a", "b").write.parquet(dir)
      val fromDisk = spark.read.parquet(dir)
      // driver-finish engaged via knownEdgeCount (no count job), distributed
      // loop via inputMaterialized (no eager checkpoint) — both must equal
      // the oracle and the default path
      for ((gate, known) <- Seq((100L, 4L), (100L, -1L), (0L, -1L))) {
        val got = ConnectedComponents.run(spark, fromDisk, nodes.toDF("id"),
            assumeCanonical = true, driverFinishMaxEdges = gate,
            inputMaterialized = true, knownEdgeCount = known)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == oracle(edges, nodes), s"gate=$gate known=$known")
      }
    }
  }

  test("long path (deep diameter) converges") {
    val nodes = (0L to 60L).toSeq
    val edges = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    val got = ccOf(edges, nodes)
    assert(got.values.toSet == Set(0L))
  }

  test("non-convergence within maxIter throws instead of returning wrong labels") {
    val nodes = (0L to 40L).toSeq
    val edges = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.run(spark, edges.toDF("a", "b"), nodes.toDF("id"),
        maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("star around a large id still labels by min") {
    val nodes = Seq(100L, 1L, 2L, 3L, 4L)
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L))
    assert(ccOf(edges, nodes).values.toSet == Set(1L))
  }

  test("driver union-find finish == distributed star loop == oracle") {
    val rng = new scala.util.Random(47)
    for (trial <- 0 until 3) {
      val nodes = (0L until 150L).toSeq
      val edges = (0 until 120).map(_ =>
        (rng.nextInt(150).toLong, rng.nextInt(150).toLong))
      def runWith(gate: Long) = ConnectedComponents.run(spark,
        edges.toDF("a", "b"), nodes.toDF("id"),
        driverFinishMaxEdges = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val driver = runWith(1L << 20) // gate engages: serial union-find
      val distributed = runWith(0L) // gate off: star loop
      assert(driver == distributed, s"trial $trial paths diverge")
      assert(driver == oracle(edges, nodes), s"trial $trial vs oracle")
    }
  }

  test("iteration signatures come from the checkpoint job (no fallback aggregate)") {
    ConnectedComponents.sigFallbacks.set(0L)
    val nodes = (0L until 200L).toSeq
    val edges = nodes.grouped(5).flatMap(g =>
      g.sliding(2).map(s => (s(0), s(1)))).toSeq
    ccOf(edges, nodes) // several iterations
    assert(ConnectedComponents.sigFallbacks.get() == 0L,
      "observed metrics did not resolve — CC is paying 2 jobs per iteration")
  }
}
