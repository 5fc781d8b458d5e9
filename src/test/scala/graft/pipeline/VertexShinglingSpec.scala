package graft.pipeline

import graft.SparkSpec
import graft.core.MinHashParams

import org.scalatest.funsuite.AnyFunSuite

class VertexShinglingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val p = MinHashParams(kmerLen = 6, bandWidth = 2, numHashes = 8)

  /** Serial replication of the vertex round over an explicit edge list. */
  private def oraclePairs(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val nbrs = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (u, vs) =>
        u -> vs.map(_._2).distinct.sorted.toArray
      }
    val buckets = scala.collection.mutable.Map
      .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Long]]
    nbrs.toSeq.sortBy(_._1).foreach { case (u, vs) =>
      VertexShingling.vertexBands(p, vs).foreach { bk =>
        buckets.getOrElseUpdate(bk, scala.collection.mutable.ArrayBuffer
          .empty) += u
      }
    }
    buckets.values.flatMap { ids =>
      val s = ids.distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }.toSet
  }

  /** The vertex round's own pairs: LSH over the one-shot vertex band rows. */
  private def vertexPairs(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    DedupPipeline.candidatePairs(spark,
      VertexShingling.vertexBandRows(spark, edges.toDF("a", "b"), p),
      Int.MaxValue)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("nodes with identical neighbor sets always pair") {
    // u=100 and v=200 share neighbors {1, 2, 3}; no edge between them
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (200L, 3L))
    val extra = vertexPairs(edges)
    assert(extra.contains((100L, 200L)))
    assert(extra == oraclePairs(edges))
  }

  test("gate: nodes with fewer than c neighbors emit no bands") {
    val bands = VertexShingling.vertexBands(p, Array(42L))
    assert(bands.isEmpty) // c = 2, one neighbor
    assert(VertexShingling.vertexBands(p, Array(42L, 43L)).length == 8)
  }

  test("negative ids hash into [0, P) via floorMod") {
    val bands = VertexShingling.vertexBands(p, Array(-9123456789L, -1L, 5L))
    assert(bands.length == 8)
    bands.foreach { case (_, key) =>
      val m0 = key / p.prime; val m1 = key % p.prime
      assert(m0 >= 0 && m0 < p.prime && m1 >= 0 && m1 < p.prime)
    }
  }

  test("vertex round pairs match the serial oracle on a random graph") {
    val rng = new scala.util.Random(31)
    val nodes = (0 until 60).map(_ => rng.nextLong() % 100000).distinct
    val edges = (0 until 150).map { _ =>
      (nodes(rng.nextInt(nodes.length)), nodes(rng.nextInt(nodes.length)))
    }.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    assert(vertexPairs(edges) == oraclePairs(edges))
  }

  test("densify unions round-1 edges with vertex pairs, deduped") {
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (200L, 3L))
    val dense = VertexShingling.densify(spark, edges.toDF("a", "b"), p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.toSet.subsetOf(dense))
    assert(dense == edges.toSet ++ oraclePairs(edges))
  }

  test("pipeline with shinglingIterations = 2 runs end to end") {
    val pages = Pages.toDS(spark, PagesGen.micro).toDF()
    val cfg = DedupConfig(params = p, shinglingIterations = 2)
    val out = DedupPipeline.run(spark, pages, cfg)
    assert(out.count() == pages.count())
    // densification can only merge clusters, never split them
    val base = DedupPipeline.run(spark, pages, DedupConfig(params = p))
    val nBase = base.select("cluster").distinct().count()
    val nDense = out.select("cluster").distinct().count()
    assert(nDense <= nBase)
  }
}
