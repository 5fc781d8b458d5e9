package graft.pipeline

import graft.core.{MinHasher, MinHashParams}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-2 "vertex shingling" — the reference's graph densification pass
  * (`/root/reference/src/shingling_cluster_generator_optimized.cpp:830-1000`,
  * driver loop `:282-308`, default `shingling_iterations = 2` ⇒ one such
  * round): after the k-mer LSH round produces a graph, each node is
  * re-sketched over its (deduplicated, `:259` / `mr_util.cpp:105-121`)
  * neighbor-id set with the same universal hash family and c-min sketch;
  * nodes whose neighborhoods collide in a band yield additional candidate
  * pairs, which are unioned with the round-1 edges. Documents that missed
  * each other's buckets but share many neighbors get connected.
  *
  * Deviation (documented, SURVEY.md §7): node ids here are synthetic 64-bit
  * (possibly negative), so the hash is computed in `floorMod` arithmetic;
  * the serial oracle in tests uses the identical formula.
  */
object VertexShingling {

  /** c minima of h_i, i in [from, until), over a distinct neighbor-id
    * array — the raw (unpacked) sketch kernel, shared by the one-shot
    * vertex round and the incremental cache ([[VertexSketchCache]], the
    * reference's persistent per-vertex memo `:853-948`,
    * `shingling_toolbox.h:22-24`). floorMod arithmetic because synthetic
    * node ids may be negative (documented deviation, SURVEY.md §7).
    * Returns a flattened (until-from)*c array, ascending per hash block.
    */
  def vertexMinimaRange(params: MinHashParams, neighbors: Array[Long],
      from: Int, until: Int): Array[Long] = {
    val c = params.bandWidth
    val n = until - from
    val buf = new Array[Long](n * c)
    java.util.Arrays.fill(buf, Long.MaxValue)
    var p = 0
    while (p < neighbors.length) {
      val x = neighbors(p)
      var i = 0
      while (i < n) {
        val hv = java.lang.Math.floorMod(x * params.a(from + i) + params.b(from + i),
          params.prime)
        val base = i * c
        var pos = base + c - 1
        if (hv < buf(pos)) {
          while (pos > base && hv < buf(pos - 1)) { buf(pos) = buf(pos - 1); pos -= 1 }
          buf(pos) = hv
        }
        i += 1
      }
      p += 1
    }
    buf
  }

  /** A node's band keys (band, key) from its flattened per-hash c minima
    * (`mins` is only evaluated past the gate); gate: |N(u)| >= c (the
    * reference's emit gate `:680` applied to the neighbor multiset —
    * deduped, so a set here). Shared by the one-shot round and the cache.
    */
  def packBands(params: MinHashParams, n: Int,
      mins: => Array[Long]): Iterator[(Int, Long)] = {
    val c = params.bandWidth
    if (n < c) return Iterator.empty
    val m = mins
    Iterator.tabulate(m.length / c)(i => (i, MinHasher.pack(
      java.util.Arrays.copyOfRange(m, i * c, i * c + c), params.prime)))
  }

  /** c minima of h_i over a sorted distinct neighbor-id array, packed band
    * keys, gated by [[packBands]].
    */
  def vertexBands(params: MinHashParams, neighbors: Array[Long]): Array[(Int, Long)] =
    packBands(params, neighbors.length,
      vertexMinimaRange(params, neighbors, 0, params.numHashes)).toArray

  /** Vertex band rows (id, band, key) from a one-shot full re-sketch of
    * every node's neighbor set — the non-incremental form (the cache in
    * [[VertexSketchCache]] must produce exactly these rows).
    */
  def vertexBandRows(spark: SparkSession, edges: DataFrame,
      params: MinHashParams): DataFrame = {
    import spark.implicits._
    val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .as[(Long, Long)]
    ConnectedComponents.neighbourSets(nbrs) { (u, vs) =>
      vertexBands(params, vs).iterator.map { case (b, k) => (u, b, k) }
    }.toDF("id", "band", "key")
  }

  /** Edges ∪ the candidate pairs of vertex band rows (id, band, key),
    * deduped — the graph CC runs on when `shinglingIterations > 1`
    * (reference `:308` collate + `:368`). Hot vertex-band buckets get the
    * same lossless salted decomposition as the k-mer round. Shared by the
    * one-shot round ([[densify]]) and the sweep's cached round
    * ([[HashSweep]]).
    */
  def withVertexPairs(spark: SparkSession, edges: DataFrame,
      vertexBands: DataFrame, maxBucketSize: Int = Int.MaxValue,
      saltBlockSize: Int = Int.MaxValue,
      saltDetectFraction: Double = 1.0): DataFrame =
    edges.select("a", "b")
      .union(DedupPipeline.candidatePairs(spark, vertexBands, maxBucketSize,
        saltBlockSize = saltBlockSize,
        saltDetectFraction = saltDetectFraction)._1)
      .distinct()

  /** One vertex round over `edges`: [[withVertexPairs]] of its one-shot
    * [[vertexBandRows]].
    */
  def densify(spark: SparkSession, edges: DataFrame,
      params: MinHashParams, maxBucketSize: Int = Int.MaxValue,
      saltBlockSize: Int = Int.MaxValue,
      saltDetectFraction: Double = 1.0): DataFrame =
    withVertexPairs(spark, edges, vertexBandRows(spark, edges, params),
      maxBucketSize, saltBlockSize, saltDetectFraction)
}
