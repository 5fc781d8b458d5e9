package graft.pipeline

import graft.core.MinHashParams

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent incremental vertex-sketch cache — the Spark restatement of
  * the reference's per-vertex hash memo (SURVEY.md I2,
  * `/root/reference/src/shingling_cluster_generator_optimized.cpp:853-948`,
  * `shingling_toolbox.h:22-24`): across sweep steps the per-node c-min
  * minima are UPDATED, never recomputed from scratch.
  *
  * One index drives a step. A band is one hash function's c minima, so the
  * pair table's band prefix `band < h` is exactly the graph at h hash
  * functions, and advancing the cache from `prevH` to `h` both adds the
  * edges of bands `[prevH, h)` and adds the hash functions `[prevH, h)`.
  * Both updates are exact because c-min sketches over disjoint neighbour
  * increments are mergeable:
  *
  *   - old hash range `[0, prevH)`: minima over the NEW neighbours merge
  *     into the cached minima;
  *   - new hash range `[prevH, h)`: sketched over the full neighbour sets
  *     (the I1 trick applied to the vertex round).
  *
  * Per step the work is O(Δedges * prevH + allEdges * Δh) instead of the
  * from-scratch O(allEdges * h); over a whole sweep that is O(E * h_final)
  * instead of O(E * h_final^2). Both inputs are keyed by node, so a step is
  * ONE sorted cogroup on `u` of the cached state and the prefix's directed
  * edges.
  *
  * State is one snapshot table in a [[SnapshotCatalog]], `<name>_state`
  * — (u, n, mins): per node the neighbour count and the flattened h*c
  * minima array, overwritten per step. Its manifest records the hash count
  * and the hash-family fingerprint, so each step is ONE atomic commit and a
  * killed sweep resumes from the last committed step.
  */
final class VertexSketchCache(spark: SparkSession, catalog: SnapshotCatalog,
    name: String, params: MinHashParams) {
  import spark.implicits._

  private val stateTable = s"${name}_state"
  private val HKey = "hashes"

  /** Hash count of the latest committed state, from its manifest — a
    * metadata read, no Spark job. 0 = empty cache.
    */
  def storedHashes: Int = catalog.currentVersion(stateTable) match {
    case 0 => 0
    case v => catalog.snapshot(stateTable, v).properties.get(HKey)
      .map(_.toInt).getOrElse(throw new IllegalStateException(
        s"vertex-cache state table '$stateTable' v$v carries no hash " +
        "count — it was written by an incompatible version; wipe the " +
        "cache directory and restart the sweep"))
  }

  /** Advance the cache to `h` hash functions over the pair table's prefix
    * `band < h` and return the vertex band rows (id, band, key) — exactly
    * [[VertexShingling.vertexBandRows]] of the prefix's pairs at h hash
    * functions, but incrementally. Asking for the committed `h` again
    * returns its rows and commits nothing; a lower `h` fails.
    *
    * Precondition (the pair table's invariant, held by the caller's
    * snapshot commits): rows are canonical a < b, distinct ACROSS bands,
    * and the `[0, h)` prefix is committed before this call.
    *
    * @param pairTable the (a, b, band) pair table
    */
  def advance(pairTable: DataFrame, h: Int): DataFrame = {
    val prevH = storedHashes
    require(h >= math.max(prevH, 1),
      s"hash count must be monotone: cached $prevH, asked $h")
    if (h > prevH) {
      val p = params.copy(numHashes = h)
      val c = p.bandWidth
      // a cogroup needs equal key schemas, nullability included; the state
      // and the pair table come from different sources, so both sides
      // project the same (nullable) expression of u as their key column
      val node = when(col("u").isNotNull, col("u")).as("u")
      val prefix = pairTable.where(col("band") < h)
      val edges = prefix.select(col("a").as("u"), col("b").as("v"), col("band"))
        .union(prefix.select(col("b").as("u"), col("a").as("v"), col("band")))
        .select(node, col("v"), col("band"))
        .groupBy(col("u")).as[Long, (Long, Long, Int)]
      val state = catalog.readLatest(stateTable)
        .getOrElse(spark.emptyDataset[(Long, Int, Array[Long])].toDF("u", "n", "mins"))
        .select(node, col("n"), col("mins"))
      // sorted by (v, band): a neighbour's first row carries its first-seen
      // band, which says whether the cached minima already cover it
      val next = state.groupBy(col("u")).as[Long, (Long, Int, Array[Long])]
        .cogroupSorted(edges)()(col("v"), col("band")) { (u, cached, es) =>
          val all = new scala.collection.mutable.ArrayBuilder.ofLong
          val delta = new scala.collection.mutable.ArrayBuilder.ofLong
          var last = 0L
          es.foreach { case (_, v, band) =>
            if (all.length == 0 || v != last) {
              all.addOne(v)
              if (band >= prevH) delta.addOne(v)
              last = v
            }
          }
          val nbrs = all.result()
          val old = VertexSketchCache.mergeMinima(
            cached.nextOption().map(_._3).orNull,
            VertexShingling.vertexMinimaRange(p, delta.result(), 0, prevH), c)
          Iterator.single((u, nbrs.length,
            Array.concat(old, VertexShingling.vertexMinimaRange(p, nbrs, prevH, h))))
        }
      catalog.commit(stateTable, next.toDF("u", "n", "mins"),
        properties = Map(HKey -> h.toString,
          HashSweep.FamilyKey -> params.fingerprint()))
    }
    val p = params
    catalog.readLatest(stateTable).get
      .select("u", "n", "mins").as[(Long, Int, Array[Long])]
      .flatMap { case (u, n, mins) =>
        VertexShingling.packBands(p, n, mins).map { case (b, k) => (u, b, k) }
      }
      .toDF("id", "band", "key")
  }
}

object VertexSketchCache {
  /** Merge two flattened per-hash ascending c-min arrays (either may be
    * null), keeping the c smallest per hash block — exact for disjoint
    * neighbor increments (duplicate values kept, reference `:636-672`).
    */
  def mergeMinima(a: Array[Long], b: Array[Long], c: Int): Array[Long] = {
    if (a == null) return b
    if (b == null) return a
    require(a.length == b.length, s"${a.length} != ${b.length}")
    val out = new Array[Long](a.length)
    val blocks = a.length / c
    var blk = 0
    while (blk < blocks) {
      val base = blk * c
      var i = 0; var j = 0; var w = 0
      while (w < c) {
        out(base + w) =
          if (j >= c || (i < c && a(base + i) <= b(base + j))) {
            val v = a(base + i); i += 1; v
          } else { val v = b(base + j); j += 1; v }
        w += 1
      }
      blk += 1
    }
    out
  }
}
