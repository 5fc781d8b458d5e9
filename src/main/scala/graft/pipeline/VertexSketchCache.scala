package graft.pipeline

import graft.core.{MinHasher, MinHashParams}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent incremental vertex-sketch cache — the Spark restatement of
  * the reference's per-vertex hash memo (SURVEY.md I2,
  * `/root/reference/src/shingling_cluster_generator_optimized.cpp:853-948`,
  * `shingling_toolbox.h:22-24`): across sweep steps the per-node c-min
  * minima are UPDATED, never recomputed from scratch.
  *
  * Two monotone growth directions are exploited (both exact, because c-min
  * sketches over disjoint set increments are mergeable):
  *
  *   1. new edges — a node's neighbor set only grows as the hash sweep
  *      adds bands; minima over the delta neighbors merge into the cached
  *      minima per existing hash function;
  *   2. new hash functions — only the indices [prevH, H) are sketched over
  *      the full neighbor sets (the I1 trick applied to the vertex round).
  *
  * Per step the work is O(Δedges * prevH + allEdges * ΔH) instead of the
  * from-scratch O(allEdges * H); over a whole sweep that is O(E * H_final)
  * instead of O(E * H_final^2).
  *
  * State is one snapshot table in a [[SnapshotCatalog]], `<name>_state`
  * — (u, h, n, mins): per node the neighbor count and the flattened h*c
  * minima array, overwritten per step. Its manifest records the hash
  * count, the incorporated band prefix and the hash-family fingerprint, so
  * each step is ONE atomic commit and a killed sweep resumes from the last
  * committed step.
  */
final class VertexSketchCache(spark: SparkSession, catalog: SnapshotCatalog,
    name: String, params: MinHashParams) {
  import spark.implicits._

  private val stateTable = s"${name}_state"
  private val c = params.bandWidth
  private val HKey = "hashes"
  private val BandsKey = "bands-prefix"

  /** Hash count the cached state was computed with (0 = empty cache). */
  def storedHashes: Int = committedBandStep._1

  /** Incorporate the pair table's band prefix `[0, numBands)` at
    * `numHashes` hash functions and return the vertex band rows
    * (id, band, key) — exactly [[VertexShingling.vertexBandRows]] of the
    * prefix's pairs, but incrementally. The pair table is an append-only
    * log of canonical distinct (a, b) pairs stored under their first-seen
    * band — the sweep's incremental pair table ([[HashSweep]]), so the
    * step's delta is a `band in [prevBands, numBands)` read and ONE atomic
    * state commit records both the hash count and the incorporated band
    * prefix.
    *
    * Precondition (the pair table's invariant, held by the caller's
    * snapshot commits): rows are canonical a < b, distinct ACROSS bands,
    * and the `[0, numBands)` prefix is committed before this call.
    *
    * @param pairTable the (a, b, band) pair table
    */
  def advanceByBandPrefix(pairTable: DataFrame, numBands: Int,
      numHashes: Int): DataFrame = {
    val (prevH, prevBands) = committedBandStep
    require(numHashes >= prevH,
      s"hash count must be monotone: cached $prevH, asked $numHashes")
    require(numBands >= prevBands,
      s"band prefix must be monotone: cached $prevBands, asked $numBands")
    val p = params.copy(numHashes = math.max(numHashes, 1))
    def slice(from: Int, until: Int): DataFrame = pairTable
      .where(col("band") >= from && col("band") < until).select("a", "b")
    val delta = slice(prevBands, numBands)
    val allPairs = slice(0, numBands)

    // minima over the delta neighbors for the EXISTING hash range [0, prevH)
    val deltaSk =
      if (prevH == 0) spark.emptyDataFrame
        .withColumn("u", lit(0L)).withColumn("dn", lit(0))
        .withColumn("dmins", lit(null).cast("array<bigint>"))
        .select("u", "dn", "dmins").limit(0)
      else sketchRange(directed(delta), p, 0, prevH)
        .toDF("u", "dn", "dmins")

    val prevState = catalog.readLatest(stateTable)
      .map(_.select(col("u"), col("n"), col("mins")))
      .getOrElse(spark.range(0).select(col("id").as("u"),
        lit(0).as("n"), lit(null).cast("array<bigint>").as("mins")))

    val cc = c
    val mergeUdf = udf((a: Seq[Long], b: Seq[Long]) =>
      VertexSketchCache.mergeMinima(
        if (a == null) null else a.toArray,
        if (b == null) null else b.toArray, cc))

    // merge cached minima with the delta's (disjoint neighbor sets → exact)
    val merged = prevState.join(deltaSk, Seq("u"), "full_outer")
      .select(col("u"),
        (coalesce(col("n"), lit(0)) + coalesce(col("dn"), lit(0))).as("n"),
        mergeUdf(col("mins"), col("dmins")).as("mins"))

    // fresh minima for the NEW hash range [prevH, numHashes) over the full
    // neighbor sets — the only pass that touches all edges, and it sketches
    // only the new hash functions
    val state2 =
      if (numHashes == prevH) merged
      else {
        val newSk = sketchRange(directed(allPairs), p, prevH, numHashes)
          .toDF("u", "n2", "nmins")
        val concatUdf = udf((a: Seq[Long], b: Seq[Long]) =>
          (Option(a).getOrElse(Seq.empty) ++ Option(b).getOrElse(Seq.empty))
            .toArray)
        // every node with any neighbor appears in newSk (full re-sketch of
        // the NEW range); merged covers the same set for the old range
        merged.join(newSk, Seq("u"), "full_outer")
          .select(col("u"),
            coalesce(col("n2"), col("n")).as("n"),
            concatUdf(col("mins"), col("nmins")).as("mins"))
      }

    // ONE atomic commit records the step: hash count + band prefix
    val stateSnap = catalog.commit(stateTable,
      state2.withColumn("h", lit(numHashes)).select("u", "h", "n", "mins"),
      properties = Map(HKey -> numHashes.toString,
        BandsKey -> numBands.toString,
        HashSweep.FamilyKey -> params.fingerprint()))
    emitBands(catalog.read(stateTable, stateSnap.version), p, numHashes)
  }

  /** Latest committed (hash count, incorporated band prefix) from the
    * state snapshot's manifest — a metadata read, no Spark job.
    * (0, 0) = empty cache.
    */
  private def committedBandStep: (Int, Int) =
    catalog.currentVersion(stateTable) match {
      case 0 => (0, 0)
      case v =>
        val p = catalog.snapshot(stateTable, v).properties
        (p.get(HKey), p.get(BandsKey)) match {
          case (Some(h), Some(nb)) => (h.toInt, nb.toInt)
          case _ => throw new IllegalStateException(
            s"vertex-cache state table '$stateTable' v$v carries no step " +
            "properties — it was written by an incompatible version; wipe " +
            "the cache directory and restart the sweep")
        }
    }

  /** (u, v) directed expansion of canonical pairs. */
  private def directed(pairs: DataFrame): Dataset[(Long, Long)] =
    pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
      .as[(Long, Long)]

  /** Per-u (setSize, flattened minima for hash range [from, until)) via
    * the graph's grouped reduce ([[ConnectedComponents.neighbourSets]]).
    */
  private def sketchRange(nbrs: Dataset[(Long, Long)], p: MinHashParams,
      from: Int, until: Int): Dataset[(Long, Int, Array[Long])] =
    ConnectedComponents.neighbourSets(nbrs) { (u, vs) =>
      Iterator.single(
        (u, vs.length, VertexShingling.vertexMinimaRange(p, vs, from, until)))
    }

  /** Band rows from the cached state: gate |N(u)| >= c, pack per hash. */
  private def emitBands(state: DataFrame, p: MinHashParams,
      numHashes: Int): DataFrame = {
    val cc = c
    val prime = p.prime
    state.select(col("u"), col("n"), col("mins"))
      .as[(Long, Int, Array[Long])]
      .flatMap { case (u, n, mins) =>
        if (n < cc) Iterator.empty
        else (0 until numHashes).iterator.map { i =>
          (u, i, MinHasher.pack(
            java.util.Arrays.copyOfRange(mins, i * cc, i * cc + cc), prime))
        }
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
