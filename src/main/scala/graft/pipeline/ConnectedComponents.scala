package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", 2014) —
  * replacing the reference's Hash-to-Min MPI loop
  * (`/root/reference/src/shingling_cluster_generator_optimized.cpp:1444-1531`)
  * with the same fixpoint (every node labeled by the min id of its
  * component, the label contract of `union_find.cpp:1533-1552` /
  * `union_find.cpp:43-63`) but skew-safe behavior: no node ever
  * materializes its whole component in one task.
  *
  * Each star step is ONE shuffle: a sorted group reduce by node
  * ([[neighbourSets]]) hands each node its sorted distinct neighbors and
  * re-links them to the min — emitted edges are distinct within the
  * group, so no separate distinct pass is needed. Convergence = stable
  * (count, xor-hash) signature of the edge set; each iteration is
  * localCheckpoint'ed to cut lineage (a reliable checkpoint / stage table
  * on a real cluster — see [[DedupPipeline]]).
  */
object ConnectedComponents {

  /** @param edges DataFrame(a: long, b: long), any orientation, self-loops ok
    * @param nodes DataFrame(id: long) — the full node universe (isolated
    *              nodes get component = self)
    * @param assumeCanonical input is already distinct with a < b (true for
    *              every pipeline stage that feeds CC: pair generation emits
    *              canonical pairs and verify/densify preserve them) — skips
    *              a full canonicalize+distinct shuffle of the edge set
    * @param driverFinishMaxEdges when > 0 and the (exact, post-checkpoint)
    *              edge count is at or below it, skip the distributed loop
    *              and finish with serial union-find on the driver: one
    *              collect instead of O(log n) latency-bound star
    *              iterations. The right move whenever the EDGE set fits one
    *              node comfortably — at the 10^12-row operating point the
    *              gate simply never engages. 0 (default) = always
    *              distribute; [[DedupPipeline.run]] opts in via
    *              [[DedupConfig.ccDriverFinishMaxEdges]].
    * @param inputMaterialized the edge input is already a cheaply
    *              re-readable materialization (e.g. a committed stage
    *              table) — skips the eager input localCheckpoint, which
    *              would otherwise copy the whole edge set a second time
    *              just to cut lineage the storage format already cut.
    *              Only honored together with assumeCanonical (the
    *              canonicalize path derives a NEW dataset that does need
    *              materializing).
    * @param knownEdgeCount exact row count of the (canonical) edge input
    *              when the caller already has it (stage manifests carry
    *              it) — skips the driver-finish gate's pre-count job.
    *              -1 = unknown, count when needed.
    * @return DataFrame(id: long, component: long), component = min member id
    */
  def run(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 64, assumeCanonical: Boolean = false,
      driverFinishMaxEdges: Long = 0L, inputMaterialized: Boolean = false,
      knownEdgeCount: Long = -1L): DataFrame = {
    import spark.implicits._
    val skipCheckpoint = assumeCanonical && inputMaterialized
    var cur = {
      val base = (if (assumeCanonical) edges.select(col("a"), col("b"))
        else edges
          .where(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .distinct())
        .as[(Long, Long)]
      if (skipCheckpoint) base else base.localCheckpoint(true)
    }

    def gateCount(): Long =
      if (assumeCanonical && knownEdgeCount >= 0) knownEdgeCount
      else cur.count()
    if (driverFinishMaxEdges > 0 && gateCount() <= driverFinishMaxEdges) {
      val (ids, labels) = indexedComponents(cur.collect())
      cur.unpersist() // the labeling below no longer references the edges
      // the label table fits the driver by the gate's definition —
      // broadcast it as two primitive arrays (bulk-serializable, unlike a
      // hash map) and label nodes in one map pass: no assignment-join
      // shuffle, lookup = binary search over the sorted id array
      val bc = spark.sparkContext.broadcast((ids, labels))
      return nodes.select(col("id").cast("long"))
        .select(col("id"),
          graft.functions.ComponentLabel.of(col("id"), bc).as("component"))
    }

    var prevSig: (Long, Long) = (-1L, 0L)
    var iter = 0
    var converged = cur.isEmpty
    while (!converged && iter < maxIter) {
      // order-independent, overflow-free edge-set signature (edges are
      // distinct within groups; duplicate emissions across groups are
      // impossible for small-star and harmless-rare for large-star, and a
      // stable signature still certifies a stable edge multiset).
      // ONE job per iteration: count() both materializes the persisted
      // edges and (via CollectMetrics — exactly-once, unlike raw
      // accumulators) delivers the xor half of the signature, instead of
      // the previous eager-checkpoint job + separate aggregate job. The
      // saved job launch is input-size-invariant, exactly the fixed
      // latency that made CC the only negatively-thread-scaling stage.
      // persist (not localCheckpoint) keeps per-iteration recompute
      // lineage for executor loss on a real cluster (rooted at — and still
      // fragile at — the input localCheckpoint above; swap that root for a
      // reliable checkpoint / stage table when running with preemption).
      val obs = new org.apache.spark.sql.Observation(s"cc_sig_$iter")
      val next = smallStar(spark, largeStar(spark, cur))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the CollectMetrics node lives only in this forked count plan — it
      // must NOT stay in `next`'s lineage, or two CC results meeting in one
      // downstream query collide on the metric name (DUPLICATED_METRICS_NAME)
      val n = next
        .observe(obs, bit_xor(xxhash64(col("_1"), col("_2"))).as("x"))
        .count()
      val sig = (n, observedXor(obs).getOrElse {
        // defensive: if count() ever stops reporting to the metrics
        // listener (Spark-version behavior), fall back to the explicit
        // aggregate — correct, one extra (cached-read) job
        sigFallbacks.incrementAndGet()
        val r = next.toDF("a", "b")
          .agg(bit_xor(xxhash64(col("a"), col("b")))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      })
      converged = sig == prevSig
      prevSig = sig
      cur.unpersist()
      cur = next
      iter += 1
    }
    // a non-converged star forest is silently WRONG (nodes may carry a
    // non-minimal label) — fail loudly; large/small-star converges in
    // O(log^2 n) rounds, so hitting maxIter means a real problem
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter iterations " +
        s"(last edge-set signature $prevSig); raise maxIter")

    // At the fixpoint `cur` is a star forest: (a = component min, b = member).
    val assigned = cur.toDF("a", "b")
      .select(col("b").as("id"), col("a").as("component"))
      .union(cur.toDF("a", "b").select(col("a").as("id"), col("a").as("component")))
      .distinct()
    nodes.select(col("id").cast("long"))
      .join(assigned, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Serial components over primitive arrays for the driver finish:
    * sort+unique the touched ids, union-find over int indices with
    * union-by-min-index (the ids are sorted, so each tree's root IS its
    * component's min id) and path halving. Returns (sortedIds, labels)
    * parallel arrays — ~20x less driver CPU and serialization than a
    * boxed-map union-find at the multi-million-edge gate boundary.
    */
  private[pipeline] def indexedComponents(
      edges: Array[(Long, Long)]): (Array[Long], Array[Long]) = {
    val all = new Array[Long](edges.length * 2)
    var i = 0
    edges.foreach { e => all(i) = e._1; all(i + 1) = e._2; i += 2 }
    java.util.Arrays.sort(all)
    var m = 0
    i = 0
    while (i < all.length) {
      if (m == 0 || all(m - 1) != all(i)) { all(m) = all(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    // open-addressing id -> index table (linear probing, load <= 0.5):
    // O(1) translation beats 2 binary searches per edge by ~3x at the
    // multi-million-edge gate boundary (cache-missy log m probes add up)
    // Long math then clamp: Integer.highestOneBit(m) * 4 overflows Int at
    // m >= 2^29, silently collapsing the table to its floor and spinning
    // the probe loop forever. The clamp keeps cap > m up to m < 2^30
    // (always an empty slot, so probing terminates; load degrades past
    // 2^29 but a driver finish that large is already past its design
    // point — fail loudly beyond).
    require(m < (1 << 30),
      s"driver CC finish over $m unique ids exceeds the open-addressing " +
      "table's design point; lower driverFinishMaxEdges")
    val cap = {
      val want = java.lang.Long.highestOneBit(math.max(m.toLong, 4L)) * 4L
      if (want > (1L << 30)) 1 << 30 else math.max(want.toInt, 16)
    }
    val mask = cap - 1
    val hKeys = new Array[Long](cap)
    val hVals = new Array[Int](cap)
    java.util.Arrays.fill(hVals, -1)
    @inline def mix(x0: Long): Int = {
      var x = x0
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      (x & mask).toInt
    }
    i = 0
    while (i < m) {
      var s = mix(ids(i))
      while (hVals(s) != -1) s = (s + 1) & mask
      hKeys(s) = ids(i); hVals(s) = i
      i += 1
    }
    @inline def indexOf(id: Long): Int = {
      var s = mix(id)
      while (hKeys(s) != id || hVals(s) == -1) s = (s + 1) & mask
      hVals(s)
    }
    val parent = new Array[Int](m)
    i = 0
    while (i < m) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { e =>
      val ra = find(indexOf(e._1))
      val rb = find(indexOf(e._2))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val labels = new Array[Long](m)
    i = 0
    while (i < m) { labels(i) = ids(find(i)); i += 1 }
    (ids, labels)
  }

  /** Times the observed-signature path fell back to an explicit aggregate
    * (perf telemetry; spec-asserted 0 so a Spark behavior change can't
    * silently reintroduce the two-jobs-per-iteration cost).
    */
  private[pipeline] val sigFallbacks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The observed xor signature, polled bounded: the action has already
    * completed when this runs, so the listener dispatch is milliseconds
    * away — None only if the metrics never arrive (bounded wait, never a
    * hang).
    */
  private def observedXor(obs: org.apache.spark.sql.Observation)
      : Option[Long] = {
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "s"))
      Some(if (row.isNullAt(row.fieldIndex("x"))) 0L
        else row.getAs[Long]("x"))
    } catch {
      case _: java.util.concurrent.TimeoutException => None
    }
  }

  /** The graph's grouped reduce — the reference's collate → reduce over
    * directed (u, v) rows (`shingling_cluster_generator_optimized.cpp`
    * vertex round `:830-1000`, CC `:1444-1531`): one shuffle by u,
    * then `f(u, sortedDistinctNeighbours)` once per node. Shared by the
    * star steps, the vertex round ([[VertexShingling.vertexBandRows]]) and
    * the vertex cache's sketches ([[VertexSketchCache]]).
    */
  private[pipeline] def neighbourSets[U: Encoder](nbrs: Dataset[(Long, Long)])(
      f: (Long, Array[Long]) => IterableOnce[U]): Dataset[U] = {
    val spark = nbrs.sparkSession
    import spark.implicits._
    // reused across groups: each task deserializes its own closure copy
    val buf = new scala.collection.mutable.ArrayBuilder.ofLong
    nbrs.toDF("u", "v").groupBy(col("u")).as[Long, (Long, Long)]
      .flatMapSortedGroups(col("v")) { (u, rows) =>
        buf.clear()
        var last = 0L
        rows.foreach { r =>
          if (buf.length == 0 || r._2 != last) { buf.addOne(r._2); last = r._2 }
        }
        f(u, buf.result())
      }
  }

  /** Large-star: for each node u, link every strictly-larger neighbor v to
    * m(u) = min(N(u) ∪ {u}). Input/output orientation: a < b.
    */
  private[pipeline] def largeStar(spark: SparkSession,
      edges: Dataset[(Long, Long)]): Dataset[(Long, Long)] = {
    import spark.implicits._
    val nbrs = edges.flatMap(e => Iterator((e._1, e._2), (e._2, e._1)))
    neighbourSets(nbrs) { (u, vs) =>
      val m = math.min(u, vs(0)) // vs sorted ascending
      vs.iterator.filter(v => v > u && v != m).map(v => (m, v))
    }
  }

  /** Small-star: for each node u, link all smaller neighbors and u itself
    * to the min of the smaller neighborhood. Input orientation a < b means
    * smaller-neighbor lists are keyed by u = b.
    */
  private[pipeline] def smallStar(spark: SparkSession,
      edges: Dataset[(Long, Long)]): Dataset[(Long, Long)] = {
    import spark.implicits._
    val sm = edges.map(e => (e._2, e._1)) // (u = larger, v = smaller)
    neighbourSets(sm) { (u, vs) =>
      val m = vs(0) // min smaller neighbor; m < u and m < vs(i > 0)
      vs.iterator.drop(1).map(v => (m, v)) ++ Iterator.single((m, u))
    }
  }
}
