package graft.pipeline

import graft.core.MinHashParams

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's outer driver loop
  * (`/root/reference/src/minhash_clustering.cpp:133,219-258`): two
  * clusterings are maintained — "test" with h hash functions and "base"
  * with h-Δ — and h is incremented until the weighted best-match F-score
  * between them reaches the threshold (self-consistency convergence).
  *
  * The signature optimization carried over is I1 (incremental sketches,
  * `shingling_cluster_generator_optimized.cpp:469-547`): iteration h
  * computes band rows ONLY for the hash indices not yet materialized and
  * appends them to a band-row snapshot table; both clusterings then read
  * the prefix they need. At 10^12 rows this is the
  * difference between O(h_final) and O(h_final^2) sketch work.
  */
object HashSweep {

  /** `legs` carries per-leg wall seconds for the step in completion order
    * (profiling surface for SweepBench / BASELINE.md). Dot-prefixed names
    * are SUB-legs timed inside an enclosing top-level leg and appear
    * BEFORE it (a leg is appended when its body finishes, so inner legs
    * land first — e.g. `.pairgen_kmer_test` belongs to the `cluster_test`
    * entry that FOLLOWS it, not to the leg before). Sub-legs overlap
    * their parent; don't sum dotted and undotted together.
    */
  final case class SweepStep(numHashes: Int, fscore: Double, clusters: Long,
      legs: Seq[(String, Double)] = Seq.empty)
  final case class SweepResult(steps: Seq[SweepStep], converged: Boolean,
      assignments: DataFrame)

  /** Manifest property keys of the sweep's tables: the hash-family
    * fingerprint every table's latest snapshot carries, and the band prefix
    * `[0, n)` that a `bands` / `pairs` append commit completes.
    */
  private[pipeline] val FamilyKey = "hash-family"
  private val PrefixKey = "bands-prefix"

  /** @param bandDir [[SnapshotCatalog]] warehouse of the sweep's tables:
    *                `bands` (id, band, key) — band rows appended per hash
    *                index; `pairs` (a, b, band) — distinct candidate pairs
    *                under their first-seen band; and, with
    *                shinglingIterations = 2, the vertex caches
    *                `test_state` / `base_state`. Every commit carries the
    *                hash-family fingerprint: a restart under another family,
    *                or over a directory in the older partitioned-parquet
    *                layout, fails loudly
    * @param shinglingIterations 1 = k-mer round only; 2 = add the vertex
    *                round per step (reference default), with per-vertex
    *                sketches updated incrementally across steps via
    *                [[VertexSketchCache]] (I2) — one cache per trajectory
    *                (test at h, base at h-delta)
    * @param saltBlockSize / saltDetectFraction hot-band decomposition for
    *                the per-step pair generation, same semantics as
    *                [[DedupConfig]] — the sweep is the production driver
    *                loop, so a hot band here would otherwise serialize its
    *                n²/2 pairs into one task on every step
    */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      bandDir: String,
      startHashes: Int = 41,
      delta: Int = 40,
      maxHashes: Int = 2000,
      threshold: Double = 0.9,
      baseParams: MinHashParams = MinHashParams(numHashes = 1),
      shinglingIterations: Int = 1,
      saltBlockSize: Int = 4096,
      saltDetectFraction: Double = 0.05,
      ccDriverFinishMaxEdges: Long = 1L << 23
  ): SweepResult = {
    require(shinglingIterations == 1 || shinglingIterations == 2,
      "the incremental vertex cache supports one densification round " +
      "(the reference's default shingling_iterations = 2)")
    require(startHashes > delta, "test must have more hashes than base")
    require(startHashes <= maxHashes,
      s"startHashes=$startHashes > maxHashes=$maxHashes: nothing to sweep")

    // every entry of the warehouse is a snapshot table; anything else (the
    // older partitioned layout's band=<i> directories and sidecar files)
    // is refused, never adopted
    val entries = Option(new java.io.File(bandDir).listFiles())
      .getOrElse(Array.empty)
    entries.find(f => !new java.io.File(f, "metadata").isDirectory)
      .foreach { f =>
        throw new IllegalStateException(
          s"$bandDir holds ${f.getName}, which is not a snapshot table " +
          "(an older partitioned band-table layout?); clean it or use a " +
          "fresh bandDir")
      }
    // every persisted row is only valid under the hash family it was
    // computed with — a restart under another family would silently mix
    // sketch spaces. Each table's latest snapshot carries the family
    // fingerprint, so cleaning one table cannot unlock the others.
    val cat = new SnapshotCatalog(spark, bandDir)
    val family = baseParams.fingerprint()
    for (t <- entries.map(_.getName) if cat.exists(t)) {
      val stored = cat.snapshot(t, cat.currentVersion(t))
        .properties.getOrElse(FamilyKey, "none")
      if (stored != family) throw new IllegalStateException(
        s"$bandDir/$t was materialized under a different hash family " +
        s"(stored $stored, current $family) — its rows are not valid " +
        "for these params; clean bandDir or use a fresh one")
    }

    val docs = DedupPipeline.extractDocs(pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Append-only prefix tables: each increment is ONE append commit whose
    // manifest records the band prefix it completes, so a killed append is
    // invisible and is simply re-derived on restart.
    def committedBands(t: String): Int =
      if (!cat.exists(t)) 0
      else cat.snapshot(t, cat.currentVersion(t)).properties(PrefixKey).toInt
    def extend(t: String, until: Int)(rows: Int => DataFrame): Unit = {
      val from = committedBands(t)
      if (until > from) cat.commit(t, rows(from), operation = "append",
        properties = Map(FamilyKey -> family, PrefixKey -> until.toString))
    }

    def appendBands(until: Int): Unit = extend("bands", until) { from =>
      // native codegen'd range kernel (allocation-free, fused
      // normalize+shingle+c-min) — this is the production driver loop's
      // hottest map pass; position -> absolute band index via `pos + from`
      docs
        .select(col("id"),
          posexplode(DedupPipeline.signatureKeysInRange(col("text"),
            baseParams.copy(numHashes = until), from)).as(Seq("pos", "key")))
        .select(col("id"), (col("pos") + from).as("band"), col("key"))
    }

    // I1 applied to PAIR GENERATION: LSH candidate pairs are per-band
    // independent (in one band a doc has exactly one bucket, so a pair
    // arises at most once per band), which makes the cumulative DISTINCT
    // pair set incrementally maintainable — new bands contribute only the
    // pairs not already seen in an earlier band (anti-join), stored under
    // their first-seen band. A trajectory's pair set is then a prefix read
    // `band < n`: already distinct, no re-join of all h bands per step —
    // O(h) instead of O(h²) band-row joins over a sweep. The seed and every
    // increment run the same salted band-tagged generator.
    def appendPairs(until: Int): Unit = extend("pairs", until) { from =>
      val range = cat.readLatest("bands").get
        .where(col("band") >= from && col("band") < until)
      val (tagged, _) = DedupPipeline.bandTaggedPairs(spark, range,
        Int.MaxValue, saltBlockSize, saltDetectFraction)
      val fresh = tagged.groupBy("a", "b").agg(min("band").as("band"))
      cat.readLatest("pairs")
        .fold(fresh)(t => fresh.join(t.select("a", "b"), Seq("a", "b"),
          "left_anti"))
    }

    // one incremental vertex cache per clustering trajectory (I2): each is
    // advanced with a monotone-growing pair set as its hash count climbs
    val caches = Option.when(shinglingIterations == 2)(
      Map("test" -> new VertexSketchCache(spark, cat, "test", baseParams),
          "base" -> new VertexSketchCache(spark, cat, "base", baseParams)))

    // per-step leg walls (SweepStep.legs): each timed region ends at a
    // driver-side action boundary that already exists in the flow, so the
    // timers add no extra Spark jobs
    val legBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def leg[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      val r = body
      legBuf += name -> (System.nanoTime() - t) / 1e9
      r
    }

    def clusterWith(numHashes: Int, trajectory: String): DataFrame = {
      // ONE pair-table read per call; both consumers slice the same frame
      val table = cat.readLatest("pairs").get
      val kmerPairs = table.where(col("band") < numHashes).select("a", "b")
      val pairs = caches match {
        case None => kmerPairs
        case Some(cs) =>
          // the pair table IS the cache's incorporation log (canonical
          // distinct pairs under their first-seen band): the cache advances
          // to numHashes in one cogroup and ONE atomic state commit
          val vb = leg(s".cache_advance_$trajectory")(
            cs(trajectory).advance(table, numHashes))
          VertexShingling.withVertexPairs(spark, kmerPairs, vb,
            saltBlockSize = saltBlockSize,
            saltDetectFraction = saltDetectFraction)
      }
      // CC runs its iteration jobs eagerly, so this sub-leg also absorbs
      // the (lazy) vertex pair-gen + union feeding it. Both pair sets are
      // canonical and distinct by construction (the table prefix is
      // anti-joined across bands; the vertex union is re-distinct'ed) —
      // skip CC's canonicalize shuffle, as DedupPipeline.run does
      leg(s".cc_$trajectory")(
        ConnectedComponents.run(spark, pairs, docs.select("id"),
            assumeCanonical = true,
            driverFinishMaxEdges = ccDriverFinishMaxEdges)
          .select(col("id").as("member"), col("component").as("label")))
    }

    val steps = scala.collection.mutable.ArrayBuffer.empty[SweepStep]
    // restart durability for the vertex caches mirrors the band-prefix
    // derivation above: a killed sweep restarted at startHashes below the
    // cache's committed hash count must NOT advance the cache backwards
    // (monotonicity require) — resume AT the last committed test step
    // instead (its state is exact; the step re-evaluates from there)
    val resumeFloor = caches.map(_("test").storedHashes).getOrElse(0)
    require(resumeFloor <= maxHashes,
      s"vertex cache in $bandDir is at $resumeFloor hashes > " +
      s"maxHashes=$maxHashes; wipe it or raise maxHashes")
    var h = math.max(startHashes, resumeFloor)
    var f = 0.0
    var last: DataFrame = null
    while (f < threshold && h <= maxHashes) {
      legBuf.clear()
      leg("append_bands")(appendBands(h))
      leg("append_pairs")(appendPairs(h))
      val test = leg("cluster_test")(clusterWith(h, "test")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // materializing test's label count here (it is needed for the step
      // record anyway) separates test materialization from the evaluator leg
      val n = leg("cluster_test_materialize")(
        test.select("label").distinct().count())
      val base = leg("cluster_base")(clusterWith(h - delta, "base"))
      f = leg("evaluator_fscore")(Evaluator.fscore(spark, test, base).avg)
      steps += SweepStep(h, f, n, legBuf.toSeq)
      if (last != null) last.unpersist()
      last = test
      h += 1
    }
    SweepResult(steps.toSeq, f >= threshold,
      last.select(col("member").as("id"), col("label").as("cluster")))
  }
}
