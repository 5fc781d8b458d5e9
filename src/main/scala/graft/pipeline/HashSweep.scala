package graft.pipeline

import graft.core.{MinHasher, MinHashParams}

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
  * appends them to a band-row stage table partitioned by hash index; both
  * clusterings then read the prefix they need. At 10^12 rows this is the
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

  /** @param bandDir stage dir for the incremental band-row table
    *                (written as bandDir/h=<i>/ per hash index)
    * @param shinglingIterations 1 = k-mer round only; 2 = add the vertex
    *                round per step (reference default), with per-vertex
    *                sketches updated incrementally across steps via
    *                [[VertexSketchCache]] (I2) — one cache per trajectory
    *                (test at h, base at h-delta), persisted under
    *                `<bandDir>.vertex`
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
    val docs = DedupPipeline.extractDocs(pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val pairDir = s"$bandDir.pairs"

    // the band table, pair table and vertex caches are only valid under
    // the hash family they were computed with — a restart with different
    // params would silently mix rows from a DIFFERENT sketch space.
    // Fingerprint the family on first write IN EVERY PERSISTENT SIBLING
    // (a user who cleans only bandDir after a mismatch must not be able
    // to resume against a stale pair table or vertex cache); mismatch on
    // restart fails loudly (same invalidation discipline as the stage
    // snapshots' config fingerprint, see DedupConfig.fingerprint).
    {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update((s"k=${baseParams.kmerLen};c=${baseParams.bandWidth};" +
        s"p=${baseParams.prime};si=$shinglingIterations").getBytes("UTF-8"))
      val buf = java.nio.ByteBuffer.allocate(8)
      baseParams.randoms.foreach { r =>
        buf.clear(); buf.putLong(r); md.update(buf.array())
      }
      val fp = md.digest().take(12).map(b => f"$b%02x").mkString
      for (dir <- Seq(bandDir, pairDir, s"$bandDir.vertex")) {
        val fpFile = java.nio.file.Paths.get(dir, ".params-fingerprint")
        if (java.nio.file.Files.exists(fpFile)) {
          val stored = new String(
            java.nio.file.Files.readAllBytes(fpFile), "UTF-8").trim
          if (stored != fp) throw new IllegalStateException(
            s"$dir was materialized under a different hash " +
            s"family/config (stored $stored, current $fp) — its rows " +
            "are not valid for these params; clean bandDir AND its " +
            ".pairs/.vertex siblings, or use a fresh bandDir")
        } else {
          java.nio.file.Files.createDirectories(fpFile.getParent)
          java.nio.file.Files.write(fpFile, fp.getBytes("UTF-8"))
        }
      }
    }

    // Marker-committed partitioned appends (restart durability): a
    // partitioned parquet append is not atomic across tasks, so each
    // appended band index is committed by a `.band_<i>_done` marker;
    // partitions without a marker are torn writes from a kill and are
    // dropped + re-derived on restart. `adoptUnmarked` grandfathers a
    // marker-less BAND directory written before the protocol existed
    // (its contiguous prefix is adopted and markers back-filled); the
    // pair table has carried markers from birth, so an unmarked pair
    // partition is always a tear.
    def commitMarkers(dir: String, from: Int, until: Int): Unit = {
      new java.io.File(dir).mkdirs()
      (from until until).foreach { b =>
        val m = new java.io.File(dir, s".band_${b}_done")
        require(m.createNewFile() || m.exists(), s"cannot commit marker $m")
      }
    }
    def committedPrefix(dir: String, adoptUnmarked: Boolean): Int = {
      val f = new java.io.File(dir)
      def partDirs = Option(f.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("band="))
      var done = Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("\\.band_\\d+_done"))
        .map(_.getName.stripPrefix(".band_").stripSuffix("_done").toInt)
        .toSet
      val present = partDirs.map(_.getName.stripPrefix("band=").toInt)
      if (done.isEmpty && present.nonEmpty && adoptUnmarked) {
        done = present.toSet
        commitMarkers(dir, 0, present.max + 1)
      }
      partDirs.filterNot(d => done(d.getName.stripPrefix("band=").toInt))
        .foreach(d => graft.tools.Fs.rmRf(d))
      if (done.isEmpty) 0
      else {
        val maxB = done.max
        require(done == (0 to maxB).toSet,
          s"$dir has a non-contiguous committed band prefix; clean it")
        maxB + 1
      }
    }

    var materialized = committedPrefix(bandDir, adoptUnmarked = true)
    def appendBands(until: Int): Unit = if (until > materialized) {
      val from = materialized
      val p = baseParams.copy(numHashes = until)
      // native codegen'd range kernel (allocation-free, fused
      // normalize+shingle+c-min) — this is the production driver loop's
      // hottest map pass; position -> absolute band index via `pos + from`
      docs
        .select(col("id"),
          posexplode(DedupPipeline.signatureKeysInRange(col("text"), p, from))
            .as(Seq("pos", "key")))
        .select(col("id"), (col("pos") + from).as("band"), col("key"))
        .write.mode("append").partitionBy("band").parquet(bandDir)
      commitMarkers(bandDir, from, until)
      materialized = until
    }

    // I1 applied to PAIR GENERATION (round 5): LSH candidate pairs are
    // per-band independent (in one band a doc has exactly one bucket, so a
    // pair arises at most once per band), which makes the cumulative
    // DISTINCT pair set incrementally maintainable — each new band
    // contributes only the pairs not already seen in any earlier band
    // (anti-join), stored under band=<first-seen>. A trajectory's pair set
    // is then a plain prefix read `band < n`: already distinct, no re-join
    // of all h bands per step. Per step this turns the former
    // O(h · bandRows) pair-gen re-join into O(bandRows_new + |pairs|)
    // (one new-band group emission + one anti-join against the ~|pairs|
    // table), and over a sweep O(h²) -> O(h) band-row joins — the same
    // incrementality contract (and the same marker commit protocol) as
    // the band table itself.
    var pairsMaterialized = committedPrefix(pairDir, adoptUnmarked = false)
    // None when no band partition holds data yet (a pathological no-pair
    // corpus still writes markers but no parquet files)
    def pairTable(): Option[DataFrame] = {
      val hasData = Option(new java.io.File(pairDir).listFiles())
        .getOrElse(Array.empty)
        .exists(d => d.isDirectory && d.getName.startsWith("band="))
      if (hasData) Some(spark.read.parquet(pairDir)) else None
    }
    def appendPairs(until: Int): Unit = if (until > pairsMaterialized) {
      val from = pairsMaterialized
      val bandsAll = spark.read.parquet(bandDir)
      val range = bandsAll.where(col("band") >= from && col("band") < until)
      val fresh0 =
        if (until - from == 1)
          // steady-state single-band increment: the full salted kernel
          // (hot-bucket decomposition), provenance trivially = the band
          DedupPipeline.candidatePairs(spark, range, Int.MaxValue,
            saltBlockSize = saltBlockSize,
            saltDetectFraction = saltDetectFraction)
            ._1.withColumn("band", lit(from))
        else
          // bulk seed / multi-band catch-up: ONE job — the band-tagged
          // group-emit kernel (streamed buckets, memory bounded per
          // bucket, NEVER a join-row blowup; a hot bucket emits serially
          // in its task, lossless) + first-seen-band aggregate for the
          // provenance. A per-band loop here costs h0 sequential driver
          // round-trips (measured 195 s at 4M×41 — vs 46.5 s for the
          // single job, BASELINE.md round 5)
          DedupPipeline.groupEmitPairsTagged(spark, range, Int.MaxValue)
            .groupBy("a", "b").agg(min("band").as("band"))
      val fresh = pairTable() match {
        case None => fresh0
        case Some(t) =>
          fresh0.join(t.select("a", "b"), Seq("a", "b"), "left_anti")
      }
      fresh.write.mode("append").partitionBy("band").parquet(pairDir)
      commitMarkers(pairDir, from, until)
      pairsMaterialized = until
    }

    // one incremental vertex cache per clustering trajectory (I2): each is
    // advanced with a monotone-growing pair set as its hash count climbs
    val vertexCat =
      if (shinglingIterations < 2) None
      else Some(new SnapshotCatalog(spark, s"$bandDir.vertex"))
    val caches = vertexCat.map(cat =>
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

    def clusterWith(numBands: Int, trajectory: String): DataFrame = {
      // ONE pair-table read per call (file listing + schema resolution are
      // per-read driver work on a directory whose file count grows with
      // every appended band); both consumers slice the same frame
      val table = pairTable()
      // prefix of the incrementally-maintained distinct pair table — the
      // full band-row re-join this replaced is the appendPairs increment
      val kmerPairs = table
        .map(_.where(col("band") < numBands).select("a", "b"))
        .getOrElse(spark.range(0)
          .select(col("id").as("a"), col("id").as("b")))
      val pairs = caches match {
        case None => kmerPairs
        case Some(cs) =>
          // band-prefix advance: the pair table IS the incorporation log
          // (canonical distinct pairs under their first-seen band,
          // marker-committed), so the cache's delta is a pruned
          // `band in [prev, n)` read and the step is ONE atomic state
          // commit (before/after legs in BASELINE.md round 6)
          val vb = leg(s".cache_advance_$trajectory")(
            cs(trajectory).advanceByBandPrefix(table, numBands, numBands))
          val (extra, _) = DedupPipeline.candidatePairs(spark, vb,
            Int.MaxValue, saltBlockSize = saltBlockSize,
            saltDetectFraction = saltDetectFraction)
          kmerPairs.union(extra).distinct()
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
      s"vertex cache at $bandDir.vertex is at $resumeFloor hashes > " +
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
