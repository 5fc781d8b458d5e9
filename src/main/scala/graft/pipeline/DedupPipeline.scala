package graft.pipeline

import graft.core.{MinHashParams, Shingler}
import graft.functions.{MinHashBandKeys, PackedJaccardGate, PackedShingleSet}

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end near-duplicate detection + clustering:
  *
  *   pages → extract text → MinHash signatures → LSH band buckets →
  *   candidate pairs → (optional) exact-Jaccard verify → connected
  *   components → cluster assignments
  *
  * the Spark-native restatement of the reference's `mrmpi_cluster` plan
  * (`/root/reference/src/shingling_cluster_generator_optimized.cpp:150-390`):
  * map(sketch) → collate(bandKey) → draw_graph → dedup → CC, with the MPI
  * shuffle machinery replaced by Catalyst exchanges and the reference-absent
  * but north-rule-required additions: exact-Jaccard verification, hot-band
  * skew capping, and per-stage checkpoint/resume.
  *
  * Scale notes (designed for ~10^12 rows / 1000 executors, tested local):
  *   - signatures are one map pass of the native band-key expression
  *     inside whole-stage codegen (no shuffle);
  *   - candidate generation is one shuffle by (band, key) and a sorted
  *     group reduce per bucket (`flatMapSortedGroups`, the reference's
  *     collate → reduce), streaming each bucket's pairs instead of
  *     materializing them; hot buckets above `saltBlockSize` are split
  *     losslessly over salted groups, and buckets above `maxBucketSize`
  *     are dropped with the drop count recorded in metrics (the reference
  *     just eats the n² blowup, `:750-798`);
  *   - every stage can persist to a snapshot table `outputDir/<stage>`
  *     ([[SnapshotCatalog]] — atomic commit, per-file lineage metrics, time
  *     travel) and is skipped on resume when a committed snapshot exists
  *     (the reference's skip-if-output-exists memoization,
  *     `minhash_clustering.cpp:175-190`, upgraded to snapshot semantics).
  */
final case class DedupConfig(
    params: MinHashParams = MinHashParams(),
    /** exact-Jaccard verification threshold; <= 0 disables the stage
      * (reference semantics: candidates are edges directly). */
    jaccardThreshold: Double = 0.0,
    /** clusters smaller than this are dropped from the output (reference
      * `min_cluster_size`, clamped >= 2 there; 1 = keep everything). */
    minClusterSize: Int = 1,
    /** LSH buckets larger than this are dropped (with metrics) before pair
      * generation. Int.MaxValue = reference behavior (no cap). */
    maxBucketSize: Int = Int.MaxValue,
    /** total shingling rounds (reference `shingling_iterations`, default 2
      * there): rounds beyond the first re-sketch each node over its
      * neighbor-id set and union the resulting pairs (graph
      * densification — [[VertexShingling]]). 1 = k-mer round only, the
      * dedup-semantics default. */
    shinglingIterations: Int = 1,
    /** LSH buckets larger than this are decomposed into balanced salted
      * blocks before pair emission (lossless — every pair of the bucket is
      * still emitted, but no single task ever holds more than ~2x this many
      * ids). Int.MaxValue disables salting. See [[DedupPipeline.candidatePairs]]. */
    saltBlockSize: Int = 4096,
    /** hot-bucket detection sample fraction: 1.0 = exact (full groupBy
      * count); < 1 samples the band rows — shuffle-light at scale, both
      * error modes lossless (see [[DedupPipeline.candidatePairs]]). */
    saltDetectFraction: Double = 0.05,
    /** CC finishes with serial union-find on the driver when the verified
      * edge set is at or below this count (~16 B/edge on the wire, so the
      * default bounds the collect at ~134 MB / a few hundred MB of driver
      * objects — comfortably inside any production driver): one job
      * instead of O(log n) latency-bound star iterations. Never engages at
      * web scale; 0 disables. */
    ccDriverFinishMaxEdges: Long = 1L << 23,
    /** stage persistence root; None = fully in-memory (tests). */
    outputDir: Option[String] = None
) {
  /** Stable fingerprint of every config field that determines stage
    * CONTENTS (hash family, h, threshold, cluster/bucket policy,
    * densification rounds). Salting knobs and `ccDriverFinishMaxEdges`
    * are excluded — they change distribution, never output — as is
    * `outputDir`. Stored in each stage snapshot's manifest; a resume with a
    * different fingerprint recomputes instead of silently returning stage
    * output computed under the old config.
    */
  def fingerprint: String = params.fingerprint(
    s"h=${params.numHashes};tau=$jaccardThreshold;minc=$minClusterSize;" +
      s"maxb=$maxBucketSize;si=$shinglingIterations")
}

final case class StageMetrics(stage: String, rows: Long, millis: Long,
    extra: Map[String, Long] = Map.empty)

object DedupPipeline {

  /** docs schema: (id long, url string, text string) */
  def extractDocs(pages: DataFrame): DataFrame = {
    val extract = udf((html: Array[Byte]) => Pages.extractText(html))
    pages
      .select(col("url"), extract(col("html")).as("text"))
      .withColumn("id", xxhash64(col("url")))
    // id collisions: p(any) ≈ n²/2^65 — negligible to ~10^9 docs; at 10^12
    // run() checks count vs countDistinct(id) and fails loudly (re-salt by
    // switching the id expression to xxhash64(url, lit(salt))).
  }

  /** Stage 1 — signatures, exploded to band rows: (id, band, key).
    * A single map pass (no shuffle), relational (canonicalizable) so
    * Catalyst can reuse it wherever a query reads the band rows twice.
    *
    * The reference's `char - 'A'` base-20 shingle encoding assumes A-Z
    * input (FASTA residues, `fasta_util.cpp:81-98`); arbitrary web text is
    * normalized `upper + strip non-A-Z` (identity on the reference's own
    * inputs). The native [[graft.functions.MinHashBandKeys]] expression
    * fuses that normalization, the rolling shingle and the c-min sketch
    * into one pass over the raw UTF8 bytes inside whole-stage codegen.
    */
  def signatures(spark: SparkSession, docs: DataFrame,
      params: MinHashParams): DataFrame =
    docs
      .select(col("id"), posexplode(signatureKeys(col("text"), params))
        .as(Seq("band", "key")))
      .select(col("id"), col("band"), col("key"))

  /** The per-document band-key array (index = band) as a relational
    * column — the un-exploded form of [[signatures]], reused by streaming
    * operators that need one row per document.
    */
  def signatureKeys(text: Column, params: MinHashParams): Column =
    signatureKeysInRange(text, params, 0)

  /** Band keys for the hash-index range [fromHash, params.numHashes) —
    * array position j is absolute hash index fromHash + j. This is the
    * incremental sweep's append pass (I1): each step computes ONLY the new
    * bands. fromHash = 0 is the full signature.
    */
  def signatureKeysInRange(text: Column, params: MinHashParams,
      fromHash: Int): Column =
    GraftSqlBridge.column(MinHashBandKeys(GraftSqlBridge.expression(text),
      params.trimmed, fromHash))

  /** The packed distinct k-mer set of the normalized text
    * ([[Shingler.packSet]] layout) — the exact-Jaccard payload of
    * [[verifyPairsManaged]] and the gate queries, computed by the native
    * [[graft.functions.PackedShingleSet]] expression.
    */
  def packedShingleSet(text: Column, kmerLen: Int): Column =
    GraftSqlBridge.column(PackedShingleSet(GraftSqlBridge.expression(text),
      kmerLen))

  /** Stage 2 — candidate pairs: within every (band, key) LSH bucket emit
    * all canonical (a < b) pairs, then distinct across bands — the
    * reference's `draw_graph` collate+reduce
    * (`shingling_cluster_generator_optimized.cpp:225-249`, `:750-798`),
    * emitting each pair once instead of both directions.
    *
    * ONE shuffle (repartition by bucket key) + a sorted group reduce per
    * bucket — measured ~2x faster than an equi-self-join on (band, key),
    * which sorts the band rows twice.
    *
    * Hot-band skew (north rule): buckets larger than `saltBlockSize` are
    * decomposed LOSSLESSLY via salted band keys — each member is assigned a
    * deterministic block in [0, B), B = ceil(n / saltBlockSize), and
    * replicated into the B salted groups (band, key, min(blk,g), max(blk,g));
    * group (gi, gj) emits the cross product of its two blocks (triangular
    * when gi == gj), so every pair of the bucket appears in EXACTLY one
    * salted group and the hot bucket's n^2/2 pair emission spreads over
    * B(B+1)/2 independent tasks with <= ~2*saltBlockSize ids each. The
    * reference serializes the whole bucket into one process and eats the n^2
    * (`:750-798`); the previous cap-drop here LOST pairs.
    *
    * Buckets above `maxBucketSize` are still dropped (with metrics) — an
    * explicit recall/cost policy knob, now orthogonal to skew handling.
    *
    * Returns (pairs, droppedBuckets) — droppedBuckets is the drop-metrics
    * source, computed only when a cap is set.
    */
  def candidatePairs(spark: SparkSession, bandRows: DataFrame,
      maxBucketSize: Int, saltBlockSize: Int = Int.MaxValue,
      saltDetectFraction: Double = 1.0): (DataFrame, DataFrame) = {
    val (tagged, dropped) = bandTaggedPairs(spark, bandRows, maxBucketSize,
      saltBlockSize, saltDetectFraction)
    // the band tag is pruned by Catalyst before the distinct's exchange
    (tagged.select("a", "b").distinct(), dropped)
  }

  /** [[candidatePairs]] before the cross-band distinct: every bucket pair
    * as (band, a, b), tagged with the band it collides in — the provenance
    * the sweep's incremental pair table keeps ([[HashSweep]]: each pair
    * under its first-seen band). Returns (tagged, droppedBuckets).
    */
  private[pipeline] def bandTaggedPairs(spark: SparkSession,
      bandRows: DataFrame, maxBucketSize: Int, saltBlockSize: Int,
      saltDetectFraction: Double): (DataFrame, DataFrame) = {
    require(saltBlockSize >= 2 || saltBlockSize == Int.MaxValue,
      s"saltBlockSize must be >= 2, got $saltBlockSize")
    require(saltDetectFraction > 0.0 && saltDetectFraction <= 1.0,
      s"saltDetectFraction must be in (0, 1], got $saltDetectFraction")
    val sized = bandRows.groupBy("band", "key").agg(count(lit(1)).as("n"))
    val dropped =
      if (maxBucketSize == Int.MaxValue) sized.where(lit(false))
      else sized.where(col("n") > maxBucketSize)

    val pairs = if (saltBlockSize == Int.MaxValue) {
      groupEmitPairsTagged(spark, bandRows, maxBucketSize)
    } else {
      // Hot-key detection. At saltDetectFraction = 1 it is exact (a full
      // groupBy count — a shuffle nearly as large as the band rows
      // themselves, since most buckets are size 1-2 and map-side combine
      // barely reduces). Below 1 a SAMPLE detects the hot keys: a bucket of
      // n members gets ~n*f sample hits, so for n >> saltBlockSize and
      // f*saltBlockSize >= ~50 detection is essentially certain, and both
      // error modes stay LOSSLESS (a missed hot bucket group-emits in one
      // task; a false positive is salted unnecessarily). This keeps the
      // detection pass shuffle-light at 10^12 rows.
      val detect =
        if (saltDetectFraction >= 1.0) sized
        else bandRows.sample(withReplacement = false, saltDetectFraction, 42L)
          .groupBy("band", "key")
          .agg((count(lit(1)) / saltDetectFraction).as("n"))
      // the hot-key dim is tiny by the definition of skew (<=
      // totalRows/saltBlockSize keys): pull it to the driver once (bounded)
      // and broadcast-join it — the detection aggregate runs exactly one
      // job and the no-skew case costs zero extra passes over bandRows
      val hotDf = detect
        .where(col("n") > saltBlockSize && col("n") <= maxBucketSize)
        .select(col("band"), col("key"),
          ceil(col("n") / lit(saltBlockSize.toDouble)).cast("int").as("nblocks"))
      val cap = 1 << 20
      val hot = hotDf.limit(cap + 1).collect()
      require(hot.length <= cap,
        s"more than $cap hot LSH buckets above saltBlockSize=$saltBlockSize " +
        "— this is not skew, it is the typical bucket size; raise " +
        "saltBlockSize instead of salting everything")
      if (hot.isEmpty) // common no-skew case
        groupEmitPairsTagged(spark, bandRows, maxBucketSize)
      else {
        import spark.implicits._
        val hotKeys = hot.map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
          .toSeq.toDF("band", "key", "nblocks")
        val cold = bandRows.join(broadcast(hotKeys.select("band", "key")),
          Seq("band", "key"), "left_anti")
        val hotRows0 = bandRows.join(broadcast(hotKeys), Seq("band", "key"))
        // maxBucketSize is a drop POLICY and must stay orthogonal to the
        // (lossless) salting: classification above used the sampled size
        // ESTIMATE, so enforce the cap on the salted path with EXACT counts
        // — a bucket whose true size exceeds the cap is dropped here exactly
        // as groupEmitPairsTagged drops it on the cold path, keeping emission
        // consistent with the exact `dropped` metric. Hot buckets are few by
        // the definition of skew, so the exact count is a small extra job.
        val hotRows =
          if (maxBucketSize == Int.MaxValue) hotRows0
          else {
            val withinCap = hotRows0.groupBy("band", "key")
              .agg(count(lit(1)).as("n_exact"))
              .where(col("n_exact") <= maxBucketSize)
              .select("band", "key")
            hotRows0.join(broadcast(withinCap), Seq("band", "key"))
          }
        groupEmitPairsTagged(spark, cold, maxBucketSize)
          .union(saltedPairs(spark, hotRows))
      }
    }
    (pairs, dropped)
  }

  /** Partition count for the sort-heavy pair-generation shuffles: the
    * per-task sort is the stage's bottleneck (O(n log n) single-threaded),
    * so use 2x the cluster's cores when the configured shuffle partitions
    * are lower — measured 1.4x faster at 164M band rows / 32 threads, while
    * the join/CC stages stay at the configured count (more partitions
    * measurably HURT the latency-bound CC iterations). The explicit
    * repartition already satisfies the grouped reduce's required
    * distribution, so it stays the stage's only exchange.
    */
  private def pairGenPartitions(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism * 2,
      spark.sessionState.conf.numShufflePartitions)

  /** Per-bucket pair emission keeping the ORIGIN BAND on each pair.
    * Memory is bounded by one bucket's id array, never by its n² pair
    * count, which is streamed; a bucket that is not salted emits its pairs
    * serially in one task.
    *
    * Stage cost anatomy at 4M docs / 41 hashes / local[32] (measured): the
    * sorted group emission is 19.7 s and the cross-band pair `distinct`
    * only ~7 s more, despite 204M pre-distinct pair emissions collapsing to
    * 7.4M (near-dup pairs collide in ~27 of 41 bands; the hash aggregate's
    * map-side partial dedup carries it). Emitting each pair from a single
    * band would need every bucket row to carry the doc's full signature
    * (16x primary-shuffle inflation) or hashed bucket ids (not exact) —
    * both rejected; the duplication is inherent to high-similarity corpora.
    */
  private def groupEmitPairsTagged(spark: SparkSession,
      bandRows: DataFrame, maxBucketSize: Int): DataFrame = {
    import spark.implicits._
    // reused across groups: each task deserializes its own closure copy
    val buf = new scala.collection.mutable.ArrayBuilder.ofLong
    bandRows.select(col("band"), col("key"), col("id"))
      .repartition(pairGenPartitions(spark), col("band"), col("key"))
      .groupBy(col("band"), col("key")).as[(Int, Long), (Int, Long, Long)]
      .flatMapSortedGroups(col("id")) { case ((band, _), rows) =>
        buf.clear()
        rows.foreach(r => buf.addOne(r._3))
        val ids = buf.result() // ascending
        if (ids.length < 2 || ids.length > maxBucketSize) Iterator.empty
        else for {
          i <- ids.indices.iterator
          j <- (i + 1 until ids.length).iterator
          if ids(i) != ids(j)
        } yield (band, ids(i), ids(j))
      }
      .toDF("band", "a", "b")
  }

  /** Deterministic block of an id within a B-block bucket decomposition
    * (64-bit fmix avalanche, so consecutive/correlated ids spread evenly).
    */
  def blockOf(id: Long, nBlocks: Int): Int = {
    var k = id
    k ^= k >>> 33; k *= 0xFF51AFD7ED558CCDL
    k ^= k >>> 33; k *= 0xC4CEB9FE1A85EC53L
    k ^= k >>> 33
    java.lang.Math.floorMod(k, nBlocks.toLong).toInt
  }

  /** Pair emission for salted hot buckets. Input: (band, key, id, nblocks)
    * rows of the hot buckets only. Each id lands in block blk = blockOf(id)
    * and is replicated to the nblocks salted groups that may pair it; group
    * (gi < gj) cross-products its two blocks, group (g, g) emits the
    * triangle of block g — each bucket pair appears in exactly ONE group,
    * emitted as (band, a, b).
    */
  private[pipeline] def saltedPairs(spark: SparkSession,
      hotRows: DataFrame): DataFrame = {
    import spark.implicits._
    // reused across groups: each task deserializes its own closure copy
    val leftBuf = new scala.collection.mutable.ArrayBuilder.ofLong
    val rightBuf = new scala.collection.mutable.ArrayBuilder.ofLong
    saltedGroups(spark, hotRows)
      .repartition(pairGenPartitions(spark),
        col("band"), col("key"), col("gi"), col("gj"))
      .groupBy(col("band"), col("key"), col("gi"), col("gj"))
      .as[(Int, Long, Int, Int), (Int, Long, Int, Int, Int, Long)]
      .flatMapSortedGroups(col("blk"), col("id")) { case ((band, _, gi, gj), rows) =>
        // rows sorted by (blk, id) split the group into its gi block and
        // its gj block, each ascending
        leftBuf.clear(); rightBuf.clear()
        rows.foreach { r =>
          if (r._5 == gi) leftBuf.addOne(r._6) else rightBuf.addOne(r._6)
        }
        val left = leftBuf.result()
        val right = rightBuf.result()
        if (gi == gj) // triangle within one block
          for {
            i <- left.indices.iterator
            j <- (i + 1 until left.length).iterator
            if left(i) != left(j)
          } yield (band, left(i), left(j))
        else // cross product of the two blocks, canonical order
          for {
            i <- left.indices.iterator
            j <- right.indices.iterator
            if left(i) != right(j)
          } yield (band, math.min(left(i), right(j)), math.max(left(i), right(j)))
      }
      .toDF("band", "a", "b")
  }

  /** The salted replication (exposed for the skew PlanSpec): each hot row
    * becomes nblocks rows (band, key, gi, gj, blk, id).
    */
  private[pipeline] def saltedGroups(spark: SparkSession,
      hotRows: DataFrame): DataFrame = {
    import spark.implicits._
    hotRows.select(col("band"), col("key"), col("id"), col("nblocks"))
      .as[(Int, Long, Long, Int)]
      .flatMap { case (band, key, id, nb) =>
        val blk = blockOf(id, nb)
        (0 until nb).iterator.map { g =>
          (band, key, math.min(blk, g), math.max(blk, g), blk, id)
        }
      }
      .toDF("band", "key", "gi", "gj", "blk", "id")
  }

  /** Stage 3 — exact-Jaccard verification (north-rule addition; absent in
    * the reference, SURVEY.md SO3). Computes sorted distinct shingle sets
    * once per doc appearing in a candidate pair (semi-join pruning,
    * persisted — they feed both join sides), then merge-counts the two
    * sorted arrays per pair: O(|A|+|B|) primitive ops, no per-pair explode.
    * (An explode+equi-join formulation was measured 10x slower here: it
    * shuffles |pairs| * |set| rows; the merge-count ships each set once.)
    *
    * Returns the verified pairs and an unpersist handle the caller invokes
    * AFTER the result has been materialized (stage write / checkpoint /
    * collect) — unpersisting earlier silently recomputes both join sides.
    */
  def verifyPairsManaged(spark: SparkSession, pairsIn: DataFrame,
      docs: DataFrame, params: MinHashParams, threshold: Double,
      pruneSets: Boolean = true): (DataFrame, () => Unit) = {
    if (threshold <= 0.0) return (pairsIn, () => ())
    // pairsIn feeds three subtrees (ids + the pair join) — persist; in
    // [[run]] it is already a stage table, this protects direct callers.
    val pairs = pairsIn.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    // semi-join pruning pays when candidate pairs touch a small fraction of
    // docs (the web-scale shape); on dup-heavy inputs where most docs are
    // in pairs, the distinct + semi-join shuffles cost more than sketching
    // every doc (pure map work) — [[run]] decides from the stage row counts
    val pruned =
      if (!pruneSets) docs
      else {
        val ids = pairs.select(col("a").as("id"))
          .union(pairs.select(col("b").as("id"))).distinct()
        docs.join(ids, "id")
      }
    // packed (delta+varint) sets: the pair join below ships each set once
    // per pair side, and that shuffle dominates the stage — packing cuts it
    // ~3-4x vs array<bigint> (Shingler.packSet)
    val sets = pruned
      .select(col("id"), packedShingleSet(col("text"), params.kmerLen).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = pairs
      .join(sets.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(sets.select(col("id").as("b"), col("sh").as("shb")), "b")
      .where(jaccardGate(col("sha"), col("shb"), threshold))
      .select("a", "b")
    (out, () => { pairs.unpersist(); sets.unpersist(); () })
  }

  /** The verify gate over two packed shingle sets: exact Jaccard >= `tau`,
    * i.e. `i >= tau * (|x| + |y| - i)` with `i` the merge-count of the two
    * sorted sets — one native codegen'd expression (no ScalaUDF in the
    * per-pair hot path) that merge-counts each pair once.
    */
  def jaccardGate(x: Column, y: Column, tau: Double): Column =
    GraftSqlBridge.column(PackedJaccardGate(
      GraftSqlBridge.expression(x), GraftSqlBridge.expression(y), tau))

  /** Full run. Returns assignments (id, url, cluster, cluster_size). */
  def run(spark: SparkSession, pages: DataFrame, cfg: DedupConfig): DataFrame = {
    val io = new StageIO(spark, cfg.outputDir, Some(cfg.fingerprint))

    val docs = io.stage("docs") {
      extractDocs(pages)
    }
    // docs feeds signatures, verification, and the final url join; without
    // a stage table it must be persisted or extraction re-runs per consumer
    if (cfg.outputDir.isEmpty)
      docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // verify id = xxhash64(url) is collision-free (one count+countDistinct
    // pass over docs) and fail loudly otherwise
    val r = docs.agg(count(lit(1)), countDistinct(col("id"))).head()
    val (total, uniq) = (r.getLong(0), r.getLong(1))
    if (total != uniq)
      throw new IllegalStateException(
        s"xxhash64(url) id collisions detected: $total docs, $uniq " +
        "distinct ids — re-salt the id expression in extractDocs")
    io.note("docs", Map("id_collisions" -> 0L, "docs" -> total))

    val bandRows = io.stage("signatures") {
      signatures(spark, docs, cfg.params)
    }

    val rawPairs = io.stage("pairs_raw") {
      val (p, hot) = candidatePairs(spark, bandRows, cfg.maxBucketSize,
        saltBlockSize = cfg.saltBlockSize,
        saltDetectFraction = cfg.saltDetectFraction)
      if (cfg.maxBucketSize != Int.MaxValue) {
        val dropped = hot.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
        io.note("pairs_raw", Map("dropped_bucket_rows" -> dropped))
      }
      p
    }

    // semi-join pruning decision from the committed stage row counts (free:
    // manifest reads) — prune when the candidate pairs can only touch a
    // minority of docs; in-memory mode defaults to pruning (tests, small)
    val pruneSets = io.catalog match {
      case Some(cat) if cat.exists("docs") && cat.exists("pairs_raw") =>
        val docRows = cat.snapshot("docs", cat.currentVersion("docs")).rows
        val pairRows =
          cat.snapshot("pairs_raw", cat.currentVersion("pairs_raw")).rows
        2 * pairRows < docRows
      case _ => true
    }
    val (verified0, verifyCleanup) = verifyPairsManaged(
      spark, rawPairs, docs, cfg.params, cfg.jaccardThreshold, pruneSets)
    val verified = io.stage("pairs")(verified0)

    val (pairsStage, pairs) =
      if (cfg.shinglingIterations <= 1) ("pairs", verified)
      else ("pairs_dense", io.stage("pairs_dense") {
        (2 to cfg.shinglingIterations).foldLeft(verified) { (e, _) =>
          VertexShingling.densify(spark, e, cfg.params, cfg.maxBucketSize,
            cfg.saltBlockSize, cfg.saltDetectFraction)
        }
      })

    // in stage mode the pair table is committed parquet: CC can skip its
    // eager input checkpoint (the stage IS the materialization) and take
    // the driver-finish gate's exact edge count from the manifest instead
    // of a count job — two input-size-invariant latencies off the one
    // stage that runs a fixed driver finish at both parallelism levels
    val pairsRows = io.catalog.filter(_.exists(pairsStage))
      .map(c => c.snapshot(pairsStage, c.currentVersion(pairsStage)).rows)
    val components = io.stage("components") {
      // pair generation emits canonical distinct (a < b) pairs and
      // verify/densify preserve that — skip CC's canonicalize shuffle
      ConnectedComponents.run(spark, pairs, docs.select("id"),
        assumeCanonical = true,
        driverFinishMaxEdges = cfg.ccDriverFinishMaxEdges,
        inputMaterialized = io.catalog.nonEmpty,
        knownEdgeCount = pairsRows.getOrElse(-1L))
    }
    // the pairs have been fully materialized by now (stage write, or the
    // eager localCheckpoint of CC's first iteration) — release the verify
    // stage's cached intermediates
    verifyCleanup()
    // components feeds both the size aggregation and the url join
    if (cfg.outputDir.isEmpty)
      components.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    io.stage("clusters") {
      // cluster_size via a window over the component-partitioned join
      // output: one exchange (by component) instead of the former
      // aggregate-then-join shape's two (groupBy sizes + SMJ back) — the
      // profiled stage cost is this job, not the snapshot commit
      // (measured at 4M: footers 0.04 s, manifest < 0.01 s)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      val out = components.join(docs.select("id", "url"), "id")
        .select(col("id"), col("url"), col("component").as("cluster"),
          count(lit(1)).over(w).as("cluster_size"))
      if (cfg.minClusterSize > 1)
        out.where(col("cluster_size") >= cfg.minClusterSize)
      else out
    }
  }

  /** Stage persistence + resume seam, backed by [[SnapshotCatalog]]: every
    * stage commit is an atomic snapshot with per-file lineage metrics, a
    * resumed run reads the stage's latest snapshot, and earlier snapshots
    * stay readable (time travel). The catalog implements the Iceberg table
    * contract directly (the Iceberg runtime jar is not in this sandbox);
    * on a cluster the same seam becomes `df.writeTo(...)` — see
    * [[SnapshotCatalog]]'s scaladoc for the one-line mapping.
    */
  final class StageIO(spark: SparkSession, root: Option[String],
      fingerprint: Option[String] = None) {
    private val metrics = scala.collection.mutable.ArrayBuffer.empty[StageMetrics]
    val catalog: Option[SnapshotCatalog] =
      root.map(new SnapshotCatalog(spark, _))
    private val FpKey = "config-fingerprint"

    def note(stage: String, extra: Map[String, Long]): Unit =
      metrics += StageMetrics(s"$stage/extra", 0L, 0L, extra)

    def stage(name: String)(build: => DataFrame): DataFrame = root match {
      case None => build
      case Some(dir) =>
        val cat = catalog.get
        // resume ONLY a snapshot committed under the same config
        // fingerprint: a rerun with changed params against the same
        // outputDir must recompute, never return stale stage output (the
        // old snapshot stays readable — time travel — the recompute is a
        // new overwrite version)
        val resumable = cat.currentVersion(name) match {
          case 0 => None
          case v =>
            val snap = cat.snapshot(name, v)
            val ok = fingerprint.forall(fp =>
              snap.properties.get(FpKey).contains(fp))
            if (ok) Some(cat.read(name, v)) else None
        }
        resumable match {
          case Some(df) => df // resume: stage already committed
          case None =>
            val t0 = System.nanoTime()
            val snap = cat.commit(name, build,
              properties = fingerprint.map(FpKey -> _).toMap)
            val ms = (System.nanoTime() - t0) / 1000000
            // row count comes from the manifest's parquet footers — no
            // extra count() pass over the stage output
            metrics += StageMetrics(name, snap.rows, ms, Map(
              "snapshot_version" -> snap.version.toLong,
              "data_files" -> snap.files.size.toLong,
              "bytes" -> snap.bytes))
            writeMetrics(dir)
            cat.read(name, snap.version)
        }
    }

    private var written = 0
    private def writeMetrics(dir: String): Unit = {
      // append-only: a resumed run must not erase the metrics history of
      // the stages it skipped
      val lines = metrics.drop(written).map { m =>
        val extra = m.extra.map { case (k, v) => s""","$k":$v""" }.mkString
        s"""{"stage":"${m.stage}","rows":${m.rows},"millis":${m.millis}$extra}"""
      }
      written = metrics.length
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/metrics.jsonl"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }
}
