package graft.ops

import graft.core.MinHashParams
import graft.functions.PackedSetOps
import graft.pipeline.{ConnectedComponents, DedupPipeline}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MinHash dedup family over the generic `documents` table, each with a
  * value-exact DuckDB oracle. These queries compose the REAL pipeline
  * kernels (the native band-key and shingle-set expressions and
  * `ConnectedComponents` of [[graft.pipeline.DedupPipeline]]) so the
  * driver's DuckDB compare independently re-derives the reference math
  * (`shingling_cluster_generator_optimized.cpp:604-693`) in SQL.
  *
  * Both kernels normalize text `upper + strip non-A-Z` inline, so the
  * reference's `char - 'A'` base-20 encoding applies with digits in [0, 25].
  */
object MinHashDocQueries {

  val params: MinHashParams = MinHashParams(
    kmerLen = Ops.KmerLen, bandWidth = 2, numHashes = Ops.DocNumHashes,
    prime = Ops.Prime,
    randoms = Ops.hashPairs.flatMap { case (a, b) => Seq(a, b) }.toArray)

  /** (doc_id, hash_idx, m1, m2) — the c=2 minima per hash function,
    * unpacked from the pipeline's band keys: for c = 2 the key is
    * m1·P + m2 with both minima < P.
    */
  def signatures(spark: SparkSession, dir: String): DataFrame =
    Ops.table(spark, dir, "documents")
      .select(col("doc_id"), posexplode(
        DedupPipeline.signatureKeys(col("text"), params))
        .as(Seq("hash_idx", "key")))
      .select(col("doc_id"), col("hash_idx").cast("long"),
        expr(s"key div ${params.prime}").as("m1"),
        (col("key") % params.prime).as("m2"))
      .orderBy("doc_id", "hash_idx")

  /** (id, band, key) rows for the LSH join — the shared pipeline stage
    * (relational, so a self-join's exchange is planned once).
    */
  private def bandRows(spark: SparkSession, dir: String): DataFrame =
    DedupPipeline.signatures(spark,
      Ops.table(spark, dir, "documents")
        .select(col("doc_id").as("id"), col("text")),
      params)

  /** (id_a, id_b) candidate pairs, canonical a < b, distinct. */
  def lshPairs(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, _) =
      DedupPipeline.candidatePairs(spark, bandRows(spark, dir), Int.MaxValue)
    pairs.select(col("a").as("id_a"), col("b").as("id_b"))
      .orderBy("id_a", "id_b")
  }

  /** (doc_id, cluster_id) — connected components over the LSH pairs, every
    * document present, label = min member id.
    */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, _) =
      DedupPipeline.candidatePairs(spark, bandRows(spark, dir), Int.MaxValue)
    val nodes = Ops.table(spark, dir, "documents")
      .select(col("doc_id").as("id"))
    // production CC shape (the exact call DedupPipeline.run makes): pair
    // generation emits canonical distinct (a < b) pairs, so skip the
    // canonicalize+distinct shuffle, and let the driver-finish gate
    // collapse the O(log n) latency-bound star iterations into one
    // collect+broadcast at gate scale (it never engages at 10^12 rows).
    // Same min-label components either way (sbt: driver finish ==
    // distributed == oracle); the distributed star loop keeps driver-gate
    // coverage through q23's label-propagation cross-check and the CC
    // specs. Measured r06: q04 3.2 -> ~1.4 s, and the six dependent
    // cluster queries (q06/q07/q27/q39/q45) drop with it.
    ConnectedComponents.run(spark, pairs, nodes, assumeCanonical = true,
        driverFinishMaxEdges = 1L << 23)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** (id_a, id_b, inter_size, union_size) — exact Jaccard accounting over
    * distinct shingle sets for every candidate pair (SURVEY.md SO3; the
    * north-rule verification stage). Integer outputs keep the oracle
    * compare float-free.
    */
  def jaccard(spark: SparkSession, dir: String): DataFrame = {
    // fully lazy single plan: pairs appear once (sequential joins), the
    // sets subtree is map-only and appears per join side — re-deriving it
    // costs less than persist+eager-checkpoint job latency at gate scale,
    // and leaves no cache behind in a long-lived session. The managed
    // scale path (persisted packed sets, semi-join pruning, explicit
    // cache release) is [[DedupPipeline.verifyPairsManaged]].
    // pairs via candidatePairs DIRECTLY — not lshPairs, whose trailing
    // orderBy is a global range exchange + sort the two joins below
    // immediately destroy (guide §2.4: an orderBy used only to make
    // output deterministic, mid-plan); the final orderBy here still
    // fixes the output order
    val (rawPairs, _) =
      DedupPipeline.candidatePairs(spark, bandRows(spark, dir), Int.MaxValue)
    val pairs = rawPairs.select(col("a").as("id_a"), col("b").as("id_b"))
    // packed (delta+varint) sets + native codegen'd merge-count — the
    // pipeline verify stage's discipline applied to the accounting query:
    // the two pair-side joins materialize each set into every matched row,
    // so packing (~2-3 B/shingle vs 8) cuts that row traffic ~3-4x, and
    // the per-pair intersection is a static-call expression inside
    // whole-stage codegen instead of a ScalaUDF with two array conversions
    // (r06: 202k pairs at sf0.1; measured 4.4 -> ~2.9 s). The pre-sort
    // exchange ([[Ops.sortedOutput]]) keeps the range sort's sampling from
    // re-running both set joins (measured +1.6 s without it).
    val sets = Ops.table(spark, dir, "documents")
      .select(col("doc_id"),
        DedupPipeline.packedShingleSet(col("text"), Ops.KmerLen).as("sh"))
    Ops.sortedOutput(pairs
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        PackedSetOps.intersectionSize(col("sha"), col("shb")).as("inter_size"),
        (PackedSetOps.setSize(col("sha"))
          + PackedSetOps.setSize(col("shb"))).as("apb"))
      .select(col("id_a"), col("id_b"), col("inter_size"),
        (col("apb") - col("inter_size")).as("union_size")),
      "id_a", "id_b")
  }

  /** (cluster_id, n) for clusters with >= 2 members — the reference's
    * small-cluster filter shape (`:1137-1147`, min size clamped >= 2).
    */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir).groupBy("cluster_id")
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .orderBy("cluster_id")

  /** Top-10 clusters by size (W1, `fvalue_evaluator.cpp:874-916`),
    * deterministic tie-break by cluster id.
    */
  def topClusters(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir).groupBy("cluster_id")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("cluster_id"))
      .limit(10)

  /** Docs not in the "finalized" list (P6, `:1646-1663`) — here the list is
    * doc_id % 7 == 0, expressed as a genuine left_anti join.
    */
  def antiFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Ops.table(spark, dir, "documents").select("doc_id")
    val finalized = docs.where(col("doc_id") % 7 === 0)
    docs.join(finalized, Seq("doc_id"), "left_anti").orderBy("doc_id")
  }

  /** Per-cluster best-match F1 between the `source` clustering (side X) and
    * the `lang` clustering (side Y) — A11/A12 (`fvalue_evaluator.cpp:457-511`,
    * `:938-977`). Micros-floored to keep the compare integer-exact; the
    * global weighted average (A13) is covered by core tests.
    */
  def bestMatch(spark: SparkSession, dir: String): DataFrame = {
    val d = Ops.table(spark, dir, "documents")
    val x = d.select(col("doc_id").as("member"), col("source").as("lx"))
    val y = d.select(col("doc_id").as("member"), col("lang").as("ly"))
    val sx = x.groupBy("lx").agg(count(lit(1)).as("nx"))
    val sy = y.groupBy("ly").agg(count(lit(1)).as("ny"))
    val inter = x.join(y, "member").groupBy("lx", "ly").agg(count(lit(1)).as("i"))
    // no forced broadcast hints: label-cardinality dims are small by
    // construction here, but clustering label spaces are unbounded in
    // general — let AQE pick the join strategy (same policy as Evaluator)
    val scored = inter.join(sx, "lx").join(sy, "ly")
      .withColumn("p", col("i") / col("nx"))
      .withColumn("r", col("i") / col("ny"))
      .withColumn("f1", lit(2) * col("p") * col("r") / (col("p") + col("r")))
    val bx = scored.groupBy("lx").agg(max(col("f1")).as("bf"))
      .join(sx, "lx")
      .select(lit("x").as("side"), col("lx").as("label"), col("nx").as("n"),
        floor(col("bf") * 1000000).as("best_f1_micros"))
    val by = scored.groupBy("ly").agg(max(col("f1")).as("bf"))
      .join(sy, "ly")
      .select(lit("y").as("side"), col("ly").as("label"), col("ny").as("n"),
        floor(col("bf") * 1000000).as("best_f1_micros"))
    bx.union(by).orderBy("side", "label")
  }

  /** (doc_id, cluster_id) via min-label propagation (A7) — the
    * reference-faithful CC cross-check run over the same LSH pairs; must
    * equal [[clusters]] exactly (and the same DuckDB oracle verifies it
    * independently).
    */
  def labelPropClusters(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, _) =
      DedupPipeline.candidatePairs(spark, bandRows(spark, dir), Int.MaxValue)
    val nodes = Ops.table(spark, dir, "documents")
      .select(col("doc_id").as("id"))
    graft.pipeline.LabelPropagation.run(spark, pairs, nodes)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** (doc_id, cluster_id) after ONE vertex-shingling densification round
    * (reference default `shingling_iterations = 2`): kmer-round LSH pairs
    * unioned with pairs from re-sketching each node over its neighbor-id
    * set, then CC. The DuckDB oracle re-derives the whole vertex round in
    * SQL (same `(a*x+b) mod P` family over neighbor ids, c=2 minima,
    * `>= c` gate).
    */
  def vertexRoundClusters(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, _) =
      DedupPipeline.candidatePairs(spark, bandRows(spark, dir), Int.MaxValue)
    val all = graft.pipeline.VertexShingling.densify(spark, pairs, params)
    val nodes = Ops.table(spark, dir, "documents")
      .select(col("doc_id").as("id"))
    // production CC shape (driver finish engages at gate scale); the
    // distributed star loop keeps its own oracle coverage through q04/q23
    ConnectedComponents.run(spark, all, nodes, assumeCanonical = true,
        driverFinishMaxEdges = 1L << 23)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** A10 — the reference's `nocc` mode
    * (`minhash_clustering.cpp:80`, `shingling_cluster_generator_optimized
    * .cpp:350-360`): no connected components at all; every node exports its
    * CLOSED neighborhood as a cluster labeled by the node
    * (`add_label_to_cluster`, `:1447`), with redundant identical clusters
    * removed (`remove_redundant_local`, `:368` — local-only there, exact
    * and global here: identical member sets keep the min label).
    * Output (cluster_id, doc_id), possibly overlapping clusters — the form
    * the reference feeds to external community detection.
    */
  def noccClusters(spark: SparkSession, dir: String): DataFrame = {
    // eager localCheckpoint (the ConnectedComponents input idiom): the
    // pair set feeds FOUR plan positions inside nocc (both union
    // directions x both the set-dedup and semi-join sides) — materialize
    // once instead of relying on AQE stage reuse across all of them.
    // Per-invocation RDD, so nothing is shared across bench runs.
    val (pairs, _) =
      DedupPipeline.candidatePairs(spark, bandRows(spark, dir), Int.MaxValue)
    val cp = pairs.localCheckpoint(true)
    val nodes = Ops.table(spark, dir, "documents")
      .select(col("doc_id").as("id"))
    nocc(spark, cp, nodes)
      .select(col("label").as("cluster_id"), col("member").as("doc_id"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Generic nocc operator: edges (a, b) + node universe -> overlapping
    * closed-neighborhood clusters (label, member), deduplicated by member
    * set. The set-dedup groups by the sorted member array — each group is
    * one neighborhood, so memory (and the shuffle key width) is bounded by
    * the max degree. At web scale a celebrity node's neighborhood is one
    * O(degree)-sized shuffle key, so `maxDegree` caps it: neighborhoods
    * larger than the cap are DROPPED before the set-dedup, the same
    * explicit recall/cost policy knob as pair generation's maxBucketSize
    * (the reference materializes the full neighborhood unconditionally,
    * `shingling_cluster_generator_optimized.cpp:350-360`).
    * Returns (clusters, dropped) — dropped is (label, degree) of the capped
    * neighborhoods, the drop-metrics source (empty when uncapped).
    */
  def noccManaged(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
      maxDegree: Int = Int.MaxValue): (DataFrame, DataFrame) = {
    val members = edges.select(col("a").as("label"), col("b").as("member"))
      .union(edges.select(col("b").as("label"), col("a").as("member")))
      .union(nodes.select(col("id").as("label"), col("id").as("member")))
      .distinct()
    val degrees = members.groupBy("label").agg(count(lit(1)).as("degree"))
    val dropped =
      if (maxDegree == Int.MaxValue) degrees.where(lit(false))
      else degrees.where(col("degree") > maxDegree)
    val kept =
      if (maxDegree == Int.MaxValue) members
      else members.join(dropped.select("label"), Seq("label"), "left_anti")
    val sets = kept.groupBy("label")
      .agg(sort_array(collect_list(col("member"))).as("ms"))
    // identical-set dedup keyed on xxhash64(ms): the member ARRAY stays
    // aggregation payload instead of becoming an O(degree)-wide exchange
    // sort key (the q38/q29 8-byte-key discipline); min == max of the
    // group is the fail-loud no-collision verify — a 64-bit collision
    // raises instead of silently merging two distinct neighborhoods
    val keep = sets
      .groupBy(xxhash64(col("ms")).as("hs"))
      .agg(min(col("label")).as("label"),
        min(col("ms")).as("msMin"), max(col("ms")).as("msMax"))
      .select(when(col("msMin") <=> col("msMax"), col("label"))
        .otherwise(raise_error(lit(
          "xxhash64(member-set) collision detected — nocc set-dedup")))
        .as("label"))
    (kept.join(keep, Seq("label"), "left_semi"), dropped)
  }

  def nocc(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
      maxDegree: Int = Int.MaxValue): DataFrame =
    noccManaged(spark, edges, nodes, maxDegree)._1

  /** P7 — `clusters_to_remove` anti-filter (`shingling_cluster_generator_
    * optimized.cpp:1646-1663` shape): drop every member of the named
    * clusters. The dedicated operator surface (q08 covers the P6 doc-level
    * variant).
    */
  def removeClusters(assignments: DataFrame, clustersToRemove: DataFrame)
      : DataFrame =
    assignments.join(clustersToRemove.select("cluster_id"),
      Seq("cluster_id"), "left_anti")

  /** (doc_id, cluster_id) after removing clusters of size >= 5 (a
    * deterministic stand-in for the reference's removal list, exercised
    * through [[removeClusters]]).
    */
  def clustersAfterRemoval(spark: SparkSession, dir: String): DataFrame = {
    val c = clusters(spark, dir)
    val toRemove = c.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .where(col("n") >= 5)
    removeClusters(c, toRemove)
      .select(col("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** (doc_id, canonical_id) — exact dedup by full text equality (min id per
    * identical-text group), the A3-distinct shape. All exchanges key on
    * xxhash64(text) with a fail-loud equality verify
    * ([[Ops.canonicalByText]]) — the string-keyed form only ever ran in the
    * DuckDB oracle.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Ops.canonicalByText(Ops.table(spark, dir, "documents")
        .select("doc_id", "text"))
      .select("doc_id", "canonical_id").orderBy("doc_id")

  /** Batch-vs-corpus incremental dedup (the daily-ingest shape at 100 TB:
    * a new crawl batch deduped against the standing index WITHOUT
    * re-pairing the corpus against itself). LSH band keys of the batch
    * equi-join the corpus band table — at scale the batch side is the
    * small daily increment (broadcast / AQE), and the corpus side is the
    * standing partitioned band table, so no corpus self-join ever runs.
    * Candidates are verified by exact shingle-set Jaccard >= 1/2 with the
    * pipeline's verify gate ([[DedupPipeline.jaccardGate]]); at tau = 1/2
    * it equals the oracle's integer form 3*|inter| >= |A| + |B| (exact in
    * double arithmetic below 2^53). Streaming analogue:
    * [[graft.streaming.StreamingDedup.againstCorpus]].
    *
    * Both inputs are (id, t) with raw text `t`; the kernels normalize it.
    *
    * @return (doc_id, dup_of): batch docs that verified against >= 1
    *         corpus doc, labeled by the minimum matching corpus id
    */
  def dedupAgainstCorpus(spark: SparkSession, batch: DataFrame,
      corpus: DataFrame): DataFrame = {
    def sig(d: DataFrame, as: String): DataFrame =
      DedupPipeline.signatures(spark,
        d.select(col("id"), col("t").as("text")), params)
        .select(col("id").as(as), col("band"), col("key"))
    val cand = sig(batch, "doc_id")
      .join(sig(corpus, "dup_of"), Seq("band", "key"))
      .select("doc_id", "dup_of").distinct()
    def sets(d: DataFrame, as: String, sh: String): DataFrame =
      d.select(col("id").as(as),
        DedupPipeline.packedShingleSet(col("t"), Ops.KmerLen).as(sh))
    cand.join(sets(batch, "doc_id", "shb"), "doc_id")
      .join(sets(corpus, "dup_of", "shc"), "dup_of")
      .where(DedupPipeline.jaccardGate(col("shb"), col("shc"), 0.5))
      .groupBy("doc_id").agg(min(col("dup_of")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** One definition site for the gate's corpus/batch id split, interpolated
    * into [[corpusDedupSql]] so the oracle cannot drift from the Scala
    * default.
    */
  val CorpusSplit = 250L

  /** [[dedupAgainstCorpus]] as a gate query: documents with id < `split`
    * are the standing corpus, the rest are the incoming batch.
    */
  def corpusDedupFlags(spark: SparkSession, dir: String,
      split: Long = CorpusSplit): DataFrame = {
    val docs = Ops.table(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("t"))
    dedupAgainstCorpus(spark,
      docs.where(col("id") >= split), docs.where(col("id") < split))
  }

  /** Per-source dedup-rate rollup — the curation dashboard view over the
    * clustering: for each ingest source, how many docs it contributed,
    * how many are duplicates (not their cluster's canonical min-id
    * member), and how many distinct clusters it touches. One aggregate
    * over the cluster assignment joined back to the doc dimension —
    * linear, partial-aggregating, no new shuffle shape at scale.
    *
    * @return (source, n_docs, n_dups, n_clusters)
    */
  def sourceDedupStats(spark: SparkSession, dir: String): DataFrame = {
    val c = clusters(spark, dir)
    val src = Ops.table(spark, dir, "documents").select("doc_id", "source")
    c.join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("doc_id") =!= col("cluster_id"), 1)).as("n_dups"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .orderBy("source")
  }

  lazy val sourceDedupStatsSql: String = s"""WITH RECURSIVE $clustersCtes
SELECT d.source, count(*) AS n_docs,
  count(*) FILTER (WHERE c.doc_id <> c.cluster_id) AS n_dups,
  count(DISTINCT c.cluster_id) AS n_clusters
FROM clusters c JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source"""

  /** Band-collision statistics for consecutive doc pairs: of the bands
    * where BOTH docs carry a signature, how many collide ((m1, m2) equal)?
    * `n_matching / n_bands` is the empirical estimate of the Jaccard-driven
    * collision probability s^c — the statistic the hash sweep's
    * convergence criterion rides on (more bands -> collision count
    * concentrates; `minhash_clustering.cpp:219-258`). Deterministic linear
    * pair set, same shape as [[TextQueries.ngramJaccard]].
    *
    * @return (id_a, id_b, n_matching_bands, n_bands)
    */
  def bandMatchStats(spark: SparkSession, dir: String): DataFrame = {
    val s = signatures(spark, dir)
    val a = s.select(col("doc_id").as("id_a"), col("hash_idx"),
      col("m1").as("m1a"), col("m2").as("m2a"))
    val b = s.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      col("hash_idx"), col("m1").as("m1b"), col("m2").as("m2b"))
    a.join(b, Seq("id_a", "hash_idx"))
      .groupBy("id_a", "id_b")
      .agg(count(when(col("m1a") === col("m1b")
          && col("m2a") === col("m2b"), 1)).as("n_matching_bands"),
        count(lit(1)).as("n_bands"))
      .orderBy("id_a")
  }

  lazy val bandMatchStatsSql: String = s"""WITH $sigCtes
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  count(*) FILTER (WHERE a.m1 = b.m1 AND a.m2 = b.m2) AS n_matching_bands,
  count(*) AS n_bands
FROM sigs a JOIN sigs b
  ON b.doc_id = a.doc_id + 1 AND b.hash_idx = a.hash_idx
GROUP BY 1, 2 ORDER BY id_a"""

  /** Canonical-representative selection: for every near-dup cluster with
    * >= 2 members, pick the doc to KEEP — longest text, doc_id as the
    * deterministic tie-break (a curation pipeline keeps one survivor per
    * cluster and drops the rest). One window pass over the
    * cluster-partitioned assignment join; at scale this is the same
    * single-exchange shape as the pipeline's clusters stage.
    *
    * @return (cluster_id, keep_id, n_members)
    */
  def keepPerCluster(spark: SparkSession, dir: String): DataFrame = {
    val sized = clusters(spark, dir)
      .join(Ops.table(spark, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    sized
      .withColumn("rn", row_number().over(
        w.orderBy(desc("len"), col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(w))
      .where(col("rn") === 1 && col("n_members") >= 2)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("n_members").cast("long").as("n_members"))
      .orderBy("cluster_id")
  }

  // lazy: clustersCtes is declared later in this object (SQL section) —
  // a strict val here would capture null at object init
  lazy val keepPerClusterSql: String = s"""WITH RECURSIVE $clustersCtes,
sized AS (
  SELECT c.cluster_id, c.doc_id, length(d.text) AS len
  FROM clusters c JOIN documents d USING (doc_id)
),
keep_ranked AS (
  SELECT cluster_id, doc_id, len,
    row_number() OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id) AS rn,
    count(*) OVER (PARTITION BY cluster_id) AS n
  FROM sized
)
SELECT cluster_id, doc_id AS keep_id, n::BIGINT AS n_members
FROM keep_ranked WHERE rn = 1 AND n >= 2 ORDER BY cluster_id"""

  // ---------------------------------------------------------------- SQL --

  /** Shared CTE chain computing the signatures in pure SQL (validated on
    * DuckDB 1.0): positions -> base-20 kmer values -> universal hashes ->
    * 2 minima per (doc, hash) with the >= c occurrence gate.
    */
  val sigCtes: String = s"""
hp(h, a, b) AS (VALUES ${Ops.hashPairsSql}),
docs AS (
  SELECT doc_id, regexp_replace(upper(text), '[^A-Z]', '', 'g') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(range(1, length(t) - 4)) AS i FROM docs
),
kmers AS (
  SELECT doc_id, i,
    (ascii(substr(t, i::INT, 1)) - 65)::BIGINT * 3200000
    + (ascii(substr(t, (i+1)::INT, 1)) - 65) * 160000
    + (ascii(substr(t, (i+2)::INT, 1)) - 65) * 8000
    + (ascii(substr(t, (i+3)::INT, 1)) - 65) * 400
    + (ascii(substr(t, (i+4)::INT, 1)) - 65) * 20
    + (ascii(substr(t, (i+5)::INT, 1)) - 65) AS kv
  FROM pos
),
hashed AS (
  SELECT k.doc_id, hp.h, (k.kv * hp.a + hp.b) % ${Ops.Prime} AS hv
  FROM kmers k CROSS JOIN hp
),
ranked AS (
  SELECT doc_id, h, hv,
    row_number() OVER (PARTITION BY doc_id, h ORDER BY hv) AS rn,
    count(*) OVER (PARTITION BY doc_id, h) AS cnt
  FROM hashed
),
sigs AS (
  SELECT doc_id, h::BIGINT AS hash_idx,
    max(CASE WHEN rn = 1 THEN hv END) AS m1,
    max(CASE WHEN rn = 2 THEN hv END) AS m2
  FROM ranked WHERE cnt >= 2 GROUP BY doc_id, h
)"""

  val pairsCtes: String = s"""$sigCtes,
lsh_pairs AS (
  SELECT DISTINCT s1.doc_id AS id_a, s2.doc_id AS id_b
  FROM sigs s1 JOIN sigs s2
    ON s1.hash_idx = s2.hash_idx AND s1.m1 = s2.m1 AND s1.m2 = s2.m2
  WHERE s1.doc_id < s2.doc_id
)"""

  val clustersCtes: String = s"""$pairsCtes,
bi(u, v) AS (
  SELECT id_a, id_b FROM lsh_pairs UNION ALL SELECT id_b, id_a FROM lsh_pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT bi.v, reach.lbl FROM reach JOIN bi ON bi.u = reach.node
),
clusters AS (
  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
)"""

  val signaturesSql: String =
    s"WITH $sigCtes SELECT doc_id, hash_idx, m1, m2 FROM sigs ORDER BY doc_id, hash_idx"

  val lshPairsSql: String =
    s"WITH $pairsCtes SELECT id_a, id_b FROM lsh_pairs ORDER BY id_a, id_b"

  val clustersSql: String =
    s"WITH RECURSIVE $clustersCtes SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id"

  val jaccardSql: String = s"""WITH $pairsCtes,
shingle_sets AS (SELECT DISTINCT doc_id, kv FROM kmers),
set_sizes AS (SELECT doc_id, count(*) AS n FROM shingle_sets GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter_size
  FROM lsh_pairs p
  JOIN shingle_sets sa ON sa.doc_id = p.id_a
  JOIN shingle_sets sb ON sb.doc_id = p.id_b AND sb.kv = sa.kv
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
  coalesce(i.inter_size, 0) AS inter_size,
  za.n + zb.n - coalesce(i.inter_size, 0) AS union_size
FROM lsh_pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN set_sizes za ON za.doc_id = p.id_a
JOIN set_sizes zb ON zb.doc_id = p.id_b
ORDER BY p.id_a, p.id_b"""

  /** Oracle for [[corpusDedupFlags]]: the same LSH candidate restriction
    * (cross-split pairs only) and the integer-exact Jaccard >= 1/2 gate.
    */
  val corpusDedupSql: String = s"""WITH $pairsCtes,
shingle_sets AS (SELECT DISTINCT doc_id, kv FROM kmers),
set_sizes AS (SELECT doc_id, count(*) AS n FROM shingle_sets GROUP BY doc_id),
cross_pairs AS (
  SELECT id_a AS dup_of, id_b AS doc_id FROM lsh_pairs
  WHERE id_a < $CorpusSplit AND id_b >= $CorpusSplit
),
inter AS (
  SELECT p.doc_id, p.dup_of, count(*) AS inter_size
  FROM cross_pairs p
  JOIN shingle_sets sa ON sa.doc_id = p.dup_of
  JOIN shingle_sets sb ON sb.doc_id = p.doc_id AND sb.kv = sa.kv
  GROUP BY 1, 2
),
verified AS (
  SELECT p.doc_id, p.dup_of
  FROM cross_pairs p
  JOIN set_sizes za ON za.doc_id = p.dup_of
  JOIN set_sizes zb ON zb.doc_id = p.doc_id
  LEFT JOIN inter i ON i.doc_id = p.doc_id AND i.dup_of = p.dup_of
  WHERE 3 * coalesce(i.inter_size, 0) >= za.n + zb.n
)
SELECT doc_id, min(dup_of) AS dup_of FROM verified
GROUP BY doc_id ORDER BY doc_id"""

  val clusterSizesSql: String = s"""WITH RECURSIVE $clustersCtes
SELECT cluster_id, count(*) AS n FROM clusters
GROUP BY cluster_id HAVING count(*) >= 2 ORDER BY cluster_id"""

  val topClustersSql: String = s"""WITH RECURSIVE $clustersCtes
SELECT cluster_id, count(*) AS n FROM clusters
GROUP BY cluster_id ORDER BY n DESC, cluster_id LIMIT 10"""

  val antiFilterSql: String = """
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
ORDER BY doc_id"""

  val bestMatchSql: String = """
WITH x AS (SELECT doc_id AS member, source AS label FROM documents),
y AS (SELECT doc_id AS member, lang AS label FROM documents),
sx AS (SELECT label AS lx, count(*) AS nx FROM x GROUP BY 1),
sy AS (SELECT label AS ly, count(*) AS ny FROM y GROUP BY 1),
inter AS (
  SELECT x.label AS lx, y.label AS ly, count(*) AS i
  FROM x JOIN y USING (member) GROUP BY 1, 2
),
scored AS (
  SELECT lx, ly, 2 * (i / nx) * (i / ny) / ((i / nx) + (i / ny)) AS f1
  FROM inter JOIN sx USING (lx) JOIN sy USING (ly)
)
SELECT 'x' AS side, lx AS label, nx AS n,
  floor(max(f1) * 1000000)::BIGINT AS best_f1_micros
FROM scored JOIN sx USING (lx) GROUP BY lx, nx
UNION ALL
SELECT 'y' AS side, ly AS label, ny AS n,
  floor(max(f1) * 1000000)::BIGINT AS best_f1_micros
FROM scored JOIN sy USING (ly) GROUP BY ly, ny
ORDER BY side, label"""

  val exactDedupSql: String = """
SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id
FROM documents ORDER BY doc_id"""

  /** q26 oracle: closed neighborhoods + identical-set dedup in SQL. */
  val noccClustersSql: String = s"""WITH $pairsCtes,
m AS (
  SELECT id_a AS label, id_b AS member FROM lsh_pairs
  UNION
  SELECT id_b AS label, id_a AS member FROM lsh_pairs
  UNION
  SELECT doc_id, doc_id FROM documents
),
s AS (SELECT label, list_sort(list(member)) AS ms FROM m GROUP BY label),
k AS (SELECT min(label) AS label FROM s GROUP BY ms)
SELECT m.label AS cluster_id, m.member AS doc_id
FROM m JOIN k USING (label)
ORDER BY cluster_id, doc_id"""

  /** q27 oracle: clusters minus members of clusters of size >= 5. */
  val clustersAfterRemovalSql: String = s"""WITH RECURSIVE $clustersCtes,
big AS (
  SELECT cluster_id FROM clusters GROUP BY cluster_id HAVING count(*) >= 5
)
SELECT doc_id, cluster_id FROM clusters
WHERE cluster_id NOT IN (SELECT cluster_id FROM big)
ORDER BY doc_id"""

  /** q23 oracle: identical to [[clustersSql]] — label propagation and
    * large/small-star must produce the same min-label components.
    */
  val labelPropClustersSql: String = clustersSql

  /** q24 oracle: the vertex round in pure SQL — neighbor sets from the LSH
    * pairs, the same universal hash family over neighbor ids (doc_ids are
    * positive here so `%` == floorMod), c=2 minima with the >= c gate,
    * vertex pairs from (h, m1, m2) collisions, recursive CC over the union.
    */
  val vertexRoundClustersSql: String = s"""WITH RECURSIVE $pairsCtes,
nbrs AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM lsh_pairs
),
vhashed AS (
  SELECT n.u, hp.h, (n.v * hp.a + hp.b) % ${Ops.Prime} AS hv
  FROM nbrs n CROSS JOIN hp
),
vranked AS (
  SELECT u, h, hv,
    row_number() OVER (PARTITION BY u, h ORDER BY hv) AS rn,
    count(*) OVER (PARTITION BY u, h) AS cnt
  FROM vhashed
),
vsigs AS (
  SELECT u, h,
    max(CASE WHEN rn = 1 THEN hv END) AS m1,
    max(CASE WHEN rn = 2 THEN hv END) AS m2
  FROM vranked WHERE cnt >= 2 GROUP BY u, h
),
vpairs AS (
  SELECT DISTINCT s1.u AS a, s2.u AS b
  FROM vsigs s1 JOIN vsigs s2
    ON s1.h = s2.h AND s1.m1 = s2.m1 AND s1.m2 = s2.m2
  WHERE s1.u < s2.u
),
all_pairs AS (
  SELECT id_a AS a, id_b AS b FROM lsh_pairs
  UNION
  SELECT a, b FROM vpairs
),
bi(u, v) AS (
  SELECT a, b FROM all_pairs UNION ALL SELECT b, a FROM all_pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT bi.v, reach.lbl FROM reach JOIN bi ON bi.u = reach.node
),
vclusters AS (
  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id FROM vclusters ORDER BY doc_id"""

  /** Oracle for the COMPOSED pages pipeline (q22): the same CTE chain as
    * q02→q04 (signatures → LSH pairs → recursive CC) plus per-cluster
    * sizes, labels re-keyed to min doc_id — invariant to the pipeline's
    * internal xxhash64(url) id space, so the compare is value-exact.
    */
  val pagesPipelineSql: String = s"""WITH RECURSIVE $clustersCtes,
sizes AS (SELECT cluster_id, count(*) AS n FROM clusters GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id AS cluster_doc_id, s.n AS cluster_size
FROM clusters c JOIN sizes s USING (cluster_id)
ORDER BY c.doc_id"""
}
