package graft

import graft.core.MinHashParams
import graft.ops.{EmbeddingQueries => E, MinHashDocQueries => M, TextQueries => T}
import graft.pipeline.{DedupConfig, DedupPipeline, Pages, PagesGen}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + FIXTURES.md.
  *
  * Every `queries` entry is one operator from the SURVEY.md §2 inventory or
  * a training-data-pipeline operator, run with the REAL pipeline kernels;
  * `oracleSql` carries a value-exact DuckDB equivalent (column names and
  * integer/deterministic-double output discipline keep the compare exact).
  */
object SparkEntry {

  /** Flagship: the full dedup pipeline (extract → MinHash signatures → LSH
    * pairs → connected components → cluster assignments) on a deterministic
    * 1k-page synthetic web corpus. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Pages.toDS(spark, PagesGen.small).toDF()
    DedupPipeline.run(spark, pages,
      DedupConfig(params = MinHashParams(numHashes = 16)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_exact_dedup" -> ((s, d) => M.exactDedup(s, d)),
    "q02_minhash_signatures" -> ((s, d) => M.signatures(s, d)),
    "q03_lsh_pairs" -> ((s, d) => M.lshPairs(s, d)),
    "q04_minhash_clusters" -> ((s, d) => M.clusters(s, d)),
    "q05_jaccard_verify" -> ((s, d) => M.jaccard(s, d)),
    "q06_cluster_sizes" -> ((s, d) => M.clusterSizes(s, d)),
    "q07_top_clusters" -> ((s, d) => M.topClusters(s, d)),
    "q08_anti_filter" -> ((s, d) => M.antiFilter(s, d)),
    "q09_best_match_f1" -> ((s, d) => M.bestMatch(s, d)),
    "q10_simhash" -> ((s, d) => T.simhash(s, d)),
    "q11_simhash_dedup" -> ((s, d) => T.simhashDedup(s, d)),
    "q12_ngram_jaccard" -> ((s, d) => T.ngramJaccard(s, d)),
    "q13_token_count" -> ((s, d) => T.tokenCount(s, d)),
    "q14_quality" -> ((s, d) => T.quality(s, d)),
    "q15_lang_id" -> ((s, d) => T.langId(s, d)),
    "q16_fingerprint" -> ((s, d) => T.fingerprint(s, d)),
    "q17_embedding_knn" -> ((s, d) => E.knn(s, d)),
    "q18_embedding_lsh" -> ((s, d) => E.lshBuckets(s, d)),
    "q19_ann_bucketed" -> ((s, d) => E.annBucketed(s, d)),
    "q20_binary_meta" -> ((s, d) => T.binaryMeta(s, d)),
    "q21_hourly_events" -> ((s, d) => T.hourlyEvents(s, d)),
    // full pages pipeline over the documents table mapped to the web-page
    // schema (html round-trip, xxhash64 ids, LSH, CC) — the output is
    // re-keyed to integer doc_ids (cluster label = min doc_id in the
    // cluster, which is invariant to the internal id space) so the whole
    // composed pipeline gets a value-exact DuckDB oracle.
    "q22_pages_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val pages = graft.ops.Ops.table(s, d, "documents").select(
        concat(lit("doc://"), col("doc_id")).as("url"),
        lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).as("warc_ts"),
        encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")),
          "UTF-8").as("html"),
        col("text"), col("lang"))
      val out = DedupPipeline.run(s, pages,
        DedupConfig(params = MinHashParams(numHashes = graft.ops.Ops.DocNumHashes)))
      val withDoc = out.select(
        expr("cast(substring(url, 7) as bigint)").as("doc_id"),
        col("cluster"), col("cluster_size"))
      val rep = withDoc.groupBy("cluster")
        .agg(min(col("doc_id")).as("cluster_doc_id"))
      withDoc.join(rep, "cluster")
        .select(col("doc_id"), col("cluster_doc_id"), col("cluster_size"))
        .orderBy("doc_id")
    }),
    // A7 cross-check: label propagation must equal the star-CC clusters,
    // verified by the SAME independent DuckDB oracle
    "q23_label_prop_clusters" -> ((s, d) => M.labelPropClusters(s, d)),
    // the vertex-shingling densification round (reference default
    // shingling_iterations = 2), fully re-derived in SQL by the oracle
    "q24_vertex_round_clusters" -> ((s, d) => M.vertexRoundClusters(s, d)),
    // multimodal frame-sampling plumbing, byte-exact via hex
    "q25_frame_samples" -> ((s, d) => T.frameSamples(s, d)),
    // A10 nocc: overlapping closed-neighborhood clusters, set-deduped
    "q26_nocc" -> ((s, d) => M.noccClusters(s, d)),
    // P7: the clusters_to_remove anti-filter as a dedicated surface
    "q27_remove_clusters" -> ((s, d) => M.clustersAfterRemoval(s, d)),
    // embedding-cosine near-dup clusters (bucketed pairs -> CC),
    // integer-exact threshold compare
    "q28_embedding_dedup" -> ((s, d) => E.embeddingDedup(s, d)),
    // suffix-array-substring leg: doc pairs sharing length-30 substrings.
    // The gate runs the SCALE form (8-byte hashed shuffle keys + exact
    // string verification — collision-proof, so its output is identical to
    // the string-keyed form the oracle computes; equality is also
    // spec-tested and plan-asserted in TextQueriesSpec/PlanSpec).
    "q29_substring_dups" -> ((s, d) => T.substringDupsHashed(s, d)),
    // IVF coarse quantizer (integer-exact one-step Lloyd assignment)
    "q30_ivf_assign" -> ((s, d) => E.ivfAssign(s, d)),
    // true LCS >= 30 per candidate pair (suffix-array semantics via
    // diagonal window runs)
    "q31_substring_lcs" -> ((s, d) => T.substringLcs(s, d)),
    // composed curation pass: exact-dedup canonicality + quality gates,
    // first failing gate = reject reason
    "q32_curation" -> ((s, d) => T.curation(s, d)),
    // per-language corpus rollup (docs, token/char totals, longest doc)
    "q33_corpus_stats" -> ((s, d) => T.corpusStats(s, d)),
    // Gopher-style word-bigram repetition signal (integer stats)
    "q34_repetition" -> ((s, d) => T.repetition(s, d)),
    // the substring family's web-scale guard as its own gated surface:
    // windows shared by > maxWindowDocs docs (boilerplate) are dropped
    // before the self-join — the k^2 hot-key cap in action (at sf0.01 the
    // cap of 2 really drops the doc-frequency-3 windows)
    "q35_substring_capped" ->
      ((s, d) => T.substringDupsHashed(s, d, 30, maxWindowDocs = 2)),
    // batch-vs-corpus incremental dedup (daily-ingest shape): LSH bands
    // of the batch join the standing corpus band table, exact-Jaccard
    // verified by the pipeline's gate at tau = 1/2 (the oracle's integer
    // 3i >= |A|+|B|) — never a corpus self-join
    "q36_corpus_dedup" -> ((s, d) => M.corpusDedupFlags(s, d)),
    // benchmark decontamination: corpus docs sharing any length-30 window
    // with the (broadcast-small) benchmark split are flagged for
    // exclusion from training
    "q37_decontaminate" -> ((s, d) => T.decontaminate(s, d)),
    // word-5-gram document-frequency census — the df table boilerplate
    // scrub policies read
    "q38_ngram_census" -> ((s, d) => T.ngramDfCensus(s, d)),
    // canonical-representative selection: the doc each dup cluster KEEPS
    // (longest text, id tie-break) — one window pass per cluster
    "q39_keep_per_cluster" -> ((s, d) => M.keepPerCluster(s, d)),
    // per-user sessionization via the native session_window (the exact
    // operator the streaming form runs with a watermark); oracle
    // re-derives the merge semantics gaps-and-islands style
    "q40_sessions" -> ((s, d) => T.sessions(s, d)),
    // empirical band-collision stats per consecutive pair — the s^c
    // estimator the sweep's convergence criterion rides on
    "q41_band_match" -> ((s, d) => M.bandMatchStats(s, d)),
    // product-quantization codes — the compressed-vector representation
    // ANN scans at 10^12 vectors (m bytes/vector); integer-exact per-
    // subspace argmin against a broadcast codebook
    "q42_pq_codes" -> ((s, d) => E.pqCodes(s, d)),
    // ADC top-k: nearest neighbors of vector 0 scanned entirely over the
    // PQ codes with a broadcast m*k lookup table — never touches a float
    // vector
    "q43_pq_adc_topk" -> ((s, d) => E.pqAdcTopK(s, d)),
    // pretraining chunk spans: where each doc lands in the concatenated
    // fixed-size-chunk token stream — distributed two-pass prefix sum
    // (range partition + per-partition offsets), never a global window
    "q44_chunk_spans" -> ((s, d) => T.chunkSpans(s, d)),
    // per-source dedup-rate rollup: docs / duplicates / distinct clusters
    // contributed by each ingest source
    "q45_source_stats" -> ((s, d) => M.sourceDedupStats(s, d)),
    // deterministic hash-threshold mixture sampling: per-source keep
    // fractions as a pure map pass + broadcast rates dim (reproducible,
    // rank-free — the only sampler shape that survives 100 TB)
    "q46_mixture_sample" -> ((s, d) => T.mixtureSample(s, d)),
    // exact per-language token-length quantiles (percentile_disc
    // semantics, integer-exact — no interpolated doubles)
    "q47_length_quantiles" -> ((s, d) => T.lengthQuantiles(s, d))
  )

  def oracleSql: Map[String, String] = Map(
    "q01_exact_dedup" -> M.exactDedupSql,
    "q02_minhash_signatures" -> M.signaturesSql,
    "q03_lsh_pairs" -> M.lshPairsSql,
    "q04_minhash_clusters" -> M.clustersSql,
    "q05_jaccard_verify" -> M.jaccardSql,
    "q06_cluster_sizes" -> M.clusterSizesSql,
    "q07_top_clusters" -> M.topClustersSql,
    "q08_anti_filter" -> M.antiFilterSql,
    "q09_best_match_f1" -> M.bestMatchSql,
    "q10_simhash" -> T.simhashSql,
    "q11_simhash_dedup" -> T.simhashDedupSql,
    "q12_ngram_jaccard" -> T.ngramJaccardSql,
    "q13_token_count" -> T.tokenCountSql,
    "q14_quality" -> T.qualitySql,
    "q15_lang_id" -> T.langIdSql,
    "q16_fingerprint" -> T.fingerprintSql,
    "q17_embedding_knn" -> E.knnSql,
    "q18_embedding_lsh" -> E.lshBucketsSql,
    "q19_ann_bucketed" -> E.annBucketedSql,
    "q20_binary_meta" -> T.binaryMetaSql,
    "q21_hourly_events" -> T.hourlyEventsSql,
    "q22_pages_pipeline" -> M.pagesPipelineSql,
    "q23_label_prop_clusters" -> M.labelPropClustersSql,
    "q24_vertex_round_clusters" -> M.vertexRoundClustersSql,
    "q25_frame_samples" -> T.frameSamplesSql,
    "q26_nocc" -> M.noccClustersSql,
    "q27_remove_clusters" -> M.clustersAfterRemovalSql,
    "q28_embedding_dedup" -> E.embeddingDedupSql,
    "q29_substring_dups" -> T.substringDupsSql,
    "q30_ivf_assign" -> E.ivfAssignSql,
    "q31_substring_lcs" -> T.substringLcsSql,
    "q32_curation" -> T.curationSql,
    "q33_corpus_stats" -> T.corpusStatsSql,
    "q34_repetition" -> T.repetitionSql,
    "q35_substring_capped" -> T.substringDupsCappedSql,
    "q36_corpus_dedup" -> M.corpusDedupSql,
    "q37_decontaminate" -> T.decontaminateSql,
    "q38_ngram_census" -> T.ngramDfCensusSql,
    "q39_keep_per_cluster" -> M.keepPerClusterSql,
    "q40_sessions" -> T.sessionsSql,
    "q41_band_match" -> M.bandMatchStatsSql,
    "q42_pq_codes" -> E.pqCodesSql,
    "q43_pq_adc_topk" -> E.pqAdcTopKSql,
    "q44_chunk_spans" -> T.chunkSpansSql,
    "q45_source_stats" -> M.sourceDedupStatsSql,
    "q46_mixture_sample" -> T.mixtureSampleSql,
    "q47_length_quantiles" -> T.lengthQuantilesSql
  )
}
