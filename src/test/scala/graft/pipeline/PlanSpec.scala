package graft.pipeline

import graft.SparkSpec
import graft.core.MinHashParams

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the shapes we rely on at scale must actually
  * be in the plan (SURVEY.md §4), not just intended.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val p = MinHashParams(numHashes = 8)

  test("grouped reduces plan one exchange: bucket pair emission, CC star steps") {
    def partitionings(plan: String): Seq[String] =
      "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(plan)
        .map(_.group(1)).toSeq
    def exchanges(plan: String): Int = "Exchange ".r.findAllMatchIn(plan).size

    // unsalted pair generation: the explicit (band, key) repartition at the
    // pair-gen width satisfies the grouped reduce, so the only other
    // exchange is the cross-band distinct's, above it
    val pages = Pages.toDS(spark, PagesGen.small).toDF()
    val docs = DedupPipeline.extractDocs(pages)
    val bands = DedupPipeline.signatures(spark, docs, p)
    val (pairs, _) = DedupPipeline.candidatePairs(spark, bands, Int.MaxValue)
    val plan = pairs.queryExecution.executedPlan.toString
    val n = math.max(2 * spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    val parts = partitionings(plan)
    assert(exchanges(plan) == 2 && parts.size == 2, s"two exchanges in:\n$plan")
    assert(parts(0).matches("a#\\d+L, b#\\d+L, \\d+"),
      s"distinct exchange on (a, b) expected on top in:\n$plan")
    assert(parts(1).matches(s"band#\\d+, key#\\d+L, $n"),
      s"one (band, key) exchange at $n partitions expected in:\n$plan")

    // one CC star step = one shuffle by node
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (1L, 5L)).toDS()
    for ((name, step) <- Seq(
        "largeStar" -> ConnectedComponents.largeStar(spark, edges),
        "smallStar" -> ConnectedComponents.smallStar(spark, edges))) {
      val stepPlan = step.queryExecution.executedPlan.toString
      assert(exchanges(stepPlan) == 1 && partitionings(stepPlan).size == 1,
        s"$name must plan exactly one exchange:\n$stepPlan")
    }
  }

  test("parquet scan prunes columns: signature stage reads only url/html") {
    withTempDir("graft-plan") { dir =>
      Pages.toDS(spark, PagesGen.micro).write.mode("overwrite").parquet(dir)
      val pages = spark.read.parquet(dir)
      val docs = DedupPipeline.extractDocs(pages)
      val scan = docs.queryExecution.executedPlan.toString
      // text/lang/warc_ts must not be read: extraction derives text from html
      assert(scan.contains("ReadSchema"))
      val readSchema = scan.linesIterator.filter(_.contains("ReadSchema"))
        .mkString
      assert(readSchema.contains("url") && readSchema.contains("html"))
      assert(!readSchema.contains("warc_ts") && !readSchema.contains("lang"),
        s"column pruning failed: $readSchema")
    }
  }

  test("predicate on doc table pushes down to the parquet scan") {
    val df = graft.ops.Ops.table(spark, "/root/testdata/sf0.001", "documents")
      .where(org.apache.spark.sql.functions.col("doc_id") > 100)
      .select("doc_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]"),
      s"pushdown missing in:\n$plan")
  }

  test("signature stage: one map pass; gate queries run only native kernels") {
    val pages = Pages.toDS(spark, PagesGen.micro).toDF()
    val docs = DedupPipeline.extractDocs(pages)
    val bands = DedupPipeline.signatures(spark, docs, p)
    val plan = bands.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")

    // every MinHash gate query composes the pipeline's native kernels: no
    // UDF and no regexp pass anywhere in what it executes, and the band-key
    // expression runs inside a whole-stage codegen span ("*(n)")
    val codegenLine = "^[\\s:|+-]*\\*\\(\\d+\\) ".r
    for (name <- Seq("q02_minhash_signatures", "q03_lsh_pairs",
        "q04_minhash_clusters", "q05_jaccard_verify", "q06_cluster_sizes",
        "q07_top_clusters", "q23_label_prop_clusters",
        "q24_vertex_round_clusters", "q26_nocc", "q27_remove_clusters",
        "q36_corpus_dedup", "q39_keep_per_cluster", "q41_band_match",
        "q45_source_stats")) {
      val plans = executedPlans {
        graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
          .collect(): Unit
      }
      val all = plans.mkString("\n")
      assert(!all.contains("UDF") && !all.contains("regexp_replace"),
        s"$name runs a UDF or a regexp pass:\n$all")
      // an adaptive plan prints its final plan first, then the initial one
      // (which carries no codegen markers)
      val kernelLines = plans.flatMap(_.split("== Initial Plan ==")(0)
        .linesIterator.filter(_.contains("minhash_band_keys")))
      assert(kernelLines.nonEmpty, s"$name never ran minhash_band_keys:\n$all")
      kernelLines.foreach { l =>
        assert(codegenLine.findPrefixOf(l).isDefined,
          s"$name: minhash_band_keys outside a codegen span: $l")
      }
    }
  }

  test("salted path: hot-key joins broadcast, never shuffle the band rows twice") {
    val pages = Pages.toDS(spark, PagesGen.skew(hot = 80, background = 100)).toDF()
    val docs = DedupPipeline.extractDocs(pages)
    val bands = DedupPipeline.signatures(spark, docs, p).persist()
    val (pairs, _) = DedupPipeline.candidatePairs(spark, bands, Int.MaxValue,
      saltBlockSize = 16)
    val plan = pairs.queryExecution.executedPlan.toString
    // the collected hot-key dim joins as an explicit (bounded) broadcast on
    // both the anti (cold) and inner (hot) sides — no extra band-row shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-key joins should broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"band rows must not sort-merge against hot keys in:\n$plan")
    bands.unpersist()
  }

  test("q29 gate form shuffles 8-byte hash keys, never window strings") {
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = "/root/testdata/sf0.001"
      def partitionKeys(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val plan = df.queryExecution.executedPlan.toString
        "(?:hash|range)partitioning\\(([^)]*)\\)".r
          .findAllMatchIn(plan).map(_.group(1)).toSeq
      }
      // the scale form partitions on the 8-byte xxhash64 key h
      val hashedKeys = partitionKeys(graft.ops.TextQueries
        .substringDupsHashed(spark, dir))
      assert(hashedKeys.exists(_.matches(".*\\bh#\\d+L.*")),
        s"expected an h-keyed exchange, got: $hashedKeys")
      assert(!hashedKeys.exists(_.contains("w#")),
        s"window strings must never be shuffle KEYS in the gate form: $hashedKeys")
      // contrast: the string-keyed oracle form does partition on w
      val stringKeys = partitionKeys(graft.ops.TextQueries
        .substringDups(spark, dir))
      assert(stringKeys.exists(_.contains("w#")),
        s"sanity: the string form should key on w: $stringKeys")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("exact-dedup / curation / census shuffle hash keys, never full text") {
    // VERDICT round 4 §What's-wrong 2/3: full document bodies (or gram
    // strings) as exchange keys is the scale anti-pattern — at web scale
    // that is hundreds of TB of sort keys. All three now key on xxhash64.
    val dir = "/root/testdata/sf0.001"
    def keys(df: org.apache.spark.sql.DataFrame, kind: String): Seq[String] = {
      val plan = df.queryExecution.executedPlan.toString
      s"${kind}partitioning\\(([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
    }
    for ((name, df) <- Seq(
        "q01" -> graft.ops.MinHashDocQueries.exactDedup(spark, dir),
        "q32" -> graft.ops.TextQueries.curation(spark, dir))) {
      val all = keys(df, "(?:hash|range)")
      assert(all.nonEmpty && !all.exists(_.contains("text#")),
        s"$name: document text must never be an exchange key: $all")
    }
    // census: the aggregate exchange keys on the 8-byte hash (the final
    // presentation sort ranges on the tiny df-filtered RESULT, which is
    // fine — the concern is the full-corpus aggregate shuffle)
    val census = graft.ops.TextQueries.ngramDfCensus(spark, dir)
    val aggKeys = keys(census, "hash")
    assert(aggKeys.nonEmpty && !aggKeys.exists(_.contains("gram#")),
      s"census aggregate must key on xxhash64(gram), not the string: $aggKeys")
  }

  test("decontaminate plan: benchmark side broadcasts; no string shuffle keys") {
    val dir = "/root/testdata/sf0.001"
    val plan = graft.ops.TextQueries.decontaminate(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark window table must broadcast (one corpus map pass):\n$plan")
    val keys = "(?:hash|range)partitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(!keys.exists(_.contains("w#")),
      s"window strings must never be shuffle keys: $keys")
  }

  test("PQ ADC plan: lookup table broadcasts, no cartesian product") {
    val plan = graft.ops.EmbeddingQueries
      .pqAdcTopK(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the m*k LUT must broadcast-HASH-join the codes scan (a degenerated " +
        s"BroadcastNestedLoopJoin is exactly the regression to catch):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"ADC must never plan a product join:\n$plan")
  }

  test("evaluator size joins: broadcast when small, shuffled when forced big") {
    import spark.implicits._
    val x = (1L to 100L).map(i => (i, i % 7)).toDF("member", "label")
    val y = (1L to 100L).map(i => (i, i % 5)).toDF("member", "label")

    // small dims → the optimizer (not a forced hint) picks broadcast joins
    val (scoredSmall, _, _) = Evaluator.contingency(x, y)
    val planSmall = scoredSmall.queryExecution.executedPlan.toString
    assert(planSmall.contains("BroadcastHashJoin"),
      s"expected AQE/CBO broadcast for tiny size dims in:\n$planSmall")

    // at scale the size dims can be 10^9+ labels: there must be no FORCED
    // broadcast — with broadcast disabled the plan must fall back to a
    // shuffled join rather than OOM the driver
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (scoredBig, _, _) = Evaluator.contingency(x, y)
      val planBig = scoredBig.queryExecution.executedPlan.toString
      assert(!planBig.contains("BroadcastHashJoin"),
        s"size-dim broadcast is forced (scale hazard) in:\n$planBig")
      assert(planBig.contains("SortMergeJoin") || planBig.contains("ShuffledHashJoin"),
        s"expected shuffled join fallback in:\n$planBig")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }

    val s = Evaluator.fscore(spark, x, y)
    assert(s.avg > 0.0 && s.avg <= 1.0)
  }
}
