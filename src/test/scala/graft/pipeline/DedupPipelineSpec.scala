package graft.pipeline

import graft.SparkSpec
import graft.core.{MinHashParams, SerialOracle}

import org.scalatest.funsuite.AnyFunSuite

class DedupPipelineSpec extends AnyFunSuite with SparkSpec {

  private val p8 = MinHashParams(kmerLen = 6, bandWidth = 2, numHashes = 8)

  /** Run pipeline + oracle on the same corpus; compare pairs and clusters.
    * Ids in the oracle are xxhash64(url) to match [[DedupPipeline.extractDocs]].
    */
  private def compare(pages: Seq[Page], cfg: DedupConfig): Unit = {
    val df = Pages.toDS(spark, pages).toDF()
    val docs = DedupPipeline.extractDocs(df)
    val idOf = docs.select("url", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idOf.size == pages.size, "url hash collision in fixture")

    val oracleDocs = pages.map(pg => idOf(pg.url) -> pg.text)
    val want = SerialOracle.run(oracleDocs, cfg.params, cfg.jaccardThreshold)

    val bandRows = DedupPipeline.signatures(spark, docs, cfg.params)
    val (rawPairs, _) = DedupPipeline.candidatePairs(spark, bandRows,
      cfg.maxBucketSize, saltBlockSize = cfg.saltBlockSize)
    val (pairs, cleanup) = DedupPipeline.verifyPairsManaged(spark, rawPairs,
      docs, cfg.params, cfg.jaccardThreshold)
    val gotPairs = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cleanup()
    assert(gotPairs == want.pairs, "candidate pairs differ from oracle")

    val clusters = DedupPipeline.run(spark, df, cfg)
    val gotClusters = clusters.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(gotClusters == want.clusters, "cluster assignments differ from oracle")
  }

  test("micro corpus: pipeline == serial oracle (pairs + clusters)") {
    compare(PagesGen.micro, DedupConfig(params = p8))
  }

  test("edge corpus: gates, multiset dups, identical texts") {
    compare(PagesGen.edge(), DedupConfig(params = p8))
  }

  test("small corpus (1000 docs): pipeline == oracle, with jaccard verify") {
    compare(PagesGen.small, DedupConfig(params = p8, jaccardThreshold = 0.5))
    // a non-default hash family: shuffled randoms and another prime
    val shuffled = new scala.util.Random(11)
      .shuffle(graft.core.HashRandoms.default.toSeq).toArray
    compare(PagesGen.small, DedupConfig(jaccardThreshold = 0.5,
      params = p8.copy(prime = 1000000007L, randoms = shuffled)))
  }

  test("text extraction reproduces the text column byte-identically") {
    (PagesGen.micro ++ PagesGen.edge() ++ PagesGen.small).foreach { pg =>
      assert(Pages.extractText(pg.html) == pg.text, pg.url)
    }
  }

  test("dup-pair recall >= 0.99 on planted near-duplicate groups") {
    val pages = PagesGen.small
    val cfg = DedupConfig(params = MinHashParams(numHashes = 16))
    val clusters = DedupPipeline.run(spark, Pages.toDS(spark, pages).toDF(), cfg)
    val label = clusters.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Long]("cluster")).toMap
    // planted truth: same site{g} prefix = same group
    def group(url: String): String = url.split("/")(2)
    val byGroup = pages.groupBy(pg => group(pg.url)).filter(_._2.size > 1)
    val planted = byGroup.values.flatMap { ps =>
      for (i <- ps.indices; j <- i + 1 until ps.size)
        yield (ps(i).url, ps(j).url)
    }.toSeq
    val recalled = planted.count { case (u1, u2) => label(u1) == label(u2) }
    val recall = recalled.toDouble / planted.size
    assert(recall >= 0.99, s"recall $recall over ${planted.size} planted pairs")
  }

  test("hot-bucket cap drops pairs but keeps metrics; uncapped matches reference") {
    val pages = PagesGen.skew(hot = 60, background = 200)
    val df = Pages.toDS(spark, pages).toDF()
    val docs = DedupPipeline.extractDocs(df)
    val bandRows = DedupPipeline.signatures(spark, docs, p8)
    val (unCapped, hot0) = DedupPipeline.candidatePairs(spark, bandRows, Int.MaxValue)
    val (capped, hot) = DedupPipeline.candidatePairs(spark, bandRows, 30)
    assert(hot0.isEmpty)
    assert(hot.count() > 0, "expected hot buckets above the cap")
    assert(capped.count() < unCapped.count())
    // exact capped semantics, computed serially: every bucket of at most 30
    // members emits all its canonical pairs, larger buckets emit none
    val want = bandRows.collect()
      .groupBy(r => (r.getAs[Int]("band"), r.getAs[Long]("key")))
      .values.filter(_.length <= 30)
      .map(_.map(_.getAs[Long]("id")).distinct.sorted)
      .flatMap(ids => ids.combinations(2).map(c => (c(0), c(1))))
      .toSet
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want)
  }

  test("salted hot-band pairs are LOSSLESS and spread over multiple groups") {
    import org.apache.spark.sql.functions._
    val pages = PagesGen.skew(hot = 120, background = 200)
    val df = Pages.toDS(spark, pages).toDF()
    val docs = DedupPipeline.extractDocs(df)
    val bandRows = DedupPipeline.signatures(spark, docs, p8)
      .persist()
    val (unCapped, _) =
      DedupPipeline.candidatePairs(spark, bandRows, Int.MaxValue)
    val (salted, dropped) = DedupPipeline.candidatePairs(spark, bandRows,
      Int.MaxValue, saltBlockSize = 16)
    assert(dropped.isEmpty, "salting must not drop anything")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(salted) == pairSet(unCapped),
      "salted pair set must equal the uncapped oracle exactly")

    // the hot bucket must decompose into >1 salted group with bounded
    // membership, i.e. its n^2 emission spans multiple independent tasks
    val sized = bandRows.groupBy("band", "key").agg(count(lit(1)).as("n"))
    val hotKeys = sized.where(col("n") > 16)
      .select(col("band"), col("key"),
        ceil(col("n") / lit(16.0)).cast("int").as("nblocks"))
    assert(hotKeys.count() > 0, "fixture must actually produce hot buckets")
    val hotRows = bandRows.join(hotKeys, Seq("band", "key"))
    val groups = DedupPipeline.saltedGroups(spark, hotRows)
      .groupBy("band", "key", "gi", "gj").agg(count(lit(1)).as("m"))
      .persist()
    val perBucket = groups.groupBy("band", "key")
      .agg(count(lit(1)).as("ngroups"), max(col("m")).as("maxm"))
      .collect()
    assert(perBucket.forall(_.getLong(2) > 1),
      "every hot bucket must span > 1 salted group")
    val bucketN = sized.where(col("n") > 16).agg(max(col("n"))).head().getLong(0)
    assert(perBucket.forall(_.getLong(3) < bucketN),
      "no salted group may hold the whole hot bucket")
    groups.unpersist()
    bandRows.unpersist()
  }

  test("pipeline with salting == oracle on the skew corpus (exact + sampled)") {
    // exact detection — the salted path definitely engages
    compare(PagesGen.skew(hot = 80, background = 150),
      DedupConfig(params = p8, saltBlockSize = 16, saltDetectFraction = 1.0))
    // sampled detection — either error mode must still be lossless
    compare(PagesGen.skew(hot = 80, background = 150),
      DedupConfig(params = p8, saltBlockSize = 16, saltDetectFraction = 0.3))
  }

  test("resume: stage outputs are reused and final result is identical") {
    withTempDir("graft-resume") { dir =>
      val pages = PagesGen.micro
      val df = Pages.toDS(spark, pages).toDF()
      val cfg = DedupConfig(params = p8, outputDir = Some(dir))
      val first = DedupPipeline.run(spark, df, cfg).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap

      // wipe the final stage table only (recursively — it is a snapshot
      // table: data/ + metadata/); resume must rebuild it from earlier stages
      graft.tools.Fs.rmRf(new java.io.File(s"$dir/clusters"))
      // a middle stage killed after its manifest publish, before its first
      // hint write: the manifest is the commit point, so it resumes as is
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        dir, "pairs_raw", "metadata", "version-hint.text"))
      val resumed = DedupPipeline.run(spark, spark.emptyDataFrame, cfg).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      assert(resumed == first)
      assert(new SnapshotCatalog(spark, dir).currentVersion("pairs_raw") == 1,
        "a published pairs_raw snapshot must be reused, not recomputed")

      val metrics = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/metrics.jsonl")), "UTF-8")
      assert(metrics.contains("\"stage\":\"clusters\""))
    }
  }

  test("resume with a CHANGED config recomputes instead of returning stale stages") {
    withTempDir("graft-refp") { dir =>
      val df = Pages.toDS(spark, PagesGen.micro).toDF()
      val cfg8 = DedupConfig(params = p8, outputDir = Some(dir))
      DedupPipeline.run(spark, df, cfg8).collect()

      // same outputDir, different numHashes: every stage must recompute — the
      // result must equal a FRESH run with the new config, not the stale h=8
      // snapshots
      val p16 = MinHashParams(numHashes = 16)
      val cfg16 = DedupConfig(params = p16, outputDir = Some(dir))
      val got = DedupPipeline.run(spark, df, cfg16).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      val want = DedupPipeline.run(spark, df,
          DedupConfig(params = p16)).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      assert(got == want, "changed config must not resume stale snapshots")
      // the recompute is a NEW snapshot version; the h=8 output stays
      // readable (time travel), it is just no longer current
      val cat = new SnapshotCatalog(spark, dir)
      assert(cat.currentVersion("signatures") == 2)

      // …and an UNCHANGED config still resumes (no third version)
      DedupPipeline.run(spark, spark.emptyDataFrame, cfg16).collect()
      assert(cat.currentVersion("signatures") == 2,
        "same-config resume must reuse the committed snapshot")
    }
  }

  test("evaluator: spark fscore == serial fscore on pipeline output") {
    import spark.implicits._
    val pages = PagesGen.micro
    val cfgA = DedupConfig(params = MinHashParams(numHashes = 8))
    val cfgB = DedupConfig(params = MinHashParams(numHashes = 16))
    val df = Pages.toDS(spark, pages).toDF()
    val a = DedupPipeline.run(spark, df, cfgA)
      .select($"id".as("member"), $"cluster".as("label"))
    val b = DedupPipeline.run(spark, df, cfgB)
      .select($"id".as("member"), $"cluster".as("label"))
    val got = Evaluator.fscore(spark, a, b)
    val am = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bm = b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (fx, fy, avg) = graft.core.FScore.score(am, bm)
    assert(math.abs(got.fX - fx) < 1e-12)
    assert(math.abs(got.fY - fy) < 1e-12)
    assert(math.abs(got.avg - avg) < 1e-12)
  }
}
