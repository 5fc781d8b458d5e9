package graft.pipeline

import graft.SparkSpec
import graft.core.{MinHasher, MinHashParams}

import org.scalatest.funsuite.AnyFunSuite

class HashSweepSpec extends AnyFunSuite with SparkSpec {

  test("bandsInRange matches full bands on every sub-range (I1 exactness)") {
    val p = MinHashParams(kmerLen = 6, bandWidth = 2, numHashes = 12)
    val hasher = new MinHasher(p)
    val rng = new scala.util.Random(29)
    for (_ <- 0 until 40) {
      val t = (0 until rng.nextInt(150))
        .map(_ => ('A' + rng.nextInt(26)).toChar).mkString
      val full = hasher.bands(t)
      for (from <- 0 to 12; until <- from to 12) {
        val part = hasher.bandsInRange(t, from, until)
        val want = if (full.isEmpty) Seq.empty else full.slice(from, until).toSeq
        assert(part.toSeq == want, s"range [$from,$until) t=$t")
      }
    }
  }

  test("sweep: incremental append equals from-scratch clustering per step") {
    withTempDir("graft-sweep") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      val result = HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 6, delta = 4, maxHashes = 9, threshold = 0.95)
      assert(result.steps.nonEmpty)
      // convergence is monotone-ish on this corpus; final step must have run
      // with the last h and produced a full assignment
      val n = result.assignments.count()
      assert(n == pages.count())

      // cross-check the last step against a from-scratch pipeline at same h
      val lastH = result.steps.last.numHashes
      val docs = DedupPipeline.extractDocs(pages)
      val bands = DedupPipeline.signatures(spark, docs,
        MinHashParams(numHashes = lastH))
      val (pairs, _) = DedupPipeline.candidatePairs(spark, bands, Int.MaxValue)
      val want = ConnectedComponents.run(spark, pairs, docs.select("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = result.assignments.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, "incremental sweep diverged from from-scratch run")
    }
  }

  test("sweep with shinglingIterations=2: incremental vertex cache == from-scratch") {
    withTempDir("graft-sweep-v") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      val result = HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 8, threshold = 2.0, // sweep all
        shinglingIterations = 2)
      assert(result.steps.map(_.numHashes) == Seq(5, 6, 7, 8))

      // from-scratch at the last h: kmer pairs + one full vertex round
      val lastH = result.steps.last.numHashes
      val params = MinHashParams(numHashes = lastH)
      val docs = DedupPipeline.extractDocs(pages)
      val bands = DedupPipeline.signatures(spark, docs, params)
      val (kmerPairs, _) = DedupPipeline.candidatePairs(spark, bands, Int.MaxValue)
      val all = VertexShingling.densify(spark, kmerPairs, params)
      val want = ConnectedComponents.run(spark, all, docs.select("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = result.assignments.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, "incremental vertex round diverged from from-scratch")
    }
  }

  test("killed-and-restarted sweep reuses the band prefix without duplicates") {
    import org.apache.spark.sql.functions._
    withTempDir("graft-sweep3") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      // first run materializes bands 0..6
      HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 7, threshold = 2.0)
      val cat = new SnapshotCatalog(spark, dir)
      def perBand() = cat.readLatest("bands").get.groupBy("band")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val before = perBand()
      assert(before.keySet == (0 until 7).toSet)
      val versions = Seq("bands", "pairs").map(cat.currentVersion)
      // "restart": a new run over the same bandDir must find the committed
      // band 0..6 prefix and commit NOTHING for those indices
      HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 7, threshold = 2.0)
      assert(Seq("bands", "pairs").map(cat.currentVersion) == versions,
        "restart committed a new band or pair snapshot")
      assert(perBand() == before, "restart duplicated band rows")
      assert(!new java.io.File(s"$dir.pairs").exists() &&
        !new java.io.File(s"$dir.vertex").exists(),
        "every sweep table lives in the one bandDir warehouse")
    }
  }

  test("incremental pair table: uncommitted partition dropped + re-derived") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    withTempDir("graft-sweep-pc") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      def assignments() =
        HashSweep.run(spark, pages, bandDir = dir,
          startHashes = 5, delta = 3, maxHashes = 7, threshold = 2.0)
          .assignments.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = assignments()
      val cat = new SnapshotCatalog(spark, dir)
      def rows(t: String) = cat.readLatest(t).get.collect().map(_.toSeq).toSet
      val (bands, pairs) = (rows("bands"), rows("pairs"))
      def meta(t: String) = Paths.get(dir, t, "metadata")
      def setHint(t: String, v: Int) = Files.write(
        meta(t).resolve("version-hint.text"), v.toString.getBytes("UTF-8"))
      def check(what: String): Unit = {
        assert(assignments() == want, s"restart after $what diverged")
        assert(rows("bands") == bands && rows("pairs") == pairs,
          s"restart after $what left different bands / pairs")
        // the pair table is DISTINCT by construction: no (a, b) appears
        // under two bands
        assert(cat.readLatest("pairs").get.groupBy("a", "b")
          .agg(count(lit(1)).as("n")).where(col("n") > 1).count() == 0,
          s"pair stored under two bands after $what")
      }
      // kill point 1 — data files written, manifest never published: the
      // last step's band-6 append is a torn write whose files stay behind,
      // invisible, and is re-derived on restart. First the pair append alone
      // (its band append had committed), then both.
      def tear(t: String): Unit = {
        val v = cat.currentVersion(t)
        Files.delete(meta(t).resolve(s"v$v.metadata.json"))
        setHint(t, v - 1)
      }
      tear("pairs")
      assert(cat.readLatest("pairs").get.where(col("band") === 6).count() == 0)
      check("a torn pair append")
      tear("pairs"); tear("bands")
      assert(cat.readLatest("bands").get.where(col("band") === 6).count() == 0)
      check("torn band and pair appends")
      // kill point 2 — manifest published, hint swap lost: the append IS
      // committed; the restart rolls forward and commits nothing new
      val versions = Seq("bands", "pairs").map(cat.currentVersion)
      Seq("bands", "pairs").foreach(t => setHint(t, cat.currentVersion(t) - 1))
      check("lost hint swaps")
      assert(Seq("bands", "pairs").map(cat.currentVersion) == versions,
        "a published append was re-derived instead of rolled forward")
    }
  }

  test("restarted sweep with shinglingIterations=2 resumes at the cached step") {
    withTempDir("graft-sweep-vr") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      val first = HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 7, threshold = 2.0,
        shinglingIterations = 2)
      assert(first.steps.map(_.numHashes) == Seq(5, 6, 7))
      val cat = new SnapshotCatalog(spark, dir)
      val caches = Seq("test_state", "base_state")
      val versions = caches.map(cat.currentVersion)
      // "restart": same bandDir, same startHashes — the vertex caches sit at
      // h=7 (test) / h=4 (base); re-entering the loop at h=5 used to crash on
      // the cache's monotonicity require. It must instead resume AT the last
      // committed test step and reproduce its assignment exactly.
      val second = HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 7, threshold = 2.0,
        shinglingIterations = 2)
      assert(second.steps.map(_.numHashes) == Seq(7),
        "restart must resume at the cached hash count, not re-sweep from 5")
      // both caches already sit at the step's hash counts: nothing to commit
      assert(caches.map(cat.currentVersion) == versions,
        "restart committed a new vertex-cache state")
      val got = second.assignments.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = first.assignments.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
  }

  test("sweep pair generation is salted: lossless on skew + salted plan shape") {
    import org.apache.spark.sql.functions._
    withTempDir("graft-sweep-skew") { dir =>
      val pages = Pages.toDS(spark, PagesGen.skew(hot = 80, background = 100)).toDF()
      // salted sweep == unsalted sweep (lossless), on a corpus with a genuine
      // hot band at saltBlockSize = 16
      val salted = HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 6, threshold = 2.0,
        saltBlockSize = 16, saltDetectFraction = 1.0)
      withTempDir("graft-sweep-skew2") { dir2 =>
        val unsalted = HashSweep.run(spark, pages, bandDir = dir2,
          startHashes = 5, delta = 3, maxHashes = 6, threshold = 2.0,
          saltBlockSize = Int.MaxValue)
        assert(salted.assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          == unsalted.assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

        // and the same first-seen band per pair
        def pairTable(d: String) = new SnapshotCatalog(spark, d).readLatest("pairs")
          .get.collect().map(_.toSeq).toSet
        assert(pairTable(dir) == pairTable(dir2))

        // the sweep's pair generation for the bulk seed AND a one-band
        // increment (appendPairs before its anti-join against the committed
        // table) must carry the salted-plan shape: hot-key joins broadcast,
        // band rows never sort-merged against hot keys
        val bands = new SnapshotCatalog(spark, dir).readLatest("bands").get
        for (range <- Seq(col("band") < 5, col("band") === 5)) {
          val rows = bands.where(range)
          val sized = rows.groupBy("band", "key").agg(count(lit(1)).as("n"))
          assert(sized.where(col("n") > 16).count() > 0,
            s"fixture must produce a hot bucket in $range")
          val (tagged, _) = DedupPipeline.bandTaggedPairs(spark, rows,
            Int.MaxValue, saltBlockSize = 16, saltDetectFraction = 1.0)
          val plan = tagged.groupBy("a", "b").agg(min("band"))
            .queryExecution.executedPlan.toString
          assert(plan.contains("BroadcastHashJoin"),
            s"sweep pair stage must broadcast hot keys in:\n$plan")
          assert(!plan.contains("SortMergeJoin"),
            s"sweep band rows must not sort-merge against hot keys in:\n$plan")
        }
      }
    }
  }

  test("restarting a sweep with a different hash family fails loudly") {
    withTempDir("graft-sweep-fp") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 5, threshold = 2.0)
      // same params: restart is fine (covered above); different kmerLen: the
      // existing band rows were computed in a different sketch space
      val ex = intercept[IllegalStateException] {
        HashSweep.run(spark, pages, bandDir = dir,
          startHashes = 5, delta = 3, maxHashes = 5, threshold = 2.0,
          baseParams = graft.core.MinHashParams(kmerLen = 5, numHashes = 1))
      }
      assert(ex.getMessage.contains("different hash family"))
      // every table carries the fingerprint: cleaning only the band table
      // must not unlock the pair table computed under the old family
      graft.tools.Fs.rmRf(new java.io.File(dir, "bands"))
      val ex2 = intercept[IllegalStateException] {
        HashSweep.run(spark, pages, bandDir = dir,
          startHashes = 5, delta = 3, maxHashes = 5, threshold = 2.0,
          baseParams = graft.core.MinHashParams(kmerLen = 5, numHashes = 1))
      }
      assert(ex2.getMessage.contains("different hash family"))
      assert(ex2.getMessage.contains("pairs"))
    }
  }

  test("a bandDir in the older partitioned layout fails loudly") {
    val pages = Pages.toDS(spark, PagesGen.micro).toDF()
    for (entry <- Seq("band=0", ".params-fingerprint")) {
      withTempDir("graft-sweep-old") { d =>
        val dir = java.nio.file.Paths.get(d)
        val f = dir.resolve(entry).toFile
        if (entry.startsWith("band=")) f.mkdirs() else f.createNewFile()
        val ex = intercept[IllegalStateException] {
          HashSweep.run(spark, pages, bandDir = dir.toString,
            startHashes = 5, delta = 3, maxHashes = 5, threshold = 2.0)
        }
        assert(ex.getMessage.contains(entry))
        assert(!dir.resolve("bands").toFile.exists(), "old layout was adopted")
      }
    }
  }

  test("startHashes > maxHashes fails loudly") {
    withTempDir("graft-sweep4") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      intercept[IllegalArgumentException] {
        HashSweep.run(spark, pages, bandDir = dir,
          startHashes = 9, delta = 3, maxHashes = 7)
      }
    }
  }

  test("sweep records increasing hash counts and stops at threshold or max") {
    withTempDir("graft-sweep2") { dir =>
      val pages = Pages.toDS(spark, PagesGen.micro).toDF()
      val r = HashSweep.run(spark, pages, bandDir = dir,
        startHashes = 5, delta = 3, maxHashes = 7, threshold = 2.0) // unreachable
      assert(!r.converged)
      assert(r.steps.map(_.numHashes) == Seq(5, 6, 7))
      assert(r.steps.forall(s => s.fscore >= 0.0 && s.fscore <= 1.0))
    }
  }
}
