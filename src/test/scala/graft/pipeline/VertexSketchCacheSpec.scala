package graft.pipeline

import graft.SparkSpec
import graft.core.MinHashParams

import org.scalatest.funsuite.AnyFunSuite

class VertexSketchCacheSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val p = MinHashParams(numHashes = 1) // numHashes set per advance

  private def bandsSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** A pair log as the sweep keeps it: canonical distinct random pairs
    * under their first-seen band, `perBand` draws for each band in
    * `[from, until)`.
    */
  private final class PairLog(seed: Int) {
    private val rng = new scala.util.Random(seed)
    private val seen = scala.collection.mutable.Set.empty[(Long, Long)]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    def grow(from: Int, until: Int, perBand: Int = 12): Unit =
      for (b <- from until until; _ <- 0 until perBand) {
        val x = rng.nextLong() % 300
        val y = rng.nextLong() % 300
        val cp = (math.min(x, y), math.max(x, y))
        if (x != y && seen.add(cp)) rows += ((cp._1, cp._2, b))
      }
    def table = rows.toSeq.toDF("a", "b", "band")
    /** The one-shot vertex round over the prefix `band < h`. */
    def fromScratch(h: Int) = bandsSet(VertexShingling.vertexBandRows(spark,
      rows.toSeq.filter(_._3 < h).map(e => (e._1, e._2)).toDF("a", "b"),
      p.copy(numHashes = h)))
  }

  test("mergeMinima keeps the c smallest per block, duplicates included") {
    val a = Array(1L, 5L, 10L, 20L)
    val b = Array(2L, 5L, 9L, 40L)
    assert(VertexSketchCache.mergeMinima(a, b, 2).toSeq == Seq(1L, 2L, 9L, 10L))
    assert(VertexSketchCache.mergeMinima(null, b, 2).toSeq == b.toSeq)
    assert(VertexSketchCache.mergeMinima(a, null, 2).toSeq == a.toSeq)
    // duplicates kept (multiset semantics)
    assert(VertexSketchCache.mergeMinima(Array(3L, 3L), Array(3L, 7L), 2)
      .toSeq == Seq(3L, 3L))
  }

  test("advance to h == from-scratch at every step") {
    // each step's delta is the band range [prevH, h) and the step is ONE
    // state commit; steps of +1 and one multi-hash catch-up
    withTempDir("graft-vcacheB") { dir =>
      val cat = new SnapshotCatalog(spark, dir)
      val cache = new VertexSketchCache(spark, cat, "t", p)
      val log = new PairLog(47)
      var h = 0
      for ((next, step) <- Seq(2, 3, 4, 7, 8).zipWithIndex) {
        log.grow(h, next)
        h = next
        val got = bandsSet(cache.advance(log.table, h))
        assert(got == log.fromScratch(h), s"step $step (h=$h) diverged")
        assert(cache.storedHashes == h && cat.currentVersion("t_state") == step + 1)
      }
    }
  }

  test("a reopened cache resumes from the committed state") {
    withTempDir("graft-vcache2") { dir =>
      val cat = new SnapshotCatalog(spark, dir)
      // pair log: bands 0..3 committed before the "restart", 4..5 after
      val log = new PairLog(53)
      log.grow(0, 4, perBand = 5)
      new VertexSketchCache(spark, cat, "t", p).advance(log.table, 4)
      // "restart": a brand-new instance over the same catalog
      val c2 = new VertexSketchCache(spark, cat, "t", p)
      assert(c2.storedHashes == 4)
      log.grow(4, 6, perBand = 5)
      assert(bandsSet(c2.advance(log.table, 6)) == log.fromScratch(6))
    }
  }

  test("advancing to the committed h commits nothing; a lower h fails") {
    withTempDir("graft-vcache3") { dir =>
      val cat = new SnapshotCatalog(spark, dir)
      val cache = new VertexSketchCache(spark, cat, "t", p)
      val log = new PairLog(59)
      log.grow(0, 3)
      val first = bandsSet(cache.advance(log.table, 3))
      assert(cat.currentVersion("t_state") == 1)
      // a later band in the table must not leak into the committed step
      log.grow(3, 4)
      assert(bandsSet(cache.advance(log.table, 3)) == first)
      assert(cat.currentVersion("t_state") == 1, "a repeated h committed")
      intercept[IllegalArgumentException](cache.advance(log.table, 2))
    }
  }

  test("a step is one sorted cogroup: two node exchanges, no join, no UDF") {
    withTempDir("graft-vcache4") { dir =>
      val cache = new VertexSketchCache(spark,
        new SnapshotCatalog(spark, dir), "t", p)
      val log = new PairLog(61)
      log.grow(0, 3)
      cache.advance(log.table, 2)
      // the returned band rows are lazy: the only action is the commit
      val plans = executedPlans { cache.advance(log.table, 3): Unit }
      assert(plans.size == 1, s"one state commit expected:\n$plans")
      // an adaptive plan prints its final plan first, then the initial one
      val plan = plans.head.split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning\\(u#".r.findAllMatchIn(plan).size
      assert(exchanges == 2 && "Exchange ".r.findAllMatchIn(plan).size == 2,
        s"two exchanges, both on u, expected in:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("UDF"),
        s"no join and no UDF expected in:\n$plan")
    }
  }
}
