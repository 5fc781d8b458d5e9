package graft.pipeline

import graft.SparkSpec
import graft.core.MinHashParams

import org.scalatest.funsuite.AnyFunSuite

class VertexSketchCacheSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val p = MinHashParams(numHashes = 1) // numHashes set per advance

  private def bandsSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

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

  test("band-prefix advance == from-scratch at every step") {
    // the pair log is canonical distinct pairs under their first-seen
    // band; each step's delta is a band-range read and the step is ONE
    // state commit
    val dir = java.nio.file.Files.createTempDirectory("graft-vcacheB").toString
    val cache = new VertexSketchCache(spark,
      new SnapshotCatalog(spark, dir), "t", p)
    val rng = new scala.util.Random(47)
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    val log = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var bands = 0
    var h = 2
    for (step <- 0 until 4) {
      val nb = 1 + step // growing band increments incl. multi-band catch-up
      for (b <- bands until bands + nb) {
        (0 until 12).foreach { _ =>
          val x = rng.nextLong() % 300
          val y = rng.nextLong() % 300
          if (x != y) {
            val cp = (math.min(x, y), math.max(x, y))
            if (!seen(cp)) { seen += cp; log += ((cp._1, cp._2, b)) }
          }
        }
      }
      bands += nb
      h += step // includes a no-new-hash step
      val table = log.toSeq.toDF("a", "b", "band")
      val got = bandsSet(cache.advanceByBandPrefix(table, bands, h))
      val want = bandsSet(VertexShingling.vertexBandRows(spark,
        log.toSeq.map(e => (e._1, e._2)).toDF("a", "b"),
        p.copy(numHashes = h)))
      assert(got == want, s"step $step (bands=$bands, h=$h) diverged")
    }
    assert(cache.storedHashes == h)
  }

  test("a reopened cache resumes from the committed state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vcache2").toString
    val cat = new SnapshotCatalog(spark, dir)
    // pair log: band 0 committed before the "restart", band 1 after
    val band0 = Seq((1L, 2L, 0), (2L, 3L, 0), (4L, 5L, 0))
    val band1 = Seq((3L, 4L, 1), (5L, 6L, 1))

    val c1 = new VertexSketchCache(spark, cat, "t", p)
    c1.advanceByBandPrefix(band0.toDF("a", "b", "band"), 1, 4)
    // "restart": a brand-new instance over the same catalog
    val c2 = new VertexSketchCache(spark, cat, "t", p)
    assert(c2.storedHashes == 4)
    val log = band0 ++ band1
    val got = bandsSet(c2.advanceByBandPrefix(
      log.toDF("a", "b", "band"), 2, 6))
    val want = bandsSet(VertexShingling.vertexBandRows(spark,
      log.map(e => (e._1, e._2)).toDF("a", "b"), p.copy(numHashes = 6)))
    assert(got == want)
  }
}
