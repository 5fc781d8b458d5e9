package graft.pipeline

import graft.SparkSpec
import graft.core.{FScore, NMI, UnionFind}

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the reference-coverage operators added in round 2:
  * S5 ground-truth TSV reader, P4 rename projection, A7 label-propagation
  * CC cross-check, A14 NMI, S7 METIS export.
  */
class CoverageOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def writeTsv(lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempFile("graft-gt", ".tsv")
    f.toFile.deleteOnExit()
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  // line format mirrors the Pfam layout the reference parses: member name
  // in column 0, cluster name in column 5 (`fvalue_evaluator.cpp:664-666`)
  private def line(seq: String, cluster: String): String =
    s"$seq\tx1\tx2\tx3\tx4\t$cluster"

  test("S5: wholeSeq ground truth — member sets, dups collapse, size filter") {
    val path = writeTsv(Seq(
      line("seqA", "PF1"), line("seqB", "PF1"), line("seqB", "PF1"),
      line("seqC", "PF2"), line("seqD", "PF2"), line("seqE", "PF2"),
      line("seqF", "PF3")))
    val got = GroundTruth.readTsv(spark, path, minClusterSize = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set("seqA" -> "PF1", "seqB" -> "PF1",
      "seqC" -> "PF2", "seqD" -> "PF2", "seqE" -> "PF2"))
  }

  test("S5: domain mode suffixes occurrences like the reference (`:664-668`)") {
    val path = writeTsv(Seq(
      line("seqA", "PF1"), line("seqA", "PF2"), line("seqB", "PF1")))
    val got = GroundTruth.readTsv(spark, path, wholeSeq = false)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set("/seqA_1" -> "PF1", "/seqA_2" -> "PF2",
      "/seqB_1" -> "PF1"))
  }

  test("S5 output feeds the evaluator: truth vs itself scores 1.0") {
    val path = writeTsv(Seq(
      line("a", "PF1"), line("b", "PF1"), line("c", "PF2")))
    val t = GroundTruth.readTsv(spark, path)
    val s = Evaluator.fscore(spark, t, t)
    assert(math.abs(s.avg - 1.0) < 1e-12)
  }

  test("P4: rename strips the domain suffix (`:1129-1135`)") {
    import org.apache.spark.sql.functions.col
    val got = Seq("/seqA_1", "/seqB_12", "plain").toDF("m")
      .select(GroundTruth.stripDomainSuffix(col("m")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("seqA", "seqB", "plain"))
  }

  test("A7: label propagation matches union-find and large/small-star") {
    val rng = new scala.util.Random(37)
    for (trial <- 0 until 3) {
      val n = 20 + rng.nextInt(40)
      val nodes = (0 until n).map(_ => rng.nextLong().abs % 10000).distinct
      val edges = (0 until rng.nextInt(2 * n)).map { _ =>
        (nodes(rng.nextInt(nodes.length)), nodes(rng.nextInt(nodes.length)))
      }
      val uf = new UnionFind
      nodes.foreach(uf.add)
      edges.foreach { case (a, b) => uf.union(a, b) }
      val want = uf.componentsByMinLabel()
      val got = LabelPropagation.run(spark,
        edges.toDF("a", "b"), nodes.toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial")
      val star = ConnectedComponents.run(spark,
        edges.toDF("a", "b"), nodes.toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == star, s"trial $trial cross-check")
    }
  }

  test("A14: NMI — identical = 1, independent < 1, spark == serial") {
    val am = (1L to 60L).map(i => i -> (i % 6)).toMap
    val bm = (1L to 60L).map(i => i -> (i % 4 + 100)).toMap
    assert(math.abs(NMI.score(am, am) - 1.0) < 1e-12)
    val mixed = NMI.score(am, bm)
    assert(mixed >= 0.0 && mixed < 1.0 + 1e-12)

    def df(m: Map[Long, Long]) = m.toSeq.toDF("member", "label")
    val sparkNmi = Evaluator.nmi(spark, df(am), df(bm))
    assert(math.abs(sparkNmi - mixed) < 1e-9, s"$sparkNmi vs $mixed")
    assert(math.abs(Evaluator.nmi(spark, df(am), df(am)) - 1.0) < 1e-9)
  }

  test("S7: METIS export writes header, adjacency, dictionary, edges") {
    withTempDir("graft-metis") { d =>
      val dir = java.nio.file.Paths.get(d)
      val f = dir.resolve("g.metis").toString
      // graph: 10-20, 10-30, isolated 40 → numbering 10->1, 20->2, 30->3, 40->4
      MetisExport.write(spark,
        Seq((10L, 20L), (30L, 10L), (10L, 20L)).toDF("a", "b"),
        Seq(10L, 20L, 30L, 40L).toDF("id"), f, edgeFile = true)
      val main = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8")
      assert(main == "4 2\n2 3\n1\n1\n\n", s"got:\n$main")
      val dict = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f + "_dictionary")), "UTF-8")
      assert(dict == "#1 10\n#2 20\n#3 30\n#4 40\n", s"got:\n$dict")
      val edges = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f + "_edges")), "UTF-8")
      assert(edges == "1 2\n1 3\n2 1\n3 1\n", s"got:\n$edges")
    }
  }

  test("S4: MRMPI-print cluster scan — labels, rename, dup-label, size filter") {
    // exact shape of `graph_formater.cpp:160-175` / read at
    // `fvalue_evaluator.cpp:827-872`
    val path = writeTsv(Seq(
      "KMV pair: proc 0, nvalues 3, sizes 9 4679, key @0, values /a_1 /b_1 /a_2",
      "KMV pair: proc 0, nvalues 1, sizes 9 4679, key @1, values /c_1",
      // duplicate label: the reference keeps the FIRST line's cluster
      "KMV pair: proc 0, nvalues 2, sizes 9 4679, key @1, values /d_1 /e_1"))
    val raw = ClusterFormats.readMrmpi(spark, path)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(raw == Set("/a_1" -> "@0", "/b_1" -> "@0", "/a_2" -> "@0",
      "/c_1" -> "@1"))
    val renamed = ClusterFormats.readMrmpi(spark, path, rename = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(renamed == Set("a" -> "@0", "b" -> "@0", "c" -> "@1"))
    // min_cluster_limit applies BEFORE the labels_set dedup
    // (fvalue_evaluator.cpp:855-866): label @1's first line renames to the
    // single member {c} (undersized, skipped), so the LATER @1 line {d, e}
    // is the one the reference keeps (ADVICE r05 #3)
    val filtered = ClusterFormats.readMrmpi(spark, path, minClusterSize = 2,
        rename = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(filtered == Set("a" -> "@0", "b" -> "@0",
      "d" -> "@1", "e" -> "@1"))
  }

  test("S6: pclust block scan — block ordinals, '>' strip, rename, tail block") {
    val path = writeTsv(Seq(
      "Cluster: 0",
      "0 >seqA_1",
      "1 >seqB_1",
      "Cluster: 1",
      "0 seqC",
      "1 >seqA_2")) // no trailing header: last block must still flush
    val raw = ClusterFormats.readPclust(spark, path)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(raw == Set("/seqA_1" -> "0", "/seqB_1" -> "0",
      "/seqC" -> "1", "/seqA_2" -> "1"))
    val renamed = ClusterFormats.readPclust(spark, path, rename = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(renamed == Set("seqA" -> "0", "seqB" -> "0",
      "seqC" -> "1", "seqA" -> "1"))
    // both legacy formats feed the evaluator directly: the same partition
    // under different label spaces scores 1.0
    val mr = writeTsv(Seq(
      "KMV pair: proc 0, nvalues 2, sizes 9 4679, key @7, values /seqA_1 /seqB_1",
      "KMV pair: proc 0, nvalues 2, sizes 9 4679, key @8, values /seqC /seqA_2"))
    val s = Evaluator.fscore(spark,
      ClusterFormats.readPclust(spark, path),
      ClusterFormats.readMrmpi(spark, mr))
    assert(math.abs(s.avg - 1.0) < 1e-12, s"got $s")
  }

  test("legacy scans fail loudly on corrupted files (never silent garbage)") {
    // MRMPI: an interleaved diagnostic line is not the KMV shape — both
    // the short form and a >= 12-token impostor must raise
    val badMr = writeTsv(Seq(
      "KMV pair: proc 0, nvalues 1, sizes 9 4679, key @0, values /a_1",
      "MR-MPI summary: whatever"))
    val e1 = intercept[Exception] {
      ClusterFormats.readMrmpi(spark, badMr).collect()
    }
    assert(e1.getMessage != null)
    val badMr2 = writeTsv(Seq(
      "MR-MPI memory usage: a b c d e f g h i j k l m n o p"))
    intercept[Exception] {
      ClusterFormats.readMrmpi(spark, badMr2).collect()
    }
    // pclust: a member line with no name token
    val badPc = writeTsv(Seq("Cluster: 0", "0"))
    val e2 = intercept[Exception] {
      ClusterFormats.readPclust(spark, badPc).collect()
    }
    assert(e2.getMessage != null)
  }

  test("community return bridge: export → external tool file → evaluator") {
    // the reference's nocc→Louvain loop: METIS out, community file BACK
    // (`graph_formater.cpp:118-158`) — round-trip through our export
    withTempDir("graft-comm") { d =>
      val dir = java.nio.file.Paths.get(d)
      val f = dir.resolve("g.metis").toString
      MetisExport.write(spark,
        Seq((10L, 20L), (30L, 10L)).toDF("a", "b"),
        Seq(10L, 20L, 30L, 40L).toDF("id"), f)
      // a Louvain-style tool writes one community id per dictionary line:
      // vertices #1,#2 → community 0, #3 → 1, #4 → 2
      java.nio.file.Files.write(dir.resolve("g.communities"),
        "0\n0\n1\n2\n".getBytes("UTF-8"))
      val assigned = CommunityImport.readChecked(spark,
        dir.resolve("g.communities").toString, f + "_dictionary")
      val got = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(10L -> 0L, 20L -> 0L, 30L -> 1L, 40L -> 2L))
      // loop closed: the imported assignments ARE an evaluator side — the
      // same partition under different labels scores exactly 1.0
      val truth = Seq((10L, 7L), (20L, 7L), (30L, 8L), (40L, 9L))
        .toDF("member", "label")
      val s = Evaluator.fscore(spark, assigned, truth)
      assert(math.abs(s.avg - 1.0) < 1e-12)
      // a truncated community file (tool crashed mid-write) fails loudly
      java.nio.file.Files.write(dir.resolve("bad.communities"),
        "0\n0\n1\n".getBytes("UTF-8"))
      intercept[IllegalArgumentException] {
        CommunityImport.readChecked(spark,
          dir.resolve("bad.communities").toString, f + "_dictionary")
      }
      // ...and so does the OTHER direction: a community file LONGER than the
      // dictionary (stale dictionary) — the inner join would silently drop
      // the extra assignments
      java.nio.file.Files.write(dir.resolve("long.communities"),
        "0\n0\n1\n2\n3\n5\n".getBytes("UTF-8"))
      intercept[IllegalArgumentException] {
        CommunityImport.readChecked(spark,
          dir.resolve("long.communities").toString, f + "_dictionary")
      }
    }
  }

  test("evaluator top-k cap == serial oracle capped (`fvalue_evaluator.cpp:771-800`)") {
    val rng = new scala.util.Random(91)
    val x = (1L to 120L).map(i => i -> (i % 9)).toMap
    val y = (1L to 120L).map(i => i -> (rng.nextInt(5).toLong + 100L)).toMap
    def df(m: Map[Long, Long]) = m.toSeq.toDF("member", "label")
    // the reference keeps only the N largest clusters of the read side;
    // tie-break by ascending label mirrors Evaluator.keepLargest
    def cap(m: Map[Long, Long], k: Int): Map[Long, Long] = {
      val top = m.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (l, n) => (-n, l) }.take(k).map(_._1).toSet
      m.filter { case (_, l) => top(l) }
    }
    for (k <- Seq(1, 3, 9)) {
      val want = FScore.score(cap(x, k), y)._3
      val got = Evaluator.fscore(spark, df(x), df(y), topKx = Some(k)).avg
      assert(math.abs(got - want) < 1e-12, s"k=$k: $got vs $want")
      val want2 = FScore.score(cap(x, k), cap(y, 2))._3
      val got2 = Evaluator.fscore(spark, df(x), df(y),
        topKx = Some(k), topKy = Some(2)).avg
      assert(math.abs(got2 - want2) < 1e-12, s"k=$k both sides")
    }
    // k >= cluster count is the uncapped score
    assert(math.abs(Evaluator.fscore(spark, df(x), df(y),
      topKx = Some(99)).avg - FScore.score(x, y)._3) < 1e-12)
  }
}
