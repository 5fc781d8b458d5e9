package graft.pipeline

import graft.SparkSpec

import org.scalatest.funsuite.AnyFunSuite

/** The Iceberg-contract checks for the snapshot StageIO: atomic versioned
  * commits, time travel, append semantics, per-file lineage metrics,
  * optimistic-concurrency conflict on a duplicated version, and both kill
  * points of a commit.
  */
class SnapshotCatalogSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def withCat[T](body: (SnapshotCatalog, String) => T): T =
    withTempDir("graft-cat") { dir => body(new SnapshotCatalog(spark, dir), dir) }

  test("commit then readLatest round-trips; version advances") {
    withCat { (cat, _) =>
      assert(!cat.exists("t"))
      val s1 = cat.commit("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      assert(s1.version == 1 && s1.rows == 2)
      assert(cat.currentVersion("t") == 1)
      val got = cat.readLatest("t").get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b")))
    }
  }

  test("time travel: overwrite commits keep earlier snapshots readable") {
    withCat { (cat, _) =>
      cat.commit("t", Seq(1L, 2L).toDF("id"))
      cat.commit("t", Seq(10L, 20L, 30L).toDF("id"))
      assert(cat.currentVersion("t") == 2)
      assert(cat.read("t", 1).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      assert(cat.read("t", 2).collect().map(_.getLong(0)).toSet ==
        Set(10L, 20L, 30L))
      assert(cat.readLatest("t").get.count() == 3)
      assert(cat.snapshots("t").map(_.version) == Seq(1, 2))
    }
  }

  test("append commits union the parent's files (fast-append)") {
    withCat { (cat, _) =>
      val s1 = cat.commit("t", Seq(1L, 2L).toDF("id"))
      val s2 = cat.commit("t", Seq(3L).toDF("id"), operation = "append")
      assert(s2.parent == 1 && s2.rows == 3)
      assert(s2.files.map(_.path).toSet.intersect(
        s1.files.map(_.path).toSet) == s1.files.map(_.path).toSet,
        "append must carry the parent's data files")
      assert(cat.readLatest("t").get.collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
      assert(cat.read("t", 1).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    }
  }

  test("snapshot properties round-trip through the manifest") {
    withCat { (cat, _) =>
      val s1 = cat.commit("t", Seq(1L).toDF("id"),
        properties = Map("config-fingerprint" -> "abc123", "h" -> "7"))
      assert(s1.properties == Map("config-fingerprint" -> "abc123", "h" -> "7"))
      val reread = cat.snapshot("t", 1)
      assert(reread.properties == s1.properties)
      // a later commit without properties doesn't inherit them
      cat.commit("t", Seq(2L).toDF("id"))
      assert(cat.snapshot("t", 2).properties.isEmpty)
    }
  }

  test("zero-data-file snapshot reads back as a TYPED empty DataFrame") {
    withCat { (cat, _) =>
      val empty = Seq.empty[(Long, String)].toDF("id", "v")
        .where(org.apache.spark.sql.functions.lit(false))
      cat.commit("t", empty)
      val got = cat.readLatest("t").get
      // downstream column selects must keep working on the manifest schema
      assert(got.select("id", "v").count() == 0)
      assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    }
  }

  test("manifest carries per-file lineage metrics that sum to the total") {
    withCat { (cat, _) =>
      val df = spark.range(0, 1000, 1, 4).toDF("id") // 4 partitions → 4 files
      val s = cat.commit("t", df)
      assert(s.files.size >= 2, "expected multiple data files")
      assert(s.files.map(_.rows).sum == 1000)
      assert(s.files.forall(f => f.rows > 0 && f.bytes > 0))
      // re-parse from disk — the manifest itself, not the in-memory object
      val reread = cat.snapshot("t", s.version)
      assert(reread.files == s.files && reread.operation == "overwrite")
    }
  }

  test("expireSnapshots keeps survivors readable and deletes orphans") {
    withCat { (cat, dir) =>
      cat.commit("t", Seq(1L, 2L).toDF("id"))
      cat.commit("t", Seq(3L).toDF("id"), operation = "append") // shares v1 files
      cat.commit("t", Seq(10L, 20L).toDF("id")) // overwrite
      cat.expireSnapshots("t", keepLast = 2)
      // v1 manifest gone; v2 (append, still referencing v1's files) survives
      intercept[Exception] { cat.snapshot("t", 1) }
      assert(cat.read("t", 2).collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L), "append survivor must still read its shared files")
      assert(cat.readLatest("t").get.collect().map(_.getLong(0)).toSet ==
        Set(10L, 20L))
      // expire down to 1: v2's files become orphans and are deleted
      cat.expireSnapshots("t", keepLast = 1)
      intercept[Exception] { cat.snapshot("t", 2) }
      assert(cat.readLatest("t").get.collect().map(_.getLong(0)).toSet ==
        Set(10L, 20L))
      import scala.jdk.CollectionConverters._
      val dataDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "t", "data")).iterator().asScala.toSeq
      assert(dataDirs.size == 1, s"orphan data dirs not swept: $dataDirs")
    }
  }

  test("a racing writer to the same version fails (optimistic concurrency)") {
    withCat { (cat, dir) =>
      cat.commit("t", Seq(1L).toDF("id"))
      // a racer publishes v2 while this writer, which already chose v2, is
      // still writing its data files (the UDF runs inside that write)
      val meta = java.nio.file.Paths.get(dir, "t", "metadata", "v2.metadata.json")
        .toString
      val racer = org.apache.spark.sql.functions.udf { (x: Long) =>
        val m = java.nio.file.Paths.get(meta)
        if (!java.nio.file.Files.exists(m))
          java.nio.file.Files.write(m, "{}".getBytes("UTF-8"))
        x
      }
      intercept[java.nio.file.FileAlreadyExistsException] {
        cat.commit("t", Seq(2L).toDF("id").select(racer($"id").as("id")))
      }
      assert(cat.currentVersion("t") == 2, "the racer's publish stands")
    }
  }

  test("a published manifest without its hint swap rolls forward") {
    withCat { (cat, dir) =>
      cat.commit("t", Seq(1L).toDF("id"))
      cat.commit("t", Seq(2L).toDF("id"), operation = "append")
      // a writer killed after publishing v2.metadata.json, before the hint
      // swap: the manifest is the commit point, so v2 is committed
      val hint = java.nio.file.Paths.get(dir, "t", "metadata", "version-hint.text")
      java.nio.file.Files.write(hint, "1".getBytes("UTF-8"))
      assert(cat.currentVersion("t") == 2)
      assert(cat.readLatest("t").get.collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L))
      // the next commit (and the one after) lands on top instead of
      // colliding with v2 forever
      val s3 = cat.commit("t", Seq(3L).toDF("id"), operation = "append")
      assert(s3.version == 3 && s3.parent == 2)
      cat.commit("t", Seq(4L).toDF("id"), operation = "append")
      assert(cat.readLatest("t").get.collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 4L))
      // a table whose very first hint write was lost is found too
      java.nio.file.Files.delete(hint)
      assert(cat.currentVersion("t") == 4)
    }
  }

  test("an interrupted commit (data files, no manifest) is invisible") {
    withCat { (cat, dir) =>
      cat.commit("t", Seq(1L).toDF("id"))
      // orphan data dir with no manifest/hint update — a writer killed mid-way
      val orphan = java.nio.file.Paths.get(dir, "t", "data", "snap-99-dead")
      Seq(99L).toDF("id").write.parquet(orphan.toString)
      assert(cat.currentVersion("t") == 1)
      assert(cat.readLatest("t").get.collect().map(_.getLong(0)).toSet == Set(1L))
    }
  }
}
