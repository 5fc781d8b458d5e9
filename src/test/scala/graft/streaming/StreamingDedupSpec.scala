package graft.streaming

import graft.SparkSpec
import graft.core.{MinHashParams, SerialOracle}
import graft.pipeline.{DedupPipeline, Pages, PagesGen}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingDedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("streaming exact dedup keeps one row per text within the watermark") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, String)]
    val pages = input.toDF().toDF("url", "warc_ts", "text")
    val q = StreamingDedup.exactDedup(pages)
      .select("url", "text")
      .writeStream.format("memory").queryName("exact_dedup_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    input.addData(
      ("u1", t0, "SAMETEXT"), ("u2", t0, "SAMETEXT"), ("u3", t0, "OTHER"))
    q.processAllAvailable()
    input.addData(("u4", t0, "SAMETEXT"), ("u5", t0, "THIRD"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT text FROM exact_dedup_out")
      .collect().map(_.getString(0)).sorted
    q.stop()
    assert(rows.toSeq == Seq("OTHER", "SAMETEXT", "THIRD"))
  }

  test("watermarked windowed aggregation matches the batch hourly rollup") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val q = StreamingDedup.hourlyEvents(events)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val wave1 = Seq(
      (1L, ts("2020-01-01 10:05:00"), 1.234),
      (1L, ts("2020-01-01 10:50:00"), 2.5),
      (2L, ts("2020-01-01 10:10:00"), 0.999),
      (1L, ts("2020-01-01 11:05:00"), 10.0))
    input.addData(wave1)
    q.processAllAvailable()
    // advance event time far enough that the 10:00 and 11:00 windows pass
    // the 2h watermark and finalize (append mode emits only closed windows)
    input.addData(Seq((9L, ts("2020-01-01 15:00:00"), 0.0)))
    q.processAllAvailable()
    input.addData(Seq((9L, ts("2020-01-01 23:00:00"), 0.0)))
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT user_id, hour_us, n_events, sum_cents FROM hourly_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    q.stop()

    // batch oracle: the same rollup as TextQueries.hourlyEvents
    val want = wave1.toDF("user_id", "ts", "value")
      .groupBy(col("user_id"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100)).cast("long").as("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(want.subsetOf(got), s"missing windows: ${want.diff(got)}")
  }

  test("streaming sessionization matches the batch session_window form") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val q = StreamingDedup.sessions(events)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val wave = Seq(
      (1L, ts("2020-01-01 10:00:00")), // session A: 3 events, 29-min gaps
      (1L, ts("2020-01-01 10:29:00")),
      (1L, ts("2020-01-01 10:58:00")),
      (1L, ts("2020-01-01 12:00:00")), // session B (62-min gap)
      (2L, ts("2020-01-01 10:15:00"))) // session C
    input.addData(wave)
    q.processAllAvailable()
    // push the watermark past every session so append mode finalizes them
    input.addData(Seq((9L, ts("2020-01-02 00:00:00"))))
    q.processAllAvailable()
    input.addData(Seq((9L, ts("2020-01-02 12:00:00"))))
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT user_id, start_us, end_us, n_events FROM sessions_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    q.stop()
    // batch oracle: the same session_window aggregation (whose own merge
    // semantics are value-verified against DuckDB gaps-and-islands by q40)
    val want = wave.toDF("user_id", "ts")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(unix_micros(min(col("ts"))).as("s"),
        unix_micros(max(col("ts"))).as("e"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(want.subsetOf(got), s"missing sessions: ${want.diff(got)}")
    // and the merge really happened: user 1's first session spans 3 events
    assert(got.exists(s => s._1 == 1L && s._4 == 3L),
      s"29-min-gap events must merge into one session: $got")
  }

  test("streaming LSH pairs converge to the batch candidate set") {
    implicit val sc = spark.sqlContext
    val params = MinHashParams(numHashes = 8)
    val corpus = PagesGen.micro
    val input = MemoryStream[(String, java.sql.Timestamp, String)]
    val pages = input.toDF().toDF("url", "warc_ts", "text")
    val q = StreamingDedup.lshPairs(spark, pages, params, stateTtlMs = 0)
      .writeStream.format("memory").queryName("lsh_pairs_out")
      .outputMode("append").start()
    // feed in two arrival waves to exercise cross-batch state
    val (wave1, wave2) = corpus.splitAt(corpus.size / 2)
    input.addData(wave1.map(p => (p.url, p.warc_ts, p.text)))
    q.processAllAvailable()
    input.addData(wave2.map(p => (p.url, p.warc_ts, p.text)))
    q.processAllAvailable()
    val got = spark.sql("SELECT a, b FROM lsh_pairs_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()

    // oracle: batch pairs over the same corpus with xxhash64 ids
    val docs = DedupPipeline.extractDocs(Pages.toDS(spark, corpus).toDF())
      .select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val want = SerialOracle
      .run(corpus.map(p => docs(p.url) -> p.text), params).pairs
    assert(got == want)
  }

  test("streaming LSH pairs: restart from checkpoint resumes bucket state") {
    implicit val sc = spark.sqlContext
    val params = MinHashParams(numHashes = 8)
    val corpus = PagesGen.micro
    withTempDir("graft-ckpt") { d =>
      val base = java.nio.file.Paths.get(d)
      val ckpt = base.resolve("ckpt").toString
      val out = base.resolve("out").toString
      val input = MemoryStream[(String, java.sql.Timestamp, String)]
      val pages = input.toDF().toDF("url", "warc_ts", "text")
      // file sink (the memory sink does not support checkpoint recovery)
      def start() =
        StreamingDedup.lshPairs(spark, pages, params, stateTtlMs = 0).toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()
      def pairsOnDisk(): Set[(Long, Long)] =
        spark.read.parquet(out).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (wave1, wave2) = corpus.splitAt(corpus.size / 2)
      val q1 = start()
      input.addData(wave1.map(p => (p.url, p.warc_ts, p.text)))
      q1.processAllAvailable()
      val got1 = pairsOnDisk()
      q1.stop()
      // the restarted query must restore the Array[Long] bucket state
      // through the state-store schema check — cross-wave pairs (one member
      // per wave) can only be emitted if the state actually survived
      val q2 = start()
      input.addData(wave2.map(p => (p.url, p.warc_ts, p.text)))
      q2.processAllAvailable()
      val got = pairsOnDisk()
      q2.stop()
      val docs = DedupPipeline.extractDocs(Pages.toDS(spark, corpus).toDF())
        .select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap
      val want = SerialOracle
        .run(corpus.map(p => docs(p.url) -> p.text), params).pairs
      assert(got == want, s"restart lost state: pre=$got1 post=$got want=$want")
      val w1 = wave1.map(p => docs(p.url)).toSet
      assert(got.diff(got1).exists { case (a, b) =>
        w1.contains(a) != w1.contains(b)
      }, "fixture must produce at least one cross-restart pair")
    }
  }

  test("streaming mixture sampling == batch (stateless map + broadcast dim)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // half NEGATIVE ids — the xxhash64-id regime: pmod keeps the rate
    // honest where a sign-preserving % would keep every negative id
    val docs = (-100L to 100L).filter(_ != 0).map(i => (i, s"src${i.abs % 5}"))
    val rates = Seq(("src0", 20L), ("src1", 40L), ("src2", 60L),
      ("src3", 80L), ("src4", 100L)).toDF("source", "pct")
    val want = graft.ops.TextQueries
      .mixtureSampleDf(docs.toDF("doc_id", "source"), rates)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(want.count(_._4 == 1L) > 0 && want.count(_._4 == 0L) > 0)
    // negative ids are RATE-SAMPLED, not blanket-kept (the pmod fix): the
    // pct=20 source must drop most of its negative-id docs too
    val neg20 = want.filter(w => w._1 < 0 && w._3 == 20L)
    assert(neg20.nonEmpty && neg20.count(_._4 == 1L) < neg20.size / 2,
      s"negative-id docs ignore the keep rate: $neg20")
    // a source missing from the rates dim raises, never silently drops
    intercept[Exception] {
      graft.ops.TextQueries.mixtureSampleDf(
        Seq((1L, "unknown_src")).toDF("doc_id", "source"), rates).collect()
    }
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.TextQueries
      .mixtureSampleDf(input.toDF().toDF("doc_id", "source"), rates)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("append").start()
    val (w1, w2) = docs.splitAt(docs.size / 2)
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    val got = spark.sql("SELECT * FROM mix_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    q.stop()
    assert(got == want)
  }

  test("streaming dedup against a static corpus: bloom flags == exact band join") {
    implicit val sc = spark.sqlContext
    val params = MinHashParams(numHashes = 8)
    val all = PagesGen.micro
    val (corpusPages, streamPages) = all.splitAt(all.size / 2)
    val corpusDocs = DedupPipeline.extractDocs(
      Pages.toDS(spark, corpusPages).toDF())
    val corpusBands = DedupPipeline.signatures(spark, corpusDocs, params)
      .persist()

    // exact ground truth: a page is a candidate iff it shares >= 1
    // (band, key) bucket with the corpus
    val streamDocs = DedupPipeline.extractDocs(
      Pages.toDS(spark, streamPages).toDF())
    val wantFlagged = DedupPipeline.signatures(spark, streamDocs, params)
      .join(corpusBands.select("band", "key"), Seq("band", "key"),
        "left_semi")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    val urlToId = streamDocs.select("url", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wantFlagged.nonEmpty,
      "fixture must contain near-dups of corpus pages")
    assert(wantFlagged.size < streamPages.size,
      "fixture must contain fresh pages too")

    // batch form (same code path, no stream)
    val batchGot = StreamingDedup.againstCorpus(spark,
        Pages.toDS(spark, streamPages).toDF(), corpusBands, params,
        expectedItems = 10000, fpp = 1e-6)
      .select(col("url"), col("is_candidate_dup")).collect()
      .map(r => urlToId(r.getString(0)) -> r.getBoolean(1)).toMap
    assert(batchGot.filter(_._2).keySet == wantFlagged,
      "bloom candidate set must equal the exact band join (fpp 1e-6)")

    // streaming form over MemoryStream micro-batches
    val input = MemoryStream[(String, java.sql.Timestamp, String)]
    val pages = input.toDF().toDF("url", "warc_ts", "text")
    val q = StreamingDedup.againstCorpus(spark, pages, corpusBands, params,
        expectedItems = 10000, fpp = 1e-6)
      .select("url", "is_candidate_dup")
      .writeStream.format("memory").queryName("against_corpus_out")
      .outputMode("append").start()
    val (w1, w2) = streamPages.splitAt(streamPages.size / 2)
    input.addData(w1.map(p => (p.url, p.warc_ts, p.text)))
    q.processAllAvailable()
    input.addData(w2.map(p => (p.url, p.warc_ts, p.text)))
    q.processAllAvailable()
    val streamGot = spark.sql(
      "SELECT url, is_candidate_dup FROM against_corpus_out")
      .collect().map(r => urlToId(r.getString(0)) -> r.getBoolean(1)).toMap
    q.stop()
    corpusBands.unpersist()
    assert(streamGot == batchGot,
      "streaming flags must equal the batch form row-for-row")
  }
}
