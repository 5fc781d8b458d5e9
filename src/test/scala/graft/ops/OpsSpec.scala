package graft.ops

import graft.SparkSpec

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("simhash kernel: deterministic, 31-bit, near-dup stability") {
    val t = "THEQUICKBROWNFOXJUMPSOVERTHELAZYDOGTHEQUICKBROWNFOX"
    val a = TextQueries.simhashOf(t)
    assert(a == TextQueries.simhashOf(t))
    assert(a >= 0 && a < (1L << 31))
    // single-char mutation moves few bits
    val b = TextQueries.simhashOf(t.updated(10, 'Z'))
    assert(java.lang.Long.bitCount(a ^ b) <= 8)
  }

  test("repetition: single-pass UDF == explode + double-groupBy reference") {
    // r06 optimization: the shipped per-doc hash-map pass must equal the
    // former two-shuffle aggregation form row-for-row on real data
    val toks = split(trim(col("text")), "\\s+")
    val bigramArr = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array())
    val ref = Ops.table(spark, sf, "documents")
      .select(col("doc_id"), explode(bigramArr).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("max_bigram_count"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val got = TextQueries.repetition(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == ref)
  }

  test("LongDot native expression == aggregate(zip_with) HOF form") {
    import org.apache.spark.sql.GraftSqlBridge
    import spark.implicits._
    val df = Seq(
      (Array(1L, -2L, 3L), Array(4L, 5L, -6L)),
      (Array.empty[Long], Array.empty[Long]),
      (Array(Long.MaxValue / 4, 1L), Array(2L, -3L))
    ).toDF("a", "b")
    val hof = df.select(aggregate(zip_with(col("a"), col("b"),
      (x, y) => x * y), lit(0L), (acc, x) => acc + x)).collect().map(_.getLong(0))
    val nat = df.select(GraftSqlBridge.column(graft.functions.LongDot(
      GraftSqlBridge.expression(col("a")), GraftSqlBridge.expression(col("b")))))
      .collect().map(_.getLong(0))
    assert(hof.toSeq == nat.toSeq)
    // unequal lengths are corrupt input: raise, never truncate
    import org.apache.spark.sql.catalyst.util.ArrayData
    assert(intercept[IllegalArgumentException] {
      graft.functions.LongDot.dot(ArrayData.toArrayData(Array(1L, 2L, 3L)),
        ArrayData.toArrayData(Array(4L, 5L)))
    }.getMessage.contains("array lengths differ"))
  }

  test("packed intersection/size expressions == unpacked kernels") {
    import org.apache.spark.sql.GraftSqlBridge
    import graft.core.Shingler
    import spark.implicits._
    val xs = Array(1L, 5L, 9L, 100000L)
    val ys = Array(5L, 9L, 77L)
    val df = Seq((Shingler.packSet(xs), Shingler.packSet(ys)))
      .toDF("x", "y")
    val row = df.select(
      GraftSqlBridge.column(graft.functions.PackedIntersectionSize(
        GraftSqlBridge.expression(col("x")), GraftSqlBridge.expression(col("y")))),
      GraftSqlBridge.column(graft.functions.PackedSetSize(
        GraftSqlBridge.expression(col("x")))),
      GraftSqlBridge.column(graft.functions.PackedSetSize(
        GraftSqlBridge.expression(col("y"))))).head()
    assert(row.getLong(0) == Shingler.intersectionSize(xs, ys).toLong)
    assert(row.getLong(1) == xs.length.toLong && row.getLong(2) == ys.length.toLong)
  }

  test("hyperplanes are deterministic and balanced-ish") {
    val p1 = Ops.hyperplane(3, 64)
    assert(p1 == Ops.hyperplane(3, 64))
    assert(p1.forall(c => c == 1 || c == -1))
    val pos = (0 until Ops.LshPlanes)
      .map(j => Ops.hyperplane(j, 64).count(_ == 1)).sum
    assert(pos > 300 && pos < 724, s"sign balance off: $pos/1024")
  }

  test("multimodal decode: per-partition pass, magic sniffing, null payloads") {
    val rows = Seq(
      (1L, Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10)),
      (2L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte)),
      (3L, "RIFF1234WAVE".getBytes("UTF-8")),
      (4L, "plain".getBytes("UTF-8")),
      (5L, null)
    )
    import spark.implicits._
    val df = rows.toDF("doc_id", "payload")
    val got = MultimodalOps.decodeMeta(spark, df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "png", 2L -> "jpeg", 3L -> "riff",
      4L -> "unknown", 5L -> "unknown"))
  }

  test("real image decode: ImageIO reads true dimensions and pixels") {
    import spark.implicits._
    // synthesize a genuine 20x10 PNG: left half black, right half white
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val payload = png(20, 10)
    val meta = MultimodalOps.decode(payload)
    assert(meta.format == "png" && meta.width == 20 && meta.height == 10)
    assert(meta.nBytes == payload.length)

    // the distributed pass agrees, and non-images fall back to the stub
    val df = Seq((1L, payload), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val got = MultimodalOps.decodeMeta(spark, df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(got(1L) == (("png", 20, 10)))
    assert(got(2L)._1 == "unknown")

    // feature extraction: 2x2 grid — left column dark, right column bright
    val feats = MultimodalOps.imageFeatures(spark, df, "doc_id", "payload", 2)
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[scala.collection.Seq[Double]](1)).map(_.toSeq).orNull)
      .toMap
    val f = feats(1L)
    assert(f.length == 4)
    assert(f(0) < 1.0 && f(2) < 1.0, s"left cells should be black: $f")
    assert(f(1) > 254.0 && f(3) > 254.0, s"right cells should be white: $f")
    assert(feats(2L) == null, "non-image must yield null features")
  }

  test("WAV header parse: real channels/rate/bits/frames from fixture bytes") {
    def wav(ch: Int, rate: Int, bits: Int, frames: Int): Array[Byte] = {
      val blockAlign = ch * bits / 8
      val dataSize = frames * blockAlign
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataSize)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(ch.toShort); bb.putInt(rate)
      bb.putInt(rate * blockAlign); bb.putShort(blockAlign.toShort)
      bb.putShort(bits.toShort)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
      bb.array()
    }
    val m = MultimodalOps.decodeWavMeta(wav(2, 44100, 16, 1000)).get
    assert(m.format == "wav" && m.channels == 2 && m.sampleRateHz == 44100)
    assert(m.bitsPerSample == 16 && m.nFrames == 1000)
    val mono = MultimodalOps.decodeWavMeta(wav(1, 8000, 8, 17)).get
    assert(mono.channels == 1 && mono.sampleRateHz == 8000 &&
      mono.bitsPerSample == 8 && mono.nFrames == 17)
    // non-WAVE RIFF and truncated headers are refused, not misparsed
    assert(MultimodalOps.decodeWavMeta("RIFF1234AVI ".getBytes).isEmpty)
    assert(MultimodalOps.decodeWavMeta("RIFF1234WAVE".getBytes).isEmpty)
    assert(MultimodalOps.decodeWavMeta(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("malformed media headers terminate instead of hanging or crashing") {
    // RIFF chunk whose unsigned 32-bit size would truncate to a negative
    // Int (0xFFFFFFF8): the walk must terminate, not loop forever
    val evilWav = {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(16); bb.put("WAVE".getBytes)
      bb.put("junk".getBytes); bb.putInt(0xFFFFFFF8) // adversarial size
      bb.putInt(0)
      bb.array()
    }
    assert(MultimodalOps.decodeWavMeta(evilWav).isEmpty)
    // truncated tkhd box (size 8, payload ends at the buffer): no
    // out-of-bounds read on the version byte
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 8)
    bb.putInt(16); bb.put("ftyp".getBytes)
    bb.put("isomxxxx".getBytes)
    bb.putInt(16); bb.put("moov".getBytes)
    bb.putInt(8); bb.put("tkhd".getBytes) // empty tkhd, ends the payload
    val v = MultimodalOps.decodeMp4Meta(bb.array())
    assert(v.isDefined && v.get.width == 0, "truncated tkhd parses as absent")

    // adversarial deep nesting: ~64k 8-byte `moov` containers, each the
    // sole child of the previous — a recursive walk would overflow the JVM
    // stack; the iterative walk (depth-capped) must terminate cleanly
    val n = 65536
    val deep = java.nio.ByteBuffer.allocate(16 + 8 * n)
    deep.putInt(16); deep.put("ftyp".getBytes); deep.put("isomxxxx".getBytes)
    var rem = 8 * n
    while (rem > 0) { deep.putInt(rem); deep.put("moov".getBytes); rem -= 8 }
    assert(MultimodalOps.decodeMp4Meta(deep.array()).isDefined)

    // a largesize (size == 1) header with no 64-bit size field behind it
    // stops the walk instead of reading out of bounds
    val shortLarge = java.nio.ByteBuffer.allocate(16 + 12)
    shortLarge.putInt(16); shortLarge.put("ftyp".getBytes)
    shortLarge.put("isomxxxx".getBytes)
    shortLarge.putInt(1); shortLarge.put("mdat".getBytes); shortLarge.putInt(0)
    assert(MultimodalOps.decodeMp4Meta(shortLarge.array()).get.brand == "isom")

    // a box's field reads are bounded by its OWN size: a size-8 ftyp
    // (empty payload) followed by a sibling must not report the sibling's
    // size bytes as the brand, and a short mvhd must not read timescale
    // from the next box's payload
    val shortBoxes = java.nio.ByteBuffer.allocate(8 + 12 + 16)
    shortBoxes.putInt(8); shortBoxes.put("ftyp".getBytes) // empty ftyp
    shortBoxes.putInt(12); shortBoxes.put("mvhd".getBytes)
    shortBoxes.putInt(0) // version 0 but body truncated by its own size
    shortBoxes.putInt(16); shortBoxes.put("free".getBytes)
    shortBoxes.putInt(90000); shortBoxes.putInt(180000) // plausible decoys
    val sb = MultimodalOps.decodeMp4Meta(shortBoxes.array()).get
    assert(sb.brand == "" && sb.timescale == 0L,
      s"short boxes must not read sibling bytes as fields: $sb")

    // WAV fmt chunk claiming a sample rate above Int.MaxValue is rejected
    // as malformed, not wrapped into a negative sampleRateHz
    val evilRate = {
      val b2 = java.nio.ByteBuffer.allocate(12 + 8 + 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b2.put("RIFF".getBytes); b2.putInt(28); b2.put("WAVE".getBytes)
      b2.put("fmt ".getBytes); b2.putInt(16)
      b2.putShort(1); b2.putShort(2); b2.putInt(0x80000000) // rate = 2^31
      b2.putInt(0); b2.putShort(4); b2.putShort(16)
      b2.array()
    }
    assert(MultimodalOps.decodeWavMeta(evilRate).isEmpty)
  }

  test("MP4 largesize box: moov after a 64-bit-size mdat still parses") {
    // layout: ftyp | mdat with size==1 + 64-bit largesize | moov/mvhd —
    // the shape of a real >4GiB recording with metadata written last.
    // Here the largesize is small (24) so the fixture stays tiny, but it
    // exercises exactly the 16-byte-header + Long-size walk arithmetic.
    val ftyp = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(16); bb.put("ftyp".getBytes); bb.put("isomxxxx".getBytes)
      bb.array()
    }
    val mdat = {
      val bb = java.nio.ByteBuffer.allocate(24)
      bb.putInt(1); bb.put("mdat".getBytes) // size==1 -> largesize follows
      bb.putLong(24L) // 16-byte header + 8 payload bytes
      bb.putLong(0xDEADBEEFL) // payload
      bb.array()
    }
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(8 + 4 + 16 + 8)
      bb.putInt(8 + 4 + 16 + 8); bb.put("mvhd".getBytes)
      bb.putInt(0) // version 0 + flags
      bb.putInt(0); bb.putInt(0) // creation, modification
      bb.putInt(48000) // timescale
      bb.putInt(96000) // duration
      bb.putLong(0L) // trailing body bytes
      bb.array()
    }
    val moov = {
      val bb = java.nio.ByteBuffer.allocate(8 + mvhd.length)
      bb.putInt(8 + mvhd.length); bb.put("moov".getBytes); bb.put(mvhd)
      bb.array()
    }
    val v = MultimodalOps.decodeMp4Meta(ftyp ++ mdat ++ moov).get
    assert(v.brand == "isom", s"brand: ${v.brand}")
    assert(v.timescale == 48000 && v.durationTicks == 96000,
      s"mvhd after largesize mdat must parse: $v")

    // size == 0 (box extends to end of range) on the trailing box is legal
    val mdat0 = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(0); bb.put("mdat".getBytes); bb.putLong(0L)
      bb.array()
    }
    val v0 = MultimodalOps.decodeMp4Meta(ftyp ++ moov ++ mdat0).get
    assert(v0.timescale == 48000, "size-0 trailing mdat must not break parse")
  }

  test("MP4 box parse: brand, mvhd timescale/duration, tkhd dims") {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length)
      bb.put(typ.getBytes("US-ASCII")); bb.put(payload)
      bb.array()
    }
    val ftyp = box("ftyp",
      "isomxxxxiso2".getBytes("US-ASCII")) // brand, minor, compatible
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(4 + 16 + 80)
      bb.putInt(0) // version 0 + flags
      bb.putInt(111); bb.putInt(222) // creation, modification
      bb.putInt(90000) // timescale
      bb.putInt(180000) // duration
      box("mvhd", bb.array())
    }
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(4 + 80)
      bb.putInt(0) // version 0 + flags
      bb.putInt(1); bb.putInt(2); bb.putInt(7); bb.putInt(0) // times, id, res
      bb.putInt(180000) // duration
      bb.position(bb.position() + 8 + 2 + 2 + 2 + 2 + 36) // reserved..matrix
      bb.putInt(640 << 16) // width, 16.16 fixed point
      bb.putInt(360 << 16) // height
      box("tkhd", bb.array())
    }
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    val v = MultimodalOps.decodeMp4Meta(ftyp ++ moov).get
    assert(v.brand == "isom" && v.timescale == 90000 && v.durationTicks == 180000)
    assert(v.width == 640 && v.height == 360)
    assert(MultimodalOps.decodeMp4Meta("nope".getBytes).isEmpty)
  }

  test("mediaInfo routes each modality to its real parser; stub only unknown") {
    import spark.implicits._
    val wavBytes = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(1)
      bb.putInt(16000); bb.putInt(32000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(0)
      bb.array()
    }
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq(
      (1L, bos.toByteArray),
      (2L, wavBytes),
      (3L, "gibberish".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val got = MultimodalOps.mediaInfo(spark, df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[String]("kind") == "image" &&
      got(1L).getAs[Int]("width") == 3 && got(1L).getAs[Int]("height") == 2)
    assert(got(2L).getAs[String]("kind") == "audio" &&
      got(2L).getAs[Int]("sample_rate") == 16000 &&
      got(2L).getAs[Int]("channels") == 1)
    assert(got(3L).getAs[String]("kind") == "unknown")
  }

  test("nocc degree cap drops oversized neighborhoods with metrics") {
    import spark.implicits._
    // star: node 0 connected to 1..20 (degree 21 closed), plus a small pair
    val edges = ((1L to 20L).map(i => (0L, i)) ++ Seq((30L, 31L)))
      .toDF("a", "b")
    val nodes = (0L to 31L).toDF("id")
    val (unc, drop0) = MinHashDocQueries.noccManaged(spark, edges, nodes)
    assert(drop0.isEmpty)
    val (capped, dropped) =
      MinHashDocQueries.noccManaged(spark, edges, nodes, maxDegree = 10)
    val droppedLabels = dropped.collect().map(_.getLong(0)).toSet
    assert(droppedLabels == Set(0L), "only the hub's neighborhood exceeds 10")
    val cappedLabels = capped.select("label").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!cappedLabels.contains(0L))
    // untouched clusters are identical to the uncapped run
    def rowsOf(df: org.apache.spark.sql.DataFrame, label: Long) =
      df.where($"label" === label).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rowsOf(capped, 30L) == rowsOf(unc, 30L))
  }

  test("ivfAssign: every vector gets one deterministic cell in [0, 8)") {
    val sf = "/root/testdata/sf0.001"
    val n = Ops.table(spark, sf, "embeddings").count()
    val a = EmbeddingQueries.ivfAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(a.length == n)
    assert(a.forall { case (_, c) => c >= 0 && c < 8 })
    assert(a.map(_._2).distinct.length > 1, "degenerate single-cell split")
    val again = EmbeddingQueries.ivfAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(a.toSeq == again.toSeq, "assignment must be deterministic")
  }

  test("frame sampling emits n deterministic slices per row") {
    import spark.implicits._
    val df = Seq((1L, ("AB" * 100).getBytes("UTF-8"))).toDF("id", "payload")
    val frames = MultimodalOps.sampleFrames(df, "id", "payload", 4, 16).collect()
    assert(frames.length == 4)
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3))
    assert(frames.forall(_.getAs[Array[Byte]](2).length == 16))
  }

  test("corpus dedup: batch-vs-corpus == cross-split slice of full verify") {
    // the incremental form must flag exactly the batch docs whose verified
    // (Jaccard >= 1/2) LSH pairs cross the corpus/batch split, labeled by
    // the min matching corpus id — derived here from the independent
    // full-pair jaccard query (2i >= union <=> 3i >= |A|+|B|)
    val want = MinHashDocQueries.jaccard(spark, sf).collect()
      .filter(r => r.getLong(0) < 250 && r.getLong(1) >= 250)
      .filter(r => 2 * r.getLong(2) >= r.getLong(3))
      .groupBy(_.getLong(1))
      .map { case (b, rs) => b -> rs.map(_.getLong(0)).min }
    val got = MinHashDocQueries.corpusDedupFlags(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "fixture must contain cross-split duplicates")
    assert(got == want)
  }

  test("substring dups: hashed+verified scale form == string-grouped form") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = rows(TextQueries.substringDups(spark, sf, L = 20))
    val hashed = rows(TextQueries.substringDupsHashed(spark, sf, L = 20))
    assert(plain.nonEmpty, "fixture should contain shared substrings")
    assert(hashed == plain)
  }

  test("hot-window cap: boilerplate shared by 500 docs drops, genuine pair survives") {
    import spark.implicits._
    withTempDir("graft-hotwin") { dir =>
      val rng = new scala.util.Random(71)
      def rand(n: Int) = (0 until n).map(_ => ('a' + rng.nextInt(20)).toChar).mkString
      // deterministic window census: docs 3..500 are EXACTLY the boilerplate
      // (11 length-30 windows, each at df=500); docs 1-2 append a genuine
      // duplicated tail, whose 35 junction+tail windows sit at df=2
      val boiler = rand(40)
      val genuine = rand(35)
      val docs = (1L to 500L).map { i =>
        (i, boiler + (if (i <= 2) genuine else ""))
      }
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

      val (capped, dropped) = TextQueries.substringDupsHashedManaged(
        spark, dir, 30, maxWindowDocs = 10)
      val got = capped.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == Map((1L, 2L) -> 35L),
        s"only the genuine pair may survive the cap: $got")
      // drop metric: exactly the 11 boilerplate window hashes, each at 500
      val d = dropped.collect().map(_.getLong(1))
      assert(d.length == 11 && d.forall(_ == 500L),
        s"drop metric must name the boilerplate windows: ${d.toSeq}")
      // cap off: the same input pays the full 500-clique — the exact k^2
      // blowup the policy exists to prevent (and the lossless identity:
      // maxWindowDocs = MaxValue must equal the uncapped operator)
      val (uncapped, noDrops) =
        TextQueries.substringDupsHashedManaged(spark, dir, 30)
      assert(uncapped.count() == 500L * 499 / 2)
      assert(noDrops.count() == 0)

      // LCS leg, same policy: capped LCS reports the longest run of
      // SURVIVING windows — the 35 df=2 windows cover a 64-char fragment
      // (35 + L - 1) of docs 1-2's true 75-char common text, a documented
      // lower bound; boilerplate-only pairs disappear entirely
      val small = docs.take(50).toDF("doc_id", "text")
      val (lcs, lcsDropped) = TextQueries.substringLcsManaged(
        small, 30, maxWindowDocs = 10)
      val lcsGot = lcs.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(lcsGot == Map((1L, 2L) -> 64L), s"capped LCS: $lcsGot")
      assert(lcsDropped.collect().forall(_.getLong(1) == 50L))
      val lcsUn = TextQueries.substringLcsDf(small, 30).collect()
      assert(lcsUn.length == 50 * 49 / 2 &&
        lcsUn.forall(_.getLong(2) >= 40L),
        "uncapped LCS must see the boilerplate run in every pair"
      )
    }
  }

  test("chunk spans: distributed prefix sum == serial scan, any parallelism") {
    // the two-pass prefix sum must be a pure function of the doc_id total
    // order — invariant to bucket count, caching, and recomputation
    // start/end_chunk are DOUBLE (driver-oracle dtype parity — the frozen
    // DuckDB SQL's HUGEINT window sum arrives float64); they must still be
    // exactly integral, so the spec round-trips them through toLong with an
    // integrality assert
    def asChunk(d: Double): Long = {
      assert(d == math.rint(d) && math.abs(d) < (1L << 53), s"non-integral chunk $d")
      d.toLong
    }
    def run(numBuckets: Int = 0): Seq[(Long, Long, Long, Long)] =
      TextQueries.chunkSpans(spark, sf, numBuckets = numBuckets).collect()
        .map(r => (r.getLong(0), r.getLong(1), asChunk(r.getDouble(2)),
          asChunk(r.getDouble(3))))
        .sortBy(_._1).toSeq
    val rows = run()
    // serial oracle over the same token counts
    val toks = TextQueries.tokenCount(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val want = toks.map { case (id, n) =>
      val s = cum; cum = cum + n; (id, n, s / 256, (cum - 1) / 256)
    }.toSeq
    assert(rows == want)
    // spans tile the stream: consecutive docs' chunk ranges never skip
    rows.sliding(2).foreach {
      case Seq(a, b) => assert(b._3 - a._4 <= 1 && b._3 >= a._3)
      case _ =>
    }
    // determinism stress (CORRECTNESS_r04 q44 postmortem: the round-4 form
    // depended on sampled range-partition boundaries carried between two
    // actions, and the driver gate caught a run-sensitive divergence the
    // builder's own runs never hit): the value-bucketed rewrite must be
    // byte-identical at degenerate, prime, and default bucket counts...
    for (b <- Seq(1, 3, 7, 64)) assert(run(b) == want, s"numBuckets=$b")
    // ...and across repeated evaluations with the block-manager cache
    // dropped between runs (recompute-under-pressure cannot shift offsets)
    (1 to 3).foreach { i =>
      spark.sharedState.cacheManager.clearCache()
      assert(run() == want, s"repeat $i diverged")
    }

    // adversarial id space: clustered sparse ids spanning almost the full
    // signed-64 range (negative lows, dense block, huge outlier) — the
    // decimal bucket arithmetic and the row-balanced fine-range packing
    // must stay value-exact where naive `(id - min) div width` longs
    // would overflow and one value-range bucket would swallow the corpus
    import spark.implicits._
    withTempDir("graft-chunk") { dir =>
      val ids = Seq(Long.MinValue + 5, -1000L, -999L) ++
        (0L to 400L) ++ Seq(Long.MaxValue - 3)
      ids.map(i => (i, s"tok ${"x " * (i.abs % 7).toInt}".trim))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val sparse = TextQueries.chunkSpans(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), asChunk(r.getDouble(2)),
          asChunk(r.getDouble(3))))
        .sortBy(_._1).toSeq
      val sparseToks = TextQueries.tokenCount(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var c2 = 0L
      val sparseWant = sparseToks.map { case (id, n) =>
        val s = c2; c2 += n; (id, n, s / 256, (c2 - 1) / 256)
      }.toSeq
      assert(sparse == sparseWant)
    }
  }

  test("ngram census: hashed scale form == string-keyed twin; exact dedup " +
      "hash-keyed == min-id semantics") {
    // the gate runs the xxhash64(gram)-keyed aggregate (8-byte exchange
    // keys); value equality with the string-keyed form is the collision-
    // free guarantee the q29 family also rides on
    def census(keyOnHash: Boolean) =
      TextQueries.ngramDfCensus(spark, sf, keyOnHash = keyOnHash)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(census(keyOnHash = true) == census(keyOnHash = false))

    // canonicalByText: hash-keyed exact dedup picks the min id per
    // identical-text group, byte-exact (collision verify raises, never
    // mislabels)
    import spark.implicits._
    withTempDir("graft-exact") { dir =>
      Seq((5L, "same text"), (2L, "same text"), (9L, "other"), (7L, "SAME TEXT"))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = graft.ops.MinHashDocQueries.exactDedup(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(2L -> 2L, 5L -> 2L, 7L -> 7L, 9L -> 9L))
    }
  }

  test("mixture sample: map-pass sampler — rates honored, reproducible, " +
      "plan has no window/sort over the corpus") {
    val out = TextQueries.mixtureSample(spark, sf)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // reproducible by construction: second run byte-identical
    val again = TextQueries.mixtureSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq)
    // empirical keep rate tracks pct per source (universal hash is
    // uniform; 500 docs over ~20 sources → loose statistical bounds)
    val bySrc = rows.groupBy(_._2)
    bySrc.foreach { case (src, rs) =>
      val pct = rs.head._3
      val kept = rs.count(_._4 == 1L).toDouble / rs.length * 100
      assert(math.abs(kept - pct) < 35, s"$src: kept $kept% vs pct $pct")
    }
    // the whole-corpus keep rate is tight even at 500 docs
    val wantAvg = rows.map(_._3).sum.toDouble / rows.length
    val gotAvg = rows.count(_._4 == 1L).toDouble / rows.length * 100
    assert(math.abs(gotAvg - wantAvg) < 10, s"$gotAvg vs $wantAvg")
    // scale shape: no Window/Sort over the corpus — the only exchanges are
    // the tiny rates-dim broadcast and the presentation sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"sampler must not window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"rates dim must broadcast:\n$plan")
  }

  test("length quantiles == serial percentile_disc per language") {
    val got = TextQueries.lengthQuantiles(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val toks = TextQueries.tokenCount(spark, sf)
      .join(Ops.table(spark, sf, "documents").select("doc_id", "lang"), "doc_id")
      .collect().map(r => (r.getString(3), r.getLong(1))) // (lang, n_ws_tokens)
    val want = toks.groupBy(_._1).toSeq.flatMap { case (lang, rs) =>
      val sorted = rs.map(_._2).sorted
      TextQueries.QuantilePcts.map { p =>
        val idx = (p * sorted.length + 99) / 100 // ceil rank, 1-based
        (lang, p.toLong, sorted(idx - 1))
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == want)
  }

  test("repetition stats: bigram counting edges (short docs, heavy repeats)") {
    import spark.implicits._
    withTempDir("graft-rep") { dir =>
      Seq(
        (1L, "a b a b a b"), // bigrams: "a b"x3, "b a"x2
        (2L, "one"), // < 2 tokens: no row
        (3L, "x y") // single bigram
      ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = TextQueries.repetition(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == Map(1L -> ((5L, 2L, 3L)), 3L -> ((1L, 1L, 1L))))
    }
  }

  test("substring LCS: diagonal-run algebra == brute-force LCS (>= L)") {
    import spark.implicits._
    def bruteLcs(a: String, b: String): Int = {
      // O(|a||b|) dynamic program — the test oracle
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var best = 0
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          best = math.max(best, dp(i)(j))
        }
      best
    }
    val rng = new scala.util.Random(53)
    def rand(n: Int) = (0 until n).map(_ => ('a' + rng.nextInt(4)).toChar).mkString
    val shared1 = rand(17)
    val shared2 = rand(9)
    val docs = Seq(
      (1L, rand(30) + shared1 + rand(25)),
      (2L, rand(12) + shared1 + rand(40) + shared2),
      (3L, shared2 + rand(50)),
      (4L, rand(60))
    )
    val L = 6
    val got = TextQueries.substringLcsDf(docs.toDF("doc_id", "text"), L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = (for {
      i <- docs.indices; j <- i + 1 until docs.size
      lcs = bruteLcs(docs(i)._2, docs(j)._2)
      if lcs >= L
    } yield (docs(i)._1, docs(j)._1) -> lcs.toLong).toMap
    assert(got == want,
      s"diagonal-run LCS diverged from DP oracle: got $got want $want")
  }

  test("IVF ANN: recall@5 vs brute force is high, never all-pairs") {
    val brute = EmbeddingQueries.knn(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(_.getLong(2)).toSet }
    val ivf = EmbeddingQueries.ivf(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(_.getLong(2)).toSet }
    // recall@5: fraction of true top-5 neighbors found within the cell
    val hits = brute.map { case (v, truth) =>
      truth.intersect(ivf.getOrElse(v, Set.empty)).size
    }.sum
    val recall = hits.toDouble / brute.map(_._2.size).sum
    assert(recall >= 0.5, f"IVF recall@5 = $recall%.3f too low")
    // and the candidate set is genuinely bucketed: no vector was compared
    // against (nearly) everything
    assert(ivf.values.forall(_.size <= 5))
  }

  test("embedding cosine near-dup clusters: every vector labeled, label = min id") {
    val c = EmbeddingQueries.embeddingDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c.size == 500)
    // labels are cluster minima
    val byLabel = c.groupBy(_._2).view.mapValues(_.keys.min).toMap
    assert(byLabel.forall { case (label, minMember) => label == minMember })
  }

  test("embedding knn: every query vector gets exactly k ranked neighbors") {
    val knn = EmbeddingQueries.knn(spark, sf).collect()
    val byVec = knn.groupBy(_.getLong(0))
    assert(byVec.size == 500)
    assert(byVec.values.forall(_.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("bucketed ANN neighbors are a subset of brute-force candidate space") {
    val buckets = EmbeddingQueries.lshBuckets(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ann = EmbeddingQueries.annBucketed(spark, sf).collect()
    assert(ann.nonEmpty)
    // every returned neighbor shares the query's bucket (the ANN contract)
    assert(ann.forall(r => buckets(r.getLong(0)) == buckets(r.getLong(2))))
  }

  test("lang-id tie-break order is en > de > fr > es") {
    import spark.implicits._
    withTempDir("graft-langid") { tmp =>
      Seq((1L, "nothing matches here", "xx", "s", 20L),
        (2L, "the und le el", "xx", "s", 14L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = TextQueries.langId(spark, tmp).collect()
        .map(r => r.getLong(0) -> r.getString(5)).toMap
      assert(got == Map(1L -> "en", 2L -> "en")) // all-zero and all-equal -> en
    }
  }
}
