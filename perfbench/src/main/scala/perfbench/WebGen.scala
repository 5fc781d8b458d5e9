package perfbench

import java.util.SplittableRandom

import graft.pipeline.Pages

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic web-page corpus with planted near-duplicates.
  *
  * Every row is a pure function of (seed, row index), so generation is a
  * parallel map and the same seed always yields the same pages. Rows are
  * laid out as
  *
  *   [template clusters | near-duplicate groups | unique pages]
  *
  * - a template cluster is `templateSize` pages sharing one boilerplate
  *   header/footer around a short page-specific body (the "same site
  *   chrome" duplicates of a real crawl);
  * - a near-duplicate group is a master text plus members that each carry
  *   a few independent edits (substituted letters or words);
  * - every other page is unique.
  *
  * Each template cluster and group is one planted group: all of its pairs
  * are planted duplicate pairs, the denominator of `dup_pair_recall`.
  */
object WebGen {

  sealed trait Length { def draw(r: SplittableRandom): Int }
  final case class Uniform(lo: Int, hi: Int) extends Length {
    def draw(r: SplittableRandom): Int = lo + r.nextInt(hi - lo + 1)
  }
  /** heavy-tailed lengths: median * exp(sigma * N(0,1)), clamped */
  final case class LogNormal(median: Int, sigma: Double, cap: Int)
      extends Length {
    def draw(r: SplittableRandom): Int = {
      val g = math.sqrt(-2 * math.log(1 - r.nextDouble())) *
        math.cos(2 * math.Pi * r.nextDouble())
      math.min(cap, math.max(32, math.round(median * math.exp(sigma * g)).toInt))
    }
  }

  /** @param groupShare share of the non-template pages that sit in groups
    * @param words web-like text (mixed-case words, spaces, punctuation)
    *              instead of one upper-case A-Z run
    * @param editRate share of letters (or words) each group member edits
    * @param templateLen boilerplate characters shared by a template cluster
    */
  final case class Spec(docs: Int, groupShare: Double, groupSizes: (Int, Int),
      length: Length, words: Boolean, editRate: Double,
      templates: Int = 0, templateSize: Int = 0, templateLen: Int = 0) {
    require(templates * templateSize < docs, "templates exceed the corpus")
    require(groupSizes._1 >= 2 && groupSizes._2 >= groupSizes._1)
  }

  def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xFF51AFD7ED558CCDL
    k ^= k >>> 33; k *= 0xC4CEB9FE1A85EC53L
    k ^ (k >>> 33)
  }
  def mix(a: Long, b: Long): Long = fmix(a * 0x9E3779B97F4A7C15L + b)

  /** Pages (url, html, grp): `grp` is the planted group, null for a unique
    * page. Not persisted; the caller materializes it.
    */
  def pages(spark: SparkSession, spec: Spec, seed: Long): DataFrame = {
    import spark.implicits._
    val gen = new Generator(spec, seed)
    spark.range(0, spec.docs, 1, spark.sparkContext.defaultParallelism)
      .map(i => gen.row(i.toInt))
      .toDF("url", "html", "grp")
  }

  final class Generator(spec: Spec, seed: Long) extends Serializable {
    private val templateDocs = spec.templates * spec.templateSize
    // group layout is drawn once on the driver; rows look their group up
    private val (groupStarts, singlesStart) = {
      val r = new SplittableRandom(mix(seed, 1))
      val (lo, hi) = spec.groupSizes
      val end = templateDocs +
        ((spec.docs - templateDocs) * spec.groupShare).toInt
      val starts = Array.newBuilder[Int]
      var pos = templateDocs
      var open = true
      while (open) {
        val size = lo + r.nextInt(hi - lo + 1)
        if (pos + size > end) open = false
        else { starts += pos; pos += size }
      }
      (starts.result(), pos)
    }
    @transient private lazy val vocab: Array[String] = {
      val r = new SplittableRandom(mix(seed, 2))
      Array.fill(100000) {
        val n = 2 + r.nextInt(9)
        new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
      }
    }

    def row(idx: Int): (String, Array[Byte], Option[Long]) = {
      val (url, text, grp) =
        if (idx < templateDocs) {
          val t = idx / spec.templateSize
          val tr = new SplittableRandom(mix(seed, 3L << 32 | t))
          val chrome = wordIds(tr, spec.templateLen)
          val cut = chrome.length * 2 / 3
          val pr = new SplittableRandom(mix(seed, 4L << 32 | idx))
          val body = wordIds(pr, Uniform(100, 300).draw(pr))
          (s"https://t$t.example.org/page/${idx % spec.templateSize}",
            render(chrome.take(cut) ++ body ++ chrome.drop(cut)),
            Some(t.toLong))
        } else if (idx < singlesStart) {
          val g = {
            val p = java.util.Arrays.binarySearch(groupStarts, idx)
            if (p >= 0) p else -p - 2
          }
          val member = idx - groupStarts(g)
          val mr = new SplittableRandom(mix(seed, 5L << 32 | g))
          val er = new SplittableRandom(mix(mix(seed, 6L << 32 | g), member))
          (s"https://g$g.example.net/item/$member",
            makeText(mr, spec.length.draw(mr), if (member == 0) None else Some(er)),
            Some(spec.templates.toLong + g))
        } else {
          val r = new SplittableRandom(mix(seed, 7L << 32 | idx))
          (s"https://u$idx.example.com/", makeText(r, spec.length.draw(r), None),
            None)
        }
      (url, Pages.htmlFor(text), grp)
    }

    /** `len` characters of text from `r`, then `edit`'s substitutions */
    private def makeText(r: SplittableRandom, len: Int,
        edit: Option[SplittableRandom]): String =
      if (spec.words) {
        val ids = wordIds(r, len)
        edit.foreach(e => substitute(e, ids.length)(ids(_) = e.nextInt(vocab.length)))
        render(ids)
      } else {
        val cs = Array.fill(len)(('A' + r.nextInt(26)).toChar)
        edit.foreach(e => substitute(e, len)(cs(_) = ('A' + e.nextInt(26)).toChar))
        new String(cs)
      }

    private def substitute(e: SplittableRandom, n: Int)(at: Int => Unit): Unit =
      (0 until math.max(1, math.round(n * spec.editRate).toInt))
        .foreach(_ => at(e.nextInt(n)))

    private def wordIds(r: SplittableRandom, len: Int): Array[Int] = {
      val out = Array.newBuilder[Int]
      var chars = 0
      while (chars < len) {
        val w = r.nextInt(vocab.length)
        out += w
        chars += vocab(w).length + 1
      }
      out.result()
    }

    /** words with sentence case, commas and full stops, deterministically
      * placed by position so an edited word leaves the layout unchanged */
    private def render(ids: Array[Int]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < ids.length) {
        val w = vocab(ids(i))
        if (i % 11 == 0) sb.append(w.head.toUpper).append(w, 1, w.length)
        else sb.append(w)
        sb.append(if (i % 11 == 10) ". " else if (i % 4 == 3) ", " else " ")
        i += 1
      }
      sb.toString
    }
  }
}
