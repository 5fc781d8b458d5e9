package perfbench

import java.io.File

import scala.collection.mutable

import graft.core.{MinHashParams, SerialOracle}
import graft.pipeline.{ConnectedComponents, DedupConfig, DedupPipeline,
  SnapshotCatalog}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The repository benchmark: one workload per process, driven only through
  * the program's public calls on one `local[N]` session.
  *
  * {{{
  *   Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --work <scratch dir> --cores <N>
  * }}}
  *
  * Set-up (session start, corpus generation written to parquet, one untimed
  * warm-up call) runs [[SetupReps]] times; the timed loop then repeats the
  * workload's call on fresh stage directories for `--seconds`. `--trace 0`
  * reports the end-to-end metrics; `--trace 1` alternates untraced calls
  * with traced ones (each public stage call timed under its own job group)
  * and reports the per-layer metrics. The last stdout line is the result
  * JSON; the line before it is the run's artifact (every rep, the noise
  * probe, the checks).
  */
object Harness {

  val SetupReps = 3
  /** planted-pair recall floor at the operating point (BASELINE.json) */
  val MinRecall = 0.99
  /** traced stage walls must cover the traced end-to-end wall this closely */
  val TraceCover = 0.05

  final case class Workload(name: String, spec: WebGen.Spec, cfg: DedupConfig)

  private val operatingPoint = DedupConfig(
    params = MinHashParams(numHashes = 41), jaccardThreshold = 0.5)
  val workloads: Map[String, Workload] = Seq(
    // pair-dense: ~60% of docs in groups of 2-10, short texts, BASELINE
    // operating point — pairs_raw, unpruned verify and the driver-finish
    // components do most of the work
    Workload("dedup_dense",
      WebGen.Spec(docs = 10000, groupShare = 0.6, groupSizes = (2, 10),
        length = WebGen.Uniform(60, 400), words = false, editRate = 1.0 / 80),
      operatingPoint),
    // pair-sparse: long heavy-tailed pages, mostly unique, plus template
    // clusters larger than saltBlockSize — verify is pruned, hot buckets
    // take the salted path and components run the distributed
    // large/small-star loop (both knobs change distribution, not output)
    Workload("dedup_web",
      WebGen.Spec(docs = 4000, groupShare = 0.04, groupSizes = (2, 4),
        length = WebGen.LogNormal(1500, 0.8, 20000), words = true,
        editRate = 0.03, templates = 3, templateSize = 24, templateLen = 1200),
      operatingPoint.copy(saltBlockSize = 16, ccDriverFinishMaxEdges = 0))
  ).map(w => w.name -> w).toMap

  final case class Opts(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: File, cores: Int)

  /** one call's wall seconds and observations */
  final case class Outcome(wall: Double, digest: String, pairs: Long,
      recall: Double, bytesPerDoc: Double)

  final case class Input(pages: DataFrame, docs: Long,
      truth: Map[Long, Long], planted: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      checks += ((name, ok, if (ok) "" else detail))
    val probes = mutable.ArrayBuffer(graft.Bench.noiseProbe())
    var seq = 0
    def freshDir(tag: String): String = {
      seq += 1
      new File(o.work, s"$tag-$seq").getPath
    }

    // set-up, repeated: each one starts a session, materializes the corpus
    // and makes one untimed warm-up call
    var spark: SparkSession = null
    var input: Input = null
    val warm = mutable.ArrayBuffer.empty[Outcome]
    // per set-up: (session start, corpus materialization, warm-up call)
    val setupPhases = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      val t1 = System.nanoTime()
      input = materialize(spark, o.workload.spec, o.seed, freshDir("pages"))
      val t2 = System.nanoTime()
      warm += call(spark, o.workload, input, freshDir("warm"))
      Seq(t1 - t0, t2 - t1, System.nanoTime() - t2).map(_ / 1e9)
    }
    val setupWalls = setupPhases.map(_.sum)

    val trace = new LayerTrace
    spark.sparkContext.addSparkListener(trace)
    val plain = mutable.ArrayBuffer.empty[Outcome]
    val traced = mutable.ArrayBuffer.empty[(Outcome, Map[String, Double])]
    var attempted = 0
    var failed = 0
    def attempt(body: String => Unit): Unit = {
      attempted += 1
      val dir = freshDir("rep")
      try body(dir)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] call failed: $e")
        e.printStackTrace()
      } finally {
        spark.catalog.clearCache()
        graft.tools.Fs.rmRf(new File(dir))
      }
    }
    // run-to-run host drift, not the in-run scatter, dominates the spread,
    // so one untraced call suffices once `--seconds` is spent; a traced run
    // needs two of each kind for its medians
    val minReps = if (o.trace) 2 else 1
    def enough = plain.length >= minReps && (!o.trace || traced.length >= minReps)
    val t0 = System.nanoTime()
    def plainCall(): Unit =
      attempt(dir => plain += call(spark, o.workload, input, dir))
    def tracedOne(): Unit =
      attempt(dir => traced += tracedCall(spark, trace, o, input, dir,
        traced.length))
    while ((System.nanoTime() - t0) / 1e9 < o.seconds || (!enough && failed == 0)) {
      // traced and untraced calls alternate which goes first, so a drift
      // across the run does not read as tracing overhead
      if (!o.trace) plainCall()
      else if (traced.length % 2 == 0) { plainCall(); tracedOne() }
      else { tracedOne(); plainCall() }
    }

    // output checks
    val all = warm ++ plain ++ traced.map(_._1)
    check("calls succeed", failed == 0 && plain.nonEmpty &&
      (!o.trace || traced.nonEmpty), s"$failed of $attempted calls failed")
    val want = oracle(o.workload, input)
    check("assignments and verified pairs equal SerialOracle on every call",
      all.forall(c => c.digest == want.digest && c.pairs == want.pairs),
      s"oracle ${want.digest} / ${want.pairs} pairs; calls " +
        all.map(c => s"${c.digest} / ${c.pairs}").distinct.mkString(", "))
    check(s"dup_pair_recall >= $MinRecall",
      all.forall(_.recall >= MinRecall), all.map(_.recall).mkString(" "))
    probes += graft.Bench.noiseProbe()

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", median(setupWalls), "s"),
        ("docs_per_s", input.docs / median(plain.map(_.wall).toSeq), "docs/s"),
        ("dup_pair_recall", median(plain.map(_.recall).toSeq), "ratio"),
        ("stage_bytes_per_doc", median(plain.map(_.bytesPerDoc).toSeq), "B/doc"))
      else {
        val layer = traced.map(_._2)
        val overhead = median(traced.map(_._1.wall).toSeq) -
          median(plain.map(_.wall).toSeq)
        val cover = median(layer.map(_("trace.stage_sum_share")).toSeq)
        check(s"stage walls cover the traced wall within $TraceCover",
          math.abs(cover - 1) <= TraceCover, s"share $cover")
        Layers.all.map { case (name, unit) =>
          val v =
            if (name == "trace.overhead_s") overhead
            else median(layer.map(_(name)).toSeq)
          (name, v, unit)
        }
      }

    val correct = checks.forall(_._2)
    val artifact = Json.obj(
      "workload" -> Json.str(o.workload.name), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "cores" -> o.cores.toString,
      "docs" -> input.docs.toString, "planted_pairs" -> input.planted.toString,
      "setup_s" -> Json.nums(setupWalls),
      "setup_phases_s" -> setupPhases.map(Json.nums).mkString("[", ",", "]"),
      "call_s" -> Json.nums(plain.map(_.wall).toSeq),
      "traced_call_s" -> Json.nums(traced.map(_._1.wall).toSeq),
      "digest" -> Json.str(all.headOption.map(_.digest).getOrElse("")),
      "noise_probe_mops" -> Json.nums(probes.toSeq),
      "checks" -> checks.map { case (n, ok, d) =>
        Json.obj("check" -> Json.str(n), "ok" -> ok.toString,
          "detail" -> Json.str(d)) }.mkString("[", ",", "]"))
    println(artifact)
    println(Json.obj(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)))
    spark.stop()
    if (!correct) {
      checks.filterNot(_._2).foreach { case (n, _, d) =>
        System.err.println(s"[perfbench] CHECK FAILED: $n: $d") }
      sys.exit(1)
    }
  }

  // ---------------------------------------------------------------- calls

  def call(spark: SparkSession, w: Workload, in: Input, dir: String): Outcome = {
    val t0 = System.nanoTime()
    val out = DedupPipeline.run(spark, in.pages, w.cfg.copy(outputDir = Some(dir)))
    val wall = (System.nanoTime() - t0) / 1e9
    val cat = new SnapshotCatalog(spark, dir)
    observe(out.select("id", "cluster"), in, wall, dir,
      cat.snapshot("pairs", cat.currentVersion("pairs")).rows)
  }

  /** Traced call: returns the outcome plus its per-layer values. */
  def tracedCall(spark: SparkSession, trace: LayerTrace, o: Opts, in: Input,
      dir: String, rep: Int): (Outcome, Map[String, Double]) = {
    val sc = spark.sparkContext
    val cfg = o.workload.cfg
    val cat = new SnapshotCatalog(spark, dir)
    val walls = mutable.LinkedHashMap.empty[String, Double]
    val snaps = mutable.Map.empty[String, cat.Snapshot]
    // each layer is the public call run() makes, committed the way
    // run() commits it; the returned frame reads the committed snapshot
    def layer(name: String, table: String)(df: => DataFrame): DataFrame = {
      val ((snap, out), wall) = trace.timed(sc, s"$rep.$name") {
        val snap = cat.commit(table, df)
        (snap, cat.read(table, snap.version))
      }
      walls(name) = wall
      snaps(name) = snap
      out
    }
    var cleanup: () => Unit = () => ()
    val t0 = System.nanoTime()
    val docs = layer("extract", "docs") {
      DedupPipeline.extractDocs(in.pages)
    }
    walls("extract") += trace.timed(sc, s"$rep.extract") {
      val r = docs.agg(count(lit(1)), countDistinct(col("id"))).head()
      require(r.getLong(0) == r.getLong(1), "xxhash64(url) id collision")
    }._2
    val bandRows = layer("signatures", "signatures") {
      DedupPipeline.signatures(spark, docs, cfg.params)
    }
    val raw = layer("pairs_raw", "pairs_raw") {
      DedupPipeline.candidatePairs(spark, bandRows, cfg.maxBucketSize,
        saltBlockSize = cfg.saltBlockSize,
        saltDetectFraction = cfg.saltDetectFraction)._1
    }
    // run()'s prune decision, from the committed row counts
    val prune = 2 * snaps("pairs_raw").rows < snaps("extract").rows
    val pairs = layer("verify", "pairs") {
      val (v, c) = DedupPipeline.verifyPairsManaged(spark, raw, docs,
        cfg.params, cfg.jaccardThreshold, prune)
      cleanup = c
      v
    }
    val components = layer("components", "components") {
      ConnectedComponents.run(spark, pairs, docs.select("id"),
        assumeCanonical = true,
        driverFinishMaxEdges = cfg.ccDriverFinishMaxEdges,
        inputMaterialized = true, knownEdgeCount = snaps("verify").rows)
    }
    cleanup()
    val clusters = layer("clusters", "clusters") {
      val w = Window.partitionBy("component")
      val out = components.join(docs.select("id", "url"), "id")
        .select(col("id"), col("url"), col("component").as("cluster"),
          count(lit(1)).over(w).as("cluster_size"))
      if (cfg.minClusterSize > 1)
        out.where(col("cluster_size") >= cfg.minClusterSize)
      else out
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val out = observe(clusters.select("id", "cluster"), in, wall, dir,
      snaps("verify").rows)

    val perStage = walls.toSeq.flatMap { case (name, w) =>
      val t = trace.totals(sc, s"$rep.$name")
      Seq(
        s"$name.wall_s" -> w,
        s"$name.task_s" -> t.taskSeconds,
        s"$name.cpu_util" -> t.taskSeconds / (w * o.cores),
        s"$name.shuffle_write_mb" -> t.shuffleWriteBytes / 1e6,
        s"$name.shuffle_read_mb" -> t.shuffleReadBytes / 1e6,
        s"$name.spill_mb" -> t.spillBytes / 1e6,
        s"$name.task_skew" -> t.skew,
        s"$name.jobs" -> t.jobs.toDouble,
        s"$name.rows_out" -> snaps(name).rows.toDouble,
        s"$name.bytes_out" -> snaps(name).bytes.toDouble)
    }
    // algorithm counters, read from the committed tables outside the
    // timed layers; they repeat exactly for a seed
    val docsN = snaps("extract").rows.toDouble
    val buckets = bandRows.groupBy("band", "key").count()
      .agg(coalesce(sum(when(col("count") > cfg.saltBlockSize, 1L)), lit(0L)),
        coalesce(max(col("count")), lit(0L))).head()
    val setsComputed =
      if (!prune) docsN
      else raw.select(col("a").as("id")).union(raw.select(col("b")))
        .distinct().count().toDouble
    val edges = snaps("verify").rows
    val counters = Seq(
      "signatures.hot_buckets" -> buckets.getLong(0).toDouble,
      "signatures.max_bucket" -> buckets.getLong(1).toDouble,
      "pairs_raw.pairs_per_doc" -> snaps("pairs_raw").rows / docsN,
      "verify.sets_per_doc" -> setsComputed / docsN,
      "verify.pass_rate" ->
        edges.toDouble / math.max(1L, snaps("pairs_raw").rows),
      "components.edges" -> edges.toDouble,
      "components.driver_finish" ->
        (if (cfg.ccDriverFinishMaxEdges > 0 &&
          edges <= cfg.ccDriverFinishMaxEdges) 1.0 else 0.0),
      "components.clusters" ->
        clusters.select("cluster").distinct().count().toDouble,
      "trace.stage_sum_share" -> walls.values.sum / wall)
    (out, (perStage ++ counters).toMap)
  }

  /** Collects a call's (id, cluster) assignments and scores them. */
  private def observe(assign: DataFrame, in: Input, wall: Double,
      dir: String, pairs: Long): Outcome = {
    val rows = assign.collect().map(r => (r.getLong(0), r.getLong(1)))
    require(rows.length == in.docs,
      s"${rows.length} assignments for ${in.docs} docs")
    val together = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    rows.foreach { case (id, c) =>
      in.truth.get(id).foreach(g => together((g, c)) += 1)
    }
    val found = together.values.map(n => n * (n - 1) / 2).sum
    Outcome(wall, digest(rows), pairs, found.toDouble / in.planted,
      parquetBytes(new File(dir)) / in.docs.toDouble)
  }

  /** Order-independent digest of an (id = xxhash64(url), cluster) set. */
  def digest(rows: Iterable[(Long, Long)]): String =
    f"${rows.size}:${rows.foldLeft(0L) { case (s, (id, c)) =>
      s + WebGen.fmix(WebGen.mix(id, c)) }}%016x"


  private def parquetBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length()
    else 0L

  // ---------------------------------------------------------------- set-up

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Generates the corpus into parquet (the input table) and reads it back;
    * the planted groups stay outside the table the program reads. */
  def materialize(spark: SparkSession, spec: WebGen.Spec, seed: Long,
      dir: String): Input = {
    WebGen.pages(spark, spec, seed).write.parquet(dir)
    val table = spark.read.parquet(dir)
    val truth = table.where(col("grp").isNotNull)
      .select(xxhash64(col("url")), col("grp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = truth.values.groupBy(identity).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    Input(table.select("url", "html"), table.count(), truth, planted)
  }

  final case class Expected(digest: String, pairs: Long)

  /** The serial oracle's clusters (as a digest) and verified pair count on
    * the same corpus, from the docs `extractDocs` yields. */
  def oracle(w: Workload, in: Input): Expected = {
    val docs = DedupPipeline.extractDocs(in.pages).select("id", "text")
      .collect().map(r => r.getLong(0) ->
        r.getString(1).toUpperCase(java.util.Locale.ROOT).replaceAll("[^A-Z]", ""))
    val want = SerialOracle.run(docs.toSeq, w.cfg.params, w.cfg.jaccardThreshold)
    Expected(digest(want.clusters.toSeq), want.pairs.size.toLong)
  }

  // ---------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = workloads.getOrElse(need("--workload"),
      sys.error(s"unknown workload; one of ${workloads.keys.mkString(", ")}"))
    Opts(w, need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")), need("--cores").toInt)
  }
}
