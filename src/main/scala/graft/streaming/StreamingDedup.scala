package graft.streaming

import graft.core.{MinHasher, MinHashParams}
import graft.pipeline.DedupPipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming forms of the dedup operators (Structured Streaming). The
  * reference is a batch engine; its incremental-across-iterations design
  * (SURVEY.md §2.8) maps naturally onto streams: pages arrive continuously,
  * near-dup candidate pairs are emitted as soon as a band bucket gets a
  * second member.
  */
object StreamingDedup {

  /** Exact streaming dedup: first page per text fingerprint wins. Late
    * arrivals beyond the watermark are dropped from state (bounded state —
    * the production requirement at web scale).
    */
  def exactDedup(pages: DataFrame, watermark: String = "1 hour"): DataFrame =
    pages
      .withColumn("text_hash", xxhash64(col("text")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Watermarked event-time windowed aggregation — the streaming form of
    * the batch hourly rollup (`TextQueries.hourlyEvents`): per (user, hour
    * window) event count and cent-quantized value sum. Late events beyond
    * the watermark are dropped and their windows finalized (bounded state).
    */
  def hourlyEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100)).cast("long").as("sum_cents"))
      .select(col("user_id"),
        unix_micros(col("window.start")).as("hour_us"),
        col("n_events"), col("sum_cents"))

  /** Watermarked streaming sessionization — the native `session_window`
    * with merge-on-arrival state: sessions stay open while events keep
    * arriving within `gap` and finalize once the watermark passes, the
    * same bounded-state discipline as [[hourlyEvents]]. Value-equal to
    * the batch form (`TextQueries.sessions`), whose gaps-and-islands
    * DuckDB oracle verifies the merge semantics.
    */
  def sessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))

  /** Streaming dedup against a STATIC reference corpus — "drop documents
    * already in the training set", the standard curation-pipeline shape.
    * The corpus's LSH band table is folded ONCE into a Bloom filter over
    * xxhash64(band, key) bucket ids and broadcast; each incoming page is
    * sketched (native codegen expression) and flagged when ANY of its
    * buckets might be in the corpus. Entirely STATELESS on the stream side
    * (append mode, no state store, no stream-static join shuffle) — the
    * per-batch cost is a map pass, and a multi-billion-bucket corpus costs
    * `-expectedItems * ln(fpp) / ln(2)^2 / 8` bytes of broadcast (~1.2 GB
    * per 10^9 buckets at fpp 0.1%), the classic web-scale trade.
    * False negatives are impossible; false positives (rate `fpp`) flag a
    * fresh page as candidate — verify downstream or tune fpp.
    * Output: the input rows plus `is_candidate_dup`.
    */
  def againstCorpus(spark: SparkSession, pages: DataFrame,
      corpusBands: DataFrame, params: MinHashParams,
      expectedItems: Long, fpp: Double = 0.001): DataFrame = {
    val bf = corpusBands
      .select(xxhash64(col("band"), col("key")).as("bk"))
      .stat.bloomFilter("bk", expectedItems, fpp)
    val bcBf = spark.sparkContext.broadcast(bf)
    val might = udf((b: Long) => bcBf.value.mightContainLong(b))
    val keys = DedupPipeline.signatureKeys(col("text"), params)
    pages.withColumn("is_candidate_dup",
      coalesce(exists(transform(keys, (k, i) => xxhash64(i, k)),
        b => might(b)), lit(false)))
  }

  final case class BandRow(id: Long, band: Int, key: Long)
  final case class CandidatePair(a: Long, b: Long)

  private def isSorted(xs: Array[Long]): Boolean = {
    var i = 1
    while (i < xs.length) {
      if (xs(i - 1) > xs(i)) return false
      i += 1
    }
    true
  }

  /** Streaming LSH candidate pairs: per (band, key) bucket, keep the set of
    * member ids in state; each new member emits a canonical pair against
    * every existing member (the streaming form of `draw_graph`,
    * `shingling_cluster_generator_optimized.cpp:750-798`). State per bucket
    * is capped at `maxBucket` (hot-band guard) and expires after
    * `stateTtlMs` of inactivity.
    */
  def lshPairs(spark: SparkSession, pages: DataFrame, params: MinHashParams,
      maxBucket: Int = 1024, stateTtlMs: Long = 24L * 3600 * 1000)
      : Dataset[CandidatePair] = {
    import spark.implicits._
    // native fused sketch expression (the [[DedupPipeline.signatureKeys]]
    // path the batch pipeline and [[againstCorpus]] already run): the
    // per-batch map work stays inside whole-stage codegen instead of a
    // ScalaUDF + tuple-array conversion per page — byte-identical band
    // keys (spec: streaming == batch; the kernel == MinHasher spec covers
    // the kernel itself)
    val bands = pages
      .select(xxhash64(col("url")).as("id"),
        posexplode(DedupPipeline.signatureKeys(col("text"), params))
          .as(Seq("band", "key")))
      .as[BandRow]

    // stateTtlMs <= 0 disables timers (unbounded state; tests). With
    // timers, the trigger fires periodic timeout-sweep batches.
    val timeout = if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    bands
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (_: (Int, Long), rows: Iterator[BandRow],
            state: GroupState[Array[Long]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // bucket members as a SORTED primitive array (the pipeline's
            // idiom): O(log n) membership via binary search, one arraycopy
            // insert, and none of the per-event whole-set copying (and
            // boxed-Long garbage) an immutable Set state would churn
            var members = state.getOption.getOrElse(Array.emptyLongArray)
            // state restored from a checkpoint written by the former
            // Set[Long] encoding deserializes as the SAME array<bigint>
            // shape but in arbitrary set order — re-establish the sorted
            // invariant instead of silently mis-binary-searching.
            // (Same-encoder restarts are covered by the checkpoint-restart
            // spec; a checkpoint whose state schema the store REJECTS —
            // e.g. a containsNull mismatch from the old encoder — fails
            // validation at restart: resume those with a fresh checkpoint
            // dir, there is no in-place migration.)
            if (!isSorted(members)) {
              members = members.clone()
              java.util.Arrays.sort(members)
            }
            var dirty = false
            val out = Iterator.newBuilder[CandidatePair]
            rows.foreach { r =>
              val idx = java.util.Arrays.binarySearch(members, r.id)
              if (idx < 0 && members.length < maxBucket) {
                var i = 0
                while (i < members.length) {
                  val m = members(i)
                  out += CandidatePair(math.min(m, r.id), math.max(m, r.id))
                  i += 1
                }
                val at = -(idx + 1)
                val grown = new Array[Long](members.length + 1)
                System.arraycopy(members, 0, grown, 0, at)
                grown(at) = r.id
                System.arraycopy(members, at, grown, at + 1,
                  members.length - at)
                members = grown
                dirty = true
              }
            }
            if (dirty) state.update(members)
            if (stateTtlMs > 0 && state.exists)
              state.setTimeoutDuration(stateTtlMs)
            out.result()
          }
        })
    // NOTE: a pair may be emitted once per shared band (the reference emits
    // both directions per bucket too, `:750-798`); downstream connected
    // components is idempotent to duplicates, and chaining a streaming
    // dropDuplicates here would add a second unbounded stateful operator.
  }
}
