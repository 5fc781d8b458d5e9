package perfbench

/** Names and units of the per-layer metrics (`--trace 1`). A layer is
  * named after the public call it times.
  */
object Layers {
  private val stages = Seq("extract", "signatures", "pairs_raw", "verify",
    "components", "clusters")
  private val perStage = Seq("wall_s" -> "s", "task_s" -> "s", "cpu_util" -> "ratio",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "task_skew" -> "ratio", "jobs" -> "count", "rows_out" -> "rows",
    "bytes_out" -> "B")
  private val counters = Seq("signatures.hot_buckets" -> "count",
    "signatures.max_bucket" -> "rows", "pairs_raw.pairs_per_doc" -> "pairs/doc",
    "verify.sets_per_doc" -> "sets/doc", "verify.pass_rate" -> "ratio",
    "components.edges" -> "count", "components.driver_finish" -> "flag",
    "components.clusters" -> "count")
  private val trace = Seq("trace.overhead_s" -> "s", "trace.stage_sum_share" -> "ratio")

  val all: Seq[(String, String)] =
    stages.flatMap(s => perStage.map { case (m, u) => s"$s.$m" -> u }) ++
      counters ++ trace
}

/** Minimal JSON rendering for the artifact and result lines. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  /** all digits as measured; a non-finite value renders as null, which the
    * runner rejects */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def nums(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
