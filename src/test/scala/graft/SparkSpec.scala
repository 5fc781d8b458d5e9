package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt -batch test` fast).
  */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with a fresh temp directory named `<prefix>*`, removed
    * afterwards however `body` ends.
    */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally graft.tools.Fs.rmRf(dir)
  }

  /** Executed (final adaptive) plans of every action `body` runs —
    * including the ones a query triggers while it is being built (the CC
    * driver finish's collect, nocc's checkpoint, a snapshot commit's write).
    */
  def executedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = s"plan-capture-end-${System.nanoTime()}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = plans.add(qe.executedPlan.toString)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker query's plan is
      // in, so is every plan before it
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker))
        .collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!plans.toArray.exists(_.toString.contains(marker))) {
        assert(System.nanoTime() < deadline, "listener events never arrived")
        Thread.sleep(10)
      }
    } finally spark.listenerManager.unregister(listener)
    plans.toArray.map(_.toString).filterNot(_.contains(marker)).toSeq
  }
}
