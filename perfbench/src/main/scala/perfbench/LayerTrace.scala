package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Task metrics of every job run under a job group, keyed by that group.
  *
  * A traced call sets a job group (`SparkContext.setJobGroup`) around one
  * public stage call; Spark copies the group into the properties of every
  * job the call starts, including broadcast jobs run on other threads, so
  * the job-start event maps each Spark stage to the call that caused it.
  */
final class LayerTrace extends SparkListener {

  final class Totals {
    var jobs = 0
    var taskSeconds = 0.0
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    /** task durations (ms) per Spark stage */
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** slowest over median task of the stage with the most task time:
      * the stage that sets the call's critical path */
    def skew: Double =
      if (durations.isEmpty) 0.0
      else {
        val ds = durations.values.maxBy(_.sum).sorted
        val med = ds(ds.length / 2)
        if (med <= 0) 1.0 else ds.last.toDouble / med
      }
  }

  private val byGroup = mutable.Map.empty[String, Totals]
  private val stageGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(LayerTrace.Prefix))
      .foreach { g =>
        val t = byGroup.getOrElseUpdate(g, new Totals)
        t.jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = byGroup.getOrElseUpdate(g, new Totals)
      t.taskSeconds += m.executorRunTime / 1e3
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled
      t.durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** Runs `body` under job group `group` and returns its wall seconds. */
  def timed[T](sc: SparkContext, group: String)(body: => T): (T, Double) = {
    sc.setJobGroup(LayerTrace.Prefix + group, group)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally sc.clearJobGroup()
  }

  /** The totals of `group`, once every event of its jobs was delivered. */
  def totals(sc: SparkContext, group: String): Totals = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized(byGroup.getOrElse(LayerTrace.Prefix + group, new Totals))
  }
}

object LayerTrace {
  val Prefix = "perfbench."
}
