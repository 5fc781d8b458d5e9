package graft.tools

import graft.core.MinHashParams
import graft.pipeline.{HashSweep, PagesGen}

import org.apache.spark.sql.SparkSession

/** Measurement harness for the production driver loop ([[HashSweep]]) at
  * the BASELINE operating point: deterministic bench corpus, salted
  * pair-gen, incremental band and pair tables, optional vertex round (I2
  * cache). Prints one line per step plus a summary (steps, wall, docs/s) for
  * BASELINE.md. Not part of the library surface.
  *
  * Usage: SweepBench [nDocs] [maxSteps] [shinglingIterations]
  * Env:   SPARK_MASTER / SPARK_GRAFT_CPUS / SPARK_SHUFFLE_PARTITIONS as
  *        in DedupMain; SWEEP_DIR overrides the sweep's warehouse directory.
  */
object SweepBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toInt).getOrElse(4000000)
    val maxSteps = args.lift(1).map(_.toInt).getOrElse(3)
    val shingIters = args.lift(2).map(_.toInt).getOrElse(1)
    val startHashes = 41
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-sweep-bench")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val bandDir = sys.env.getOrElse("SWEEP_DIR",
      java.nio.file.Files.createTempDirectory("graft-sweep").toString)
    val pages = PagesGen.benchDF(spark, nDocs).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = pages.count() // corpus generation outside the timed window

    val t0 = System.nanoTime()
    // threshold 2.0 is unreachable: the sweep runs exactly
    // [startHashes, startHashes + maxSteps) and stops at maxHashes — a
    // fixed-step measurement window (the convergence criterion itself is
    // spec-tested at small scale)
    val res = HashSweep.run(spark, pages, bandDir,
      startHashes = startHashes, delta = 40,
      maxHashes = startHashes + maxSteps - 1, threshold = 2.0,
      baseParams = MinHashParams(numHashes = 1),
      shinglingIterations = shingIters)
    val sec = (System.nanoTime() - t0) / 1e9
    res.steps.foreach { s =>
      println(f"step h=${s.numHashes} fscore=${s.fscore}%.4f clusters=${s.clusters}")
      // per-leg walls in completion order (dot-prefixed = sub-leg of the
      // enclosing top-level leg that follows it)
      s.legs.foreach { case (name, secs) =>
        println(f"  leg $name%-28s ${secs}%8.2f s")
      }
    }
    val perStep = sec / res.steps.length
    println(f"sweep docs=$n steps=${res.steps.length} " +
      f"shingling_iterations=$shingIters seconds=$sec%.1f " +
      f"sec_per_step=$perStep%.1f docs_per_sec_per_step=${n / perStep}%.0f")
    // one snapshot warehouse holds every sweep table
    if (!sys.env.contains("SWEEP_DIR")) Fs.rmRf(new java.io.File(bandDir))
    spark.stop()
  }
}
