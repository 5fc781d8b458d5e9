package graft.tools

/** Shared filesystem helper (Bench, SweepBench, the perfbench harness) — one
  * recursive delete instead of a copy per caller.
  */
object Fs {
  def rmRf(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
    f.delete(): Unit
  }
}
