package graft

import graft.core.Htm

/** Round-6 measurement tool (guide §1): single-core throughput of the
  * HTM encode kernel, pure JVM (no Spark) — bounds the encode phase's
  * share of the headline join section.
  *
  * r6 finding recorded here for the optimization log: a strength-reduced
  * descent (octant face pick + one middle-edge test per child instead of
  * three) was prototyped and REJECTED — at level 26 the side-test
  * magnitudes sit at fp-noise scale (~1e-16), so the redundant
  * parent-edge tests the reduction removes flip the deepest location
  * bits for ~6% of points (1.87M diffs over 32M bench/verify-generator
  * points), while the measured speedup was only 1.10x because the
  * 3-sqrt/9-div midpoint chain, not the side tests, dominates the
  * level loop. The kernel stays op-for-op calibrated instead.
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 8000000L
    // descent depth: 27 is the full level-26 encode, 6 the prefix
    // descent behind a level-6 join key (Htm.latLonToSidPrefix)
    def time(depth: Int): Double = {
      var sink = 0L
      val t0 = System.nanoTime()
      var j = 0L
      while (j < n) {
        val la = math.toRadians(-39.0 + (j % 7789) / 100.0)
        val lo = math.toRadians(-179.0 + (j % 35617) / 100.0)
        sink ^= Htm.xyzToSidScalar(
          math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la), math.min(depth, 26), depth)
        j += 1
      }
      if (sink == 42L) System.err.println("") // keep the loop alive
      (System.nanoTime() - t0) / 1e9
    }
    time(27); time(6) // warm-up
    val sec = (1 to 3).map(_ => time(27)).min
    val prefixSec = (1 to 3).map(_ => time(6)).min
    println(f"""{"n":$n,"encode_sec":$sec%.3f,"encode_mrows_per_sec_core":${n / sec / 1e6}%.2f,""" +
      f""""prefix6_sec":$prefixSec%.3f,"prefix6_mrows_per_sec_core":${n / prefixSec / 1e6}%.2f}""")
  }
}
