package graft.core

import scala.collection.mutable.ArrayBuffer

/** STARE spatial index value (SID) algebra — pure JVM, no Spark deps.
  *
  * Bit layout (verified against constants frozen in the reference test
  * suite, see /root/reference/starepandas/staredataframe.py:1067-1074 and
  * tests/test_dissolve.py:31-34):
  *
  *   - bits 0..4   : level field (0..27; 31 = "everything" sentinel)
  *   - bits 5..61  : location — 3-bit octahedron face at bits 59..61,
  *                   then 2 bits per quadtree child per level; the child
  *                   bits of level i sit at bits (59-2i)..(60-2i).
  *
  * A SID denotes the trixel interval [clearToOwnLevel(s),
  * clearToOwnLevel(s) + increment(level(s))) over location space; trixel
  * intervals at different levels are either nested or disjoint, never
  * partially overlapping (quadtree property).
  */
object Sid {
  final val LevelMask = 31L
  /** location bits 5..61 */
  final val LocMask = 0x3FFFFFFFFFFFFFE0L
  final val MaxLevel = 27
  /** "everything" sentinel (level field 31), reference tests/test_shapely20.py:5 */
  final val Everything = 0x3FFFFFFFFFFFFFFFL

  @inline def level(sid: Long): Int = (sid & LevelMask).toInt

  /** Width of one trixel at level L in sid-integer space: 1 << (59 - 2L). */
  @inline def increment(lvl: Int): Long = 1L << (59 - 2 * lvl)

  /** Mask keeping face + child bits down to level L (and the level field cleared). */
  @inline def clearMask(lvl: Int): Long = LocMask & ~(increment(lvl) - 1L)

  /** Zero location bits finer than the sid's own level; keep the level field.
    * Mirrors pystare.spatial_clear_to_resolution
    * (reference staredataframe.py:981-1011). */
  def clearToLevel(sid: Long): Long = {
    val l = level(sid)
    (sid & clearMask(l)) | l
  }

  /** Rewrite only the level field (location untouched).
    * Mirrors pystare.spatial_coerce_resolution (staredataframe.py:931-979). */
  @inline def coerceLevel(sid: Long, lvl: Int): Long = (sid & ~LevelMask) | lvl

  /** Location-only value (level field dropped) — the join/compare key. */
  @inline def location(sid: Long): Long = sid & LocMask

  /** Interval [lo, hi) of the sid's trixel in location space. */
  @inline def intervalLo(sid: Long): Long = sid & clearMask(level(sid))
  @inline def intervalHi(sid: Long): Long = intervalLo(sid) + increment(level(sid))

  /** Do two sids' trixels intersect? True iff one contains the other
    * (intervals are nested or disjoint). */
  def intersects(a: Long, b: Long): Boolean = {
    val la = intervalLo(a); val lb = intervalLo(b)
    (la <= lb && lb < intervalHi(a)) || (lb <= la && la < intervalHi(b))
  }

  /** parent sid at level-1 (cleared + level stamped). */
  def parent(sid: Long): Long = {
    val l = level(sid)
    require(l > 0, s"level-0 sid has no parent: $sid")
    (sid & clearMask(l - 1)) | (l - 1)
  }

  /** i-th child (0..3) at level+1 (canonical location + level stamped). */
  def child(sid: Long, i: Int): Long = {
    val l = level(sid)
    require(i >= 0 && i < 4, s"child index $i")
    require(l < 27, s"level-27 sid has no children: $sid")
    intervalLo(sid) | (i.toLong * increment(l + 1)) | (l + 1).toLong
  }

  def hex(sid: Long): String = f"0x$sid%016x"

  /** Sort + dedup + canonical multi-resolution compression.
    * Semantics of pystare unique -> to_compressed_range ->
    * expand_intervals(-1, multi_res=True) as used by compress_sids
    * (reference tools/spatial_conversions.py:403-439): merge the trixel
    * intervals, then re-emit each merged run as the minimal list of
    * maximal aligned trixels. Sibling quadruples collapse into parents;
    * children of present ancestors vanish. */
  def compress(sids: Array[Long]): Array[Long] = {
    if (sids.isEmpty) return Array.emptyLongArray
    val iv = mergedIntervals(sids)
    val out = new ArrayBuffer[Long](iv.length * 2)
    var i = 0
    while (i < iv.length) {
      emitAligned(iv(i)._1, iv(i)._2, out)
      i += 1
    }
    out.toArray
  }

  /** Merge sid trixel intervals into disjoint sorted [lo, hi) runs. */
  def mergedIntervals(sids: Array[Long]): Array[(Long, Long)] = {
    val pairs = sids.map(s => (intervalLo(s), intervalHi(s))).sortBy(_._1)
    val out = new ArrayBuffer[(Long, Long)](pairs.length)
    var curLo = pairs(0)._1
    var curHi = pairs(0)._2
    var i = 1
    while (i < pairs.length) {
      val (lo, hi) = pairs(i)
      if (lo <= curHi) { if (hi > curHi) curHi = hi }
      else { out += ((curLo, curHi)); curLo = lo; curHi = hi }
      i += 1
    }
    out += ((curLo, curHi))
    out.toArray
  }

  /** Emit maximal aligned trixels covering [lo, hi); append sids (with
    * level stamped) to out. */
  private def emitAligned(lo: Long, hi: Long, out: ArrayBuffer[Long]): Unit = {
    var pos = lo
    while (pos < hi) {
      // deepest level whose increment is aligned at pos AND fits in [pos, hi)
      var l = 0
      while (l < MaxLevel && ((pos & (increment(l) - 1L)) != 0L || pos + increment(l) > hi)) l += 1
      out += (pos | l)
      pos += increment(l)
    }
  }

  /** Expand each sid to all its level-L descendants (uniform single level).
    * Mirrors to_sids_singlelevel / pystare.expand_intervals to a fixed
    * level (staredataframe.py:1013-1059). Sids already at level >= L are
    * coerced+cleared to L? No — reference expands coarser sids and keeps
    * finer ones at their own interval: we emit the level-L trixels
    * covering the sid's interval. */
  def expandToLevel(sids: Array[Long], lvl: Int): Array[Long] = {
    val out = new ArrayBuffer[Long]()
    val inc = increment(lvl)
    var i = 0
    while (i < sids.length) {
      val s = sids(i)
      if (level(s) >= lvl) {
        out += ((s & clearMask(lvl)) | lvl)
      } else {
        var pos = intervalLo(s)
        val hi = intervalHi(s)
        while (pos < hi) { out += (pos | lvl); pos += inc }
      }
      i += 1
    }
    out.toArray
  }

  /** The level ladder of non-nested cells: each cell coarser than `to`
    * as its trixels at every level from max(its level, from) to `to`; a
    * cell finer than `to` stays itself. For a sid at a level >= `from`,
    * its [[ladderKey]] is one of a cell's rungs iff the cell is at or
    * coarser than `to` and contains the sid; rungs of disjoint cells are
    * distinct, so the key matches at most one of them. */
  def ladder(cells: Array[Long], from: Int, to: Int): Array[Long] = {
    val out = new ArrayBuffer[Long]()
    cells.foreach { c =>
      val l = level(c)
      if (l >= to) out += clearToLevel(c)
      else (math.max(l, math.min(from, to)) to to).foreach(k => out ++= expandToLevel(Array(c), k))
    }
    out.toArray
  }

  /** Rungs [[ladder]] makes of one cell at `cellLevel`. */
  def ladderRungs(cellLevel: Int, from: Int, to: Int): Long =
    if (cellLevel >= to) 1L
    else (math.max(cellLevel, math.min(from, to)) to to).map(k => 1L << (2 * (k - cellLevel))).sum

  /** The one key of a sid against a [[ladder]] up to `to`: its ancestor
    * at min(level(sid), to). */
  def ladderKey(sid: Long, to: Int): Long = {
    val l = math.min(level(sid), to)
    (sid & clearMask(l)) | l
  }

  /** Intersection of two sid sets (cover ∩ cover -> canonical cover).
    * Mirrors pystare.intersection as used by stare_intersection
    * (staredataframe.py:809-839) and polygon-hole handling. */
  def intersection(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty || b.isEmpty) return Array.emptyLongArray
    val ia = mergedIntervals(a)
    val ib = mergedIntervals(b)
    val out = new ArrayBuffer[Long]()
    var i = 0; var j = 0
    while (i < ia.length && j < ib.length) {
      val lo = math.max(ia(i)._1, ib(j)._1)
      val hi = math.min(ia(i)._2, ib(j)._2)
      if (lo < hi) emitAligned(lo, hi, out)
      if (ia(i)._2 < ib(j)._2) i += 1 else j += 1
    }
    out.toArray
  }

  /** True iff any sid in `row` intersects any sid in the prepared cover
    * intervals (sorted disjoint [lo,hi) runs). Binary search per sid. */
  def anyIntersects(row: Array[Long], cover: Array[(Long, Long)]): Boolean = {
    var i = 0
    while (i < row.length) {
      if (intervalOverlaps(intervalLo(row(i)), intervalHi(row(i)), cover)) return true
      i += 1
    }
    false
  }

  def intervalOverlaps(lo: Long, hi: Long, runs: Array[(Long, Long)]): Boolean = {
    // find first run with runHi > lo
    var a = 0; var b = runs.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (runs(m)._2 <= lo) a = m + 1 else b = m
    }
    a < runs.length && runs(a)._1 < hi
  }

  /** flatten merged runs to [lo0, hi0, lo1, hi1, ...] — the form the
    * codegen'd cover-intersects expression ships to executors. */
  def flattenRuns(runs: Array[(Long, Long)]): Array[Long] = {
    val out = new Array[Long](runs.length * 2)
    var i = 0
    while (i < runs.length) { out(2 * i) = runs(i)._1; out(2 * i + 1) = runs(i)._2; i += 1 }
    out
  }

  /** does the sid's interval overlap any flattened run? Allocation-free
    * binary search — the whole-stage-codegen kernel behind
    * stare_intersects_cover. */
  def intervalOverlapsFlat(sid: Long, flat: Array[Long]): Boolean = {
    val lo = intervalLo(sid); val hi = intervalHi(sid)
    var a = 0; var b = flat.length >>> 1
    while (a < b) {
      val m = (a + b) >>> 1
      if (flat(2 * m) < hi) a = m + 1 else b = m
    }
    // run a-1 is the last with runLo < hi; runs are sorted + disjoint,
    // so it is the only candidate
    a > 0 && flat(2 * (a - 1) + 1) > lo
  }
}
