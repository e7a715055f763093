package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Htm, Sid, Tiv}

/** Property tests over the SID algebra and kernel (SURVEY.md §5) —
  * seeded random sampling (scalacheck-style; the scalatestplus bridge is
  * not in the offline cache, so plain deterministic loops). */
class SidPropertySpec extends AnyFunSuite {

  private val N = 500
  private def rng = new scala.util.Random(42)

  private def randSid(r: scala.util.Random): Long = {
    val lat = r.nextDouble() * 179.8 - 89.9
    val lon = r.nextDouble() * 360.0 - 180.0
    Htm.latLonToSid(lat, lon, r.nextInt(28))
  }

  test("level field roundtrips through coerce; location untouched") {
    val r = rng
    (1 to N).foreach { _ =>
      val sid = randSid(r); val l = r.nextInt(28)
      assert(Sid.level(Sid.coerceLevel(sid, l)) === l)
      assert(Sid.location(Sid.coerceLevel(sid, l)) === Sid.location(sid))
    }
  }

  test("clearToLevel is idempotent and preserves the interval") {
    val r = rng
    (1 to N).foreach { _ =>
      val sid = randSid(r)
      val c = Sid.clearToLevel(sid)
      assert(Sid.clearToLevel(c) === c)
      assert(Sid.intervalLo(c) === Sid.intervalLo(sid))
      assert(Sid.intervalHi(c) === Sid.intervalHi(sid))
    }
  }

  test("children partition the parent interval exactly") {
    val r = rng
    (1 to N).foreach { _ =>
      val sid0 = randSid(r)
      val sid = if (Sid.level(sid0) == 27) Sid.coerceLevel(sid0, 26) else sid0
      val l = Sid.level(sid)
      val lo = Sid.intervalLo(sid)
      val childInc = Sid.increment(l + 1)
      val kids = (0 until 4).map(i => (lo + i * childInc) | (l + 1))
      assert(kids.map(Sid.intervalLo).min === Sid.intervalLo(sid))
      assert(kids.map(Sid.intervalHi).max === Sid.intervalHi(sid))
      kids.foreach(k => assert(Sid.intersects(k, sid) && Sid.intersects(sid, k)))
      assert(!Sid.intersects(kids(0), kids(3)))
    }
  }

  test("compress preserves coverage, is idempotent and non-overlapping") {
    val r = rng
    (1 to 100).foreach { _ =>
      val arr = Array.fill(1 + r.nextInt(40))(randSid(r))
      val comp = Sid.compress(arr)
      assert(Sid.mergedIntervals(comp).toSeq === Sid.mergedIntervals(arr).toSeq)
      assert(Sid.compress(comp) === comp)
      val runs = comp.map(s => (Sid.intervalLo(s), Sid.intervalHi(s))).sortBy(_._1)
      runs.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
        case _ =>
      }
    }
  }

  test("expandToLevel emits a uniform level covering the same intervals") {
    val r = rng
    (1 to 100).foreach { _ =>
      val l = 8 + r.nextInt(3)
      val arr = Array.fill(1 + r.nextInt(20)) {
        val s = randSid(r)
        Sid.clearToLevel(Sid.coerceLevel(s, math.min(Sid.level(s), 8)))
      }
      val ex = Sid.expandToLevel(arr, l)
      assert(ex.forall(s => Sid.level(s) === l))
      assert(Sid.mergedIntervals(ex).toSeq === Sid.mergedIntervals(arr).toSeq)
    }
  }

  test("intersects is symmetric; intersecting trixels nest") {
    val r = rng
    (1 to N).foreach { _ =>
      val a = randSid(r); val b = randSid(r)
      assert(Sid.intersects(a, b) === Sid.intersects(b, a))
      if (Sid.intersects(a, b)) {
        val within = (Sid.intervalLo(a) <= Sid.intervalLo(b) && Sid.intervalHi(b) <= Sid.intervalHi(a)) ||
          (Sid.intervalLo(b) <= Sid.intervalLo(a) && Sid.intervalHi(a) <= Sid.intervalHi(b))
        assert(within)
      }
    }
  }

  test("encode computes the full location at every level") {
    val r = rng
    (1 to N).foreach { _ =>
      val lat = r.nextDouble() * 179.8 - 89.9
      val lon = r.nextDouble() * 360.0 - 180.0
      val l = 1 + r.nextInt(27)
      val fine = Htm.latLonToSid(lat, lon, l)
      val coarse = Htm.latLonToSid(lat, lon, l - 1)
      assert(Sid.location(fine) === Sid.location(coarse))
      assert(Sid.intersects(fine, coarse))
    }
  }

  test("prefix encode equals the clear of the full encode at every level 0..27") {
    val r = rng
    def clearTo(sid: Long, l: Int): Long = (sid & Sid.clearMask(l)) | l
    val random = Seq.fill(20000)((r.nextDouble() * 180.0 - 90.0, r.nextDouble() * 360.0 - 180.0))
    // adversarial: poles, the antimeridian, octahedron vertices, and
    // trixel corners (points on descent edges, where side tests are 0)
    val poles = for (lat <- Seq(90.0, -90.0, 89.999999999, -89.999999999); lon <- Seq(0.0, 180.0, -180.0, 45.0))
      yield (lat, lon)
    val meridian = Seq(180.0, -180.0, 179.999999999, -179.999999999, 0.0)
      .flatMap(lon => Seq(0.0, 30.0, -60.0, 45.0).map(lat => (lat, lon)))
    val vertices = Htm.verts.toSeq.map(Htm.xyzToLatLon)
    val corners = (0 to 27).flatMap { l =>
      Seq.fill(40)(Htm.sidToTriangle(randSid(r) & ~Sid.LevelMask | l).toSeq.map(Htm.xyzToLatLon)).flatten
    }
    val pts = random ++ poles ++ meridian ++ vertices ++ corners
    pts.foreach { case (lat, lon) =>
      val full = Htm.latLonToSid(lat, lon, 26)
      (0 to Sid.MaxLevel).foreach { l =>
        assert(Htm.latLonToSidPrefix(lat, lon, l) === clearTo(full, l), s"lat=$lat lon=$lon level=$l")
      }
    }
    assert(corners.length === 28 * 40 * 3)
  }

  test("tiv roundtrips whole-millisecond utc instants 1970..2100") {
    val r = rng
    (1 to N).foreach { _ =>
      val ms = math.abs(r.nextLong()) % 4102444800000L
      assert(Tiv.toUtcMillis(Tiv.fromUtcMillis(ms)) === ms)
    }
  }

  test("trixel center encodes back into its own trixel") {
    val r = rng
    (1 to N).foreach { _ =>
      val lat = r.nextDouble() * 179.8 - 89.9
      val lon = r.nextDouble() * 360.0 - 180.0
      val l = r.nextInt(21)
      val sid = Htm.latLonToSid(lat, lon, l)
      val (clat, clon) = Htm.sidToCenter(sid)
      val re = Htm.latLonToSid(clat, clon, l)
      assert(Sid.intervalLo(re) === Sid.intervalLo(sid))
    }
  }

  test("intervalOverlapsFlat equals the tuple-run overlap test") {
    val r = rng
    (1 to N).foreach { _ =>
      // random compressed cover from a handful of random cells
      val cells = Array.fill(1 + r.nextInt(6))(Htm.latLonToSid(
        r.nextDouble() * 179.8 - 89.9, r.nextDouble() * 360.0 - 180.0, r.nextInt(10)))
      val runs = Sid.mergedIntervals(cells)
      val flat = Sid.flattenRuns(runs)
      (1 to 20).foreach { _ =>
        val sid = randSid(r)
        val expected = Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runs)
        assert(Sid.intervalOverlapsFlat(sid, flat) === expected, s"sid=${Sid.hex(sid)}")
      }
    }
  }

  test("a sid's ladder key is one of the cover's rungs iff the compressed cover contains it") {
    val r = rng
    (1 to 200).foreach { _ =>
      val cover = Sid.compress(Array.fill(1 + r.nextInt(6))(Htm.latLonToSid(
        r.nextDouble() * 179.8 - 89.9, r.nextDouble() * 360.0 - 180.0, r.nextInt(10))))
      val levels = cover.map(Sid.level)
      val to = levels.max
      def contains(sid: Long) = cover.exists(c => Sid.level(c) <= Sid.level(sid) && Sid.intersects(c, sid))
      val uniform = Sid.expandToLevel(cover, to).length.toLong
      (1 to 20).foreach { _ =>
        // a descendant or ancestor of a cover cell, or a random sid
        val cell = cover(r.nextInt(cover.length))
        val sid = r.nextInt(3) match {
          case 0 =>
            val k = Sid.level(cell) + r.nextInt(28 - Sid.level(cell))
            ((Sid.intervalLo(cell) + (r.nextLong() & Long.MaxValue) % Sid.increment(Sid.level(cell))) &
              Sid.clearMask(k)) | k
          case 1 =>
            val k = r.nextInt(Sid.level(cell) + 1)
            (cell & Sid.clearMask(k)) | k
          case _ => randSid(r)
        }
        // rungs from the coarsest cover level (nothing declared), or from
        // any declared minimum at or below the sid's level
        for (from <- Seq(levels.min, r.nextInt(Sid.level(sid) + 1))) {
          val ladder = Sid.ladder(cover, from, to)
          assert(ladder.contains(Sid.ladderKey(sid, to)) === contains(sid),
            s"sid=${Sid.hex(sid)} from=$from cover=${cover.map(Sid.hex).toSeq}")
          val sorted = ladder.clone()
          java.util.Arrays.sort(sorted)
          assert((1 until sorted.length).forall(i => sorted(i) != sorted(i - 1)), "duplicate rungs")
          assert(ladder.length.toLong === levels.map(Sid.ladderRungs(_, from, to)).sum)
          assert(ladder.length * 3L <= uniform * 4L)
        }
      }
    }
  }
}
