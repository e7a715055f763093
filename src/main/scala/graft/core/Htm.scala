package graft.core

/** Hierarchical Triangular Mesh geometry behind STARE SIDs — from-scratch
  * implementation (the reference delegates to the C++-backed pystare;
  * see /root/reference/starepandas/tools/spatial_conversions.py:113-138).
  *
  * Grid definition (reverse-engineered from constants frozen in the
  * reference docstrings/tests and calibrated bit-for-bit against the
  * golden SIDs in FIXTURES.md §2):
  *
  *   - Base solid: the classic HTM octahedron with vertices
  *     (0,0,1),(1,0,0),(0,1,0),(-1,0,0),(0,-1,0),(0,0,-1), rotated about
  *     axis (1,1,0)/√2 by θ = π/4 − 1.2e-8 rad. The −1.2e-8 offset was
  *     solved from the full-precision trixel centers frozen at
  *     trixel_conversions.py:137 and :231 (residual ~1e-14) and verified
  *     against all six golden lat/lon→SID encodes.
  *   - Faces 0..7 = classic HTM S0..S3,N0..N3 with vertex tables
  *     S0=(1,5,2) S1=(2,5,3) S2=(3,5,4) S3=(4,5,1)
  *     N0=(1,0,4) N1=(4,0,3) N2=(3,0,2) N3=(2,0,1).
  *   - Children of (v0,v1,v2) with normalized edge midpoints w0=m(v1,v2),
  *     w1=m(v0,v2), w2=m(v0,v1): c0=(v0,w2,w1), c1=(v1,w0,w2),
  *     c2=(v2,w1,w0), c3=(w0,w1,w2).
  *   - Point location: strict half-space tests (reject when
  *     cross(a,b)·p < 0, no epsilon), children tried in order 0,1,2 and
  *     3 as the fallback. A full encode descends all 27 levels; the
  *     requested level only stamps the low 5 bits (verified: level-27
  *     and level-20 encodes of one point share all location bits,
  *     spatial_conversions.py:216-221,261-266).
  *   - Prefix property: descent step i depends only on steps 0..i-1, so
  *     a descent stopped after L steps yields exactly the location bits
  *     a full encode keeps above level L:
  *     latLonToSidPrefix(lat, lon, L) == clearTo(latLonToSid(lat, lon, k), L)
  *     for every k in 0..27. The fused clear-of-encode join key
  *     (StareClearToExpression over a literal-level stare_sid) uses it
  *     to run L steps instead of 27.
  */
object Htm {
  final val RotationDelta = -1.2e-8

  /** octahedron vertices after rotation; (x,y,z) triples. */
  val verts: Array[Array[Double]] = {
    val axis = {
      val n = math.sqrt(2.0)
      Array(1.0 / n, 1.0 / n, 0.0)
    }
    val theta = math.Pi / 4 + RotationDelta
    val c = math.cos(theta); val s = math.sin(theta)
    val base = Array(
      Array(0.0, 0.0, 1.0), Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(-1.0, 0.0, 0.0), Array(0.0, -1.0, 0.0), Array(0.0, 0.0, -1.0))
    base.map { v =>
      val d = axis(0) * v(0) + axis(1) * v(1) + axis(2) * v(2)
      val cr = Array(
        axis(1) * v(2) - axis(2) * v(1),
        axis(2) * v(0) - axis(0) * v(2),
        axis(0) * v(1) - axis(1) * v(0))
      Array(
        v(0) * c + cr(0) * s + axis(0) * d * (1 - c),
        v(1) * c + cr(1) * s + axis(1) * d * (1 - c),
        v(2) * c + cr(2) * s + axis(2) * d * (1 - c))
    }
  }

  /** face index -> (i0, i1, i2) into verts; classic HTM order. */
  val faces: Array[Array[Int]] = Array(
    Array(1, 5, 2), Array(2, 5, 3), Array(3, 5, 4), Array(4, 5, 1),
    Array(1, 0, 4), Array(4, 0, 3), Array(3, 0, 2), Array(2, 0, 1))

  @inline private def cross(a: Array[Double], b: Array[Double]): Array[Double] =
    Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2), a(0) * b(1) - a(1) * b(0))
  @inline private def dot(a: Array[Double], b: Array[Double]): Double =
    a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
  @inline private def mid(a: Array[Double], b: Array[Double]): Array[Double] = {
    val x = a(0) + b(0); val y = a(1) + b(1); val z = a(2) + b(2)
    val n = math.sqrt(x * x + y * y + z * z)
    Array(x / n, y / n, z / n)
  }

  @inline private def insideStrict(p: Array[Double], v0: Array[Double], v1: Array[Double], v2: Array[Double]): Boolean =
    dot(cross(v0, v1), p) >= 0 && dot(cross(v1, v2), p) >= 0 && dot(cross(v2, v0), p) >= 0

  def latLonToXyz(lat: Double, lon: Double): Array[Double] = {
    val la = math.toRadians(lat); val lo = math.toRadians(lon)
    Array(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))
  }

  def xyzToLatLon(v: Array[Double]): (Double, Double) = {
    val n = math.sqrt(dot(v, v))
    (math.toDegrees(math.asin(v(2) / n)), math.toDegrees(math.atan2(v(1), v(0))))
  }

  /** lat/lon (degrees) -> SID at the given level (0..27). */
  def latLonToSid(lat: Double, lon: Double, level: Int): Long = {
    val la = math.toRadians(lat); val lo = math.toRadians(lon)
    xyzToSidScalar(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la), level)
  }

  /** lat/lon (degrees) -> the level-L trixel that contains the point
    * (location bits finer than L zero, level field L): bit-equal to
    * clearing a full encode to L, at L of the 27 descent steps. */
  def latLonToSidPrefix(lat: Double, lon: Double, level: Int): Long = {
    val la = math.toRadians(lat); val lo = math.toRadians(lon)
    xyzToSidScalar(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la),
      level, depth = level)
  }

  def xyzToSid(p: Array[Double], level: Int): Long = xyzToSidScalar(p(0), p(1), p(2), level)

  /** (cross(a,b))·p with the exact operation order of the array-based
    * cross/dot helpers — the descent is calibrated bit-for-bit. */
  @inline private def sideTest(ax: Double, ay: Double, az: Double,
                               bx: Double, by: Double, bz: Double,
                               px: Double, py: Double, pz: Double): Double =
    (ay * bz - az * by) * px + (az * bx - ax * bz) * py + (ax * by - ay * bx) * pz

  /** Allocation-free encode: the hot path at scale. The boxed/array
    * variant allocated ~80 small arrays per call (3 normalized midpoints
    * x 27 levels) and made the encode phase GC-bound — measured SLOWER
    * on 32 cores than on 8. Arithmetic is identical op-for-op.
    * `depth` (0..27) bounds the descent; location bits below it stay
    * zero (see the prefix property in the header). */
  def xyzToSidScalar(px: Double, py: Double, pz: Double, level: Int,
                     depth: Int = Sid.MaxLevel): Long = {
    var v0x = 0.0; var v0y = 0.0; var v0z = 0.0
    var v1x = 0.0; var v1y = 0.0; var v1z = 0.0
    var v2x = 0.0; var v2y = 0.0; var v2z = 0.0
    var face = 7
    var f = 0
    var found = false
    while (f < 8 && !found) {
      val fc = faces(f)
      val a = verts(fc(0)); val b = verts(fc(1)); val c = verts(fc(2))
      if (sideTest(a(0), a(1), a(2), b(0), b(1), b(2), px, py, pz) >= 0 &&
          sideTest(b(0), b(1), b(2), c(0), c(1), c(2), px, py, pz) >= 0 &&
          sideTest(c(0), c(1), c(2), a(0), a(1), a(2), px, py, pz) >= 0) {
        face = f; found = true
      }
      f += 1
    }
    val fc = faces(face)
    v0x = verts(fc(0))(0); v0y = verts(fc(0))(1); v0z = verts(fc(0))(2)
    v1x = verts(fc(1))(0); v1y = verts(fc(1))(1); v1z = verts(fc(1))(2)
    v2x = verts(fc(2))(0); v2y = verts(fc(2))(1); v2z = verts(fc(2))(2)
    var loc: Long = face.toLong
    var lev = 0
    while (lev < depth) {
      // normalized midpoints, same op order as mid()
      var x = v1x + v2x; var y = v1y + v2y; var z = v1z + v2z
      var n = math.sqrt(x * x + y * y + z * z)
      val w0x = x / n; val w0y = y / n; val w0z = z / n
      x = v0x + v2x; y = v0y + v2y; z = v0z + v2z
      n = math.sqrt(x * x + y * y + z * z)
      val w1x = x / n; val w1y = y / n; val w1z = z / n
      x = v0x + v1x; y = v0y + v1y; z = v0z + v1z
      n = math.sqrt(x * x + y * y + z * z)
      val w2x = x / n; val w2y = y / n; val w2z = z / n
      var child = 3
      if (sideTest(v0x, v0y, v0z, w2x, w2y, w2z, px, py, pz) >= 0 &&
          sideTest(w2x, w2y, w2z, w1x, w1y, w1z, px, py, pz) >= 0 &&
          sideTest(w1x, w1y, w1z, v0x, v0y, v0z, px, py, pz) >= 0) {
        child = 0
        v1x = w2x; v1y = w2y; v1z = w2z; v2x = w1x; v2y = w1y; v2z = w1z
      } else if (sideTest(v1x, v1y, v1z, w0x, w0y, w0z, px, py, pz) >= 0 &&
          sideTest(w0x, w0y, w0z, w2x, w2y, w2z, px, py, pz) >= 0 &&
          sideTest(w2x, w2y, w2z, v1x, v1y, v1z, px, py, pz) >= 0) {
        child = 1
        v0x = v1x; v0y = v1y; v0z = v1z; v1x = w0x; v1y = w0y; v1z = w0z; v2x = w2x; v2y = w2y; v2z = w2z
      } else if (sideTest(v2x, v2y, v2z, w1x, w1y, w1z, px, py, pz) >= 0 &&
          sideTest(w1x, w1y, w1z, w0x, w0y, w0z, px, py, pz) >= 0 &&
          sideTest(w0x, w0y, w0z, v2x, v2y, v2z, px, py, pz) >= 0) {
        child = 2
        v0x = v2x; v0y = v2y; v0z = v2z; v1x = w1x; v1y = w1y; v1z = w1z; v2x = w0x; v2y = w0y; v2z = w0z
      } else {
        v0x = w0x; v0y = w0y; v0z = w0z; v1x = w1x; v1y = w1y; v1z = w1z; v2x = w2x; v2y = w2y; v2z = w2z
      }
      loc = (loc << 2) | child
      lev += 1
    }
    (loc << (5 + 2 * (Sid.MaxLevel - depth))) | level
  }

  /** Corner vertices (unit xyz) of a sid's trixel, at its own level. */
  def sidToTriangle(sid: Long): Array[Array[Double]] = {
    val loc = sid >>> 5
    val level = Sid.level(sid)
    val face = ((loc >> 54) & 7L).toInt
    val fc = faces(face)
    var v0 = verts(fc(0)); var v1 = verts(fc(1)); var v2 = verts(fc(2))
    var lev = 0
    while (lev < level) {
      val c = ((loc >> (52 - 2 * lev)) & 3L).toInt
      val w0 = mid(v1, v2); val w1 = mid(v0, v2); val w2 = mid(v0, v1)
      c match {
        case 0 => v1 = w2; v2 = w1
        case 1 => v0 = v1; v1 = w0; v2 = w2
        case 2 => v0 = v2; v1 = w1; v2 = w0
        case _ => v0 = w0; v1 = w1; v2 = w2
      }
      lev += 1
    }
    Array(v0, v1, v2)
  }

  /** Trixel corner + center lat/lons, antimeridian-wrapped like
    * trixel_conversions.py:49-54 (lon>180 -> lon-360). Returns
    * (cornerLats, cornerLons, centerLat, centerLon). */
  def sidToVertices(sid: Long, wrapLon: Boolean = true): (Array[Double], Array[Double], Double, Double) = {
    val t = sidToTriangle(sid)
    val lats = new Array[Double](3)
    val lons = new Array[Double](3)
    var i = 0
    while (i < 3) {
      val (la, lo) = xyzToLatLon(t(i))
      lats(i) = la
      lons(i) = if (wrapLon && lo > 180) ((lo + 180) % 360) - 180 else lo
      i += 1
    }
    val ctr = Array(t(0)(0) + t(1)(0) + t(2)(0), t(0)(1) + t(1)(1) + t(2)(1), t(0)(2) + t(1)(2) + t(2)(2))
    val (cla, cloRaw) = xyzToLatLon(ctr)
    val clo = if (wrapLon && cloRaw > 180) ((cloRaw + 180) % 360) - 180 else cloRaw
    (lats, lons, cla, clo)
  }

  def sidToCenter(sid: Long): (Double, Double) = {
    val v = sidToVertices(sid)
    (v._3, v._4)
  }

  /** Point-in-trixel test via the gring half-space constraints — an
    * INDEPENDENT geometry path from the encode descent (used as a
    * cross-check invariant: encode(p) must yield a trixel containing p).
    * `tol` absorbs fp noise for points on a trixel edge. */
  def sidContainsPoint(sid: Long, lat: Double, lon: Double, tol: Double = 1e-12): Boolean = {
    val p = latLonToXyz(lat, lon)
    val t = sidToTriangle(sid)
    dot(cross(t(0), t(1)), p) >= -tol &&
      dot(cross(t(1), t(2)), p) >= -tol &&
      dot(cross(t(2), t(0)), p) >= -tol
  }

  /** 3 great-circle normal vectors constraining the trixel (gring):
    * cross products of consecutive corners (trixel_conversions.py:253-268). */
  def sidToGring(sid: Long): Array[Array[Double]] = {
    val t = sidToTriangle(sid)
    Array(cross(t(0), t(1)), cross(t(1), t(2)), cross(t(2), t(0)))
  }

  /** corner unit vectors (ECEF on the unit sphere). */
  def sidToCornersEcef(sid: Long): Array[Array[Double]] = sidToTriangle(sid)

  /** Level whose trixel edge best matches a neighbor distance (degrees):
    * the reference's adapt_level=True (io/geotiff.py:103) picks the
    * resolution from the local pixel pitch; Spark rows carry no 2-D
    * raster context, so the neighbor distance is an explicit argument. */
  def adaptiveLevel(neighborDistDeg: Double): Int = {
    // level-0 trixel edge ~ 90 deg; each level halves it
    var level = 0
    var edge = 90.0
    while (level < Sid.MaxLevel && edge > neighborDistDeg) { edge /= 2; level += 1 }
    level
  }

  /** Solid angle of the trixel (steradians) × r² — spherical excess.
    * Mirrors trixel_area (staredataframe.py:915-929). */
  def area(sid: Long, r: Double = 1.0): Double = {
    val t = sidToTriangle(sid)
    // spherical excess via L'Huilier
    def angDist(a: Array[Double], b: Array[Double]): Double = {
      val d = dot(a, b)
      math.acos(math.max(-1.0, math.min(1.0, d)))
    }
    val a = angDist(t(1), t(2)); val b = angDist(t(0), t(2)); val c = angDist(t(0), t(1))
    val s = (a + b + c) / 2
    val t4 = math.tan(s / 2) * math.tan((s - a) / 2) * math.tan((s - b) / 2) * math.tan((s - c) / 2)
    4 * math.atan(math.sqrt(math.max(0.0, t4))) * r * r
  }
}
