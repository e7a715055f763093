package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Htm, Sid}
import graft.pipeline.TextOps

/** Specs for the q33-q37 driver queries added in round 3: the soundness
  * properties the DuckDB oracles rely on (prune ⊇ decide), plus smoke
  * runs of each query at sf0.001. */
class NewQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("q33 soundness: pair cover intersection is a superset of box-AND-box (fuzz)") {
    val rnd = new scala.util.Random(7)
    for ((a, b) <- SparkEntry.regionPairs) {
      val inter = Sid.intersection(SparkEntry.regionCover(a), SparkEntry.regionCover(b))
      // box overlap (ignoring the wrapping pacific region for the fuzz)
      val latLo = math.max(a.latMin, b.latMin); val latHi = math.min(a.latMax, b.latMax)
      val lonLo = math.max(a.lonMin, b.lonMin); val lonHi = math.min(a.lonMax, b.lonMax)
      val boxesOverlap = latLo <= latHi && lonLo <= lonHi && !a.wraps && !b.wraps
      if (boxesOverlap) {
        // soundness direction the q33 plan depends on: box∩box nonempty
        // ⟹ cover∩cover nonempty, and every point in box∩box is covered
        assert(inter.nonEmpty, s"${a.name}|${b.name}: boxes overlap but covers are disjoint")
        val runs = Sid.mergedIntervals(inter)
        for (_ <- 1 to 200) {
          val lat = latLo + rnd.nextDouble() * (latHi - latLo)
          val lon = lonLo + rnd.nextDouble() * (lonHi - lonLo)
          val sid = Htm.latLonToSid(lat, lon, 26)
          assert(Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runs),
            s"point ($lat, $lon) in ${a.name}∩${b.name} boxes missed by cover intersection")
        }
      }
      // the empty-cover fast path may only fire when the boxes are
      // genuinely disjoint (cover ⊇ box makes this implication exact)
      if (inter.isEmpty) assert(!boxesOverlap && (a.wraps || b.wraps || latLo > latHi || lonLo > lonHi))
    }
  }

  test("q33 prunes by the boxes region pairs share: a point is in two boxes iff it is in a shared box") {
    def inBox(r: SparkEntry.Region, lat: Double, lon: Double): Boolean =
      lat >= r.latMin && lat <= r.latMax &&
        (if (r.wraps) lon >= r.lonMin || lon <= r.lonMax else lon >= r.lonMin && lon <= r.lonMax)
    assert(SparkEntry.regionPairs.filter { case (a, b) => SparkEntry.sharedBoxes(a, b).nonEmpty }
      .map { case (a, b) => s"${a.name}|${b.name}" }.toSet ===
      Set("argentina|brazil", "brazil|colombia", "brazil|peru", "colombia|peru"))
    // every region pair, and wrapping boxes that overlap each other and a
    // plain box across the seam, against a grid that holds every box
    // edge (the bounds are inclusive)
    val w1 = SparkEntry.Region("w1", 170, -170, -10, 10, wraps = true)
    val w2 = SparkEntry.Region("w2", 160, -175, 0, 20, wraps = true)
    val n1 = SparkEntry.Region("n1", -178, 175, 5, 15)
    for ((a, b) <- SparkEntry.regionPairs ++ Seq((w1, w2), (w1, n1), (n1, w2));
         lat <- (-90 to 90).map(_.toDouble); lon <- (-180 to 180).map(_.toDouble))
      assert(SparkEntry.sharedBoxes(a, b).exists(inBox(_, lat, lon)) === (inBox(a, lat, lon) && inBox(b, lat, lon)),
        s"${a.name}|${b.name} ($lat, $lon)")
  }

  test("regionCover is keyed by the region, not its name") {
    val brazil = SparkEntry.regionCover(SparkEntry.region("brazil"))
    val other = SparkEntry.regionCover(SparkEntry.Region("brazil", 0, 10, 0, 10))
    assert(Sid.anyIntersects(Array(Htm.latLonToSid(5, 5, 26)), Sid.mergedIntervals(other)))
    assert(!(other sameElements brazil))
  }

  test("q15/q45 answer from the table as it is now: a rewritten documents.parquet gets new pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def text(words: Int) = Seq.fill(words)(s"w${rnd.nextInt(1000000)}").mkString(" ")
    // 30 unrelated 40-word texts, then each planted (id -> source id)
    // becomes its source's text plus one word: J = 38/39 per link
    def table(planted: Seq[(Long, Long)]): Seq[(Long, String)] = {
      val ts = scala.collection.mutable.LinkedHashMap((1L to 30L).map(_ -> text(40)): _*)
      planted.foreach { case (id, src) => ts(id) = ts(src) + " " + text(1) }
      ts.toSeq
    }
    def bruteForce(docs: Seq[(Long, String)]): (Map[(Long, Long), Double], Map[Long, Long]) = {
      val d = docs.toDF("doc_id", "text")
      val pairs = d.select(col("doc_id").as("a"), col("text").as("ta"))
        .crossJoin(d.select(col("doc_id").as("b"), col("text").as("tb")))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"), TextOps.shingleJaccard(col("ta"), col("tb")).as("j"))
        .filter(col("j") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // components: label each node by the min id reachable
      var label = pairs.keys.flatMap { case (a, b) => Seq(a -> a, b -> b) }.toMap
      var moved = true
      while (moved) {
        val next = pairs.keys.foldLeft(label) { case (l, (a, b)) =>
          val m = math.min(l(a), l(b)); l.updated(a, m).updated(b, m)
        }
        moved = next != label; label = next
      }
      (pairs, label)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-dups").toString
    try {
      // the second table plants a chain 9~2~25 on other ids
      for ((planted, expected) <- Seq(
        Seq(17L -> 4L) -> Set((4L, 17L)),
        Seq(2L -> 9L, 25L -> 2L) -> Set((2L, 9L), (2L, 25L), (9L, 25L)))) {
        val docs = table(planted)
        docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val (pairs, clusters) = bruteForce(docs)
        assert(pairs.keySet === expected)
        val q15 = SparkEntry.queries("q15_minhash_dups")(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        assert(q15.keySet === pairs.keySet)
        q15.foreach { case (p, j) => assert(math.abs(j - pairs(p)) < 1e-6, s"$p") }
        val q45 = SparkEntry.queries("q45_dup_clusters")(spark, dir).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(q45 === clusters)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q34 soundness: every point satisfying the ellipse predicate intersects the prune cover") {
    val eq = SparkEntry.ellipseQuery
    val runs = Sid.mergedIntervals(eq.pruneCover)
    def havRad(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val dLat = math.toRadians(lat2 - lat1); val dLon = math.toRadians(lon2 - lon1)
      val h = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dLon / 2), 2)
      2 * math.asin(math.min(1.0, math.sqrt(h)))
    }
    val rnd = new scala.util.Random(11)
    var inside = 0
    for (_ <- 1 to 20000) {
      // sample a generous box around the center (ellipse spans ~40 deg)
      val lat = eq.centerLat - 28 + rnd.nextDouble() * 56
      val lon = eq.centerLon - 45 + rnd.nextDouble() * 90
      val dSum = havRad(lat, lon, eq.f1Lat, eq.f1Lon) + havRad(lat, lon, eq.f2Lat, eq.f2Lon)
      if (dSum <= eq.twoARad) {
        inside += 1
        val sid = Htm.latLonToSid(lat, lon, 26)
        assert(Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runs),
          s"in-ellipse point ($lat, $lon) outside prune cover")
      }
    }
    assert(inside > 500, s"fuzz sampled too few interior points ($inside) to be meaningful")
  }

  test("q34 ellipse foci are symmetric about the center and on the major axis") {
    val eq = SparkEntry.ellipseQuery
    // both foci at distance c from the center
    def hav(lat2: Double, lon2: Double): Double = {
      val dLat = math.toRadians(lat2 - eq.centerLat); val dLon = math.toRadians(lon2 - eq.centerLon)
      val h = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(eq.centerLat)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dLon / 2), 2)
      2 * math.asin(math.min(1.0, math.sqrt(h))) * eq.earthR
    }
    val c = math.sqrt(eq.semiMajorM * eq.semiMajorM - eq.semiMinorM * eq.semiMinorM)
    assert(math.abs(hav(eq.f1Lat, eq.f1Lon) - c) < 1.0) // meters
    assert(math.abs(hav(eq.f2Lat, eq.f2Lon) - c) < 1.0)
    // center satisfies the predicate trivially (2c < 2a)
    val dSum = (hav(eq.f1Lat, eq.f1Lon) + hav(eq.f2Lat, eq.f2Lon)) / eq.earthR
    assert(dSum < eq.twoARad)
  }

  test("q35 trigram jaccard: hand-computed pair") {
    import spark.implicits._
    // "abcd" -> {abc, bcd}; "bcde" -> {bcd, cde}; inter 1, union 3
    val ga = Seq(("abcd", "bcde")).toDF("a", "b")
    val r = ga.select(
      size(array_intersect(
        array_distinct(transform(sequence(lit(1), greatest(length(col("a")) - 2, lit(1))), i => col("a").substr(i, lit(3)))),
        array_distinct(transform(sequence(lit(1), greatest(length(col("b")) - 2, lit(1))), i => col("b").substr(i, lit(3)))))).as("i"),
      size(array_union(
        array_distinct(transform(sequence(lit(1), greatest(length(col("a")) - 2, lit(1))), i => col("a").substr(i, lit(3)))),
        array_distinct(transform(sequence(lit(1), greatest(length(col("b")) - 2, lit(1))), i => col("b").substr(i, lit(3)))))).as("u"))
      .collect()(0)
    assert(r.getInt(0) === 1 && r.getInt(1) === 3)
  }

  test("q36 geometry invariants hold for every doc cell at sf0.001") {
    val out = SparkEntry.queries("q36_trixel_geometry")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(1) == 8L && r.getBoolean(2) && r.getBoolean(3)))
  }

  test("q37 raster bands have the closed-form sums and every pixel is in its trixel") {
    val out = SparkEntry.queries("q37_raster_grid")(spark, sf).collect()
    assert(out.length === 8) // 128 rows / 16 per band
    // closed form: sum over x of (x*31 + y*7) % 1000 for y in band
    def bandSum(b: Long): Long = (for {
      y <- (b * 16) until (b * 16 + 16)
      x <- 0 until 256
    } yield (x * 31 + y * 7) % 1000).sum
    for (r <- out) {
      assert(r.getLong(1) === bandSum(r.getLong(0)), s"band ${r.getLong(0)} sum")
      assert(r.getLong(2) === 16L * 256)
      assert(r.getBoolean(3), s"band ${r.getLong(0)} pixel outside its trixel")
    }
  }

  test("multimodal resize and frame sampling keep schema, determinism, and fan-out bounds") {
    import graft.pipeline.Multimodal
    val wt = graft.sources.Webtext.table(spark, sf)
    val nDocs = wt.count()
    val rs = Multimodal.resize(wt, 32, 16)
    assert(rs.schema === Multimodal.resizedSchema)
    val one = rs.orderBy("url").limit(1).collect()(0)
    assert(one.getInt(1) === 32 && one.getInt(2) === 16)
    assert(one.getAs[Array[Byte]](3).length === 16)
    // deterministic: same payload -> same thumbnail
    val again = Multimodal.resize(wt, 32, 16).orderBy("url").limit(1).collect()(0)
    assert(one.getAs[Array[Byte]](3).toSeq === again.getAs[Array[Byte]](3).toSeq)

    val fr = Multimodal.sampleFrames(wt)
    assert(fr.schema === Multimodal.frameSchema)
    val counts = fr.groupBy("url").count().select("count").collect().map(_.getLong(0))
    assert(counts.length === nDocs)
    assert(counts.forall(c => c >= 1 && c <= 7)) // 1..7 frames per payload
    // frame timestamps follow the sampling cadence
    val f0 = fr.filter(col("frame_idx") === 2).select("ts_ms").limit(1).collect()
    f0.foreach(r => assert(r.getLong(0) === 2000L))
  }

  test("REAL image codec (JDK ImageIO): PNG exact, JPEG lossy-close, resize, undecodable dropped") {
    import graft.pipeline.Multimodal
    val s = spark
    import s.implicits._
    // non-solid content: 2-color checkerboard with an even pixel count,
    // so the channel means are exact halves — proves the decoder reads
    // actual pixels, not metadata
    val img = new java.awt.image.BufferedImage(8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0x204060 else 0x80A0C0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val (w, h, mr, mg, mb) = Multimodal.decodeImage(png).get
    assert((w, h) === ((8, 6)))
    assert(mr === (0x20 + 0x80) / 2.0)
    assert(mg === (0x40 + 0xa0) / 2.0)
    assert(mb === (0x60 + 0xc0) / 2.0)

    // JPEG: lossy — dimensions exact, means within codec tolerance
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jb)
    val (jw, jh, jr, jg, jbl) = Multimodal.decodeImage(jb.toByteArray).get
    assert((jw, jh) === ((8, 6)))
    assert(math.abs(jr - mr) < 8 && math.abs(jg - mg) < 8 && math.abs(jbl - mb) < 8)

    // DataFrame path: garbage AND null payloads are dropped (and counted
    // in the graft.image.droppedRows accumulator), not crashed on
    val df = Seq((1L, png), (2L, Array[Byte](1, 2, 3)), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "img")
    assert(Multimodal.extractImageFeatures(df).collect().map(_.getLong(0)).toSeq === Seq(1L))
    val rs2 = Multimodal.resizeImages(df, 4, 3).collect()
    assert(rs2.length === 1 && rs2(0).getInt(1) === 4 && rs2(0).getInt(2) === 3)
    val (rw, rh, cr, cg, cb) = Multimodal.decodeImage(rs2(0).getAs[Array[Byte]](3)).get
    assert((rw, rh) === ((4, 3)))
    // closed form on NON-solid content: 8x6 checkerboard -> 4x3 means each
    // target pixel covers exactly one 2x2 block = 2 dark + 2 light pixels,
    // so EVERY output pixel is the exact mid color — proves the kernel
    // actually averages source pixels with correct geometry
    assert((cr, cg, cb) === (((0x20 + 0x80) / 2.0, (0x40 + 0xa0) / 2.0, (0x60 + 0xc0) / 2.0)))
    // fractional-coverage path: 3px row [90, 30, 60] -> 2px at 1.5px each:
    // left = (90 + 30/2)/1.5 = 70, right = (30/2 + 60)/1.5 = 50
    val frac = Multimodal.areaAverage(
      Array(90 << 16 | 90 << 8 | 90, 30 << 16 | 30 << 8 | 30, 60 << 16 | 60 << 8 | 60), 3, 1, 2, 1)
    assert(frac.map(_ & 0xff).toSeq === Seq(70, 50))

    // q49's synthesizer chain: solid encode -> decode is pixel-exact
    val (sw, sh, sr, sg, sb) = Multimodal.decodeImage(Multimodal.encodePng(7, 5, 0x112233)).get
    assert((sw, sh) === ((7, 5)))
    assert((sr, sg, sb) === ((0x11.toDouble, 0x22.toDouble, 0x33.toDouble)))

    // header-only meta (q51): format + dims without pixel decode, for
    // PNG and JPEG payloads; garbage yields None, not a crash
    assert(Multimodal.imageMeta(png) === Some(("png", 8, 6)))
    val Some((jfmt, jmw, jmh)) = Multimodal.imageMeta(jb.toByteArray)
    assert(jfmt.startsWith("jp") && (jmw, jmh) === ((8, 6)))
    assert(Multimodal.imageMeta(Array[Byte](1, 2, 3)) === None)
    assert(Multimodal.imageMeta(null) === None)
    val metas = Multimodal.imageMetaFrame(df).collect()
    assert(metas.length === 1 && metas(0).getString(2) === "png" &&
      metas(0).getInt(3) === 8 && metas(0).getInt(4) === 6)

    // transparency: hidden RGB under alpha must composite over WHITE,
    // not bleed into means/thumbs. 2x1 ARGB: opaque black + fully
    // transparent (black underneath) -> means exactly (0+255)/2
    val aimg = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    aimg.setRGB(0, 0, 0xff000000)
    aimg.setRGB(1, 0, 0x00000000)
    val ab = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(aimg, "png", ab)
    val (_, _, ar, ag, abl) = Multimodal.decodeImage(ab.toByteArray).get
    assert((ar, ag, abl) === ((127.5, 127.5, 127.5)))
    val adf = Seq((1L, ab.toByteArray)).toDF("id", "img")
    val athumb = Multimodal.resizeImages(adf, 1, 1).collect()(0).getAs[Array[Byte]](3)
    val (_, _, tr, tg, tb) = Multimodal.decodeImage(athumb).get
    // 1x1 thumb = area average of [0, 255] rounded half-up = 128
    assert((tr, tg, tb) === ((128.0, 128.0, 128.0)))
  }

  test("areaAverage properties: identity at same size; mean preserved within rounding at any scale") {
    import graft.pipeline.Multimodal
    val r = new scala.util.Random(4242)
    (1 to 200).foreach { _ =>
      val sw = 1 + r.nextInt(24); val sh = 1 + r.nextInt(24)
      val px = Array.fill(sw * sh)(r.nextInt(1 << 24))
      // identity: each target pixel covers exactly one source pixel
      assert(Multimodal.areaAverage(px, sw, sh, sw, sh).toSeq === px.toSeq)
      // any scale (down, up, or mixed): the area-weighted average is
      // mean-preserving, so per-channel output mean must sit within the
      // per-pixel half-up rounding band (±0.5) of the input mean
      val tw = 1 + r.nextInt(24); val th = 1 + r.nextInt(24)
      val out = Multimodal.areaAverage(px, sw, sh, tw, th)
      for (shift <- Seq(16, 8, 0)) {
        val inMean = px.map(p => (p >> shift) & 0xff).sum.toDouble / px.length
        val outMean = out.map(p => (p >> shift) & 0xff).sum.toDouble / out.length
        assert(math.abs(outMean - inMean) <= 0.5 + 1e-9,
          s"mean drift $inMean -> $outMean at ${sw}x$sh -> ${tw}x$th shift $shift")
      }
    }
  }

  test("dissolve(geom=True): operator + SQL surface produce the exact union geometry") {
    import graft.core.{Htm, Sid}
    import graft.operators.Dissolve
    val s = spark
    import s.implicits._
    // canonical (location-cleared) cell: latLonToSid keeps full-res bits
    val parent = Sid.intervalLo(Htm.latLonToSid(42, 7, 5)) | 5L
    def child(i: Int): Long = Sid.child(parent, i)
    val df = (0 until 4).map(i => ("g1", Array(child(i)))).toDF("g", "sids")
    val out = Dissolve.withGeom(df, by = "g").collect()
    assert(out.length === 1)
    val wkt = out(0).getAs[String]("geom")
    val ps = graft.core.Geo.parseWkt(wkt).asInstanceOf[graft.core.Geo.MultiPolygonG].polys
    assert(ps.length === 1 && ps(0).rings.length === 1 && ps(0).rings(0)._1.length === 4)
    // the dissolved sids column is the compressed cover (= the parent)
    assert(out(0).getSeq[Long](out(0).fieldIndex("sids")) === Seq(parent))
    // same through pure SQL
    graft.functions.StareFunctions.register(spark)
    df.createOrReplaceTempView("q52_smoke")
    val sqlWkt = spark.sql(
      "SELECT stare_dissolve_wkt(sids) AS w FROM (SELECT collect_list(sids[0]) AS sids FROM q52_smoke)")
      .collect()(0).getString(0)
    assert(sqlWkt === wkt)
    // empty cover -> null geometry, not a job abort
    val empty = Seq(("g2", Array.empty[Long])).toDF("g", "sids")
    val er = Dissolve.withGeom(empty, by = "g").collect()
    assert(er.length === 1 && er(0).isNullAt(er(0).fieldIndex("geom")))
    // SQL area of the dissolved union == sum of trixel areas (steradians)
    val sqlArea = spark.sql(s"SELECT stare_wkt_area('$wkt')").collect()(0).getDouble(0)
    val direct = (0 until 4).map(i => Htm.area(child(i))).sum
    assert(math.abs(sqlArea - direct) <= 1e-9 * direct)
  }

  test("q33 smoke at sf0.001: overlapping south-america pairs count > 0 docs consistently") {
    val rows = SparkEntry.queries("q33_cover_algebra")(spark, sf).collect()
    assert(rows.length === SparkEntry.regionPairs.length)
    val byName = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // disjoint-box pairs must be zero
    assert(byName("africa_w|asia_se") === 0L)
    // sanity: counts are bounded by each region's own q21-style count
    assert(byName.values.forall(_ >= 0L))
  }

  test("q21/q33 refines over carried boxes equal a brute-force box count with no cover join") {
    import graft.sources.Webtext
    val pts = Webtext.geotagged(Webtext.table(spark, sf)).select("lat", "lon").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    def inBox(r: SparkEntry.Region, lat: Double, lon: Double): Boolean =
      lat >= r.latMin && lat <= r.latMax &&
        (if (r.wraps) lon >= r.lonMin || lon <= r.lonMax else lon >= r.lonMin && lon <= r.lonMax)
    def counts(q: String): Map[String, Long] =
      SparkEntry.queries(q)(spark, sf).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val q21 = SparkEntry.regions.map(r => r.name -> pts.count { case (la, lo) => inBox(r, la, lo) }.toLong)
      .filter(_._2 > 0).toMap
    assert(q21.nonEmpty)
    assert(counts("q21_cover_join") === q21)

    val q33 = SparkEntry.regionPairs.map { case (a, b) =>
      s"${a.name}|${b.name}" -> pts.count { case (la, lo) => inBox(a, la, lo) && inBox(b, la, lo) }.toLong
    }.toMap
    assert(q33.values.exists(_ > 0))
    assert(counts("q33_cover_algebra") === q33)
  }

  test("q21/q33 prune documents outside every region below indexed's exchange; q22/q43 do not") {
    import org.apache.spark.sql.catalyst.expressions.Or
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, RepartitionByExpression}
    // the region union is a disjunction of lat/lon box tests, filtered
    // under the repartition(doc_id) that indexed() plans, where lat and
    // lon are still expressions of the document columns
    def prunedBelowExchange(q: String): Boolean =
      SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.collect {
        case r: RepartitionByExpression => r.child.exists {
          case f: Filter => f.condition.exists(_.isInstanceOf[Or]) &&
            f.references.forall(a => a.name == "doc_id" || a.name == "text")
          case _ => false
        }
      }.contains(true)
    assert(prunedBelowExchange("q21_cover_join"))
    assert(prunedBelowExchange("q33_cover_algebra"))
    // a left join counts the documents outside every region
    assert(!prunedBelowExchange("q22_cover_join_left"))
    assert(!prunedBelowExchange("q43_shuffle_join_left"))
  }

  test("q33's refine is constant-size: no string-literal pair_name equality anywhere in the plan") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Literal}
    import org.apache.spark.sql.types.StringType
    // the refine is a Filter over an inner join, which the optimizer
    // moves into the join condition: look at every operator's expressions
    val plan = SparkEntry.queries("q33_cover_algebra")(spark, sf).queryExecution.optimizedPlan
    val pairLiteralTests = plan.flatMap(_.expressions).flatMap(_.collect {
      case e @ EqualTo(a: Attribute, Literal(_, StringType)) if a.name == "pair_name" => e
      case e @ EqualTo(Literal(_, StringType), a: Attribute) if a.name == "pair_name" => e
    })
    assert(pairLiteralTests.isEmpty, s"refine still tests pair names as literals: $pairLiteralTests")
  }
}
