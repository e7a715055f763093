package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Cover, Geo, Htm, Sid}
import graft.functions.StareFunctions._
import graft.operators.{Dissolve, KnnJoin, SpeedySubset, StareJoin}
import graft.pipeline.{AnnOps, TextOps}
import graft.sources.{Pods, Webtext}

/** Spark-level operator tests: reference join/intersects semantics
  * (tests/test_join.py, tests/test_intersects.py) and pipeline
  * invariants, on local[4]. */
class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def res(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource(s"/$name").toURI)), "UTF-8")

  private val cityData = Seq(
    ("Buenos Aires", -34.58, -58.66), ("Brasilia", -15.78, -47.91),
    ("Santiago", -33.45, -70.66), ("Bogota", 4.60, -74.08),
    ("Caracas", 10.48, -66.86), ("Sao Paulo", -23.55, -46.63),
    ("Bridgetown", 13.1, -59.62))

  // --- reference tests/test_intersects.py::test_polygon2 --------------
  test("brazil cover level 5: 2 of 7 cities intersect, 5 disjoint") {
    val brazil = Geo.parseWkt(res("brazil.wkt")).asInstanceOf[Geo.PolygonG]
    val cover = Cover.coverFromPolygon(brazil.rings, 5, forceCcw = true)
    val inside = cityData.filter { case (_, lat, lon) =>
      Sid.anyIntersects(Array(Htm.latLonToSid(lat, lon, 27)), Sid.mergedIntervals(cover))
    }.map(_._1).toSet
    assert(inside === Set("Brasilia", "Sao Paulo"))
  }

  // --- reference tests/test_join.py (semantics + column layout) -------
  test("stare_join samerica x cities: containment, multiplicity, columns") {
    import spark.implicits._
    val countries = ujsonLite(res("samerica.json"))
    val samerica = countries.map { c =>
      val geom = Geo.parseWkt(c("geometry"))
      val cover = geom match {
        case Geo.PolygonG(rings)   => Cover.coverFromPolygon(rings, 6, forceCcw = true)
        case Geo.MultiPolygonG(ps) => ps.flatMap(p => Cover.coverFromPolygon(p.rings, 6, forceCcw = true))
        case _                     => sys.error("unexpected geom")
      }
      (c("name"), c("pop_est").toDouble, cover.toSeq)
    }.toDF("name", "pop_est", "sids")

    val cities = cityData.toDF("City", "Latitude", "Longitude")
      .withColumn("sids", array(stareSid(col("Latitude"), col("Longitude"), 26)))

    val joined = StareJoin.join(samerica, "sids", cities, "sids", how = "left")

    // column layout: left columns, key_right, right columns; clashes suffixed
    assert(joined.columns.toSeq === Seq("name", "pop_est", "sids_left", "key_right",
      "City", "Latitude", "Longitude", "sids_right"))

    val pairs = joined.select(col("name"), col("City")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    // every city except Bridgetown (Barbados) lands in its country
    assert(pairs.contains(("Argentina", Some("Buenos Aires"))))
    assert(pairs.contains(("Brazil", Some("Brasilia"))))
    assert(pairs.contains(("Brazil", Some("Sao Paulo"))))
    assert(pairs.contains(("Chile", Some("Santiago"))))
    assert(pairs.contains(("Colombia", Some("Bogota"))))
    assert(pairs.contains(("Venezuela", Some("Caracas"))))
    assert(!pairs.exists(_._2.contains("Bridgetown")))
    // countries with no city keep a single null row (left join)
    assert(pairs.contains(("Guyana", None)))
    assert(pairs.contains(("Paraguay", None)))
    // brazil matched twice (row multiplicity)
    val brazilRows = joined.filter(col("name") === "Brazil").count()
    assert(brazilRows === 2)

    // inner join drops unmatched countries
    val inner = StareJoin.join(samerica, "sids", cities, "sids", how = "inner")
    assert(!inner.select("name").collect().map(_.getString(0)).contains("Guyana"))
  }

  test("pointJoin equals general join on the city/country fixture") {
    import spark.implicits._
    val countries = ujsonLite(res("samerica.json"))
    val samerica = countries.map { c =>
      val geom = Geo.parseWkt(c("geometry"))
      val cover = geom match {
        case Geo.PolygonG(rings)   => Cover.coverFromPolygon(rings, 6, forceCcw = true)
        case Geo.MultiPolygonG(ps) => ps.flatMap(p => Cover.coverFromPolygon(p.rings, 6, forceCcw = true))
        case _                     => sys.error("unexpected geom")
      }
      (c("name"), cover.toSeq)
    }.toDF("name", "sids")
    val cities = cityData.toDF("City", "Latitude", "Longitude")
      .withColumn("sid", stareSid(col("Latitude"), col("Longitude"), 26))
    val joined = StareJoin.pointJoin(cities, "sid", samerica, "sids", how = "left")
    val got = joined.select("City", "name").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    // Santiago also intersects an Argentina *boundary* trixel at level 6
    // (cover-based intersects is inclusive of boundary cells, like the
    // reference's stare_intersects on covers)
    assert(got === Set(
      ("Buenos Aires", Some("Argentina")), ("Brasilia", Some("Brazil")),
      ("Sao Paulo", Some("Brazil")), ("Santiago", Some("Chile")),
      ("Santiago", Some("Argentina")),
      ("Bogota", Some("Colombia")), ("Caracas", Some("Venezuela")),
      ("Bridgetown", None)))

    // the general cover-x-cover join finds exactly the same pairs
    val cities2 = cities.withColumn("sids", array(col("sid")))
    val general = StareJoin.join(cities2, "sids", samerica, "sids", how = "left")
    val got2 = general.select("City", "name").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(got2 === got)
  }

  // --- dissolve through Spark aggregation ------------------------------
  test("distributed dissolve matches core compress (europe golden)") {
    import spark.implicits._
    val b1 = Cover.coverFromPolygon(
      Array((Array(-10.0, -5.0, -5.0, -10.0, -10.0), Array(40.0, 40.0, 50.0, 50.0, 40.0))), 4, forceCcw = true)
    val b2 = Cover.coverFromPolygon(
      Array((Array(0.0, 5.0, 5.0, 0.0, 0.0), Array(40.0, 40.0, 50.0, 50.0, 40.0))), 4, forceCcw = true)
    val df = Seq(("Europe", b1.toSeq), ("Europe", b2.toSeq), ("NA", b1.toSeq)).toDF("continent", "sids")
      .repartition(3) // force partial + final aggregation
    val out = Dissolve(df, "continent").filter(col("continent") === "Europe")
      .select("sids").as[Seq[Long]].collect()(0)
    val want = Array(4262657047306174468L, 4269412446747230211L, 4278419646001971204L,
      4280671445815656452L, 4285175045443026948L, 4289678645070397444L, 4294182244697767940L,
      4300937644138823684L, 4318952042648305668L, 4548635623644200964L)
    assert(out.sorted === want.sorted.toSeq)
  }

  // --- webtext invariants ----------------------------------------------
  test("webtext per-url text is byte-identical across independent builds") {
    val a = Webtext.table(spark, "/root/testdata/sf0.001")
      .select(col("url"), sha2(col("text"), 256).as("h"))
    val b = Webtext.table(spark, "/root/testdata/sf0.001")
      .select(col("url"), sha2(col("text"), 256).as("h2"))
    val joinedCount = a.join(b, Seq("url")).filter(col("h") === col("h2")).count()
    assert(joinedCount === a.count())
  }

  // --- pods write/read/resume ------------------------------------------
  test("pods roundtrip with partition pruning and idempotent resume") {
    val dir = java.nio.file.Files.createTempDirectory("pods").toString
    val docs = SparkEntry.indexed(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("sid"))
    Pods.write(docs, dir, "sid", podLevel = 2, lineageId = "t1")
    assert(Pods.isCommitted(dir, "t1"))
    val before = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "_SNAPSHOT.json"))
    Pods.write(docs, dir, "sid", podLevel = 2, lineageId = "t1") // resume: no-op
    val after = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "_SNAPSHOT.json"))
    assert(before === after)

    val cover = Cover.coverFromPolygon(
      Array((Array(-10.0, 25.0, 25.0, -10.0, -10.0), Array(36.0, 36.0, 60.0, 60.0, 36.0))), 6, forceCcw = true)
    val pruned = Pods.read(spark, dir, cover)
    val full = Pods.readAll(spark, dir)
    // pruning reads a strict subset of pods but loses no matching rows
    val exactPruned = pruned.filter(stareIntersectsCover(col("sid"), cover)).count()
    val exactFull = full.filter(stareIntersectsCover(col("sid"), cover)).count()
    assert(exactPruned === exactFull)
    assert(pruned.select("pod").distinct().count() < full.select("pod").distinct().count())
  }

  // --- knn sanity -------------------------------------------------------
  test("knn returns self as nearest neighbor") {
    import spark.implicits._
    val pts = Seq((1L, 10.0, 10.0), (2L, 10.5, 10.5), (3L, 50.0, 50.0), (4L, 10.1, 10.1))
      .toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    // empty left side: correctly-shaped empty frame, no exception
    val empty = KnnJoin(pts.filter(col("id") > 100), "id", "sid", "lat", "lon",
      pts, "id", "sid", "lat", "lon", k = 2, initialDiameterDeg = 4.0, coverLevel = 7)
    assert(empty.count() === 0 && empty.columns.contains("id_nn"))

    val out = KnnJoin(pts, "id", "sid", "lat", "lon", pts, "id", "sid", "lat", "lon",
      k = 2, initialDiameterDeg = 4.0, coverLevel = 7)
    val nn1 = out.filter(col("nn_rank") === 1).select(col("id"), col("id_nn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(nn1 === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // id 1's second-nearest is id 4 (0.14 deg) not id 2 (0.7 deg)
    val second1 = out.filter(col("nn_rank") === 2 && col("id") === 1).select("id_nn").collect()
    assert(second1.headOption.map(_.getLong(0)).contains(4L))
  }

  test("knn equals brute force on a random fixture") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val pts = (1 to 120).map(i =>
      (i.toLong, r.nextDouble() * 160 - 80, r.nextDouble() * 360 - 180))
    val df = pts.toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val queries = df.filter(col("id") % 11 === 0)
    val k = 4
    val out = KnnJoin(queries, "id", "sid", "lat", "lon", df, "id", "sid", "lat", "lon",
        k = k, initialDiameterDeg = 6.0, coverLevel = 8, maxRounds = 8)
      .select(col("id"), col("id_nn"), col("nn_rank"))
      .collect().map(row => (row.getLong(0), row.getInt(2)) -> row.getLong(1)).toMap
    // brute force with the same formula and tie-break
    def hav(a: (Double, Double), b: (Double, Double)): Double = {
      val p1 = math.toRadians(a._1); val p2 = math.toRadians(b._1)
      val x = math.pow(math.sin((p2 - p1) / 2), 2) +
        math.cos(p1) * math.cos(p2) * math.pow(math.sin(math.toRadians(b._2 - a._2) / 2), 2)
      2 * math.asin(math.min(1.0, math.sqrt(x)))
    }
    val byId = pts.map(p => p._1 -> (p._2, p._3)).toMap
    pts.filter(_._1 % 11 == 0).foreach { q =>
      val expect = pts.sortBy(p => (hav(byId(q._1), (p._2, p._3)), p._1)).take(k).map(_._1)
      expect.zipWithIndex.foreach { case (nn, i) =>
        assert(out((q._1, i + 1)) === nn, s"query ${q._1} rank ${i + 1}")
      }
    }
  }

  // --- text ops ---------------------------------------------------------
  test("minhash finds planted near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again with many words in common"
    val docs = Seq(
      (1L, base), (2L, base + " tail"), (3L, "completely different content about spark and scala engines"),
      (4L, base)).toDF("doc_id", "text")
    val cand = TextOps.minhashCandidates(docs, k = 2, perms = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 4L))) // identical -> must collide
    assert(cand.contains((1L, 2L)) || cand.contains((2L, 4L))) // near-dup likely collides
    assert(!cand.contains((1L, 3L)) && !cand.contains((3L, 4L)))
  }

  test("dup clusters: min-label propagation equals transitive components") {
    import spark.implicits._
    // components: {1,2,3,9} via a CHAIN (1-2, 2-3, 3-9: labels must
    // propagate transitively, not just one hop), {5,6}, {7,8}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L), (8L, 7L)).toDF("doc_a", "doc_b")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    // a toDF frame is a LocalRelation: its pairs are union-found on the
    // driver, and neither the call nor collecting its answer runs a job
    val (got, rec) = SparkJobProbe.record(spark) {
      TextOps.dupClusters(pairs, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rec.jobs === 0)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    // intermediates are released: relative to the suite session's
    // pre-existing caches, at most the materialized result survives
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore + 1)
    // the DISTRIBUTED propagation path (localEdgeCap=0 disables the
    // driver union-find fast path) must agree exactly
    val distributed = TextOps.dupClusters(pairs, "doc_a", "doc_b", localEdgeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed === got)
  }

  test("hashed shingle-set Jaccard equals exact string-shingle Jaccard") {
    import spark.implicits._
    // the q15 refine path: per-doc shingle-hash projection + sorted-merge
    // must reproduce the per-pair string-shingle UDF value exactly
    val base = "the quick brown fox jumps over the lazy dog again and again with many words in common"
    val docs = Seq(
      (1L, base), (2L, base + " tail words appended here"), (3L, "spark engines do scala things"),
      (4L, base), (5L, ""), (6L, "one two")).toDF("doc_id", "text")
    val pairs = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      .crossJoin(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("j_exact", TextOps.shingleJaccard(col("ta"), col("tb")))
      .withColumn("j_hash", TextOps.hashedJaccard(
        TextOps.shingleHashes(col("ta")), TextOps.shingleHashes(col("tb"))))
      .select("doc_a", "doc_b", "j_exact", "j_hash").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-12,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}): exact=${r.getDouble(2)} hashed=${r.getDouble(3)}")
    }
  }

  test("simhash hamming distance separates near from far") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again with many words"
    val docs = Seq((1L, base), (2L, base + " extra"), (3L, "unrelated text entirely zebra qux"))
      .toDF("doc_id", "text")
    val hs = docs.select(col("doc_id"), TextOps.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) < ham(hs(1L), hs(3L)))
  }

  test("ann top-k agrees with driver-side exact computation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.tabulate(64)(i => (math.sin(i + 1) / 8.0).toFloat)
    val got = AnnOps.topK(emb, "embedding", q, 5)
      .select("vec_id").collect().map(_.getLong(0))
    // exact reference computed locally
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    val want = all.map { case (id, v) => (id, cos(v, q)) }.sortBy { case (id, c) => (-c, id) }
      .take(5).map(_._1)
    assert(got.toSeq === want.toSeq)
  }

  /** minimal flat json-array-of-objects parser for the fixture file. */
  private def ujsonLite(s: String): Seq[Map[String, String]] = {
    val items = scala.collection.mutable.ArrayBuffer[Map[String, String]]()
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def parseString(): String = {
      val sb = new StringBuilder; i += 1
      while (s(i) != '"') {
        if (s(i) == '\\') { i += 1; sb.append(s(i) match {
          case 'n' => '\n'; case 't' => '\t'; case c => c }) }
        else sb.append(s(i))
        i += 1
      }
      i += 1; sb.toString
    }
    def parseValue(): String = {
      skipWs()
      if (s(i) == '"') parseString()
      else { val st = i; while (i < s.length && !",}]".contains(s(i))) i += 1; s.substring(st, i).trim }
    }
    skipWs(); require(s(i) == '['); i += 1
    while ({ skipWs(); s(i) != ']' }) {
      require(s(i) == '{'); i += 1
      val m = scala.collection.mutable.Map[String, String]()
      while ({ skipWs(); s(i) != '}' }) {
        val k = parseString(); skipWs(); require(s(i) == ':'); i += 1
        m(k) = parseValue(); skipWs(); if (s(i) == ',') i += 1
      }
      i += 1; items += m.toMap; skipWs(); if (i < s.length && s(i) == ',') i += 1
    }
    items.toSeq
  }
}
