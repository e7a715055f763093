package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Cover, Geo, Htm, Sid, Tiv}
import graft.functions.StareFunctions._
import graft.operators.ToArray
import graft.sources.Pods

class ExtraOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def res(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource(s"/$name").toURI)), "UTF-8")

  test("convex-hull cover of germany at level 3 (docstring golden prefix)") {
    val g = Geo.parseWkt(res("germany.wkt")).asInstanceOf[Geo.PolygonG]
    val hull = Cover.coverFromHull(g.rings(0)._2, g.rings(0)._1, 3)
    // sids_from_geoseries(germany, level=3, convex=True) docstring starts
    // [4251398048237748227, 4269412446747230211, 427...]
    assert(hull.take(2) === Array(4251398048237748227L, 4269412446747230211L))
    assert(hull.length >= 3 && hull(2).toString.startsWith("427")) // docstring shows "427..."
    // hull cover must contain the plain cover (hull is a superset region)
    val plain = Cover.coverFromPolygon(g.rings, 3, forceCcw = true)
    val hullRuns = Sid.mergedIntervals(hull)
    assert(plain.forall(s => Sid.intervalOverlaps(Sid.intervalLo(s), Sid.intervalHi(s), hullRuns)))
  }

  test("adaptive level from neighbor distance") {
    assert(Htm.adaptiveLevel(90.0) === 0)
    assert(Htm.adaptiveLevel(45.0) === 1)
    assert(Htm.adaptiveLevel(1.0) === 7)  // 90/2^7 = 0.70 <= 1.0 < 1.41
    assert(Htm.adaptiveLevel(0.0000001) === 27)
    val sid = Htm.latLonToSid(20.0, 10.5, Htm.adaptiveLevel(1.0))
    assert(Sid.level(sid) === 7)
  }

  test("interval tiv covers its span and overlaps members") {
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val t1 = t0 + 3600000L * 6 // six hours
    val range = Tiv.fromInterval(t0, t1)
    val member = Tiv.fromUtcMillis(t0 + 3600000L, 48, 48)
    assert(Tiv.intersectionIfOverlap(range, member) !== -1L)
    val outside = Tiv.fromUtcMillis(t1 + 86400000L * 7, 48, 48)
    assert(Tiv.intersectionIfOverlap(range, outside) === -1L)
  }

  test("pods catalog lists manifests without scanning data") {
    val dir = java.nio.file.Files.createTempDirectory("podcat").toString
    val docs = SparkEntry.indexed(spark, "/root/testdata/sf0.001").select(col("doc_id"), col("sid"))
    Pods.write(docs, dir, "sid", podLevel = 1, lineageId = "cat1")
    val cat = Pods.catalog(spark, dir)
    assert(cat.columns.toSeq === Seq("pod", "podHex", "sidMin", "sidMax", "rowCount", "lineageId"))
    assert(cat.agg(sum("rowCount")).collect()(0).getLong(0) === docs.count())
    // ranges are consistent with pod ids
    val bad = cat.filter(col("sidMin") < col("pod")).count()
    assert(bad === 0)
  }

  test("to_array pivots x/y grid to a dense matrix") {
    import spark.implicits._
    val df = Seq((0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0), (1, 1, 4.0)).toDF("x", "y", "v")
    val m = ToArray(df, "x", "y", "v")
    assert(m.length === 2 && m(0).toSeq === Seq(1.0, 2.0) && m(1).toSeq === Seq(3.0, 4.0))
  }

  test("temporal pods: time-range read prunes chunk files at listing time") {
    val dir = java.nio.file.Files.createTempDirectory("tpods").toString
    val docs = SparkEntry.indexed(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("sid"), col("warc_ts"))
    // warc_ts spans ~3050 s at sf0.001: 10-minute chunks give ~6 chunks
    Pods.write(docs, dir, "sid", podLevel = 1, lineageId = "tp1",
      tsCol = Some("warc_ts"), chunkMs = 600000L)
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    assert(back.select("tchunk").distinct().count() > 1)

    // a 20-minute window over ~50 minutes of data: the pruned read must
    // list only in-window (or boundary) chunk files, lose no in-range rows
    val fullCover = (0 until 8).map(f => f.toLong << 59).toArray // the 8 level-0 root trixels
    val t0 = 1700000600000L
    val t1 = 1700001800000L
    val pruned = Pods.read(spark, dir, fullCover, timeRangeMs = Some((t0, t1)))
    val prunedFiles = pruned.inputFiles.toSet
    val allFiles = spark.read.parquet(dir).inputFiles.toSet
    assert(prunedFiles.subsetOf(allFiles) && prunedFiles.size < allFiles.size)
    val exactPruned = pruned
      .filter((col("warc_ts").cast("double") * 1000).cast("long").between(t0, t1)).count()
    val exactFull = back
      .filter((col("warc_ts").cast("double") * 1000).cast("long").between(t0, t1)).count()
    assert(exactPruned === exactFull && exactFull > 0)
  }

  test("pods: stale-format snapshot is rewritten, not resumed (r1 q31 bug)") {
    val dir = java.nio.file.Files.createTempDirectory("stalepods").toString
    val docs = SparkEntry.indexed(spark, "/root/testdata/sf0.001").select(col("doc_id"), col("sid"))
    // simulate a pre-formatVersion store: old-layout snapshot, no manifests
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_SNAPSHOT.json"),
      """{"lineageId":"legacy1","podLevel":2,"pods":3,"rows":10,"committedAtMs":0}""")
    assert(!Pods.isCommitted(dir, "legacy1"))
    Pods.write(docs, dir, "sid", podLevel = 2, lineageId = "legacy1")
    assert(Pods.isCommitted(dir, "legacy1"))
    val cat = Pods.catalog(spark, dir)
    assert(cat.agg(sum("rowCount")).collect()(0).getLong(0) === docs.count())
  }

  test("pods: new lineage replaces the store wholesale (no catalog/data divergence)") {
    val dir = java.nio.file.Files.createTempDirectory("linpods").toString
    val docs = SparkEntry.indexed(spark, "/root/testdata/sf0.001").select(col("doc_id"), col("sid"))
    Pods.write(docs, dir, "sid", podLevel = 2, lineageId = "lin1")
    val podsBefore = Pods.catalog(spark, dir).count()
    // second lineage writes a SUBSET (northern hemisphere only): leftover
    // southern pods from lin1 must not survive in the data files
    val north = docs.filter(col("doc_id") % 2 === 0)
    Pods.write(north, dir, "sid", podLevel = 2, lineageId = "lin2")
    val cat = Pods.catalog(spark, dir)
    assert(cat.agg(sum("rowCount")).collect()(0).getLong(0) === north.count())
    assert(Pods.readAll(spark, dir).count() === north.count()) // files agree with catalog
    assert(podsBefore > 0)
  }

  test("bitfield decode pattern (qa word -> flags) with built-ins") {
    import spark.implicits._
    // decode_state-style unpack: 2-bit cloud state at bits 0..1, 1-bit
    // day/night at bit 3 (modis.py:371-402 pattern; pure shiftright/mask)
    val df = Seq(0x0L, 0x9L, 0x3L).toDF("qa")
    val out = df.select(
      col("qa").bitwiseAND(lit(3L)).as("cloud_state"),
      shiftright(col("qa"), 3).bitwiseAND(lit(1L)).as("day_flag")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 0L), (1L, 1L), (3L, 0L)))
  }

  test("hot-cell splitting preserves join results exactly") {
    import spark.implicits._
    // 2000 points crammed into one level-6 cell + 50 spread out
    val hotLat = 10.0; val hotLon = 10.0
    val pts = ((1 to 2000).map(i => (i.toLong, hotLat + (i % 40) * 0.001, hotLon + (i / 40) * 0.001)) ++
      (1 to 50).map(i => (10000L + i, -30.0 + i * 0.5, 100.0 + i * 0.5)))
      .toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val covers = Seq(
      ("hot", graft.core.Cover.coverFromPolygon(
        Array((Array(8.0, 12.0, 12.0, 8.0, 8.0), Array(8.0, 8.0, 12.0, 12.0, 8.0))), 6, forceCcw = true).toSeq),
      ("cold", graft.core.Cover.coverFromPolygon(
        Array((Array(99.0, 130.0, 130.0, 99.0, 99.0), Array(-31.0, -31.0, -5.0, -5.0, -31.0))), 6, forceCcw = true).toSeq)
    ).toDF("region", "sids")

    // no hot key is split (AQE's skew join handles them), under the
    // default broadcast threshold...
    val gated = graft.operators.Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell = 100)
    assert(gated.skipReason.isDefined && gated.hot.isEmpty)
    // ...and in the shuffle regime (a cover side beyond broadcast comfort)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    val spec = graft.operators.Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell = 100)
    assert(spec.skipReason === Some("hot keys are left to AQE's skew join") && spec.hot.isEmpty)
    // identical pair results through the shuffle join with and without a split request
    val base = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids")
      .select("id", "region").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val afterDf = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids", splitHot = Some(100L))
    // the request does not reach the plan
    assert(SparkJobProbe.planText(afterDf) ===
      SparkJobProbe.planText(graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids")))
    val after = afterDf.select("id", "region").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === base)
    val viaBroadcast = graft.operators.StareJoin.pointJoin(pts, "sid", covers, "sids", how = "inner")
      .select("id", "region").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(base === viaBroadcast)

    // left shuffle join: same pair set + null-padded unmatched rows,
    // identical to the broadcast pointJoin contract (columns included)
    val outOfCover = Seq((90000L, 60.0, -170.0)).toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val ptsPlus = pts.unionByName(outOfCover)
    val shuffleLeft = graft.operators.Skew.shuffleJoin(ptsPlus, "sid", covers, "sids",
      splitHot = Some(100L), how = "left")
    val broadcastLeft = graft.operators.StareJoin.pointJoin(ptsPlus, "sid", covers, "sids", how = "left")
    assert(shuffleLeft.columns.toSeq === broadcastLeft.columns.toSeq)
    def leftSetOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "region").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("__null"))).toSet
    assert(leftSetOf(shuffleLeft) === leftSetOf(broadcastLeft))
    assert(leftSetOf(shuffleLeft).contains((90000L, "__null")))
    // nothing left cached behind either join
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("skew cost gate: a gate-skipped split run equals no-split exactly") {
    import spark.implicits._
    // balanced points (no hot cell) in the forced-shuffle regime: a split
    // request splits nothing, and the splitHot run produces the exact
    // no-split results
    val pts = (1 to 800).map(i => (i.toLong, -30.0 + (i % 115) * 0.5, 60.0 + (i / 19) * 0.9))
      .toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val covers = Seq(
      ("wide", graft.core.Cover.coverFromBox(58.0, 104.0, -32.0, 30.0, 6).toSeq)
    ).toDF("region", "sids")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val spec = graft.operators.Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell = 10000)
      assert(spec.skipReason.isDefined && spec.hot.isEmpty, "balanced input must not engage splitting")
      val base = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids")
        .select("id", "region").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val viaGate = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids",
        splitHot = Some(10000L))
        .select("id", "region").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(viaGate === base)
      assert(base.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  /** `n` level-26 points spread evenly over the level-8 trixels of
    * `cell`, ids from `id0` */
  private def spreadOver(cell: Long, n: Int, id0: Long): Seq[(Long, Long)] = {
    val l8 = Sid.expandToLevel(Array(cell), math.max(8, Sid.level(cell)))
    (0 until n).map { i =>
      val c = l8(i % l8.length)
      val off = (i / l8.length * 7919L + 13L) % 4096L
      (id0 + i, (Sid.intervalLo(c) + off * Sid.increment(14) + Sid.increment(26)) & Sid.clearMask(26) | 26L)
    }
  }

  private def idPairs(df: org.apache.spark.sql.DataFrame, name: String) =
    df.select(col("id"), col(name)).collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet

  test("the split's broadcast gate is keyedJoin's: a computed cover side over ProbeRows splits under the default threshold") {
    import spark.implicits._
    // 1,500 level-8 cells from Spark (not a LocalRelation, more rows than
    // the probe holds): keyedJoin shuffles the points by key whatever the
    // threshold. The hot cell is left to AQE's skew join: a split
    // request plans and answers exactly as no request.
    val cells = Sid.expandToLevel(Array(Htm.latLonToSid(10.0, 10.0, 2)), 8).take(1500)
    val covers = cells.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, Seq(c)) }.toDF("cid", "sids").repartition(2)
    assert(!org.apache.spark.sql.graft.shim.isLocalRelation(covers))
    val pts = (spreadOver(cells(7), 3000, 0L) ++ cells.indices.take(500).flatMap(i => spreadOver(cells(i), 1, 10000L + i)))
      .toDF("id", "sid")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") === "10485760")
    val spec = graft.operators.Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell = 100)
    assert(spec.skipReason.isDefined && spec.hot.isEmpty)
    for (how <- Seq("inner", "left")) {
      val split = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids", splitHot = Some(100L), how = how)
      val unsplit = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids", how = how)
      assert(SparkJobProbe.planText(split) === SparkJobProbe.planText(unsplit), s"how=$how")
      assert(idPairs(split, "cid") === idPairs(unsplit, "cid"), s"how=$how")
      assert(split.count() === unsplit.count(), s"how=$how")
    }
  }

  test("the split gate measures what the unsplit join shuffles: a coarse cell spread over level-8 keys is balanced") {
    import spark.implicits._
    // the ladder keys every row at level 8, so 4,000 rows spread over a
    // level-4 cell's 256 level-8 trixels load no reducer beyond the cap;
    // a split request changes neither the plan nor the pairs
    val c4 = Htm.latLonToSid(10.0, 10.0, 4)
    val c8 = Htm.latLonToSid(-40.0, 120.0, 8)
    val covers = Seq(("coarse", Seq(c4)), ("fine", Seq(c8))).toDF("region", "sids")
    val pts = spreadOver(c4, 4000, 0L).toDF("id", "sid")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val spec = graft.operators.Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell = 100)
      assert(spec.skipReason.isDefined && spec.hot.isEmpty, "rows spread over level-8 keys must not engage splitting")
      val split = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids", splitHot = Some(100L))
      val unsplit = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids")
      assert(SparkJobProbe.planText(split) === SparkJobProbe.planText(unsplit))
      assert(idPairs(split, "region") === (0L until 4000L).map(_ -> Some("coarse")).toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("the split gate over a local cover side samples in one job and leaves nothing persisted") {
    import spark.implicits._
    val pts = ((1 to 2000).map(i => (i.toLong, 10.0 + (i % 40) * 0.001, 10.0 + (i / 40) * 0.001)) ++
      (1 to 50).map(i => (10000L + i, -30.0 + i * 0.5, 100.0 + i * 0.5)))
      .toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val covers = Seq(
      ("hot", Cover.coverFromBox(8.0, 12.0, 8.0, 12.0, 6).toSeq),
      ("cold", Cover.coverFromBox(99.0, 130.0, -31.0, -5.0, 6).toSeq)).toDF("region", "sids")
    assert(org.apache.spark.sql.graft.shim.isLocalRelation(covers))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a split request samples nothing: answering it and
      // building the join over a local cover side start no job, and the
      // join plans exactly as without the request
      val (spec, specRec) = SparkJobProbe.record(spark)(
        graft.operators.Skew.splitHotCellsWithSpec(pts, "sid", covers, "sids", maxRowsPerCell = 100))
      assert(specRec.jobs === 0 && spec.hot.isEmpty, specRec.toString)
      val unsplit = idPairs(graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids"), "region")
      for (declared <- Seq(Some(26), None)) {
        val (joined, rec) = SparkJobProbe.record(spark)(graft.operators.Skew.shuffleJoin(pts, "sid", covers,
          "sids", splitHot = Some(100L), knownMinLeftLevel = declared))
        assert(rec.jobs === 0 && rec.stages.isEmpty, s"declared=$declared: $rec")
        assert(SparkJobProbe.planText(joined) === SparkJobProbe.planText(graft.operators.Skew.shuffleJoin(pts,
          "sid", covers, "sids", splitHot = None, knownMinLeftLevel = declared)), s"declared=$declared")
        assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"declared=$declared")
        assert(idPairs(joined, "region") === unsplit, s"declared=$declared")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("AQE's skew join splits a hot ladder key of keyedJoin's shuffled plan, inner and left, SHJ and SMJ") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // one level-8 key holds 3,000 of the 3,450 points; 400 spread over a
    // level-5 cover cell's level-8 keys and 50 outside every cover
    val hot8 = Htm.latLonToSid(10.0, 10.0, 8)
    val wide5 = Htm.latLonToSid(-40.0, 120.0, 5)
    val out5 = Htm.latLonToSid(50.0, -60.0, 5)
    val covers = Seq(("hot", Seq(hot8)), ("wide", Seq(wide5))).toDF("region", "sids")
    val left = spreadOver(hot8, 3000, 0L) ++ spreadOver(wide5, 400, 10000L) ++ spreadOver(out5, 50, 20000L)
    val pts = left.toDF("id", "sid")
    val cells = Map("hot" -> hot8, "wide" -> wide5)
    val brute = left.map { case (id, sid) =>
      id -> cells.collectFirst { case (n, c) if Sid.intersects(c, sid) => n } }.toSet
    assert(brute.count(_._2.contains("hot")) === 3000 && brute.count(_._2.isEmpty) === 50)
    val conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    for (smj <- Seq(false, true); how <- Seq("inner", "left")) {
      // the 1-byte build cap turns keyedJoin's shuffled-hash join into a sort-merge join
      val all = if (smj) conf + ("spark.graft.join.shjMaxBuildBytesPerPartition" -> "1") else conf
      val prior = all.keys.map(k => k -> spark.conf.getOption(k)).toMap
      all.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val clue = s"smj=$smj how=$how"
        val df = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids", how = how,
          knownMinLeftLevel = Some(26)).select(col("id"), col("region"))
        val got = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toSet
        assert(got === (if (how == "left") brute else brute.filter(_._2.isDefined)), clue)
        val plan = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
        assert(plan.isFinalPlan, clue)
        // AdaptiveSparkPlanHelper's collect descends into the query stages
        val skewJoins = new AdaptiveSparkPlanHelper {}.collect(plan) {
          case j: ShuffledHashJoinExec if !smj && j.isSkewJoin => j
          case j: SortMergeJoinExec if smj && j.isSkewJoin => j
        }
        assert(skewJoins.length === 1, s"$clue: no skew join in the final plan\n${plan.executedPlan}")
      } finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("pointJoin guards the driver collect: over-cap right side delegates to shuffleJoin") {
    import spark.implicits._
    val pts = ((1 to 200).map(i => (i.toLong, 10.0 + (i % 40) * 0.02, 10.0 + (i / 40) * 0.02)) :+
      ((9999L, 60.0, -170.0)))
      .toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val covers = Seq(
      ("hot", graft.core.Cover.coverFromBox(8.0, 12.0, 8.0, 12.0, 6).toSeq),
      ("cold", graft.core.Cover.coverFromBox(99.0, 130.0, -31.0, -5.0, 6).toSeq),
      ("other", graft.core.Cover.coverFromBox(-60.0, -50.0, -10.0, 0.0, 6).toSeq)
    ).toDF("region", "sids")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "region").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("__null"))).toSet
    // 3M more empty-cover rows, computed by Spark: count x probe width
    // is over the dictionary budget, so the side must take the shuffle
    // path, never collect()
    val padding = spark.range(3000000L).select(concat(lit("pad"), col("id")).as("region"),
      typedLit(Seq.empty[Long]).as("sids"))
    val padded = covers.unionByName(padding)
    val width = graft.operators.StareJoin.approxRowBytes(padded.limit(
      graft.operators.StareJoin.Budgets.ProbeRows + 1).collect())
    assert(3000000L * width > graft.operators.StareJoin.Budgets.FullRowDictBytes)
    for (how <- Seq("inner", "left")) {
      val direct = graft.operators.StareJoin.pointJoin(pts, "sid", covers, "sids", how = how)
      val guarded = graft.operators.StareJoin.pointJoin(pts, "sid", padded, "sids", how = how)
      // the padded rows reach the join with packed stable ids (an RDD
      // scan), not as a collected local dictionary
      assert(guarded.queryExecution.sparkPlan.collect {
        case r: org.apache.spark.sql.execution.RDDScanExec => r }.nonEmpty,
        s"the padded side was collected for how=$how")
      assert(guarded.columns.toSeq === direct.columns.toSeq, s"contract drift for how=$how")
      assert(pairs(guarded) === pairs(direct), s"result drift for how=$how")
    }
  }

  test("a dictionary whose rungs sit in its widest row is sized per row and delegates") {
    import spark.implicits._
    import graft.operators.StareJoin
    val r = new scala.util.Random(29)
    val pts = Seq.tabulate(300)(i => (i.toLong, r.nextDouble() * 180.0 - 90.0, r.nextDouble() * 360.0 - 180.0))
      .toDF("id", "lat", "lon").withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val sids = pts.select("id", "sid").collect().map(p => (p.getLong(0), p.getLong(1)))
    // 999 narrow rows, each the level-6 cell of one of the first 250
    // points; then, last, one row of 2,048 level-6 cells (one child of
    // every level-5 trixel of two roots, so nothing compresses) with a
    // ~140 KB payload
    def cell6(sid: Long) = (sid & Sid.clearMask(6)) | 6L
    val narrow = (0 until 999).map(i => (s"n$i", Seq(cell6(sids(i % 250)._2)), ""))
    val wideCells = Seq((10.0, 10.0), (-40.0, -60.0)).flatMap { case (lat, lon) =>
      Sid.expandToLevel(Array(Sid.clearToLevel(Htm.latLonToSid(lat, lon, 0))), 6).grouped(4).map(_.head) }
    assert(wideCells.length === 2048 && Sid.compress(wideCells.toArray).length === 2048)
    val covers = (narrow :+ (("wide", wideCells, "x" * 70000))).toDF("region", "sids", "payload")
    // every rung of the wide row repeats the whole row: summed per row the
    // dictionary is over its budget, while the rungs times a mean width
    // look far under it
    val rows = covers.collect()
    val budget = StareJoin.Budgets.FullRowDictBytes
    assert(2048L * StareJoin.keyedRowBytes(rows.last) > budget)
    assert((999L + 2048L) * StareJoin.approxRowBytes(rows) < budget / 100)
    val runs = rows.map(row => row.getString(0) -> Sid.mergedIntervals(row.getSeq[Long](1).toArray))
    val inner = for ((id, sid) <- sids; (n, rr) <- runs if Sid.anyIntersects(Array(sid), rr)) yield (id, n)
    val unmatched = sids.map(_._1).filterNot(inner.map(_._1).toSet).map(_ -> "__null")
    assert(inner.exists(_._2 == "wide") && unmatched.nonEmpty)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "region").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("__null"))).toSet
    for (how <- Seq("inner", "left")) {
      val out = StareJoin.pointJoin(pts, "sid", covers, "sids", how = how)
      // delegated, checked on the plan before any action: the dictionary
      // is the only plan with a single join
      val joins = out.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      assert(joins.length > 1, s"the per-row over-budget dictionary was not delegated for how=$how")
      val brute = inner.toSet ++ (if (how == "left") unmatched else Array.empty[(Long, String)])
      assert(pairs(out) === brute, s"how=$how")
    }
  }

  test("a full-row dictionary over its byte budget delegates to shuffleJoin and keeps results + contract") {
    import spark.implicits._
    val pts = ((1 to 300).map(i => (i.toLong, 10.0 + (i % 40) * 0.02, 10.0 + (i / 40) * 0.02)) :+
      ((9999L, 60.0, -170.0)))
      .toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val boxes = Seq(
      "hot" -> graft.core.Cover.coverFromBox(8.0, 12.0, 8.0, 12.0, 6),
      "cold" -> graft.core.Cover.coverFromBox(99.0, 130.0, -31.0, -5.0, 6))
    // the dictionary's size in rows: every compressed cell expanded to
    // the finest cover level
    val cells = boxes.flatMap { case (_, c) => Sid.compress(c).toSeq }
    val finest = cells.map(Sid.level).max
    val expansion = cells.map(c => 1L << (2 * (finest - Sid.level(c)))).sum
    // the smallest payload that puts expansion x row width 4x over the
    // full-row dictionary's byte budget (a String counts 2 bytes a char)
    val budget = graft.operators.StareJoin.Budgets.FullRowDictBytes
    val fat = "x" * (4 * budget / expansion / 2 + 1).toInt
    val covers = boxes.map { case (n, c) => (n, c.toSeq, fat) }.toDF("region", "sids", "payload")
    assert(expansion * graft.operators.StareJoin.approxRowBytes(covers.collect()) >= 4 * budget)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "region").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("__null"))).toSet
    for (how <- Seq("inner", "left")) {
      val viaPoint = graft.operators.StareJoin.pointJoin(pts, "sid", covers, "sids", how = how,
        knownMinLeftLevel = Some(26))
      val viaShuffle = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids", how = how,
        knownMinLeftLevel = Some(26))
      // delegated: the dictionary is the only plan with a single join
      val joins = viaPoint.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      assert(joins.length > 1, s"over-budget dictionary was not delegated for how=$how")
      assert(viaPoint.columns.toSeq === viaShuffle.columns.toSeq)
      assert(pairs(viaPoint) === pairs(viaShuffle), s"delegated-plan drift for how=$how")
      // right payload columns still attached after the delegation
      val withPayload = viaPoint.filter(col("region") === "hot").select("payload").collect()
      assert(withPayload.nonEmpty && withPayload.forall(_.getString(0) == fat))
    }
  }

  test("a null cover is the empty cover in pointJoin, shuffleJoin and join, inner and left") {
    import spark.implicits._
    val pts = Seq((1L, 10.0, 10.0), (2L, 10.5, 9.5), (3L, 60.0, -170.0)).toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val sids = pts.select("id", "sid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val box = Cover.coverFromBox(8.0, 12.0, 8.0, 12.0, 6).toSeq
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "region").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("__null"))).toSet
    def joins(df: org.apache.spark.sql.DataFrame) = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.length
    val none: Seq[Long] = null
    for (covers <- Seq(Seq(("r1", none), ("r2", box)), Seq(("r1", none), ("r2", none)))) {
      val right = covers.toDF("region", "sids")
      val runs = covers.collect { case (n, c) if c != null => n -> Sid.mergedIntervals(c.toArray) }
      val inner = for ((id, sid) <- sids; (n, rr) <- runs if Sid.anyIntersects(Array(sid), rr)) yield (id, n)
      for (how <- Seq("inner", "left")) {
        val unmatched = sids.map(_._1).filterNot(inner.map(_._1).toSet).map(_ -> "__null")
        val brute = inner.toSet ++ (if (how == "left") unmatched else Array.empty[(Long, String)])
        val clue = s"how=$how covers=$covers"
        assert(pairs(graft.operators.StareJoin.pointJoin(pts, "sid", right, "sids", how = how)) === brute, clue)
        assert(pairs(graft.operators.StareJoin.pointJoin(pts, "sid", right, "sids", how = how,
          knownMinLeftLevel = Some(26))) === brute, clue)
        assert(pairs(graft.operators.Skew.shuffleJoin(pts, "sid", right, "sids", how = how)) === brute, clue)
        val arrays = pts.withColumn("sids_l", array(col("sid")))
        val local = graft.operators.StareJoin.join(arrays, "sids_l", right, "sids", how = how)
        assert(joins(local) === 0, s"join() took the distributed path, $clue")
        assert(pairs(local) === brute, clue)
        // ProbeRows + 1 more empty-cover rows: the distributed join(), same pairs
        val padding = (0 to graft.operators.StareJoin.Budgets.ProbeRows).map(i => (s"pad$i", Seq.empty[Long]))
        val dist = graft.operators.StareJoin.join(arrays, "sids_l", (covers ++ padding).toDF("region", "sids"),
          "sids", how = how)
        assert(joins(dist) > 0, s"padded join() took the local path, $clue")
        assert(pairs(dist) === brute, s"distributed join(), $clue")
      }
    }
  }

  test("a malformed join budget conf is rejected with its key and value, not read as the default") {
    import spark.implicits._
    val covers = Seq(("a", Seq(Htm.latLonToSid(10.0, 10.0, 6)))).toDF("name", "sids")
    val pts = Seq((1L, Htm.latLonToSid(10.0, 10.0, 26))).toDF("id", "sid")
    val key = "spark.graft.join.shjMaxBuildBytesPerPartition"
    spark.conf.set(key, "64mb")
    try {
      val e = intercept[IllegalArgumentException](graft.operators.StareJoin.Budgets(spark))
      assert(e.getMessage.contains(key) && e.getMessage.contains("64mb"), e.getMessage)
      // the joins that read the budgets fail the same way
      intercept[IllegalArgumentException](graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids"))
    } finally spark.conf.unset(key)
    spark.conf.set(key, " 7 ")
    try assert(graft.operators.StareJoin.Budgets(spark).shjBuildBytesPerPartition === 7)
    finally spark.conf.unset(key)
  }

  test("an invalid how is rejected by pointJoin, shuffleJoin and join before any Spark job") {
    // Spark-computed frames on both sides: a late check runs the collect
    // guard, the local-join probes or the level-histogram job first
    val box = typedLit(Cover.coverFromBox(8.0, 12.0, 8.0, 12.0, 6).toSeq)
    val pts = spark.range(4).select(col("id"), stareSid(lit(10.0) + col("id"), lit(10.0), 26).as("sid"))
    val covers = spark.range(2).select(concat(lit("r"), col("id")).as("region"), box.as("sids"))
    val ptsArr = pts.withColumn("sids_l", array(col("sid")))
    val entries: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "pointJoin" -> (how => graft.operators.StareJoin.pointJoin(pts, "sid", covers, "sids", how = how)),
      "shuffleJoin" -> (how => graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids", how = how)),
      "join" -> (how => graft.operators.StareJoin.join(ptsArr, "sids_l", covers, "sids", how = how)))
    for ((name, entry) <- entries; how <- Seq("outer", "right", "innner")) {
      val (_, rec) = SparkJobProbe.record(spark)(intercept[IllegalArgumentException](entry(how)))
      assert(rec.jobs === 0, s"$name how=$how started a Spark job before rejecting it")
    }
  }

  test("near-polar box covers keep the superset guarantee up to the poles") {
    // boxes whose inflated latitude would clamp at 89.5: a polar cap must
    // be unioned in, so points all the way to +/-90 still intersect
    val north = Cover.coverFromBox(0.0, 40.0, 85.0, 90.0, 6)
    val runsN = Sid.mergedIntervals(north)
    for (lat <- Seq(85.5, 88.0, 89.4, 89.7, 89.95, 90.0); lon <- Seq(0.0, 13.0, 39.9)) {
      val sid = Htm.latLonToSid(lat, lon, 26)
      assert(Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runsN),
        s"north point ($lat, $lon) escaped polar box cover")
    }
    val south = Cover.coverFromBox(-120.0, -60.0, -90.0, -86.0, 6)
    val runsS = Sid.mergedIntervals(south)
    for (lat <- Seq(-86.5, -89.6, -89.99, -90.0); lon <- Seq(-119.0, -90.0, -61.0)) {
      val sid = Htm.latLonToSid(lat, lon, 26)
      assert(Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runsS),
        s"south point ($lat, $lon) escaped polar box cover")
    }
    // a mid-latitude box must NOT pay for a polar cap (cover unchanged
    // by the fix): no level<=1 pole-touching cells sneak in
    val mid = Cover.coverFromBox(0.0, 40.0, 20.0, 50.0, 6)
    assert(mid.forall(s => Sid.level(s) >= 2))
  }

  test("speedy-subset filter stays in whole-stage codegen (no ScalaUDF)") {
    val r = SparkEntry.region("europe_c")
    val cover = SparkEntry.regionCover(r)
    val docs = SparkEntry.indexed(spark, "/root/testdata/sf0.001")
    val q = graft.operators.SpeedySubset(docs, "sid", cover)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into the subset plan:\n$plan")
    // and it computes the same rows as the interpreted overlap test
    val runs = Sid.mergedIntervals(cover)
    val expect = docs.collect().count(row => {
      val sid = row.getLong(row.fieldIndex("sid"))
      Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runs)
    })
    assert(q.count() === expect)
  }

  test("speedy-subset bounds filter reaches the parquet scan (PushedFilters)") {
    val dir = java.nio.file.Files.createTempDirectory("pushdown").toString
    val docs = SparkEntry.indexed(spark, "/root/testdata/sf0.001").select(col("doc_id"), col("sid"))
    Pods.write(docs, dir, "sid", podLevel = 2, lineageId = "pd1")
    val r = SparkEntry.region("europe_c")
    val cover = SparkEntry.regionCover(r)
    val q = graft.operators.SpeedySubset(Pods.read(spark, dir, cover), "sid", cover)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      ("GreaterThanOrEqual\\(sid".r.findFirstIn(plan).isDefined ||
        "GreaterThan\\(sid".r.findFirstIn(plan).isDefined),
      s"sid range not pushed to the scan:\n$plan")
  }

  test("pointJoin with all-empty covers: inner empty, left null-padded") {
    import spark.implicits._
    val pts = Seq((1L, 10.0, 10.0)).toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val covers = Seq(("r1", Seq.empty[Long])).toDF("region", "sids")
    val inner = graft.operators.StareJoin.pointJoin(pts, "sid", covers, "sids", how = "inner")
    assert(inner.count() === 0)
    val left = graft.operators.StareJoin.pointJoin(pts, "sid", covers, "sids", how = "left")
    assert(left.count() === 1)
    assert(left.select("region").collect()(0).isNullAt(0))
  }

  test("box covers are supersets: random interior points always intersect (refine soundness)") {
    // the exact-refine oracle plans are sound ONLY if coverFromBox never
    // loses a box point — fuzz boxes (incl. high-latitude, where the
    // great-circle vs parallel divergence peaks) and interior points
    val r = new scala.util.Random(7)
    (1 to 40).foreach { _ =>
      val lonMin = r.nextDouble() * 300 - 170
      val lonMax = lonMin + 5 + r.nextDouble() * 40
      val latMin = r.nextDouble() * 140 - 75
      val latMax = math.min(80, latMin + 5 + r.nextDouble() * 35)
      val cover = Cover.coverFromBox(lonMin, math.min(180, lonMax), latMin, latMax, 6)
      val runs = Sid.mergedIntervals(cover)
      (1 to 25).foreach { _ =>
        val lat = latMin + r.nextDouble() * (latMax - latMin)
        val lon = lonMin + r.nextDouble() * (math.min(180, lonMax) - lonMin)
        val sid = Htm.latLonToSid(lat, lon, 26)
        assert(Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runs),
          s"point ($lat, $lon) escaped cover of box [$lonMin,$lonMax]x[$latMin,$latMax]")
      }
    }
    // the wrapped pacific region from SparkEntry
    val pac = SparkEntry.region("pacific")
    val cov = SparkEntry.regionCover(pac)
    val runs = Sid.mergedIntervals(cov)
    (1 to 50).foreach { i =>
      val lat = pac.latMin + (i % 10) * (pac.latMax - pac.latMin) / 10.0
      val lon = if (i % 2 == 0) 165.0 + (i % 15) else -180.0 + (i % 30)
      if (lon >= 165 || lon <= -150) {
        val sid = Htm.latLonToSid(lat, lon, 26)
        assert(Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runs),
          s"pacific point ($lat, $lon) escaped")
      }
    }
  }

  test("ellipse cover contains interior points and excludes far exterior points") {
    // 100 km x 40 km ellipse rotated 30deg ccw from east, centered mid-lat
    val (clat, clon) = (42.0, 7.0)
    val cov = Cover.ellipseCover(clat, clon, 100000.0, 40000.0, 30.0, 12)
    assert(cov.nonEmpty)
    val runs = Sid.mergedIntervals(cov)
    def hit(lat: Double, lon: Double): Boolean = {
      val sid = Htm.latLonToSid(lat, lon, 26)
      Sid.intervalOverlaps(Sid.intervalLo(sid), Sid.intervalHi(sid), runs)
    }
    val degPerMLat = 1.0 / 111195.0
    val degPerMLon = degPerMLat / math.cos(math.toRadians(clat))
    val ca = math.cos(math.toRadians(30)); val sa = math.sin(math.toRadians(30))
    // along the rotated major axis, inside (0.8 x semi) and outside (2 x semi)
    def onMajor(f: Double) = (clat + f * 50000 * sa * degPerMLat, clon + f * 50000 * ca * degPerMLon)
    def onMinor(f: Double) = (clat + f * 20000 * ca * degPerMLat, clon - f * 20000 * sa * degPerMLon)
    assert(hit(clat, clon))
    assert(hit(onMajor(0.8)._1, onMajor(0.8)._2) && hit(onMajor(-0.8)._1, onMajor(-0.8)._2))
    assert(hit(onMinor(0.8)._1, onMinor(0.8)._2) && hit(onMinor(-0.8)._1, onMinor(-0.8)._2))
    assert(!hit(onMajor(2.5)._1, onMajor(2.5)._2))
    assert(!hit(onMinor(4.0)._1, onMinor(4.0)._2))
    // anisotropy: a point past the minor semi-axis but within the major
    // semi-axis distance must be covered only in the major direction
    assert(hit(onMajor(0.95)._1, onMajor(0.95)._2))
    assert(!hit(onMinor(2.2)._1, onMinor(2.2)._2))
  }

  test("shuffleJoin rebase keeps pairs for left sids coarser than the finest cover level") {
    import spark.implicits._
    // ADVICE r4 HIGH regression: the uniform-level rebase used to expand
    // every cover cell to max(cover levels) with NO cap at the minimum
    // LEFT sid level — a left row with level in [cellLevel, target)
    // matched that cell via its base key before the rebase and silently
    // lost the pair after it. Construct exactly that shape: disjoint
    // cover cells at levels {3, 4, 6}, left rows at level 26 plus one at
    // level 5 (inside the level-3 cell). minLeft=5 caps the rebase
    // target at 5; the level-5 row must keep its match.
    val s3 = Sid.clearToLevel(Htm.latLonToSid(10.0, 10.0, 3))
    val s4 = Sid.clearToLevel(Htm.latLonToSid(50.0, 100.0, 4))
    val s6 = Sid.clearToLevel(Htm.latLonToSid(-40.0, -60.0, 6))
    assert(Seq(s3, s4, s6).map(Sid.level) === Seq(3, 4, 6))
    val covers = Seq(
      ("r3", Seq(s3)), ("r4", Seq(s4)), ("r6", Seq(s6))).toDF("region", "sids")
    val coarse = Sid.clearToLevel(Htm.latLonToSid(10.2, 10.2, 5)) // level 5, inside s3
    assert((coarse & Sid.clearMask(3)) == (s3 & Sid.clearMask(3)))
    val pts = (Seq(
      (1L, Htm.latLonToSid(10.1, 10.1, 26)),
      (2L, Htm.latLonToSid(50.1, 100.1, 26)),
      (3L, Htm.latLonToSid(-40.1, -60.05, 26)),
      (4L, Htm.latLonToSid(0.0, 170.0, 26))) :+ ((5L, coarse)))
      .toDF("id", "sid")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def pairsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "region").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val viaShuffle = pairsOf(graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids"))
      // pointJoin's ladder dictionary starts its rungs at the coarsest
      // cover level, so the level-5 row keys at its own level
      val viaBroadcast = pairsOf(
        graft.operators.StareJoin.pointJoin(pts, "sid", covers, "sids", how = "inner"))
      assert(viaShuffle.contains((5L, "r3")), "coarse left row lost by the rebase")
      assert(viaShuffle === viaBroadcast)
      assert(viaShuffle === Set((1L, "r3"), (2L, "r4"), (3L, "r6"), (5L, "r3")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("shuffleJoin rebase cost saturates instead of overflowing into a mega-expansion") {
    import spark.implicits._
    // ADVICE r4 medium: > 2048 exploded (row, cell) pairs at level 0
    // with a level-26 companion used to overflow (cnt << 52) negative,
    // pass the 16M budget, and expand 4^26 cells. With saturation the
    // rebase must be refused and the join still completes correctly.
    val s0 = Sid.clearToLevel(Htm.latLonToSid(10.0, 10.0, 0))
    val s26 = Sid.clearToLevel(Htm.latLonToSid(-40.0, -60.0, 26))
    val covers = (1 to 2100).map(i => (s"r$i", Seq(s0))).toDF("region", "sids")
      .unionByName(Seq(("fine", Seq(s26))).toDF("region", "sids"))
    val pts = Seq((1L, Htm.latLonToSid(10.1, 10.1, 26)), (2L, s26))
      .toDF("id", "sid")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.operators.Skew.shuffleJoin(pts, "sid", covers, "sids",
        knownMinLeftLevel = Some(26))
      // row 1 matches all 2100 level-0 covers; row 2 matches those plus
      // the fine cover (s26 lies inside the same level-0 trixel iff its
      // prefix matches — verify via prefix arithmetic, not assumption)
      val expect2100 = out.filter(col("id") === 1L).count()
      assert(expect2100 === 2100)
      assert(out.filter(col("id") === 2L && col("region") === "fine").count() === 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("pointJoin guard evaluates the right plan at most ~once extra (persist across probe)") {
    import spark.implicits._
    // r3 verdict item 8: the un-cached guard scheduled up to 3 full
    // evaluations of the right plan (probe, count, collect) for
    // 1000..1M-row covers. With the guard persist, total per-partition
    // evaluations across probe + count + collect must stay ~n (+ the
    // probe's partial partitions), clearly under the old ~3n.
    val acc = spark.sparkContext.longAccumulator("rightEvalRows")
    val mk = udf((i: Long) => {
      acc.add(1)
      Array(Sid.clearToLevel(Htm.latLonToSid(-80.0 + (i % 160), (i % 350) - 175.0, 6)))
    })
    val right = spark.range(1500).select(col("id").as("rid"), mk(col("id")).as("sids"))
    val pts = Seq((1L, Htm.latLonToSid(10.0, 10.0, 26))).toDF("id", "sid")
    val joined = graft.operators.StareJoin.pointJoin(pts, "sid", right, "sids",
      how = "inner", knownMinLeftLevel = Some(26))
    joined.count() // drive the join; the guard ran at pointJoin build time
    assert(acc.value <= 2600, s"right plan evaluated ${acc.value} row-evals (old path ~4000)")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "guard cache must be released")
  }

  /** Builds shuffleJoin (inner and left, declared level or not, no
    * split) over the two rows of `covers` and checks the jobs that
    * building started and the pairs; `covers` is driver-resident or
    * computed by Spark. */
  private def shuffleJoinBuildJobs(local: Boolean, maxJobs: Int): Unit = {
    import spark.implicits._
    val pts = Seq((1L, 10.0, 10.0), (2L, 48.0, 2.0), (3L, -60.0, 100.0)).toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val coverA = Cover.coverFromBox(5.0, 15.0, 5.0, 15.0, 6).toSeq
    val coverB = Cover.coverFromBox(-5.0, 5.0, 40.0, 50.0, 8).toSeq
    val covers =
      if (local) Seq(("a", coverA), ("b", coverB)).toDF("name", "sids")
      else spark.range(2).select(
        when(col("id") === 0, lit("a")).otherwise(lit("b")).as("name"),
        when(col("id") === 0, typedLit(coverA)).otherwise(typedLit(coverB)).as("sids"))
    assert(org.apache.spark.sql.graft.shim.isLocalRelation(covers) === local)
    val expected = Map("inner" -> Set((1L, "a"), (2L, "b")), "left" -> Set((1L, "a"), (2L, "b"), (3L, null)))
    for (how <- Seq("inner", "left"); declared <- Seq(None, Some(26))) {
      val clue = s"how=$how knownMinLeftLevel=$declared"
      val (joined, rec) = SparkJobProbe.record(spark)(graft.operators.Skew.shuffleJoin(pts, "sid", covers,
        "sids", splitHot = None, how = how, knownMinLeftLevel = declared))
      assert(rec.jobs <= maxJobs, s"${rec.jobs} jobs building shuffleJoin, $clue")
      assert(joined.select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
        expected(how), clue)
    }
  }

  test("building shuffleJoin over a local cover frame starts no Spark job") {
    shuffleJoinBuildJobs(local = true, maxJobs = 0)
  }

  test("building shuffleJoin over a computed cover side of at most ProbeRows rows starts at most one job") {
    shuffleJoinBuildJobs(local = false, maxJobs = 1)
  }

  test("pointJoin over a local cover frame starts no Spark job at build time") {
    import spark.implicits._
    val shim = org.apache.spark.sql.graft.shim
    def buildJobs(right: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Int, Int) = {
      val pts = Seq((1L, 10.0, 10.0), (2L, 48.0, 2.0), (3L, -60.0, 100.0)).toDF("id", "lat", "lon")
        .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
      val (joined, rec) = SparkJobProbe.record(spark)(graft.operators.StareJoin.pointJoin(pts, "sid",
        right, "sids", how = "left", knownMinLeftLevel = Some(26)))
      (joined, rec.jobs, rec.unpersistedRdds)
    }
    val coverA = Cover.coverFromBox(5.0, 15.0, 5.0, 15.0, 6).toSeq
    val coverB = Cover.coverFromBox(-5.0, 5.0, 40.0, 50.0, 8).toSeq
    val expected = Set((1L, "a"), (2L, "b"), (3L, null))
    val local = Seq(("a", coverA), ("b", coverB)).toDF("name", "sids")
    assert(shim.isLocalRelation(local))
    val (joined, localJobs, localUnpersists) = buildJobs(local)
    assert(localJobs === 0, "a driver-resident cover frame needs no guard job")
    assert(localUnpersists === 0, "a driver-resident cover frame is not persisted")
    assert(local.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(joined.select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      expected)
    // an undeclared mixed-level left side takes the ladder dictionary
    // too: no job measures its levels, and the plan is one join
    val mixed = Seq((1L, Htm.latLonToSid(10.0, 10.0, 26)), (2L, Htm.latLonToSid(48.0, 2.0, 7)),
      (3L, Htm.latLonToSid(10.0, 10.0, 5)), (4L, Htm.latLonToSid(-60.0, 100.0, 2))).toDF("id", "sid")
    val (mixedJoined, mixedRec) = SparkJobProbe.record(spark)(
      graft.operators.StareJoin.pointJoin(mixed, "sid", local, "sids", how = "left"))
    assert(mixedRec.jobs === 0, "an undeclared left side needs no level job")
    assert(mixedJoined.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.length === 1)
    val covers = Map("a" -> coverA, "b" -> coverB)
    val mixedExpected = mixed.collect().toSeq.flatMap { r =>
      val sid = r.getLong(1)
      val hits = covers.toSeq.collect { case (n, c) if Sid.compress(c.toArray).exists(cell =>
        Sid.level(cell) <= Sid.level(sid) && Sid.intersects(cell, sid)) => n }
      if (hits.isEmpty) Seq((r.getLong(0), null: String)) else hits.map((r.getLong(0), _))
    }
    assert(mixedJoined.select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(_.toString) === mixedExpected.sortBy(_.toString))
    assert(mixedExpected.contains((2L, "b")), "the level-7 point lies in a coarser cell of cover b")
    // a cover frame computed by Spark still takes the persisted guard
    val computed = spark.range(2).select(
      when(col("id") === 0, lit("a")).otherwise(lit("b")).as("name"),
      when(col("id") === 0, typedLit(coverA)).otherwise(typedLit(coverB)).as("sids"))
    assert(!shim.isLocalRelation(computed))
    val (joined2, computedJobs, computedUnpersists) = buildJobs(computed)
    assert(computedJobs > 0)
    assert(computedUnpersists > 0, "the guard persist must be taken and released")
    assert(computed.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(joined2.select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      expected)
    // the headline plan (SparkEntry.coversDf, level-26 points): exactly
    // one join, a broadcast hash join whose build side carries the cover
    // columns and the ladder explode; the point side is not exploded
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val pts = Seq((1L, 10.0, 10.0), (2L, 48.0, 2.0)).toDF("id", "lat", "lon")
      .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    for (how <- Seq("inner", "left")) {
      val plan = graft.operators.StareJoin.pointJoin(pts, "sid", SparkEntry.coversDf(spark), "sids",
        how = how, knownMinLeftLevel = Some(26)).queryExecution.sparkPlan
      val joins = plan.collect { case j: BaseJoinExec => j }
      assert(joins.length === 1, s"how=$how\n$plan")
      val bhj = joins.head match {
        case b: BroadcastHashJoinExec => b
        case other => fail(s"how=$how: ${other.nodeName} is not a broadcast hash join\n$plan")
      }
      val (build, stream) = if (bhj.buildSide == BuildRight) (bhj.right, bhj.left) else (bhj.left, bhj.right)
      assert(Set("region_name", "sids").subsetOf(build.output.map(_.name).toSet), s"how=$how\n$plan")
      val expands = build.collect {
        case g: GenerateExec if g.generatorOutput.map(_.name) == Seq("__stare_rkey") &&
          g.generator.references.exists(_.name == "sids") => g
      }
      assert(expands.length === 1, s"how=$how: no ladder explode on the build side\n$plan")
      assert(stream.collect { case g: GenerateExec => g }.isEmpty, s"how=$how\n$plan")
    }
  }

  test("fused clear-of-encode keys equal interpreted eval and the unfused clear, nulls included") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    // an RDD-backed frame: over a LocalRelation the optimizer would
    // fold the keys to constants before any eval or codegen mode ran
    val pts = spark.sparkContext.parallelize(
      (Seq.fill(300)((Option(r.nextDouble() * 180.0 - 90.0), Option(r.nextDouble() * 360.0 - 180.0))) ++
        Seq((Some(90.0), Some(180.0)), (Some(-90.0), Some(-180.0)), (None, Some(1.0)), (Some(1.0), None),
          (None, None))).zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }, 3)
      .toDF("id", "lat", "lon")
    val levels = Seq(0, 1, 6, 8, 26, 27)
    def keys(encodeLevel: Int) = pts.select(col("id") +: levels.map(l =>
      stareClearTo(stareSid(col("lat"), col("lon"), encodeLevel), l).as(s"k$l")): _*)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // the optimized key really is a clear over a literal-level encode
    assert(keys(26).queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case graft.functions.StareClearToExpression(graft.functions.StareSidExpression(_, _, _), _) => true
      case _ => false
    })))
    // unfused: the clear of an already materialised sid column
    val sids = pts.select(col("id"), stareSid(col("lat"), col("lon"), 26).as("sid")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
      .toDF("id", "sid")
    val unfused = rows(sids.select(col("id") +: levels.map(l => stareClearTo(col("sid"), l).as(s"k$l")): _*))
    // the clear of the full encode at any encode level, on the driver
    val ptRows = pts.collect()
    def truthAt(encodeLevel: Int): Map[Long, Seq[Any]] = ptRows.map { row =>
      val k = if (row.isNullAt(1) || row.isNullAt(2)) levels.map(_ => null)
        else levels.map(l =>
          (Htm.latLonToSid(row.getDouble(1), row.getDouble(2), encodeLevel) & Sid.clearMask(l)) | l)
      row.getLong(0) -> k
    }.toMap
    val modes = Seq(
      "fused codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    modes.foreach { case (mode, conf) =>
      val prior = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        Seq(26, 27, 10).foreach { el =>
          val got = rows(keys(el))
          assert(got === unfused, s"$mode, encode level $el")
        }
        // out-of-range encode levels are ORed into the location bits,
        // which the clear keeps: such keys are not fused
        Seq(-1, 32, 40).foreach { el =>
          val want = truthAt(el)
          assert(want !== unfused, s"encode level $el must change some key")
          assert(rows(keys(el)) === want, s"$mode, out-of-range encode level $el")
        }
        if (mode == "fused codegen") {
          def code(df: org.apache.spark.sql.DataFrame) =
            org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
          // one key runs the prefix descent; several keys over one encode
          // share it as a common subexpression and clear its value
          val one = pts.select(col("id"), stareClearTo(stareSid(col("lat"), col("lon"), 26), 6).as("k6"))
          assert(code(one).contains("latLonToSidPrefix"))
          assert(rows(one) === unfused.map { case (i, ks) => i -> Seq(ks(levels.indexOf(6))) })
          assert(!code(keys(26)).contains("latLonToSidPrefix"))
        }
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    assert(unfused === truthAt(26))
    assert(Seq(302L, 303L, 304L).forall(i => unfused(i).forall(_ == null)))
  }

  test("shuffle left join with few rows of giant covers: full-row side sized by keyed rows") {
    import spark.implicits._
    // 3 cover rows of ~1k level-10 cells each: a few KB per row, over
    // the 10 MB broadcast threshold once every keyed cell carries its
    // row; that keyed full-row side must never be broadcast. The inner
    // join takes the same keyed shape, sized the same way.
    val boxes = Seq(("a", 0.0, 1.5, 0.0, 1.5), ("b", 20.0, 21.5, 10.0, 11.5), ("c", -40.0, -38.5, -20.0, -18.5))
    val covers = boxes.map { case (n, x0, x1, y0, y1) =>
      (n, Sid.expandToLevel(Cover.coverFromBox(x0, x1, y0, y1, 10, marginDeg = 0.2), 10).toSeq) }
    val right = covers.toDF("name", "sids")
    val r = new scala.util.Random(11)
    // points around each box (inside and just outside it)
    val pts = Seq.tabulate(400) { i =>
      val (_, x0, _, y0, _) = boxes(i % 3)
      (i.toLong, y0 - 0.5 + r.nextDouble() * 2.5, x0 - 0.5 + r.nextDouble() * 2.5)
    }.toDF("id", "lat", "lon").withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val runs = covers.map { case (n, c) => n -> Sid.mergedIntervals(c.toArray) }
    val bruteLeft = pts.collect().flatMap { p =>
      val sid = p.getLong(3)
      val hits = runs.collect { case (n, rr) if Sid.anyIntersects(Array(sid), rr) => n }
      if (hits.isEmpty) Seq((p.getLong(0), null: String)) else hits.map(n => (p.getLong(0), n))
    }.toSet
    assert(bruteLeft.exists(_._2 != null) && bruteLeft.exists(_._2 == null))
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def check(how: String, conf: Map[String, String], expect: String): Unit = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val out = graft.operators.Skew.shuffleJoin(pts, "sid", right, "sids", how = how,
          knownMinLeftLevel = Some(26))
        val plan = out.queryExecution.sparkPlan
        // the joins that probe the point side (every left outer join is one)
        val probeType = if (how == "left") LeftOuter else Inner
        def probes(j: SparkPlan) = j.output.exists(_.name == "id")
        val bhj = plan.collect { case j: BroadcastHashJoinExec if j.joinType == probeType && probes(j) => j }
        assert(bhj.forall { j =>
          val built = j.right.output.map(_.name).toSet
          !(built.contains("__stare_rkey") && built.contains("sids"))
        }, s"the keyed full-row side must not be broadcast:\n$plan")
        // the shuffled strategies join the point side to the keyed
        // full-row side directly: no (rid, key) pairs joined back onto
        // the rows by row id
        if (expect != "broadcast") {
          val joinBack = plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet == Set("__rid", "key_right") => j }
          assert(joinBack.isEmpty, s"the keyed side is joined back onto the rows:\n$plan")
        }
        val shj = plan.collect { case j: ShuffledHashJoinExec if j.joinType == probeType && probes(j) => j }
        val smj = plan.collect { case j: SortMergeJoinExec if j.joinType == probeType && probes(j) => j }
        expect match {
          // pairs and rows broadcast on their own, probed in turn
          case "broadcast" => assert(bhj.length === 2 && shj.isEmpty && smj.isEmpty, plan.toString)
          case "shj"       => assert(shj.length === 1 && bhj.isEmpty && smj.isEmpty, plan.toString)
          case "smj"       => assert(smj.length === 1 && bhj.isEmpty && shj.isEmpty, plan.toString)
        }
        val brute = if (how == "left") bruteLeft else bruteLeft.filter(_._2 != null)
        assert(out.select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet === brute,
          s"how=$how, $expect")
      } finally conf.keys.foreach(spark.conf.unset)
    }
    for (how <- Seq("left", "inner")) {
      check(how, Map.empty, "broadcast")
      val noBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
      check(how, noBroadcast, "shj")
      check(how, noBroadcast + ("spark.graft.join.shjMaxBuildBytesPerPartition" -> (1L << 20).toString), "smj")
    }
  }

  test("packed stable ids: unique, deterministic across re-evaluation, complex-type safe") {
    import spark.implicits._
    val base = spark.range(0, 20000).repartition(7)
      .select(col("id").as("v"),
        concat(lit("s"), col("id")).as("s"),
        array(col("id"), col("id") * 2).as("arr"),
        when(col("id") % 3 === 0, col("id")).as("maybe"))
    val withId = org.apache.spark.sql.graft.shim.withPackedIdColumn(base, "rid")
    val a = withId.collect()
    assert(a.length === 20000)
    val ids = a.map(_.getLong(a.head.fieldIndex("rid")))
    assert(ids.distinct.length === ids.length, "packed ids must be unique")
    // values survive the JoinedRow + UnsafeProjection path intact
    val byV = a.map(r => r.getLong(0) -> r).toMap
    assert(byV(6L).getString(1) === "s6")
    assert(byV(6L).getSeq[Long](2) === Seq(6L, 12L))
    assert(byV(6L).getLong(3) === 6L && byV(7L).isNullAt(3))
    // deterministic: a second full evaluation of the SAME frame yields
    // the same (row -> id) assignment (the property the join-back and
    // pair-dedup call sites rely on)
    val b = withId.collect()
    assert(a.map(r => (r.getLong(0), r.getLong(4))).toSet ===
      b.map(r => (r.getLong(0), r.getLong(4))).toSet)
  }

  test("raster grid encodes pixels at an adapted level and roundtrips via pivot") {
    val g = graft.sources.Raster.gridToDf(spark, 16, 8, -10.0, 50.0, 0.25, -0.25)
    assert(g.count() === 128)
    val lvl = g.select(stareLevel(col("sid"))).distinct().collect().map(_.getLong(0))
    assert(lvl.length === 1 && lvl(0) === graft.core.Htm.adaptiveLevel(0.25))
    val m = graft.operators.ToArray(g.withColumn("v", col("sid").cast("double")), "y", "x", "v")
    assert(m.length === 8 && m(0).length === 16 && !m.exists(_.exists(_.isNaN)))
  }
}
