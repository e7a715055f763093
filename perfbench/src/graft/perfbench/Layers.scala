package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Htm, Sid, TrixelUnion}
import graft.functions.StareFunctions._
import graft.operators.{Skew, StareJoin}
import graft.sources.Pods

/** Per-layer probes of a traced run. Each probe times calls into one
  * layer's public functions on the workload's own inputs; results go
  * into `out` under the layer's metric names. */
final class Layers(ctx: Ctx, log: StageLog, out: mutable.LinkedHashMap[String, Double]) {
  private def spark: SparkSession = ctx.spark
  private val spans = ctx.spans

  /** ops/s of a single-threaded kernel loop: three timed blocks of at
    * least `minS` seconds each, median rate. `block` returns the number
    * of ops it did and a value that keeps the JIT from dropping it. */
  private def kernelRate(minS: Double = 0.2)(block: => (Long, Long)): Double = {
    var sink = 0L
    val rates = (1 to 3).map { _ =>
      var ops = 0L
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minS) {
        val (n, v) = block
        ops += n; sink ^= v
        el = (System.nanoTime() - t0) / 1e9
      }
      ops / el
    }
    if (sink == 42L) System.err.print("")
    Timing.median(rates)
  }

  def core(in: LayerInputs): Unit = spans("layer.core") {
    val sample = in.points.limit(200000).collect()
    val lats = sample.map(_.getDouble(0)); val lons = sample.map(_.getDouble(1))
    out("core.encode_ops_per_s") = spans("core.encode") { kernelRate() {
      var x = 0L; var i = 0
      while (i < lats.length) { x ^= Htm.latLonToSid(lats(i), lons(i), 26); i += 1 }
      (lats.length.toLong, x)
    } }
    out("core.cover_ops_per_s") = spans("core.cover") { kernelRate() {
      val cs = Regions.regions.map(r => Regions.freshCover(r))
      (cs.length.toLong, cs.map(_.length.toLong).sum)
    } }
    // level-8 cells of the region covers, shuffled so compress has to sort
    val rnd = new scala.util.Random(ctx.seed)
    val cellSets = Regions.regions.map(r =>
      rnd.shuffle(Sid.expandToLevel(Regions.freshCover(r), 8).toSeq).toArray)
    out("core.compress_ops_per_s") = spans("core.compress") { kernelRate() {
      val cs = cellSets.map(Sid.compress)
      (cellSets.map(_.length.toLong).sum, cs.map(_.length.toLong).sum)
    } }
    val regionCovers = Regions.regions.map(r => Regions.freshCover(r)).toArray
    out("core.trixel_union_ops_per_s") = spans("core.trixel_union") { kernelRate() {
      val w = regionCovers.map(TrixelUnion.dissolveWkt)
      (w.length.toLong, w.map(_.length.toLong).sum)
    } }
  }

  private def noop(df: DataFrame): Double =
    Timing.seconds(df.write.format("noop").mode("overwrite").save())._2

  private def medianOf(reps: Int)(f: => Double): Double = Timing.median((1 to reps).map(_ => f))

  /** expression rows/s through a noop sink, the cached scan subtracted */
  def functions(in: LayerInputs): Unit = spans("layer.functions") {
    val n = in.pointRows.toDouble
    // sid first: a column order the timed plans never produce, so this
    // cache cannot stand in for the encode they time
    val indexed = in.points.select(stareSid(col("lat"), col("lon"), 26).as("sid"), col("lat"),
      col("lon")).persist()
    indexed.count()
    val scanLL = medianOf(2)(noop(in.points))
    val sid = medianOf(2)(noop(in.points.select(stareSid(col("lat"), col("lon"), 26))))
    val scanSid = medianOf(2)(noop(indexed.select(col("sid"))))
    val clear = medianOf(2)(noop(indexed.select(stareClearTo(col("sid"), 8))))
    indexed.unpersist(blocking = true)
    out("functions.stare_sid_rows_per_s") = n / math.max(sid - scanLL, 1e-4)
    out("functions.clear_to_rows_per_s") = n / math.max(clear - scanSid, 1e-4)
  }

  /** the headline pipeline cut after each phase; a phase's time is its
    * cut minus the previous cut */
  def pointJoin(in: LayerInputs): Unit = spans("layer.operators.point_join") {
    // the headline join runs with Spark's default broadcast threshold,
    // whatever the workload set
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    try pointJoinPhases(in)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  private def pointJoinPhases(in: LayerInputs): Unit = {
    val covers = SparkEntry.coversDf(spark)
    // Each cut ends in a one-row aggregate over the columns the next
    // phase reads. Scan, encode and probe are nested cuts of one plan;
    // refine and aggregate run on the cached output of the phase before,
    // because the optimiser pushes part of the refine below the join.
    val encoded = in.points.withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    val probe = StareJoin.pointJoin(encoded, "sid", covers, "sids", how = "inner",
      knownMinLeftLevel = Some(26)).select("region_name", "lat", "lon")
    def cut(df: DataFrame, cols: String*): Double =
      Timing.seconds(df.agg(count(lit(1)), cols.map(c => max(col(c))): _*).collect())._2
    cut(probe, "region_name", "lat", "lon") // warm-up
    // two timings per cut on small inputs, one on millions of rows
    val reps = if (in.pointRows > 1000000L) 1 else 2
    val scan = medianOf(reps)(cut(in.points, "lat", "lon"))
    val enc = medianOf(reps)(cut(encoded, "sid"))
    log.reset()
    val prb = medianOf(reps)(cut(probe, "region_name", "lat", "lon"))
    val bcast = log.profile(prb).broadcastBytes / reps
    val candidates = probe.persist()
    val nCandidates = candidates.count()
    val refined = candidates.filter(Regions.refine).select("region_name").persist()
    val nRefined = refined.count()
    val ref = medianOf(2)(cut(candidates.filter(Regions.refine), "region_name")) -
      medianOf(2)(cut(candidates, "region_name", "lat", "lon"))
    val ag = medianOf(2)(Timing.seconds(
      refined.groupBy(col("region_name")).agg(count(lit(1)).as("n")).collect())._2) -
      medianOf(2)(cut(refined, "region_name"))
    candidates.unpersist(blocking = true)
    refined.unpersist(blocking = true)
    out("operators.point_join.scan_s") = scan
    out("operators.point_join.encode_s") = enc - scan
    out("operators.point_join.probe_s") = prb - enc
    out("operators.point_join.refine_s") = ref
    out("operators.point_join.agg_s") = ag
    out("operators.point_join.candidate_pairs") = nCandidates.toDouble
    out("operators.point_join.refined_pairs") = nRefined.toDouble
    out("operators.point_join.refine_keep_ratio") = nRefined.toDouble / math.max(1L, nCandidates)
    out("operators.point_join.broadcast_bytes") = bcast.toDouble
  }

  /** Skew.shuffleJoin of the skewed city, broadcast off, split
    * requested: one warm-up, one traced join. Returns an error when the
    * join's count differs from the plain equi-join's. */
  def shuffleJoin(points: Long, threshold: Long): Option[String] =
    spans("layer.operators.shuffle_join") {
      val city = new SkewedCity(spark, ctx.seed, points)
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val spec = Skew.splitHotCellsWithSpec(city.points, "sid", city.covers, "sids", threshold,
          knownMinLeftLevel = Some(26))
        def run() = Skew.shuffleJoin(city.points, "sid", city.covers, "sids",
          splitHot = Some(threshold), knownMinLeftLevel = Some(26)).count()
        run() // warm-up
        log.reset()
        val (rows, s) = Timing.seconds(run())
        val p = log.profile(s)
        out("operators.shuffle_join.wall_s") = s
        out("operators.shuffle_join.exec_core_s") = p.execCoreS
        out("operators.shuffle_join.shuffle_write_bytes") = p.shuffleWriteBytes.toDouble
        out("operators.shuffle_join.shuffle_read_bytes") = p.shuffleReadBytes.toDouble
        out("operators.shuffle_join.spill_bytes") = p.spillBytes.toDouble
        out("operators.shuffle_join.stages") = p.stages.toDouble
        out("operators.shuffle_join.max_task_s") = p.maxTaskS
        out("operators.shuffle_join.task_skew") = p.taskSkew
        out("operators.shuffle_join.split_engaged") = if (spec.skipReason.isEmpty) 1.0 else 0.0
        out("operators.shuffle_join.output_rows_per_input_row") = rows.toDouble / points
        val expected = city.expectedRows
        city.points.unpersist(blocking = true)
        if (rows == expected) None
        else Some(s"skewed shuffle join count $rows differs from the equi-join's $expected")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    }

  /** Pods.write / read / reconcile called directly on the inputs of
    * the q27 and q48 queries, in a store under the work directory */
  def pods(): Unit = spans("layer.sources.pods") {
    val root = ctx.workDir.resolve("layer_pods")
    Files.createDirectories(root)
    FileTree.delete(root)
    val dir = ctx.dataDir
    val nonce = System.nanoTime().toHexString
    val docs = SparkEntry.indexed(spark, dir).select(col("doc_id"), col("sid"), col("lat"),
      col("lon"), col("warc_ts"), col("lang"))
    val written = root.resolve("write").toString
    val writeS = spans("pods.write") { Timing.seconds(
      Pods.write(docs, written, "sid", podLevel = 2, lineageId = s"layer-$nonce",
        tsCol = Some("warc_ts"), chunkMs = 30L * 86400000L))._2 }
    val (files, bytes) = FileTree.parquetFiles(root.resolve("write"))
    val r = SparkEntry.region("europe_c")
    val t0 = 1700000600L; val t1 = 1700020000L
    val (readFiles, readS) = spans("pods.read") { Timing.seconds {
      val df = Pods.read(spark, written, SparkEntry.regionCover(r),
        timeRangeMs = Some((t0 * 1000, t1 * 1000)))
      df.filter(SparkEntry.inRegion(r) && unix_timestamp(col("warc_ts")).between(t0, t1))
        .select(col("doc_id")).collect()
      df.inputFiles.length
    } }
    // q48's streamed layout: pod-partitioned files, no manifests
    val streamed = root.resolve("reconcile").toString
    docs.withColumn("pod", starePod(col("sid"), 2))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("pod"))
      .sortWithinPartitions(col("sid"))
      .write.mode("overwrite").partitionBy("pod").parquet(streamed)
    val reconcileS = spans("pods.reconcile") { Timing.seconds(
      Pods.reconcile(spark, streamed, s"layer-rec-$nonce", tsCol = Some("warc_ts")))._2 }
    val inputBytes = Files.size(java.nio.file.Paths.get(dir, "documents.parquet"))
    out("sources.pods.write_s") = writeS
    out("sources.pods.read_s") = readS
    out("sources.pods.reconcile_s") = reconcileS
    out("sources.pods.files_written") = files.toDouble
    out("sources.pods.bytes_written_per_input_byte") = bytes.toDouble / inputBytes
    out("sources.pods.files_read_ratio") = readFiles.toDouble / math.max(1, files)
  }

  /** median over the traced operations of what Spark ran for each */
  def query(ops: Seq[OpRun]): Unit = {
    val per = ops.map { op =>
      val ps = op.items.flatMap(_.profile)
      (op.wallS, ps)
    }
    def med(f: (Double, Seq[OpProfile]) => Double): Double =
      Timing.median(per.map { case (w, ps) => f(w, ps) })
    out("query.wall_s") = med((w, _) => w)
    out("query.plan_s") = med((_, ps) => ps.map(_.planS).sum)
    out("query.jobs") = med((_, ps) => ps.map(_.jobs).sum.toDouble)
    out("query.stages") = med((_, ps) => ps.map(_.stages).sum.toDouble)
    out("query.exec_core_s") = med((_, ps) => ps.map(_.execCoreS).sum)
    out("query.idle_core_s") = med((w, ps) => w * ctx.cores - ps.map(_.execCoreS).sum)
    out("query.shuffle_bytes") = med((_, ps) => ps.map(_.shuffleWriteBytes).sum.toDouble)
    out("query.task_failures") = med((_, ps) => ps.map(_.taskFailures).sum.toDouble)
  }
}
