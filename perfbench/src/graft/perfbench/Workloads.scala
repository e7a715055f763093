package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.{Cover, Htm, Sid}
import graft.functions.StareFunctions._
import graft.operators.StareJoin
import graft.sources.{Pods, Webtext}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, dataDir: String,
                     workDir: Path, spans: Spans)

/** One timed unit inside an operation: a join, or one query of a pass. */
final case class Item(name: String, wallS: Double, error: Option[String],
                      profile: Option[OpProfile])

/** One measured operation. */
final case class OpRun(wallS: Double, items: Seq[Item])

object Timing {
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Run `f` once untraced or, given a log, traced: the log is reset
    * before and read after, outside the timed interval. */
  def item(name: String, log: Option[StageLog])(f: => Option[String]): Item = {
    log.foreach(_.reset())
    val (err, s) = seconds {
      try f catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    Item(name, s, err, log.map(_.profile(s)))
  }
}

/** A benchmark workload: inputs built in set-up, then one operation
  * repeated for the measured interval. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** input rows one operation processes; the base of rows_per_s */
  def rowsPerOp: Long
  /** generate and materialise the inputs */
  def build(): Unit
  /** drop what build() cached */
  def release(): Unit
  /** first operations (code generation, JIT), timed as part of set-up */
  def warmUp(): Unit
  /** compute the reference answers the operations are checked against */
  def expectAnswers(): Unit
  def runOp(log: Option[StageLog]): OpRun
  /** inputs for the per-layer probes of a traced run */
  def layerInputs: LayerInputs
  def describe: Map[String, String]

  protected val spark: SparkSession = ctx.spark
}

/** The workload's points (lat, lon), for the per-layer probes of a
  * traced run. */
final case class LayerInputs(points: DataFrame, pointRows: Long)

object Regions {
  val regions: Seq[SparkEntry.Region] = SparkEntry.regions

  /** exact box refine of a (region_name, lat, lon) join result */
  val refine: Column =
    regions.map(r => col("region_name") === r.name && SparkEntry.inRegion(r)).reduce(_ || _)

  /** the region's level-6 cover, computed without the library's memo */
  def freshCover(r: SparkEntry.Region, level: Int = 6): Array[Long] =
    if (!r.wraps) Cover.coverFromBox(r.lonMin, r.lonMax, r.latMin, r.latMax, level)
    else Sid.compress(
      Cover.coverFromBox(r.lonMin, 180.0, r.latMin, r.latMax, level) ++
        Cover.coverFromBox(-180.0, r.lonMax, r.latMin, r.latMax, level))

  /** per-region row counts by the direct lat/lon box filter */
  def boxCounts(pts: DataFrame): Map[String, Long] = {
    val row = pts.agg(sum(lit(0L)).as("_z"),
      regions.map(r => sum(when(SparkEntry.inRegion(r), 1L).otherwise(0L)).as(r.name)): _*).head()
    regions.map(r => r.name -> row.getAs[Long](r.name)).filter(_._2 > 0).toMap
  }
}

/** Seeded uniform numbers from row ids: a pure function of (seed, id,
  * stream), so the same seed gives the same rows however Spark
  * partitions them. */
object SeededHash {
  def unit(seed: Long, id: Column, stream: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(stream)), lit(1L << 30)).cast("double") / (1L << 30).toDouble
}

/** The paper's headline query: amplified geotagged web pages joined to
  * the 8 region covers, refined exactly and counted per region. */
final class PointJoinWorkload(ctx: Ctx, replicas: Int) extends Workload(ctx) {
  val name = "point_join"
  private var pts: DataFrame = _
  private var rows = 0L
  private var expected: Map[String, Long] = Map.empty
  private lazy val covers = SparkEntry.coversDf(spark)

  def rowsPerOp: Long = rows

  def build(): Unit = {
    val base = Webtext.geotagged(Webtext.table(spark, ctx.dataDir))
      .select(col("doc_id"), col("lat"), col("lon"))
    val baseRows = base.count()
    val indexed = base.withColumn("doc_idx",
      (row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))) - 1)
        .cast("long"))
    // replica k of the table is the whole table rotated by a seeded
    // per-replica (lat, lon) offset
    pts = spark.range(baseRows * replicas)
      .withColumn("doc_idx", col("id") % baseRows)
      .withColumn("rep", col("id").divide(baseRows).cast("long"))
      .join(broadcast(indexed), Seq("doc_idx"))
      .withColumn("lat", pmod(col("lat") + SeededHash.unit(ctx.seed, col("rep"), 1) * 170.0 + 85.0,
        lit(170.0)) - 85.0)
      .withColumn("lon", pmod(col("lon") + SeededHash.unit(ctx.seed, col("rep"), 2) * 360.0 + 180.0,
        lit(360.0)) - 180.0)
      .select(col("doc_id"), col("rep"), col("lat"), col("lon"))
      .persist()
    rows = pts.count()
    covers.count()
  }

  def release(): Unit = if (pts != null) pts.unpersist(blocking = true)

  private def query(): Array[Row] = {
    val indexed = pts.withColumn("sid", stareSid(col("lat"), col("lon"), 26))
    StareJoin.pointJoin(indexed, "sid", covers, "sids", how = "inner", knownMinLeftLevel = Some(26))
      .filter(Regions.refine)
      .groupBy(col("region_name")).agg(count(lit(1)).as("n"))
      .collect()
  }

  /** joins until the JIT has settled: at least two, and at least 3 s */
  def warmUp(): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || (System.nanoTime() - t0) / 1e9 < 3.0) { query(); n += 1 }
  }

  def expectAnswers(): Unit = expected = Regions.boxCounts(pts)

  def runOp(log: Option[StageLog]): OpRun = {
    var got: Map[String, Long] = Map.empty
    val it = Timing.item(name, log) {
      got = query().map(r => r.getString(0) -> r.getLong(1)).toMap
      None
    }
    val checked = if (it.error.isEmpty && got != expected)
      it.copy(error = Some(s"per-region counts $got differ from the box filter's $expected"))
    else it
    OpRun(it.wallS, Seq(checked))
  }

  def layerInputs: LayerInputs =
    LayerInputs(pts.select("lat", "lon"), rows)

  def describe: Map[String, String] = Map(
    "points" -> rows.toString, "replicas" -> replicas.toString,
    "expected_per_region" -> expected.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
}

/** The skewed shuffle join the traced runs profile: a quarter of the
  * points fall in one seeded 0.1 degree city patch centred on a cover
  * cell, the rest spread over lat +-40 degrees; the right side is ~100k
  * disjoint level-8 cover cells. */
final class SkewedCity(spark: SparkSession, seed: Long, n: Long) {
  import spark.implicits._
  private val cells: Array[Long] = {
    val l4 = Sid.compress(Cover.coverFromBox(-180.0, 0.0, -40.0, 40.0, 4) ++
      Cover.coverFromBox(0.0, 180.0, -40.0, 40.0, 4))
    Sid.expandToLevel(l4, 8).take(100000)
  }
  private val (hotLat, hotLon) = Htm.sidToCenter(cells(new scala.util.Random(seed).nextInt(cells.length)))

  val covers: DataFrame = cells.zipWithIndex.map { case (c, i) => (i.toLong, Seq(c)) }.toSeq
    .toDF("cover_id", "sids")

  /** (id, sid), persisted and materialised */
  val points: DataFrame = {
    val id = col("id")
    val hot = SeededHash.unit(seed, id, 0) < 0.25
    val u1 = SeededHash.unit(seed, id, 1)
    val u2 = SeededHash.unit(seed, id, 2)
    val df = spark.range(n)
      .withColumn("lat", when(hot, lit(hotLat - 0.05) + u1 * 0.1).otherwise(lit(-39.9) + u1 * 79.8))
      .withColumn("lon", when(hot, lit(hotLon - 0.05) + u2 * 0.1).otherwise(lit(-180.0) + u2 * 359.99))
      .select(id, stareSid(col("lat"), col("lon"), 26).as("sid"))
      .persist()
    df.count()
    df
  }

  /** the join's answer by a plain equi-join on the level-8 ancestor */
  def expectedRows: Long =
    points.join(broadcast(cells.toSeq.toDF("cell")), stareClearTo(col("sid"), 8) === col("cell")).count()
}

/** SparkEntry queries run one after another, each collected. The pods
  * query writes into the run's own work directory, so each pass writes
  * its store afresh under a new lineage. */
final class QuerySweepWorkload(ctx: Ctx, val queryNames: Seq[String]) extends Workload(ctx) {
  val name = "query_sweep"
  private val podsDir = ctx.workDir.resolve("pods")
  private var docs = 0L
  private var pass = 0
  private var firstAnswers: Map[String, String] = Map.empty
  /** collected rows of the first pass, for the oracle check */
  val answers = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Seq[Row])]

  def rowsPerOp: Long = docs * queryNames.length

  def build(): Unit = {
    clearStores()
    docs = Webtext.documents(spark, ctx.dataDir).count()
  }

  def release(): Unit = ()

  def warmUp(): Unit = ()

  /** answers are checked against the DuckDB oracle after the run */
  def expectAnswers(): Unit = ()

  private def clearStores(): Unit = {
    Files.createDirectories(podsDir)
    FileTree.delete(podsDir)
    Files.createDirectories(podsDir)
    SparkEntry.clearDupPairsMemo()
    spark.catalog.clearCache()
  }

  /** q27 with its pod store inside the work directory and a lineage
    * fresh for each pass; the body follows SparkEntry.queries call for
    * call, whose q27 store path is fixed. */
  private def podsRoundtrip(nonce: String)(s: SparkSession, dir: String): DataFrame = {
    val out = podsDir.resolve("graft_pods").toString
    val docs = SparkEntry.indexed(s, dir).select(col("doc_id"), col("sid"), col("lat"), col("lon"),
      col("warc_ts"), col("lang"))
    Pods.write(docs, out, "sid", podLevel = 2, lineageId = s"verify-$nonce-$dir",
      tsCol = Some("warc_ts"), chunkMs = 30L * 86400000L)
    val r = SparkEntry.region("europe_c")
    val t0 = 1700000600L; val t1 = 1700020000L
    Pods.read(s, out, SparkEntry.regionCover(r), timeRangeMs = Some((t0 * 1000, t1 * 1000)))
      .filter(SparkEntry.inRegion(r) && unix_timestamp(col("warc_ts")).between(t0, t1))
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  def runOp(log: Option[StageLog]): OpRun = {
    clearStores()
    pass += 1
    val nonce = s"${ctx.seed}-$pass-${System.nanoTime().toHexString}"
    val t0 = System.nanoTime()
    val items = queryNames.map { q =>
      val f = if (q == "q27_pods_roundtrip") podsRoundtrip(nonce) _ else SparkEntry.queries(q)
      var got: (StructType, Seq[Row]) = null
      val it = ctx.spans(s"query.$q") {
        Timing.item(q, log) {
          val df = f(spark, ctx.dataDir)
          got = (df.schema, df.collect().toSeq)
          None
        }
      }
      if (it.error.nonEmpty) it
      else {
        // the first pass goes to the oracle; later passes must match it
        val canon = ResultJson.canonical(got._2)
        if (pass == 1) {
          answers(q) = got
          firstAnswers += q -> canon
          it
        } else if (firstAnswers.get(q).contains(canon)) it
        else it.copy(error = Some(s"pass $pass answer differs from pass 1"))
      }
    }
    OpRun((System.nanoTime() - t0) / 1e9, items)
  }

  def layerInputs: LayerInputs = {
    val pts = Webtext.geotagged(Webtext.table(spark, ctx.dataDir)).select("lat", "lon").persist()
    LayerInputs(pts, pts.count())
  }

  def describe: Map[String, String] = Map(
    "documents" -> docs.toString, "queries" -> queryNames.mkString(" "), "passes" -> pass.toString)
}
