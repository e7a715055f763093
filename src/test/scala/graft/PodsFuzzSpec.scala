package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.Sid
import graft.functions.StareFunctions._
import graft.sources.Pods

/** Storage-path fuzz, the pods counterpart of JoinEquivalenceFuzzSpec:
  * the pruning safety conditions — spatial pod-grid membership
  * (podsForCover over merged cover intervals), conservative temporal
  * TIV overlap, chunk layout, reconcile's bit-alignment pod-level
  * inference — are individually regression-tested; this suite fuzzes
  * them JOINTLY over random pod levels × chunking × mixed-level covers
  * × time windows (disjoint / covering / partial), asserting for both
  * the write() path and the stream-layout + reconcile() path that
  *
  *   Pods.read(cover, window) ∪ exact refine ≡ direct filter
  *
  * where the refine/reference predicate is driver-side interval
  * intersects (core/Sid.scala:58-61) + an exact ts bound. Pruning may
  * only ever DROP rows the predicate also drops — a single lost row
  * fails the set equality.
  *
  * Reference contract: io/pod.py:24-259 (pruned pod/chunk listing),
  * staredataframe.py:1086-1297 (pod layout).
  */
class PodsFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** random sid from raw bits: random face, random child path to `lvl`. */
  private def randomSid(r: scala.util.Random, lvl: Int): Long = {
    var loc = r.nextInt(8).toLong << 59
    var i = 1
    while (i <= lvl) { loc |= r.nextInt(4).toLong << (59 - 2 * i); i += 1 }
    loc | lvl
  }

  private val T0 = 1700000000000L // epoch ms anchor for fuzz timestamps

  /** rows: (doc_id, sid at a level finer than podLevel, ts in [T0, T0+span)). */
  private def randomRows(r: scala.util.Random, n: Int, podLevel: Int,
                         spanMs: Long): Seq[(Long, Long, Long)] =
    (0 until n).map { i =>
      val lvl = podLevel + 2 + r.nextInt(math.min(25 - podLevel, 12))
      (i.toLong, randomSid(r, lvl), T0 + (r.nextDouble() * spanMs).toLong)
    }

  /** random mixed-level cover, 1..6 cells at levels 0..podLevel+4. */
  private def randomCover(r: scala.util.Random, podLevel: Int): Array[Long] =
    Array.fill(1 + r.nextInt(6))(randomSid(r, r.nextInt(podLevel + 5)))

  private def covIntervals(cover: Array[Long]): Array[(Long, Long)] =
    cover.map(c => (Sid.intervalLo(c), Sid.intervalHi(c)))

  private def hits(rows: Seq[(Long, Long, Long)], cover: Array[Long],
                   window: Option[(Long, Long)]): Set[Long] = {
    val iv = covIntervals(cover)
    rows.collect { case (id, sid, ts)
      if Sid.anyIntersects(Array(sid), iv) &&
        window.forall { case (a, b) => ts >= a && ts <= b } => id }.toSet
  }

  /** read + exact refine (driver-side, rows are tiny), as doc_id set. */
  private def readRefined(path: String, cover: Array[Long],
                          window: Option[(Long, Long)]): Set[Long] = {
    val iv = covIntervals(cover)
    Pods.read(spark, path, cover, timeRangeMs = window.map(w => (w._1, w._2)))
      .select(col("doc_id"), col("sid"), (col("warc_ts").cast("double") * 1000).cast("long").as("ts_ms"))
      .collect()
      .collect { case row if Sid.anyIntersects(Array(row.getLong(1)), iv) &&
        window.forall { case (a, b) => row.getLong(2) >= a && row.getLong(2) <= b } =>
        row.getLong(0) }.toSet
  }

  private def randomWindow(r: scala.util.Random, spanMs: Long): Option[(Long, Long)] =
    r.nextInt(4) match {
      case 0 => None // no temporal pruning at all
      case 1 => Some((T0 - 2 * spanMs, T0 - spanMs)) // disjoint: everything prunes
      case 2 => Some((T0 - spanMs, T0 + 2 * spanMs)) // covering: nothing prunes
      case _ => // partial window inside the span
        val a = T0 + (r.nextDouble() * spanMs * 0.8).toLong
        Some((a, a + (spanMs * 0.2).toLong))
    }

  test("write() path: pruned read + refine ≡ direct filter (12 random trials)") {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(4242)
    for (trial <- 0 until 12) {
      val podLevel = r.nextInt(7) // 0..6
      val spanMs = Seq(3600000L, 86400000L, 400L * 86400000L)(r.nextInt(3))
      val rows = randomRows(r, 400 + r.nextInt(600), podLevel, spanMs)
      val withTs = r.nextBoolean()
      val chunkMs = Seq(3600000L, 86400000L, 30L * 86400000L)(r.nextInt(3))
      val df = rows.toDF("doc_id", "sid", "ts_ms")
        .withColumn("warc_ts", (col("ts_ms") / lit(1000.0)).cast("timestamp"))
        .drop("ts_ms")
      val out = Files.createTempDirectory(s"podsfuzz_w$trial").toString
      Pods.write(df, out, "sid", podLevel = podLevel, lineageId = s"fuzz-$trial",
        tsCol = if (withTs) Some("warc_ts") else None, chunkMs = chunkMs)
      for (probe <- 0 until 3) {
        val cover = randomCover(r, podLevel)
        // temporal windows only prune when the store was chunked/ts-tracked,
        // but passing one against an unchunked store must still be safe
        val window = randomWindow(r, spanMs)
        val expected = hits(rows, cover, window)
        val got = readRefined(out, cover, window)
        assert(got === expected,
          s"trial=$trial probe=$probe podLevel=$podLevel withTs=$withTs chunkMs=$chunkMs " +
            s"cover=${cover.map(Sid.hex).mkString(",")} window=$window")
      }
    }
  }

  test("stream layout + reconcile() path: pruned read + refine ≡ direct filter (8 random trials)") {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(9191)
    for (trial <- 0 until 8) {
      val podLevel = 1 + r.nextInt(6) // 1..6 (stream sink always pods > root)
      val spanMs = Seq(86400000L, 400L * 86400000L)(r.nextInt(2))
      val rows = randomRows(r, 300 + r.nextInt(500), podLevel, spanMs)
      val df = rows.toDF("doc_id", "sid", "ts_ms")
        .withColumn("warc_ts", (col("ts_ms") / lit(1000.0)).cast("timestamp"))
        .drop("ts_ms")
        .withColumn("pod", starePod(col("sid"), podLevel))
      val out = Files.createTempDirectory(s"podsfuzz_r$trial").toString
      // half the trials exercise bit-alignment level inference, half the
      // explicit-level overload; alternate trials fold the store in TWO
      // phases (write + reconcile, append + reconcileIncremental) so the
      // associative manifest merge is fuzzed too
      val explicit = r.nextBoolean()
      val lvlOpt = if (explicit) Some(podLevel) else None
      if (trial % 2 == 0) {
        // the streaming sink's layout: partitioned parquet, no manifests
        df.write.mode("overwrite").partitionBy("pod").parquet(out)
        Pods.reconcile(spark, out, s"rec-fuzz-$trial", tsCol = Some("warc_ts"),
          podLevel = lvlOpt)
        assert(Pods.isCommitted(out, s"rec-fuzz-$trial"))
      } else {
        val cut = rows.size / 2
        val half1 = df.filter(col("doc_id") < cut)
        val half2 = df.filter(col("doc_id") >= cut)
        half1.write.mode("overwrite").partitionBy("pod").parquet(out)
        Pods.reconcile(spark, out, s"rec-fuzz-$trial-a", tsCol = Some("warc_ts"),
          podLevel = lvlOpt)
        half2.write.mode("append").partitionBy("pod").parquet(out)
        val n = Pods.reconcileIncremental(spark, out, s"rec-fuzz-$trial-b",
          tsCol = Some("warc_ts"), podLevel = lvlOpt)
        assert(n > 0, s"trial=$trial incremental found no new files")
        assert(Pods.isCommitted(out, s"rec-fuzz-$trial-b"))
      }
      // catalog invariant: manifests describe exactly what is on disk
      val catRows = Pods.catalog(spark, out)
        .agg(sum(col("rowCount"))).collect()(0).getLong(0)
      assert(catRows === rows.size.toLong, s"trial=$trial catalog row count")
      for (probe <- 0 until 3) {
        val cover = randomCover(r, podLevel)
        val window = randomWindow(r, spanMs)
        val expected = hits(rows, cover, window)
        val got = readRefined(out, cover, window)
        assert(got === expected,
          s"trial=$trial probe=$probe podLevel=$podLevel explicit=$explicit " +
            s"cover=${cover.map(Sid.hex).mkString(",")} window=$window")
      }
    }
  }

  test("stream layout, no reconcile: pruned read + refine ≡ direct filter (8 random trials)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val r = new scala.util.Random(7373)
    for (trial <- 0 until 8) {
      val podLevel = 1 + r.nextInt(6) // 1..6
      val spanMs = Seq(86400000L, 400L * 86400000L)(r.nextInt(2))
      val rows = randomRows(r, 300 + r.nextInt(500), podLevel, spanMs)
      def layout(d: org.apache.spark.sql.DataFrame) = d.toDF("doc_id", "sid", "ts_ms")
        .withColumn("warc_ts", (col("ts_ms") / lit(1000.0)).cast("timestamp"))
        .drop("ts_ms")
        .withColumn("pod", starePod(col("sid"), podLevel))
      val out = Files.createTempDirectory(s"podsfuzz_n$trial").toString
      // no manifests and no snapshot: the read prunes by pod directory at
      // the pod level inferred from the directory names. Odd trials go
      // through a real file sink, whose _spark_metadata log names the files
      if (trial % 2 == 0) layout(rows.toDF()).write.mode("overwrite").partitionBy("pod").parquet(out)
      else {
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
        mem.addData(rows)
        layout(mem.toDF()).writeStream.format("parquet").partitionBy("pod")
          .option("checkpointLocation", Files.createTempDirectory(s"podsfuzz_n${trial}_ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out).awaitTermination(60000)
        assert(Files.exists(java.nio.file.Paths.get(out, "_spark_metadata")))
      }
      assert(Pods.manifests(out).isEmpty)
      for (probe <- 0 until 3) {
        val cover = randomCover(r, podLevel)
        val window = randomWindow(r, spanMs)
        val expected = hits(rows, cover, window)
        val got = readRefined(out, cover, window)
        assert(got === expected,
          s"trial=$trial probe=$probe podLevel=$podLevel " +
            s"cover=${cover.map(Sid.hex).mkString(",")} window=$window")
      }
    }
  }
}
