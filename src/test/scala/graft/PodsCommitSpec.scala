package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.Sid
import graft.functions.StareFunctions.starePod
import graft.sources.{ForkFreeLocalFileSystem, Pods}

/** The pods commit path: what a crash at each step leaves and how it is
  * recovered, stale trash, the fork-free local file system the writes
  * go through, and a commit that lists the store without a Spark job. */
class PodsCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val T0 = 1700000000000L
  private val Day = 86400000L
  private val PodLevel = 2

  /** (doc_id, sid at level 6..17, ts in [T0, T0 + 2 days)), fixed seed:
    * at pod level 2 (128 pods) 1,000 rows fill nearly every pod. */
  private lazy val rows: Seq[(Long, Long, Long)] = {
    val r = new scala.util.Random(515)
    (0 until 1000).map { i =>
      val lvl = 6 + r.nextInt(12)
      var loc = r.nextInt(8).toLong << 59
      for (k <- 1 to lvl) loc |= r.nextInt(4).toLong << (59 - 2 * k)
      (i.toLong, loc | lvl, T0 + (r.nextDouble() * 2 * Day).toLong)
    }
  }

  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "sid", "ts_ms")
      .withColumn("warc_ts", (col("ts_ms") / lit(1000.0)).cast("timestamp"))
      .drop("ts_ms")
  }

  private def write(path: String, lineage: String): Unit =
    Pods.write(frame, path, "sid", podLevel = PodLevel, lineageId = lineage,
      tsCol = Some("warc_ts"), chunkMs = Day)

  /** a level-3 cell holding the first row, plus one level-1 cell */
  private lazy val cover: Array[Long] =
    Array((rows.head._2 & Sid.clearMask(3)) | 3L, (rows(1)._2 & Sid.clearMask(1)) | 1L)

  /** pruned read + exact refine equals the direct filter of the rows */
  private def assertPrunedRead(path: String): Unit = {
    val iv = Sid.mergedIntervals(cover)
    val direct = rows.collect { case (id, sid, _) if Sid.anyIntersects(Array(sid), iv) => id }.toSet
    val got = Pods.read(spark, path, cover).select("doc_id", "sid").collect()
      .collect { case r if Sid.anyIntersects(Array(r.getLong(1)), iv) => r.getLong(0) }.toSet
    assert(direct.nonEmpty)
    assert(got === direct, s"pruned read of $path")
  }

  private def listTree(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** store-relative data files (names repeat across pod directories) */
  private def dataFiles(path: String): Set[String] = {
    val root = Paths.get(path)
    listTree(root).filter { p => val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") }.map(root.relativize(_).toString).toSet
  }

  private def copyTree(src: Path, dst: Path, keep: Path => Boolean): Unit =
    listTree(src).foreach { p =>
      val rel = src.relativize(p)
      if (rel.toString.nonEmpty && keep(rel)) {
        val target = dst.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }

  /** manifest content without the lineage, ordered */
  private def manifestRows(path: String): Seq[(Long, Long, Long, Long, Long, Long, Long)] =
    Pods.manifests(path).map(m => (m.pod, m.tchunk, m.sidMin, m.sidMax, m.rowCount, m.tsMinMs, m.tsMaxMs))
      .sorted

  /** Spark's default; every listing test below names more paths than it. */
  private def threshold: Int = {
    val t = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    assert(t === 32, "the listing tests assume the default discovery threshold")
    t
  }

  /** a committed 128-pod store with 1-day chunks, written once */
  private lazy val wideStore: String = {
    val out = Files.createTempDirectory("pods_wide").resolve("store").toString
    write(out, "wide-1")
    out
  }

  private def waitUntil(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(50)
    assert(cond, s"timed out waiting until $what")
  }

  test("a crash at each point of the commit: only the full triple commits, every partial state recovers") {
    val src = Files.createTempDirectory("pods_crash_src")
    write(src.toString, "crash-L")
    val committed = manifestRows(src.toString)
    val nFiles = dataFiles(src.toString).size
    val commitSteps = Seq("_manifests/manifests.json", "_manifests/files.json", "_SNAPSHOT.json")

    /** the store as a crash after the data and the first `k` commit
      * writes leaves it (the commit writes them in this order) */
    def crashState(k: Int): String = {
      val dst = Files.createTempDirectory(s"pods_crash_$k")
      copyTree(src, dst, rel => rel.toString.startsWith("pod=") ||
        rel.toString == "_manifests" || commitSteps.take(k).contains(rel.toString))
      dst.toString
    }

    for (k <- 0 to 3) {
      val state = crashState(k)
      assert(Pods.isCommitted(state, "crash-L") === (k == 3), s"isCommitted after $k commit writes")
      // an uncommitted store still reads, pruned by its pod directories
      assertPrunedRead(state)

      // a same-lineage write resumes only the complete triple; every
      // partial state is rewritten (new data files) and committed
      val before = dataFiles(state)
      write(state, "crash-L")
      assert(Pods.isCommitted(state, "crash-L"))
      if (k == 3) assert(dataFiles(state) === before, "a committed store must be a resume no-op")
      else assert(dataFiles(state).intersect(before).isEmpty, s"state $k must be rewritten")
      assert(manifestRows(state) === committed)
      assertPrunedRead(state)

      // an incremental reconcile rebuilds every partial state in full
      val state2 = crashState(k)
      val n = Pods.reconcileIncremental(spark, state2, "crash-R", tsCol = Some("warc_ts"))
      if (k == 3) assert(n === 0 && Pods.isCommitted(state2, "crash-L"))
      else {
        assert(n === nFiles, s"state $k must be rebuilt from a full scan")
        assert(Pods.isCommitted(state2, "crash-R"))
      }
      assert(manifestRows(state2) === committed)
      assertPrunedRead(state2)
    }

    // a RE-commit interrupted after its manifests.json or its files.json
    // leaves a stale triple: newer files next to an older snapshot
    val gen2 = Files.createTempDirectory("pods_crash_gen2")
    copyTree(src, gen2, _ => true)
    Pods.reconcile(spark, gen2.toString, "crash-G2", tsCol = Some("warc_ts"))
    for (k <- 1 to 2) {
      val state = Paths.get(crashState(3))
      commitSteps.take(k).foreach(f =>
        Files.copy(gen2.resolve(f), state.resolve(f), StandardCopyOption.REPLACE_EXISTING))
      val n = Pods.reconcileIncremental(spark, state.toString, "crash-R2", tsCol = Some("warc_ts"))
      assert(n === nFiles, s"stale triple after $k re-commit writes must be rebuilt")
      assert(Pods.isCommitted(state.toString, "crash-R2"))
      assert(manifestRows(state.toString) === committed)
      assertPrunedRead(state.toString)
    }
  }

  test("stale .trash-* siblings of a store are swept by the next write") {
    val parent = Files.createTempDirectory("pods_trash")
    val out = parent.resolve("store")
    val stale = parent.resolve(".store.trash-deadbeef")
    Files.createDirectories(stale.resolve("pod=1"))
    Files.write(stale.resolve("pod=1/part-0.parquet"), Array[Byte](1, 2, 3))
    val other = parent.resolve(".other.trash-deadbeef")
    Files.createDirectories(other)

    write(out.toString, "trash-1")
    waitUntil("the stale trash is deleted")(!Files.exists(stale))
    assert(Files.exists(other), "trash of another store must be left alone")
    assert(Pods.isCommitted(out.toString, "trash-1"))
    assertPrunedRead(out.toString)

    // a replaced store goes to trash and is deleted in the background
    write(out.toString, "trash-2")
    def trashOfStore = {
      val s = Files.list(parent)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith(".store.trash-"))
      finally s.close()
    }
    waitUntil("the replaced store's trash is deleted")(trashOfStore == 0)
    assert(Pods.isCommitted(out.toString, "trash-2"))
    assertPrunedRead(out.toString)
  }

  test("the fork-free local FS writes the modes of the stock LocalFileSystem; the sticky bit falls back") {
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
    import org.apache.hadoop.fs.permission.FsPermission
    val sessionConf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    val strictConf = new org.apache.hadoop.conf.Configuration(sessionConf)
    strictConf.set("fs.permissions.umask-mode", "027")
    for ((conf, label) <- Seq(sessionConf -> "session umask", strictConf -> "umask 027")) {
      def populate(fs: FileSystem, root: Path): Unit = {
        fs.initialize(java.net.URI.create("file:///"), conf)
        val r = new HPath(root.toUri)
        fs.mkdirs(new HPath(r, "d/e"))
        val a = fs.create(new HPath(r, "d/e/default.bin")); a.write(1); a.close()
        val b = fs.create(new HPath(r, "d/explicit.bin"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null)
        b.write(2); b.close()
        fs.mkdirs(new HPath(r, "private"), new FsPermission("700"))
        fs.setPermission(new HPath(r, "d/e/default.bin"), new FsPermission("604"))
      }
      val stockRoot = Files.createTempDirectory("fs_stock")
      val graftRoot = Files.createTempDirectory("fs_graft")
      populate(new LocalFileSystem(), stockRoot)
      populate(new ForkFreeLocalFileSystem(), graftRoot)
      def modes(root: Path) = listTree(root).filter(_ != root).map(p =>
        root.relativize(p).toString -> Files.getPosixFilePermissions(p).asScala.toSet).toMap
      val stock = modes(stockRoot)
      assert(stock.keySet.exists(_.endsWith(".crc")), "checksum files must be compared too")
      assert(stock.size >= 7)
      assert(modes(graftRoot) === stock, label)
    }

    val fs = new ForkFreeLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), sessionConf)
    val dir = Files.createTempDirectory("fs_sticky")
    fs.setPermission(new HPath(dir.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    assert(mode === Integer.parseInt("1755", 8), "the sticky bit must reach the file system")
  }

  test("a commit over more pod directories than the discovery threshold plans no listing job and leaves no FS override in shared conf") {
    val out = Files.createTempDirectory("pods_listing").resolve("store").toString
    // every stage submitted during the write
    val (_, rec) = SparkJobProbe.record(spark)(write(out, "listing-1"))

    val podDirs = Files.list(Paths.get(out)).iterator().asScala
      .count(_.getFileName.toString.startsWith("pod="))
    assert(podDirs > threshold, s"$podDirs pod directories, threshold $threshold")
    // the data write is the first SQL execution; the commit is the rest
    val all = rec.stages
    val commitTasks = all.filter(_.executionId != all.head.executionId).map(_.tasks).sum
    assert(commitTasks > 0)
    assert(commitTasks < podDirs, s"commit ran $commitTasks tasks over $podDirs pod directories")

    // the manifests are what a plain read of the store aggregates to
    val ms = (col("warc_ts").cast("double") * 1000).cast("long")
    val direct = spark.read.parquet(out)
      .groupBy(col("pod").cast("long"), col("tchunk").cast("long"))
      .agg(min("sid"), max("sid"), count(lit(1)), min(ms), max(ms)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6))).toSeq.sorted
    assert(manifestRows(out) === direct)
    assert(Pods.isCommitted(out, "listing-1"))

    // no write leaves the file-system override in shared configuration
    assert(!spark.sparkContext.hadoopConfiguration.iterator().asScala.exists(_.getKey.startsWith("fs.file.impl")))
    assert(!spark.conf.getAll.keys.exists(_.startsWith("fs.file.impl")))
    assert(!spark.conf.getAll.keys.exists(_.startsWith("spark.hadoop.fs.file.impl")))
  }

  test("an incremental reconcile of more new files than the discovery threshold plans no listing job and equals a full reconcile") {
    val out = Files.createTempDirectory("pods_incremental").resolve("store").toString
    val df = frame.withColumn("pod", starePod(col("sid"), PodLevel))
    df.filter(col("doc_id") < 500).write.partitionBy("pod").parquet(out)
    Pods.reconcile(spark, out, "inc-1", tsCol = Some("warc_ts"))
    df.filter(col("doc_id") >= 500).write.mode("append").partitionBy("pod").parquet(out)

    val (n, rec) = SparkJobProbe.record(spark)(
      Pods.reconcileIncremental(spark, out, "inc-2", tsCol = Some("warc_ts")))
    assert(n > threshold, s"$n new files, threshold $threshold")
    assert(rec.listingStages.isEmpty, s"listing stages: ${rec.listingStages}")
    assert(Pods.isCommitted(out, "inc-2"))
    val incremental = manifestRows(out)
    Pods.reconcile(spark, out, "inc-full", tsCol = Some("warc_ts"))
    assert(manifestRows(out) === incremental)
    assert(incremental.map(_._5).sum === rows.size.toLong)
  }

  test("a read selecting more pod directories than the discovery threshold plans no listing job and equals the direct filter") {
    val allFaces = (0L until 8L).map(_ << 59).toArray // the 8 level-0 trixels
    val selected = Pods.manifests(wideStore).size
    assert(selected > threshold, s"$selected selected directories, threshold $threshold")
    val (got, rec) = SparkJobProbe.record(spark)(
      Pods.read(spark, wideStore, allFaces).select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(rec.listingStages.isEmpty, s"listing stages: ${rec.listingStages}")
    val iv = Sid.mergedIntervals(allFaces)
    assert(got === rows.collect { case (id, sid, _) if Sid.anyIntersects(Array(sid), iv) => id }.toSet)
    assert(got.size === rows.size)
  }

  test("a read that selects no directory returns no rows with readAll's schema and plans no listing job") {
    val before = Some((T0 - 10 * Day, T0 - 9 * Day)) // every chunk is later
    val (df, rec) = SparkJobProbe.record(spark) {
      val df = Pods.read(spark, wideStore, cover, timeRangeMs = before)
      assert(df.count() === 0)
      df
    }
    assert(rec.listingStages.isEmpty, s"listing stages: ${rec.listingStages}")
    assert(df.schema === Pods.readAll(spark, wideStore).schema)
  }

  test("building a pods read starts no Spark stage, on a batch store and on a streaming-sink store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("pods_sink").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    mem.addData(rows)
    mem.toDF().toDF("doc_id", "sid", "ts_ms")
      .withColumn("warc_ts", (col("ts_ms") / lit(1000.0)).cast("timestamp"))
      .drop("ts_ms")
      .withColumn("pod", starePod(col("sid"), PodLevel))
      .writeStream.format("parquet").partitionBy("pod")
      .option("checkpointLocation", Files.createTempDirectory("pods_sink_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(sink).awaitTermination(60000)
    assert(Files.exists(Paths.get(sink, "_spark_metadata")))
    for (store <- Seq(wideStore, sink)) {
      val (_, rec) = SparkJobProbe.record(spark)(Pods.read(spark, store, cover))
      assert(rec.stages.isEmpty, s"$store: ${rec.stages}")
      assertPrunedRead(store)
    }
  }
}
