package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Sid, Tiv}
import graft.functions.StareFunctions._

/** STAREPods: SID-partitioned storage with per-partition manifests and
  * idempotent resume.
  *
  * The reference groups rows by the sid cleared to the pod level and
  * writes one pickle per trixel directory (staredataframe.py:1086-1297),
  * reading back with spatial+temporal partition pruning (io/pod.py:24-259).
  * Here: Parquet partitioned by `pod` (cleared location at pod level),
  * optional second partition column `tchunk` (temporal chunk id derived
  * from a timestamp column), plus an Iceberg-style snapshot: a JSON
  * manifest per (pod[, tchunk]) partition carrying SID range, row count
  * and time bounds, and a final atomically-renamed _SNAPSHOT.json
  * committing the write.
  *
  * Resume / commit contract (the north-rule idempotence property):
  *  - a snapshot commits a (formatVersion, lineageId) pair; a rerun of
  *    the SAME lineage against a committed store is a no-op;
  *  - a snapshot with a STALE formatVersion or a missing consolidated
  *    manifest is treated as NOT committed and the write re-runs
  *    (round-1 bug: a layout change behind an old snapshot made
  *    catalog() silently return 0 rows);
  *  - writing a DIFFERENT lineageId over a committed store replaces the
  *    store wholesale (old pod directories are deleted first) so the
  *    manifest can never diverge from the data files;
  *  - an UNcommitted partial state (crash before snapshot rename) is
  *    safely overwritten by dynamic partition overwrite.
  *
  * Manifests are derived by reading back the committed parquet files —
  * one cheap columnar scan of (sid, ts) — so they are consistent with
  * what was actually written even for non-deterministic inputs, and the
  * input pipeline is computed exactly once.
  *
  * Every operation that reads data files (commit, incremental reconcile,
  * pruned read, full read, catalog fallback) names them once with
  * [[dataFiles]] and scans exactly those with [[scan]]: a batch store's
  * files come from a java.nio walk of only the chosen partition
  * directories, a streaming-sink store's from its `_spark_metadata`
  * commit log (orphans of a failed micro-batch are never read). No
  * operation plans a Spark listing job, however many files or
  * directories it touches, and building a read starts no job at all:
  * the log and the schema's footer are read on the driver.
  *
  * Two local-FS-only optimisations: partitioned writes go through
  * [[ForkFreeLocalFileSystem]] (no `chmod` process per created file or
  * directory), and a replaced store is renamed aside and deleted on a
  * background thread ([[trashAsync]]). Object stores have neither a
  * `chmod` fork to save nor a cheap rename.
  */
object Pods {

  /** Bump whenever the on-disk layout (partitioning, manifest schema,
    * snapshot fields) changes: a mismatched store is rewritten. */
  final val FormatVersion = 2

  final case class ChunkManifest(pod: Long, tchunk: Long, sidMin: Long, sidMax: Long,
                                 rowCount: Long, tsMinMs: Long, tsMaxMs: Long,
                                 lineageId: String) {
    def hasChunk: Boolean = tchunk != NoChunk
    def hasTs: Boolean = tsMinMs != Long.MinValue
  }
  final val NoChunk: Long = Long.MinValue

  /** Write a pod store. `tsCol` (a timestamp column) switches on
    * temporal chunking: rows are sub-partitioned by `tchunk` =
    * floor(epochMs / chunkMs) and each chunk manifest
    * records its exact [tsMin, tsMax] for read-side temporal pruning
    * (write_pods_granule semantics, reference staredataframe.py:1160-1167). */
  def write(df: DataFrame, path: String, sidCol: String, podLevel: Int,
            lineageId: String, tsCol: Option[String] = None,
            chunkMs: Long = 30L * 86400000L): Unit = {
    val spark = df.sparkSession
    sweepTrash(Paths.get(path))
    // committed by this lineage under the current layout: resume is a no-op
    if (isCommitted(path, lineageId)) return
    if (snapshot(path).isDefined) {
      // committed by another lineage or a stale layout: replace the
      // store wholesale so stale pod directories can't outlive the
      // manifest that no longer lists them (catalog/data divergence).
      // The old store is renamed aside atomically and deleted on a
      // background thread (r6, guide §6): a sequential Files.walk
      // delete of a many-directory store blocked the driver for
      // hundreds of ms before the write could start; the rename gives
      // the same visible result (path gone) in one FS op.
      trashAsync(Paths.get(path))
    } // absent or partial (no snapshot): the overwrite below replaces it

    val withPod0 = df.withColumn("pod", starePod(col(sidCol), podLevel))
    val withPod = tsCol match {
      case Some(ts) => withPod0.withColumn("tchunk",
        floor((col(ts).cast("double") * 1000).cast("long") / chunkMs).cast("long"))
      case None => withPod0
    }
    val partCols = "pod" +: tsCol.map(_ => "tchunk").toSeq
    // cluster rows by partition key before writing: without this every
    // task writes a sliver into every pod directory (tasks x pods small
    // files — measured 5x slower at sf0.1 and hostile to readers at scale).
    //
    // Commit shape (opt guide §6, r6): STATIC overwrite + committer v2.
    // write() always writes the FULL store, so static overwrite (delete
    // root, write fresh) gives the same crash contract as the previous
    // dynamic per-partition staging (an uncommitted partial state is
    // replaced either way; the store only becomes visible through the
    // snapshot commit below) while skipping the dynamic mode's
    // stage-then-move rename pass over every partition directory.
    // Committer v2 moves task output straight to the final directory in
    // the TASK commit — parallel across tasks — instead of a serial
    // driver-side job-commit rename per file (~20 ms/file on this host,
    // lesson 6); atomicity is not lost because Pods' own manifest +
    // _SNAPSHOT.json commit, not the committer, publishes the store.
    // repartition BY NUMBER + key, not by key alone (r6, guide §2.4):
    // a keyed repartition is an AQE-coalescible exchange, and a small
    // batch's shuffle bytes coalesce to ONE task that then creates
    // every partition directory sequentially (~15-20 ms per file on
    // this host — measured 2.3 s single-task writes at 128 pods). The
    // explicit partition count pins write parallelism to the session's
    // shuffle partitioning, which deployments size to the cluster.
    withPod
      .repartition(spark.sessionState.conf.numShufflePartitions, partCols.map(col): _*)
      .sortWithinPartitions(col(sidCol))
      .write.mode("overwrite")
      .options(ForkFreeLocalFileSystem.writeOptions)
      .partitionBy(partCols: _*).parquet(path)

    commitStore(spark, path, sidCol, hasTchunk = tsCol.isDefined, tsCol = tsCol,
      podLevel = podLevel, chunkMs = chunkMs, lineageId = lineageId)
  }

  /** Derive per-partition manifests from the COMMITTED files — one
    * narrow column scan of the store (sid + partition values [+ ts]),
    * no recompute of the input — then atomically commit the
    * consolidated manifest and snapshot. Shared by write() and
    * reconcile(): both must describe exactly what is on disk. */
  private def commitStore(spark: SparkSession, path: String, sidCol: String,
                          hasTchunk: Boolean, tsCol: Option[String], podLevel: Int,
                          chunkMs: Long, lineageId: String): Unit = {
    // the scan and the accounted-file set are ONE naming of the files
    // (on a sink store: only what its commit log committed; orphans stay
    // "new" until their batch commits), so the manifests describe
    // exactly the accounted files
    val files = dataFiles(spark, path)
    val mans = scanManifests(scan(spark, path, files), hasTchunk, sidCol, tsCol, lineageId)
      .sortBy(m => (m.pod, m.tchunk))
    writeCommit(path, mans, podLevel, hasTchunk, chunkMs, lineageId, files.map(_.rel).toSet)
  }

  /** One groupBy-collect deriving per-(pod[, tchunk]) manifests from a
    * (possibly file-restricted) scan — the single definition of how
    * manifest rows are built, shared by full commits and incremental
    * merges so the two paths cannot drift. */
  private def scanManifests(scan: DataFrame, hasTchunk: Boolean, sidCol: String,
                            tsCol: Option[String], lineageId: String): Seq[ChunkManifest] = {
    // partition-value types are INFERRED on read (small tchunk values
    // come back as int): normalize to long before aggregating
    val groupCols = ("pod" +: (if (hasTchunk) Seq("tchunk") else Seq.empty))
      .map(c => col(c).cast("long").as(c))
    val aggs = Seq(
      min(col(sidCol)).as("sidMin"), max(col(sidCol)).as("sidMax"),
      count(lit(1)).as("rowCount")) ++ tsCol.toSeq.flatMap(ts => Seq(
      min((col(ts).cast("double") * 1000).cast("long")).as("tsMin"),
      max((col(ts).cast("double") * 1000).cast("long")).as("tsMax")))
    scan.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*).collect().toSeq.map { r =>
      val pod = r.getLong(r.fieldIndex("pod"))
      val tchunk = if (hasTchunk) r.getLong(r.fieldIndex("tchunk")) else NoChunk
      val (tsMin, tsMax) =
        if (tsCol.isDefined) (r.getLong(r.fieldIndex("tsMin")), r.getLong(r.fieldIndex("tsMax")))
        else (Long.MinValue, Long.MinValue)
      ChunkManifest(pod, tchunk, r.getLong(r.fieldIndex("sidMin")),
        r.getLong(r.fieldIndex("sidMax")), r.getLong(r.fieldIndex("rowCount")),
        tsMin, tsMax, lineageId)
    }
  }

  /** Atomically commit manifests + accounted file list + snapshot —
    * shared by full commits (write/reconcile) and incremental merges.
    * Write order matters for crash safety: manifests.json lands FIRST,
    * then files.json, then the snapshot — each of the latter two
    * carrying a content hash of the manifests it was committed with. A
    * crash between ANY two writes leaves a triple accountedFiles()
    * detects as mismatched (stale files.json hash, or a snapshot whose
    * stamp doesn't match — including a pre-crash snapshot left behind
    * by an interrupted re-commit), which reconcileIncremental answers
    * with a full rebuild — never the silent "files accounted but rows
    * missing from the manifests" state an unordered commit permits. */
  private def writeCommit(path: String, mans: Seq[ChunkManifest], podLevel: Int,
                          hasTchunk: Boolean, chunkMs: Long, lineageId: String,
                          files: Set[String]): Unit = {
    val manifestDir = Paths.get(path, "_manifests")
    Files.createDirectories(manifestDir)
    val entries = mans.map { m =>
      s"""{"pod":${m.pod},"podHex":"${Sid.hex(m.pod)}","tchunk":${m.tchunk},""" +
        s""""sidMin":${m.sidMin},"sidMax":${m.sidMax},"rowCount":${m.rowCount},""" +
        s""""tsMinMs":${m.tsMinMs},"tsMaxMs":${m.tsMaxMs},"lineageId":"$lineageId"}"""
    }
    val manifestBody = entries.mkString("[\n", ",\n", "\n]")
    val manifestsHash = contentHash(manifestBody)
    atomicWrite(manifestsFile(path).toString, manifestBody)
    atomicWrite(filesFile(path).toString,
      (s"$GenerationHeader$manifestsHash" +: files.toSeq.sorted).mkString("\n"))
    val snapshotBody =
      s"""{"formatVersion":$FormatVersion,"lineageId":"$lineageId","podLevel":$podLevel,""" +
        s""""hasTchunk":$hasTchunk,"chunkMs":$chunkMs,""" +
        s""""pods":${mans.map(_.pod).distinct.length},"chunks":${mans.length},""" +
        s""""rows":${mans.map(_.rowCount).sum},"manifestsSha256":"$manifestsHash",""" +
        s""""committedAtMs":${System.currentTimeMillis()}}"""
    atomicWrite(Paths.get(path, "_SNAPSHOT.json").toString, snapshotBody)
  }

  /** Fold a manifest-less (or manifest-stale) pod-partitioned store
    * into the batch catalog machinery (r4 verdict item 8): the
    * streaming sink (StreamingIndex.start) appends pod-partitioned
    * parquet with exactly-once file-sink semantics but writes no
    * manifests, so Pods.read over it can prune by pod directory only
    * and catalog() pays a data scan. reconcile() rebuilds the consolidated
    * manifest + snapshot from what is actually on disk — the same one
    * columnar scan and commit code path write() uses — after which
    * listing-time spatial (and, with `tsCol`, temporal) pruning and
    * the catalog serve streamed data exactly like a batch write.
    * Layout: tchunk presence comes from the directory names; the pod
    * level either from the caller (`podLevel` — StreamingIndex.start's
    * value) or, when absent, inferred as the deepest bit ALIGNMENT any
    * pod value needs (pod ids are location-only, starePod drops the
    * level field, so the level is not self-describing). Inference can
    * only come out SHALLOWER than the writer's level — and only when
    * every pod's child bits below it are zero, in which case every pod
    * sits on the shallower grid too, so podsForCover still generates
    * all of them and read-side pruning stays exact (over-generation of
    * nonexistent pods is filtered by manifest membership). Idempotent:
    * re-running with the same lineage re-derives the same manifests;
    * run after each stream batch (or on a schedule) to pick up
    * appended files. */
  def reconcile(spark: SparkSession, path: String, lineageId: String,
                sidCol: String = "sid", tsCol: Option[String] = None,
                chunkMs: Long = 30L * 86400000L,
                podLevel: Option[Int] = None): Unit = {
    require(Files.exists(Paths.get(path)), s"no store at $path")
    val pods = podDirs(path)
    require(pods.nonEmpty, s"no pod= directories under $path")
    val hasTchunk = {
      val s = Files.list(pods.head)
      try s.iterator().asScala.exists(_.getFileName.toString.startsWith("tchunk="))
      finally s.close()
    }
    val level = podLevel.getOrElse(inferPodLevel(pods.map(podValue)))
    commitStore(spark, path, sidCol, hasTchunk, tsCol, level, chunkMs, lineageId)
  }

  /** The store's `pod=` directories. */
  private def podDirs(path: String): Seq[Path] = {
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("pod=")).toVector
    finally s.close()
  }

  private def podValue(podDir: Path): Long = podDir.getFileName.toString.stripPrefix("pod=").toLong

  /** Deepest bit alignment any pod value needs (0 for none) — see
    * reconcile() doc on why shallower-than-writer inference is
    * pruning-safe. */
  private def inferPodLevel(podVals: Iterable[Long]): Int =
    podVals.map { p =>
      (0 to Sid.MaxLevel).find(a => (p & (Sid.increment(a) - 1L)) == 0L)
        .getOrElse(Sid.MaxLevel)
    }.foldLeft(0)(math.max)

  /** Incremental reconcile: fold ONLY files appended since the last
    * commit into the manifests, instead of reconcile()'s full-store
    * scan — the difference between O(new batch) and O(store) per call,
    * which is what makes per-micro-batch reconciliation viable on a
    * store that has grown to 100 TB (Iceberg's append snapshots make
    * the same trade; ICEBERG.md).
    *
    * New files are the store's data files (a java.nio walk, or a sink
    * store's `_spark_metadata` commit log) minus the accounted set the
    * last commit recorded in `_manifests/files.json` (the analog of an
    * Iceberg manifest list; at deployment scale it would be columnar).
    * Only they are scanned, over that naming: no listing job however
    * many there are. Their per-(pod[, tchunk])
    * aggregates MERGE associatively into the existing manifests:
    * min/max for sid bounds, sum for row counts, and ts bounds only
    * when BOTH sides carry them (a chunk with any ts-unknown rows must
    * not claim temporal bounds, or pruning turns lossy). A store with
    * no committed manifest falls back to a full reconcile().
    *
    * Returns the number of new files folded in (0 = nothing to do;
    * the commit is left untouched). Call after each stream batch
    * (e.g. from a StreamingQueryListener) or on a schedule. */
  def reconcileIncremental(spark: SparkSession, path: String, lineageId: String,
                           sidCol: String = "sid", tsCol: Option[String] = None,
                           chunkMs: Long = 30L * 86400000L,
                           podLevel: Option[Int] = None): Int = {
    require(Files.exists(Paths.get(path)), s"no store at $path")
    val existing = manifests(path)
    val accounted = accountedFiles(path)
    if (existing.isEmpty || accounted.isEmpty) {
      // no committed manifest — or one from before the accounted-file
      // list existed, where "new minus accounted" would double-count
      // every file: rebuild the whole commit consistently instead
      reconcile(spark, path, lineageId, sidCol, tsCol, chunkMs, podLevel)
      return accountedFiles(path).size
    }
    // candidates are the store's data files: on a streaming-sink store
    // only those its _spark_metadata log committed, so an in-flight or
    // failed micro-batch's files are not merged (no duplicates after a
    // sink retry rewrites them under new names)
    val newFiles = dataFiles(spark, path).filterNot(f => accounted(f.rel))
    if (newFiles.isEmpty) return 0

    val hasTchunk = existing.exists(_.hasChunk) || newFiles.exists(_.rel.contains("tchunk="))
    val fresh = scanManifests(scan(spark, path, newFiles), hasTchunk, sidCol, tsCol, lineageId)

    val merged = (existing ++ fresh).groupBy(m => (m.pod, m.tchunk)).map { case (_, ms) =>
      val bothTs = ms.forall(_.hasTs)
      ChunkManifest(ms.head.pod, ms.head.tchunk,
        ms.map(_.sidMin).min, ms.map(_.sidMax).max, ms.map(_.rowCount).sum,
        if (bothTs) ms.map(_.tsMinMs).min else Long.MinValue,
        if (bothTs) ms.map(_.tsMaxMs).max else Long.MinValue,
        lineageId)
    }.toSeq.sortBy(m => (m.pod, m.tchunk))

    // accountedFiles() matched the snapshot's stamp, so the snapshot exists
    val level = podLevel.getOrElse(math.max(snapshotPodLevel(path), inferPodLevel(fresh.map(_.pod))))
    writeCommit(path, merged, level, hasTchunk, chunkMs, lineageId,
      accounted ++ newFiles.map(_.rel))
    newFiles.size
  }

  private def filesFile(path: String): Path = Paths.get(path, "_manifests", "files.json")

  private final val GenerationHeader = "#manifests-sha256="

  private def contentHash(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Data-file paths the last commit accounted for (store-relative).
    * Empty when absent, headerless, or when the generation stamp does
    * not match the manifests AND snapshot on disk (a crash landed
    * between the commit's three writes): an empty answer makes
    * reconcileIncremental rebuild the commit from a full scan,
    * restoring consistency instead of silently skipping — or
    * double-counting — the half-committed batch. Headerless legacy
    * files (written before the generation stamp) are rejected too: a
    * complete legacy triple reads consistently, but a crash during its
    * FIRST stamped re-commit could pair fresh manifests (rows already
    * merged) with the old unstamped file list, and the next increment
    * would merge the same batch twice. One full rebuild upgrades the
    * store and closes that window for good. */
  private def accountedFiles(path: String): Set[String] = {
    val f = filesFile(path)
    if (!Files.exists(f)) Set.empty
    else {
      val lines = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      if (!lines.headOption.exists(_.startsWith(GenerationHeader))) return Set.empty
      val stamp = lines.head.stripPrefix(GenerationHeader)
      val mf = manifestsFile(path)
      val current =
        if (Files.exists(mf)) contentHash(new String(Files.readAllBytes(mf), StandardCharsets.UTF_8))
        else ""
      if (stamp != current) return Set.empty
      // the snapshot must carry the same stamp: a crash after files.json
      // but before the snapshot leaves stale lineage/podLevel/row totals
      // that would otherwise never be repaired (newFiles comes out empty)
      if (!snapshot(path).exists(_.manifestsSha256 == stamp)) return Set.empty
      lines.filterNot(_.startsWith("#")).toSet
    }
  }

  private final case class DataFile(rel: String, length: Long, mtimeMs: Long)

  /** The store's parquet data files under the partition directories
    * `under` (store-relative, `pod=…[/tchunk=…]`; `""` is the whole
    * store), as sorted store-relative paths (stable across renames of the
    * store root) with length and mtime — the one answer to "which files
    * does this operation read". On a streaming-sink store they are the
    * files its `_spark_metadata` commit log committed (orphans of a
    * failed micro-batch are excluded), read on the driver and each
    * stat-ed; otherwise a java.nio
    * walk of only the named directories that, like Spark's own listing,
    * skips hidden paths (a `_temporary` committer directory, `.crc`
    * files). A named directory or committed file that does not exist
    * fails the call. */
  private def dataFiles(spark: SparkSession, path: String,
                        under: Seq[String] = Seq("")): Seq[DataFile] = {
    import java.nio.file.{FileVisitResult, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    val root = Paths.get(path).toAbsolutePath
    def file(f: Path, a: BasicFileAttributes) =
      DataFile(root.relativize(f).toString, a.size(), a.lastModifiedTime().toMillis)
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    if (Files.exists(root.resolve("_spark_metadata"))) {
      org.apache.spark.sql.graft.shim.sinkLogFiles(spark, path).foreach { p =>
        val f = Paths.get(p.toUri.getPath).toAbsolutePath
        val rel = root.relativize(f).toString
        if (rel.startsWith("pod=") && under.exists(d => d.isEmpty || rel.startsWith(s"$d/")))
          out += file(f, Files.readAttributes(f, classOf[BasicFileAttributes]))
      }
    } else {
      def hidden(p: Path) = { val n = p.getFileName.toString; n.startsWith("_") || n.startsWith(".") }
      for (d <- under) {
        val start = root.resolve(d)
        Files.walkFileTree(start, new SimpleFileVisitor[Path] {
          override def preVisitDirectory(p: Path, a: BasicFileAttributes): FileVisitResult = {
            val skip = hidden(p) || (p.getParent == root && !p.getFileName.toString.startsWith("pod="))
            if (p != start && skip) FileVisitResult.SKIP_SUBTREE else FileVisitResult.CONTINUE
          }
          override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
            if (f.getParent != root && !hidden(f) && f.getFileName.toString.endsWith(".parquet"))
              out += file(f, a)
            FileVisitResult.CONTINUE
          }
        })
      }
    }
    out.sortBy(_.rel).toSeq
  }

  /** The one place a DataFrame over a store's data files is built: a
    * parquet scan over exactly `files` (from [[dataFiles]]), with the partition
    * and schema inference of `spark.read.parquet` and nothing listed
    * again. */
  private def scan(spark: SparkSession, path: String, files: Seq[DataFile]): DataFrame =
    org.apache.spark.sql.graft.shim.parquetFromListing(spark, path,
      files.map(f => (f.rel, f.length, f.mtimeMs)))

  private def manifestsFile(path: String): Path = Paths.get(path, "_manifests", "manifests.json")

  private def atomicWrite(dest: String, content: String): Unit = {
    val tmp = Paths.get(dest + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dest), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Atomically rename `p` aside and delete it on a daemon thread: the
    * caller observes the path gone immediately, without paying a
    * driver-blocking recursive delete. Falls back to the synchronous
    * delete when the rename is impossible (cross-device, permissions).
    * Stale trash of `p` left by an earlier JVM goes to the same thread.
    * A local-FS-only optimisation: object stores have no cheap rename. */
  private[graft] def trashAsync(p: Path): Unit = {
    if (Files.exists(p)) {
      val trash = p.resolveSibling(
        s"${trashPrefix(p)}${java.lang.Long.toHexString(System.nanoTime())}")
      try Files.move(p, trash)
      catch { case _: Exception => deleteRecursively(p) }
    }
    sweepTrash(p)
  }

  private def trashPrefix(p: Path): String = s".${p.getFileName}.trash-"

  /** Trash directories some thread of this JVM is deleting right now. */
  private val trashInFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Hand every `.<name>.trash-*` sibling of `p` to a background delete.
    * trashAsync's daemon thread dies with its JVM, so a store trashed
    * just before exit stays on disk until a later write of the same
    * store sweeps it here. Trash another thread is already deleting is
    * skipped: two walks deleting one tree can each abort the other. */
  private def sweepTrash(p: Path): Unit = {
    val parent = p.toAbsolutePath.getParent
    if (parent == null || !Files.isDirectory(parent)) return
    val stale = {
      val s = Files.list(parent)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(trashPrefix(p)))
        .filter(d => trashInFlight.add(d)).toVector
      finally s.close()
    }
    if (stale.nonEmpty) {
      val t = new Thread(() => stale.foreach { d =>
        try deleteRecursively(d) catch { case _: Exception => () }
        finally trashInFlight.remove(d)
      }, s"graft-pods-trash-${p.getFileName}")
      t.setDaemon(true)
      t.start()
    }
  }

  private final case class Snapshot(formatVersion: Int, lineageId: String,
                                     podLevel: Option[Int], manifestsSha256: String)

  /** The store's `_SNAPSHOT.json`, if there is one — the one parser of
    * it. A missing field reads as version 0, lineage "", no pod level,
    * hash "" (so it never matches a committed one). */
  private def snapshot(path: String): Option[Snapshot] = {
    val f = Paths.get(path, "_SNAPSHOT.json")
    if (!Files.exists(f)) None
    else {
      val s = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      def num(k: String) = s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      def str(k: String) = s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      Some(Snapshot(num("formatVersion").getOrElse(0), str("lineageId"), num("podLevel"),
        str("manifestsSha256")))
    }
  }

  /** committed = snapshot parses, carries the CURRENT format version and
    * this lineage, and the consolidated manifest actually exists. */
  def isCommitted(path: String, lineageId: String): Boolean =
    snapshot(path).exists(s => s.formatVersion == FormatVersion && s.lineageId == lineageId) &&
      Files.exists(manifestsFile(path))

  /** Parse the consolidated manifest (empty when absent). */
  def manifests(path: String): Seq[ChunkManifest] = {
    val f = manifestsFile(path)
    if (!Files.exists(f)) Seq.empty
    else {
      val s = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      s.linesIterator.filter(_.trim.startsWith("{")).map { line =>
        def l(k: String) = (s""""$k":(-?\\d+)""").r.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)
        def str(k: String) = (s""""$k":"([^"]*)"""").r.findFirstMatchIn(line).map(_.group(1)).getOrElse("")
        ChunkManifest(l("pod"), if (line.contains("\"tchunk\":")) l("tchunk") else NoChunk,
          l("sidMin"), l("sidMax"), l("rowCount"),
          if (line.contains("\"tsMinMs\":")) l("tsMinMs") else Long.MinValue,
          if (line.contains("\"tsMaxMs\":")) l("tsMaxMs") else Long.MinValue, str("lineageId"))
      }.toSeq
    }
  }

  /** Read with spatial (and optional temporal) partition pruning.
    *
    * Pruning happens when the files are named: only the partition
    * directories whose pod id overlaps the query cover — and, given
    * `timeRangeMs`, whose chunk TIV overlaps the query TIV (reference
    * io/pod.py:189-230) — are walked and handed to the parquet reader;
    * directories outside the selection are never listed or opened. The
    * selection is the manifests' `pod=…[/tchunk=…]` directories, or on a
    * manifest-less store (a stream sink never reconciled, a commit that
    * crashed before its manifests) the existing `pod=` directories the
    * cover names. The pod level is the snapshot's, or without one the
    * level reconcile() would infer from the `pod=` names (pruning-safe,
    * see there). A sink store reads only files its commit log committed;
    * a selected directory that is missing fails the read. Temporal
    * overlap uses Tiv.intersectionIfOverlap on covering TIVs, which is
    * conservative (never prunes a chunk that holds in-range rows);
    * callers refine with an exact timestamp filter. An empty selection
    * returns no rows with readAll()'s schema. */
  def read(spark: SparkSession, path: String, cover: Array[Long],
           timeRangeMs: Option[(Long, Long)] = None): DataFrame = {
    val mans = manifests(path)
    lazy val pods = podDirs(path)
    val podSet = podsForCover(cover,
      snapshot(path).flatMap(_.podLevel).getOrElse(inferPodLevel(pods.map(podValue)))).toSet
    val selection =
      if (mans.isEmpty) pods.filter(d => podSet.contains(podValue(d))).map(_.getFileName.toString)
      else {
        val queryTiv = timeRangeMs.map { case (a, b) => Tiv.fromIntervalCovering(a, b) }
        mans.filter { m =>
          podSet.contains(m.pod) && (queryTiv match {
            case Some(q) if m.hasTs =>
              Tiv.intersectionIfOverlap(Tiv.fromIntervalCovering(m.tsMinMs, m.tsMaxMs), q) != -1L
            case _ => true
          })
        }.map(m => if (m.hasChunk) s"pod=${m.pod}/tchunk=${m.tchunk}" else s"pod=${m.pod}").distinct
      }
    val files = dataFiles(spark, path, selection)
    if (files.isEmpty) readAll(spark, path).filter(lit(false)) else scan(spark, path, files)
  }

  def readAll(spark: SparkSession, path: String): DataFrame = scan(spark, path, dataFiles(spark, path))

  def snapshotPodLevel(path: String): Int =
    snapshot(path).flatMap(_.podLevel).getOrElse(sys.error(s"no podLevel in the snapshot of $path"))

  /** Catalog of a pod store (folder2catalog analog, reference
    * io/folder.py:83-131): one row per pod with its SID range, row count
    * and lineage. Served from the JSON manifests (no data scan); if the
    * manifests are missing but data exists (foreign store), falls back
    * to one aggregation scan over the parquet files. */
  def catalog(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val mans = manifests(path)
    lazy val files = if (Files.exists(Paths.get(path))) dataFiles(spark, path) else Seq.empty
    if (mans.nonEmpty) {
      mans.groupBy(_.pod).toSeq.map { case (pod, ms) =>
        (pod, Sid.hex(pod), ms.map(_.sidMin).min, ms.map(_.sidMax).max,
          ms.map(_.rowCount).sum, ms.head.lineageId)
      }.sortBy(_._1).toDF("pod", "podHex", "sidMin", "sidMax", "rowCount", "lineageId")
    } else if (files.nonEmpty) {
      // fallback: rebuild the catalog from the data files themselves
      val hexUdf = udf((p: Long) => Sid.hex(p))
      scan(spark, path, files).groupBy(col("pod"))
        .agg(min(col("sid")).as("sidMin"), max(col("sid")).as("sidMax"), count(lit(1)).as("rowCount"))
        .select(col("pod"), hexUdf(col("pod")).as("podHex"), col("sidMin"), col("sidMax"),
          col("rowCount"), lit("").as("lineageId"))
        .orderBy(col("pod"))
    } else {
      Seq.empty[(Long, String, Long, Long, Long, String)]
        .toDF("pod", "podHex", "sidMin", "sidMax", "rowCount", "lineageId")
    }
  }

  /** Per-chunk catalog with temporal bounds (tchunk stores only). */
  def chunkCatalog(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    manifests(path).filter(_.hasChunk)
      .map(m => (m.pod, m.tchunk, m.sidMin, m.sidMax, m.rowCount, m.tsMinMs, m.tsMaxMs,
        Tiv.fromIntervalCovering(m.tsMinMs, m.tsMaxMs), m.lineageId))
      .toDF("pod", "tchunk", "sidMin", "sidMax", "rowCount", "tsMinMs", "tsMaxMs", "tiv", "lineageId")
  }

  /** pod ids (cleared locations at podLevel) overlapping a cover. */
  def podsForCover(cover: Array[Long], podLevel: Int): Seq[Long] = {
    val inc = Sid.increment(podLevel)
    Sid.mergedIntervals(cover).flatMap { case (lo, hi) =>
      val start = lo & Sid.clearMask(podLevel)
      Iterator.iterate(start)(_ + inc).takeWhile(_ < hi).toSeq
    }.distinct.toSeq
  }
}
