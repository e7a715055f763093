package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.Sid
import graft.functions.NativeExpressions.knownNotNull
import graft.functions.StareFunctions._

/** Distributed STARE spatial join (intersects predicate).
  *
  * Reference semantics (tools/stare_join.py:4-63): for each right row,
  * every left row whose SID set intersects the right row's SID set is
  * emitted; how='left' keeps unmatched left rows with null right
  * columns; clashing column names get _left/_right suffixes and a
  * key_right column carries the right row id.
  *
  * Spark-first plan — NOT the reference's O(L×R) nested loop: trixel
  * intervals are aligned quadtree ranges, so interval containment is an
  * EQUI-join on the cleared-to-level prefix key:
  *
  *     sid_a ⊇ sid_b  ⟺  clearTo(b, level(a)) == normalize(a)
  *
  * Point-in-cover joins key every left row ONCE, by one rule both
  * operators share ([[Ladder]]): the row's ancestor at the finest cover
  * level or its own level, whichever is coarser, against every cover
  * cell replicated to each level from its own to the finest. Both
  * derive their keyed cover side, whole right rows exploded over their
  * rungs, from one helper ([[keyedCover]]). `pointJoin` collects the
  * small cover side and broadcasts that full-row dictionary, so the
  * join is a single broadcast hash probe; a side or dictionary over its
  * one budget goes to `Skew.shuffleJoin`, which serves every input.
  * Cover-vs-cover joins (`join`) explode both sides into ancestor keys
  * per level, in both containment directions, and deduplicate pairs
  * before row assembly. Every entry point sizes its cover side once,
  * with [[CoverSide]]: row count, row width and cell-level histogram,
  * read on the driver for a driver-resident or small side, and for a
  * whole side the exact bytes of its keyed rows.
  */
object StareJoin {

  private[operators] final val LKey = "__stare_lkey"
  private[operators] final val RKey = "__stare_rkey"

  /** Bijective low-bit mix applied to BOTH sides of every sid-derived
    * long equi-join key. Spark's LongToUnsafeRowMap slots a key by a
    * 32-bit golden multiply, and a level-L key is
    * (locationPrefix << (5 + 2*(27-L))) | L: at L=6 the low 47 bits are
    * identical across keys, so every level-6 cell hashed into ONE
    * linear-probe cluster (160 core-s against 0.28 s for a dense-key
    * join of equal cardinality, OPTIMIZATION_r06.md). key ^ (key >>> 31)
    * is invertible and null-preserving and moves the meaningful bits
    * (5..61) into the multiply's low 32 bits, so the match set is
    * EXACTLY preserved while slots spread. Packed row ids already vary
    * in their low bits and stay unmixed. */
  private[operators] def mixKey(c: Column): Column =
    c.bitwiseXOR(shiftrightunsigned(c, 31))

  /** The budgets every join decision reads: the session's values,
    * parsed once per call with `Budgets(spark)`, and the constants in
    * the companion. */
  private[graft] final case class Budgets(broadcastBytes: Long, shufflePartitions: Int,
                                              shjBuildBytesPerPartition: Long) {
    /** Spark's own rule: a threshold <= 0 disables broadcasting */
    def broadcastFits(bytes: Long): Boolean = broadcastBytes > 0 && bytes <= broadcastBytes
    def shjFits(bytes: Long): Boolean =
      bytes / math.max(1, shufflePartitions) <= shjBuildBytesPerPartition
  }

  private[graft] object Budgets {
    /** pointJoin's one budget: the bytes of its full-row dictionary,
      * rungs x shipped width summed over rows ([[CoverSide.keyedBytes]]),
      * and of the cover rows it collects to build it. Every dictionary
      * row carries a non-empty cover, so it is at least 64 bytes: the
      * budget also bounds the rungs, to 4M. */
    final val FullRowDictBytes = 256L << 20
    /** rows of the one bounded probe that measures a cover side
      * ([[CoverSide]]); also the most rows per side of a driver-local
      * cover x cover join */
    final val ProbeRows = 1000
    /** rungs of the shuffle path's ladder, summed over rows */
    final val RebaseKeys = 16L << 20
    /** both collected sides of a driver-local cover x cover join */
    final val LocalJoinBytes = 128L << 20
    /** one exploded (rid, key) pair, in Catalyst's sizing order */
    final val PairBytes = 32L
    /** skew split gate: reducer sort rate and the split's fixed cost,
      * measured on the 32-core bench box (BENCH.md) */
    final val ReduceRowsPerSec = 2e6
    final val SplitOverheadSec = 4.0

    /** A malformed graft conf value is an error, not the default: a typo
      * would otherwise silently turn a forced path back into the default. */
    def apply(spark: SparkSession): Budgets = {
      val sql = org.apache.spark.sql.graft.shim.sqlConf(spark)
      val key = "spark.graft.join.shjMaxBuildBytesPerPartition"
      val shjBuild = spark.conf.getOption(key).fold(64L << 20) { v =>
        v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(s"$key=$v is not a number"))
      }
      Budgets(sql.autoBroadcastJoinThreshold, sql.defaultNumShufflePartitions, shjBuild)
    }
  }

  /** One cover side, measured once: how big it is and whether all of it
    * is on the driver. Every join entry point sizes its cover side here.
    * `rows` holds every row of the side when `complete`, else the
    * bounded probe's rows; `rowBytes` is their mean width, the proxy
    * for a side that is not whole. A whole side is measured row by row
    * (compressed cells, shipped width), so any ladder's bytes over it
    * are exact ([[keyedBytes]]). */
  private[operators] final class CoverSide(df: DataFrame, sidsCol: String,
                                           val rows: Array[Row], val complete: Boolean) {
    lazy val rowBytes: Long = approxRowBytes(rows)

    /** each held row's compressed cover cells; a null cover is empty */
    private lazy val cells: Array[Array[Long]] = {
      val i = df.schema.fieldIndex(sidsCol)
      rows.map(r => if (r.isNullAt(i)) Array.emptyLongArray else Sid.compress(r.getSeq[Long](i).toArray))
    }

    /** (cell level -> cell count) of the compressed covers, summed over
      * rows: counted on the driver when the side is complete, else one
      * aggregate job. */
    lazy val levelHist: Map[Int, Long] =
      if (complete) cells.iterator.flatten.map(Sid.level).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
      else
        df.select(explode(coverCells(col(sidsCol))).as("c")).groupBy(stareLevel(col("c"))).count()
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap

    /** The hot rungs of a split `ladder` summed over rows, i.e. its hot
      * keys' occurrences in the compressed covers: counted on the driver
      * when the side is complete, else one aggregate job. */
    def hotRungs(ladder: Ladder): Long = {
      val hot = ladder.hot
      if (hot.isEmpty) 0L
      else if (complete) cells.iterator.flatten.map(Sid.keysWithin(hot, _)).sum
      else {
        val within = udf((c: Long) => Sid.keysWithin(hot, c))
        df.select(explode(coverCells(col(sidsCol))).as("c"))
          .agg(coalesce(sum(within(col("c"))), lit(0L))).head().getLong(0)
      }
    }

    /** Bytes of the whole side keyed by `ladder` ([[keyedCover]]) as
      * shipped: each rung repeats its whole row, so it is the sum over
      * rows of rungs(row) x keyedRowBytes(row). Saturates. */
    def keyedBytes(ladder: Ladder): Long = {
      require(complete, "keyedBytes measures a whole side")
      ladder.size(rows.iterator.zip(cells).flatMap { case (r, cs) =>
        val width = keyedRowBytes(r)
        cs.iterator.map(c => Sid.level(c) -> width)
      })
    }
  }

  private[operators] object CoverSide {
    /** A `LocalRelation` (covers built with toDF) is collected whole,
      * which plans no Spark job: its rows are already in driver memory.
      * Any other frame gets one bounded probe, `limit(ProbeRows + 1)`,
      * which holds the whole side when it has at most `ProbeRows` rows. */
    def measure(df: DataFrame, sidsCol: String): CoverSide =
      if (org.apache.spark.sql.graft.shim.isLocalRelation(df))
        new CoverSide(df, sidsCol, df.collect(), complete = true)
      else {
        val probe = df.limit(Budgets.ProbeRows + 1).collect()
        new CoverSide(df, sidsCol, probe, probe.length <= Budgets.ProbeRows)
      }
  }

  /** The cells of a right row's cover, compressed: canonical covers are
    * non-nested, so a left sid matches at most one cell per right row.
    * A null cover is the empty cover. */
  private[operators] def coverCells(cover: Column): Column =
    stareCompress(coalesce(cover, lit(Array.emptyLongArray)))

  /** The one key rule of every point-in-cover join (`Sid.ladder`): a
    * left row keys at its ancestor at min(level(sid), `to`), `to` being
    * the finest cover level, and each cover cell coarser than `to` is
    * keyed as its rungs, its trixels at every level from
    * max(level(cell), `from`) to `to`. A row at a level >= `from` lies in
    * a cell iff its key is one of the cell's rungs; the cells of one
    * compressed cover are disjoint, so the row matches at most one rung
    * per right row. So each left row has exactly ONE key, pair
    * multiplicity is exact, and a left join's unmatched row is simply
    * the row whose key found nothing. `from` is the minimum left level
    * when one is known, else the coarsest cover level: a row coarser
    * than `from` gets no key, and under the containment contract it
    * matches nothing anyway. The rungs add at most 1/3 to a uniform
    * expansion to `to`; with a known minimum at or above `to` there is
    * one rung per cell, the uniform expansion itself.
    *
    * A hot-cell split ([[Skew]]) is a deeper ladder inside `hot`, sorted
    * level-`to` keys: a row whose level-`to` key is hot keys at
    * min(level(sid), `deep`) instead, and each hot rung is replaced by
    * its own rungs down to `deep`, so the rule above holds unchanged and
    * every row still has one key. */
  private[operators] final case class Ladder(from: Int, to: Int, declared: Boolean,
                                             hot: Array[Long] = Array.emptyLongArray, deep: Int = 0) {
    /** The left key. With a DECLARED minimum level at or above `to` the
      * per-row guard drops at plan time and the key is marked
      * KnownNotNull (the caller's declared level also implies non-null
      * sids): otherwise the planner infers an IsNotNull(key) filter that
      * evaluates the key, i.e. a second encode per row when the sid is
      * an unevaluated encode. */
    def key(sid: Column): Column = {
      val unsplit =
        if (declared && from >= to) knownNotNull(stareClearTo(sid, to))
        else {
          val atTo = when(stareLevel(sid) >= to, stareClearTo(sid, to))
          if (from >= to) atTo else atTo.when(stareLevel(sid) >= from, stareClearToOwn(sid))
        }
      if (hot.isEmpty) unsplit
      else when(unsplit.isin(hot.toIndexedSeq: _*),
        when(stareLevel(sid) >= deep, stareClearTo(sid, deep)).otherwise(stareClearToOwn(sid)))
        .otherwise(unsplit)
    }

    /** The rungs of an array of non-nested cells. */
    def rungs(cells: Column): Column =
      if (hot.isEmpty) ladderUdf(cells, lit(from), lit(to))
      else {
        val (f, t, h, d) = (from, to, hot, deep)
        udf((cs: Seq[Long]) => Sid.ladder(cs.toArray, f, t, h, d)).apply(cells)
      }

    /** Rungs of a (level -> cell count) histogram, each count possibly
      * weighted (bytes per cell), plus `hotRungs` hot keys' own deeper
      * rungs; saturates at Long.MaxValue instead of overflowing. */
    def size(cellsByLevel: IterableOnce[(Int, Long)], hotRungs: Long = 0L): Long = {
      val deeper = if (hot.isEmpty) 0L else Sid.ladderRungs(to, to, deep) - 1
      (cellsByLevel.iterator.map { case (l, n) => (n, Sid.ladderRungs(l, from, to)) } ++ Iterator((hotRungs, deeper)))
        .foldLeft(0L) { case (acc, (n, r)) =>
          if (r > 0 && n > (Long.MaxValue - acc) / r) Long.MaxValue else acc + n * r
        }
    }
  }

  private[operators] object Ladder {
    /** The ladder over cells at `levels` up to the finest of them, from
      * `minLeftLevel` when one is declared, else from the coarsest. */
    def apply(levels: Iterable[Int], minLeftLevel: Option[Int]): Ladder = {
      val to = levels.maxOption.getOrElse(0)
      Ladder(math.min(minLeftLevel.getOrElse(levels.minOption.getOrElse(to)), to), to, minLeftLevel.isDefined)
    }
  }

  private val ladderUdf = udf((cells: Seq[Long], from: Int, to: Int) => Sid.ladder(cells.toArray, from, to))

  /** The keyed cover side of both point-in-cover operators: `rows`,
    * which carry `key_right`, exploded over the rungs of their `cells`
    * (non-nested, normalized cells), or over the cells themselves when
    * `ladder` is None (each cell is one rung, or the ladder is over
    * `RebaseKeys`). Each output row is a whole right row and its key,
    * `RKey`; a row with no cells emits nothing. */
  private[operators] def keyedCover(rows: DataFrame, cells: Column, ladder: Option[Ladder]): DataFrame =
    rows.withColumn(RKey, explode(ladder.fold(cells)(_.rungs(cells))))

  /** The output contract every join shares (tools/stare_join.py,
    * tests/test_join.py:77-81): columns both sides carry get `_left` /
    * `_right` suffixes, and the result holds the left columns, then
    * `key_right`, then the right columns (a join-back's row id `__rid`
    * is not one of them, nor a keyed side's `RKey`). `join` receives
    * both renamed sides with the renamed names of the columns it joins
    * on. */
  private[operators] def withContract(left: DataFrame, leftOn: String,
                                      rightRows: DataFrame, rightOn: String)(
      join: (DataFrame, String, DataFrame, String) => DataFrame): DataFrame = {
    val clash = left.columns.toSet.intersect(rightRows.columns.toSet - "key_right")
    def suffixed(df: DataFrame, suffix: String) =
      clash.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suffix))
    def renamed(c: String, suffix: String) = if (clash(c)) c + suffix else c
    val l = suffixed(left, "_left")
    val r = suffixed(rightRows, "_right")
    val out = join(l, renamed(leftOn, "_left"), r, renamed(rightOn, "_right"))
    val ordered = l.columns.filter(_ != "__rid") ++ ("key_right" +: r.columns.filterNot(Set("key_right", RKey)))
    out.select(ordered.toIndexedSeq.map(out(_)): _*)
  }

  /** ancestor keys of a sid for the given candidate levels, keeping only
    * levels at or above the sid's own level. */
  private[operators] def ancestorKeys(sid: Column, levels: Array[Int]): Column =
    filter(array(levels.map(l => when(stareLevel(sid) >= l, stareClearTo(sid, l))): _*),
      c => c.isNotNull)

  /** The join types every entry point serves; checked before any job. */
  private[operators] def requireHow(how: String): Unit =
    if (how != "inner" && how != "left")
      throw new IllegalArgumentException(s"how=$how (inner|left)")

  /** Point-left fast path: left has a scalar sid column (points at a
    * fine level), right has an array cover column. Returns the joined
    * frame with all left columns, `key_right`, and right columns
    * (clashes suffixed). This is the 100TB-shape join: the cover side
    * is collected, every cover cell is expanded to its [[Ladder]] rungs,
    * and that full-row dictionary is broadcast, so each point derives
    * ONE key and the big side is probed once, never exploded or
    * shuffled. Left sids of any level mix take the dictionary.
    *
    * One budget, `Budgets.FullRowDictBytes`, makes the one choice. The
    * side is collected when it is whole on the driver ([[CoverSide]]) or
    * when its row count times the probe's mean width fits; the
    * dictionary is taken when its exact bytes fit, summed per row as
    * rungs(row) x width(row) ([[CoverSide.keyedBytes]]), so one fat row
    * with many rungs cannot hide behind a narrow mean. Otherwise the
    * join is `Skew.shuffleJoin`'s (same output contract; `key_right` is
    * a packed row id), over the collected rows when there are any.
    *
    * Semantics: only the cover-contains-point direction is implemented.
    * A left sid COARSER than a cover cell never matches it (use join()
    * for cover-vs-cover semantics); a left sid at or finer than a cell
    * matches it when the cell contains it, whatever the other cells'
    * levels.
    *
    * `knownMinLeftLevel`: callers that KNOW their minimum left sid
    * level (e.g. a table indexed at level 26) pass it. At or above the
    * finest cover level the ladder has one rung per cell and the per-row
    * level guard constant-folds away. This matters when the sid column
    * is itself an unevaluated encode expression: projection collapse
    * otherwise re-inlines the encode into the guard and the pushed
    * null-check, evaluating the kernel up to 3x per row (measured ~2x
    * headline join throughput). Without it the rungs start at the
    * coarsest cover level; no job measures the left side. */
  def pointJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                how: String = "left", knownMinLeftLevel: Option[Int] = None): DataFrame = {
    requireHow(how)
    // The cover side is about to be collect()ed: its measurement answers
    // the common case (a few rows, or a LocalRelation) outright, and a
    // bigger side pays one count first. The right frame is persisted
    // ACROSS the guard and any delegation's measurement, so each partition
    // of the right plan is evaluated ~once, and only when the caller
    // hasn't: unpersisting a caller's own cache would silently DROP it
    // (KnnJoin persists its reusable sides across rounds).
    val spark = left.sparkSession
    val weCached = right.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      !org.apache.spark.sql.graft.shim.isLocalRelation(right)
    if (weCached) right.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probed = CoverSide.measure(right, rightSids)
      val side =
        if (probed.complete || right.count() * probed.rowBytes > Budgets.FullRowDictBytes) probed
        else new CoverSide(right, rightSids, right.collect(), complete = true)
      // Ladder dictionary: each point probes with exactly ONE key; for
      // how='left' a point matching nothing keeps one all-null right row,
      // and all-empty covers give an empty dictionary. Its bytes are
      // summed over ROWS, not distinct keys: duplicate covers multiply
      // the broadcast.
      lazy val ladder = Ladder(side.levelHist.keys, knownMinLeftLevel)
      if (side.complete && side.keyedBytes(ladder) <= Budgets.FullRowDictBytes) {
        // row ids assigned on the driver: deterministic across every reuse
        // of the frame, and no lingering persist()
        val rightRows = spark.createDataFrame(java.util.Arrays.asList(
          side.rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }: _*),
          right.schema.add("key_right", LongType, nullable = false))
        // the dictionary carries the right ROW COLUMNS, so the probe is the
        // ONLY pass over the big side (no row-id join-back)
        withContract(left, leftSid, rightRows, rightSids) { (l, lSid, r, rSids) =>
          l.withColumn(LKey, ladder.key(col(lSid)))
            .join(broadcast(keyedCover(r, coverCells(col(rSids)), Some(ladder))),
              mixKey(col(LKey)) === mixKey(col(RKey)), how)
            .drop(LKey, RKey)
        }
      } else {
        // the collected rows as a local frame: the shuffle path does not
        // evaluate the right plan again, nor measure the same rows again
        val rows = if (side.complete) spark.createDataFrame(java.util.Arrays.asList(side.rows: _*), right.schema)
                   else right
        Skew.keyedJoin(left, leftSid, rows, rightSids, side, splitHot = None,
          how = how, knownMinLeftLevel = knownMinLeftLevel)
      }
    } finally if (weCached) right.unpersist(false)
  }

  /** Rough in-memory width of a collected row (bytes). Array columns
    * arrive as mutable ArraySeqs, hence the general collection types. */
  private[graft] def rowBytes(row: Row): Long = {
    def sz(v: Any): Long = v match {
      case null          => 8L
      case s: String     => 40L + 2L * s.length
      case a: scala.collection.Seq[_] => 40L + a.iterator.map(sz).sum
      case a: Array[_]   => 40L + a.iterator.map(sz).sum
      case m: scala.collection.Map[_, _] => 48L + m.iterator.map { case (k, w) => sz(k) + sz(w) }.sum
      case r: Row        => 16L + r.toSeq.iterator.map(sz).sum
      case _             => 8L
    }
    sz(row)
  }

  /** Width of a cover row as a keyed side ships it: the row, its
    * `key_right` and its key. */
  private[graft] def keyedRowBytes(row: Row): Long = rowBytes(row) + 16

  /** Mean [[rowBytes]] of the rows, every row counted. */
  private[graft] def approxRowBytes(rows: Array[Row]): Long =
    if (rows.isEmpty) 16L else rows.iterator.map(rowBytes).sum / rows.length

  /** Stable, deterministic row ids, packed (partition << 40 | pos): a
    * pure function of the partitioned input lineage, so the frame can be
    * reused across joins with NO persist (monotonically_increasing_id
    * can change when a frame is recomputed), with no birthday collisions
    * (content-hash ids) and ZERO extra jobs (rdd.zipWithIndex). Ids are
    * unique and stable but not contiguous.
    *
    * Packed ids depend on intra-partition row ORDER, which an
    * exchange-bearing lineage does not guarantee across the subtrees that
    * evaluate the id frame. When the optimized plan carries an exchange,
    * rows are first sorted WITHIN partitions by every orderable column
    * (no shuffle, no cache), so the id is a function of partition
    * CONTENT. Scan/narrow/cached lineages skip the sort. */
  private[operators] def withStableId(df: DataFrame, name: String): DataFrame = {
    val shim = org.apache.spark.sql.graft.shim
    val stabilized =
      if (!shim.hasOrderHazard(df)) df
      else {
        val orderable = df.schema.fields.filter(f => shim.isOrderable(f.dataType))
          .map(f => col(f.name))
        if (orderable.nonEmpty) df.sortWithinPartitions(orderable.toIndexedSeq: _*)
        else {
          // nothing to sort by (every column non-orderable, e.g. all
          // maps): fall back to persisting the frame, so both subtrees
          // of the consuming join read ONE materialization — block-level
          // locking means each partition is computed once and the id is
          // assigned on that single computation. The pin is deliberate
          // and logged; silently proceeding risked mismatched ids.
          System.err.println(
            s"[stare_join] withStableId($name): exchange-bearing lineage with no orderable " +
              "columns — persisting the id frame to pin row order (cache not auto-released)")
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
      }
    shim.withPackedIdColumn(stabilized, name)
  }

  /** General cover-vs-cover join (both sides array covers).
    *
    * Fixed-cost budget (r3 verdict item 1): both sides' level sets come
    * from ONE combined job (not two collects), stable ids cost zero
    * extra jobs (withStableId), and the strictly-coarser direction B —
    * with its join + filter subplan — is built only when some left
    * level is actually coarser than the finest right level.
    *
    * Small sides (r6, guide §1.2): both sides of the distributed plan
    * pass through withStableId, whose RDD round trip erases size
    * statistics, so every downstream join plans as a sort-merge join
    * (measured: 20 Exchanges for an 8x8-row join). When BOTH measured
    * sides ([[CoverSide]]) are whole on the driver, each of at most
    * `ProbeRows` rows (the exact pair loop is quadratic) and together
    * within `LocalJoinBytes`, the exact pair set is one
    * interval-intersection loop (the fuzz suite's own reference kernel)
    * and the result a LocalRelation with known stats. */
  def join(left: DataFrame, leftSids: String, right: DataFrame, rightSids: String,
           how: String = "left"): DataFrame = {
    requireHow(how)
    def small(s: CoverSide) = s.complete && s.rows.length <= Budgets.ProbeRows
    val lSide = CoverSide.measure(left, leftSids)
    lazy val rSide = CoverSide.measure(right, rightSids)
    if (small(lSide) && small(rSide) &&
      lSide.rowBytes * lSide.rows.length + rSide.rowBytes * rSide.rows.length <= Budgets.LocalJoinBytes)
      return localJoin(left.sparkSession, lSide.rows, left.schema, leftSids,
        rSide.rows, right.schema, rightSids, how)
    // both level sets in one tiny aggregation job
    val lv = left.select(lit(1).as("side"), explode(col(leftSids)).as("s"))
      .unionByName(right.select(lit(2).as("side"), explode(col(rightSids)).as("s")))
      .select(col("side"), stareLevel(col("s")).as("l"))
      .distinct().collect()
    val llevels = lv.filter(_.getInt(0) == 1).map(_.getLong(1).toInt).sorted
    val rlevels = lv.filter(_.getInt(0) == 2).map(_.getLong(1).toInt).sorted

    val leftIds = withStableId(left, "__lid")
    val rightIds = withStableId(right, "key_right")

    val le = leftIds.select(col("__lid"), explode(col(leftSids)).as("__ls"))
    val re = rightIds.select(col("key_right").as("__rid"), explode(col(rightSids)).as("__rs"))

    // direction A: right sid contains left sid (left key cleared to right levels)
    val a = le.withColumn(LKey, explode(ancestorKeys(col("__ls"), rlevels)))
      .join(re.withColumn(RKey, stareClearToOwn(col("__rs"))), mixKey(col(LKey)) === mixKey(col(RKey)))
      .select(col("__lid"), col("__rid"))
    // direction B: left sid contains right sid (strictly coarser to avoid
    // double-count); provably empty — and skipped wholesale — when no
    // left level is coarser than the finest right level
    val bLevels = if (rlevels.isEmpty) Array.empty[Int] else llevels.filter(l => l < rlevels.max)
    val ab = if (bLevels.isEmpty) a else {
      val b = re.withColumn(RKey, explode(ancestorKeys(col("__rs"), bLevels)))
        .join(le.withColumn(LKey, stareClearToOwn(col("__ls"))), mixKey(col(LKey)) === mixKey(col(RKey)))
        .filter(stareLevel(col("__ls")) < stareLevel(col("__rs")))
        .select(col("__lid"), col("__rid"))
      a.union(b)
    }

    val pairs = ab.distinct().withColumnRenamed("__lid", "__plid")

    val joined = leftIds.join(pairs, leftIds("__lid") === pairs("__plid"), "left")
      .drop("__lid", "__plid")
    assemble(joined, rightIds, how, broadcastRight = false)
  }

  /** Driver-local general join over two collected sides: exact
    * interval-intersects in both directions (Sid.anyIntersects over
    * merged intervals — the same reference kernel the equivalence fuzz
    * asserts against), with join()'s output contract: left columns,
    * key_right (dense 0..n-1 right row ids, like pointJoin's), right
    * columns, clashes suffixed, how=left emitting one all-null right
    * row per unmatched left row. */
  private def localJoin(spark: SparkSession, leftRows: Array[Row], leftSchema: StructType, leftSids: String,
                        rightRows: Array[Row], rightSchema: StructType, rightSids: String,
                        how: String): DataFrame = {
    def cells(r: Row, i: Int): Array[Long] =
      if (r.isNullAt(i)) Array.emptyLongArray else r.getSeq[Long](i).toArray
    val lIdx = leftSchema.fieldIndex(leftSids)
    val rightCells = rightRows.map(cells(_, rightSchema.fieldIndex(rightSids)))
    val rightIntervals = rightCells.map(c =>
      if (c.isEmpty) Array.empty[(Long, Long)] else Sid.mergedIntervals(c))
    val clash = leftSchema.fieldNames.toSet.intersect(rightSchema.fieldNames.toSet)
    def suffixed(s: StructType, suf: String, forceNull: Boolean) = s.fields.map { f =>
      f.copy(name = if (clash(f.name)) f.name + suf else f.name, nullable = f.nullable || forceNull)
    }
    val outSchema = StructType(suffixed(leftSchema, "_left", forceNull = false) ++
      (StructField("key_right", LongType, nullable = how == "left") +:
        suffixed(rightSchema, "_right", forceNull = how == "left")))
    val nullRight = Seq.fill(rightSchema.length + 1)(null)
    val out = leftRows.toSeq.flatMap { lr =>
      val lc = cells(lr, lIdx)
      val hits = if (lc.isEmpty) Seq.empty else rightRows.indices.filter(j =>
        rightCells(j).nonEmpty && Sid.anyIntersects(lc, rightIntervals(j)))
      if (hits.isEmpty && how == "left") Seq(Row.fromSeq(lr.toSeq ++ nullRight))
      else hits.map(j => Row.fromSeq(lr.toSeq ++ (j.toLong +: rightRows(j).toSeq)))
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
  }

  /** Join the right rows back onto `leftWithRid` by row id (`__rid` =
    * `key_right`) under the shared output contract. */
  private[operators] def assemble(leftWithRid: DataFrame, rightRows: DataFrame, how: String,
                                  broadcastRight: Boolean): DataFrame = {
    withContract(leftWithRid, "__rid", rightRows, "key_right") { (l, rid, r, key) =>
      l.join(if (broadcastRight) broadcast(r) else r, l(rid) === r(key), how)
    }
  }
}
