package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Sid
import graft.functions.StareFunctions._
import StareJoin.{Budgets, CoverSide, LKey, Ladder, RKey, coverCells, mixKey}

/** Explicit skew handling for the shuffle-path spatial join (SURVEY.md
  * §4.4 / north rule: hot cells — cities, coastlines — must not melt a
  * reducer).
  *
  * STARE gives an *exact* salting mechanism: a trixel's four children
  * partition it. A split is a property of the join's level ladder
  * (StareJoin.Ladder): among the unsplit join's own keys at the finest
  * cover level `to`, the hot ones key one level `deep` further down. A
  * left row in a hot key keys at its ancestor at min(level, deep), every
  * other row as before, so each row still has ONE key, the probe side is
  * never replicated, and results are bit-identical; on the right each
  * hot rung becomes its own rungs down to `deep`, so overlapping or
  * coarser cover cells need no special case.
  *
  * The split decision is computed ON THE DRIVER from one sampled count
  * of the left side's keys (covers are small by design).
  */
object Skew {

  /** A split decision: the sorted level-`to` keys that key deeper, `hot`,
    * and the level they key at, `deep`. `skipReason` is set when the
    * cost gate decided splitting cannot win (`hot` is then empty). The
    * join keeps the right rows' original covers either way. */
  final case class SplitResult(hot: Array[Long], deep: Int, skipReason: Option[String] = None)

  /** How keyedJoin ships a cover side keyed by `ladder`. Within
    * `RebaseKeys` rungs the ladder keys it (`laddered`), else each cell
    * is its own key. The right ROWS (payload plus the 8-byte key_right)
    * are exact when the side is whole, else the probe's width times a
    * row count bounded by the keyed pair count (every non-empty cover row
    * emits ≥ 1 pair; empty-cover rows are assumed rare — they carry no
    * join work). Only a whole side's rows are broadcast: a broadcast
    * guard must not rest on that assumption. `broadcastBoth` = rows and
    * (rid, key) pairs both fit the broadcast threshold. */
  private final class Shipping(side: CoverSide, val ladder: Ladder, val budgets: Budgets) {
    val levels: Array[Int] = side.levelHist.keys.toArray.sorted
    val ladderKeys: Long = ladder.size(side.levelHist, side.hotRungs(ladder))
    val laddered: Boolean = ladderKeys <= Budgets.RebaseKeys
    val keyedRows: Long = if (laddered) ladderKeys else side.levelHist.valuesIterator.sum
    val keyedBytes: Long = keyedRows * Budgets.PairBytes
    private val rowBytes = side.rowBytes + 8
    val rowsBytes: Long =
      if (side.complete) rowBytes * side.rows.length else rowBytes * math.max(keyedRows, side.rows.length)
    val rowsBroadcast: Boolean = side.complete && budgets.broadcastFits(rowsBytes)
    val broadcastBoth: Boolean = rowsBroadcast && budgets.broadcastFits(keyedBytes)
    /** The keyed full-row side: each key carries its whole row (and its
      * key), so a few rows with giant covers are small as rows but huge
      * once keyed. Saturating, like Ladder.size. */
    val keyedFullBytes: Long = {
      val w = side.rowBytes + 16
      if (keyedRows > Long.MaxValue / w) Long.MaxValue else keyedRows * w
    }
  }

  /** The unsplit join's shipping of a cover side */
  private def unsplit(side: CoverSide, knownMinLeftLevel: Option[Int], budgets: Budgets): Shipping =
    new Shipping(side, Ladder(side.levelHist.keys, knownMinLeftLevel), budgets)

  /** Estimate the left side's rows per key of the unsplit join from a
    * sample and split the keys whose projected population exceeds
    * `maxRowsPerCell`. The cover side is measured by
    * StareJoin.CoverSide; the sample costs one job and is not persisted.
    *
    * Depth follows ACTUAL sampled descendant counts, not a
    * uniform-quartering assumption: real hot spots (cities) concentrate
    * in a corner of a cell, so est/4-per-child under-descends — one child
    * inherits nearly everything and the reducer still melts. The one job
    * counts each sampled row by its ancestor at min(level, to +
    * maxExtraLevels), which the driver folds into every row's key at
    * `to` and each key's heaviest descendant below it; `deep` is the
    * shallowest level at which every hot key's heaviest descendant fits
    * the cap. */
  def splitHotCellsWithSpec(left: DataFrame, leftSid: String,
                            right: DataFrame, rightSids: String,
                            maxRowsPerCell: Long, sampleFraction: Double = 0.01,
                            maxExtraLevels: Int = 6,
                            knownMinLeftLevel: Option[Int] = None,
                            wallClockGate: Boolean = true): SplitResult =
    split(left, leftSid, unsplit(CoverSide.measure(right, rightSids), knownMinLeftLevel,
      Budgets(left.sparkSession)), maxRowsPerCell, sampleFraction, maxExtraLevels, wallClockGate)

  private def split(left: DataFrame, leftSid: String, ship: Shipping, maxRowsPerCell: Long,
                    sampleFraction: Double = 0.01, maxExtraLevels: Int = 6,
                    wallClockGate: Boolean): SplitResult = {
    val to = ship.ladder.to
    def skip(reason: String): SplitResult = {
      System.err.println(s"[skew] split skipped: no projected win — $reason")
      SplitResult(Array.emptyLongArray, to, Some(reason))
    }
    // ---- cost gate: engage splitting only when it can actually win ----
    // (round-2 lesson: at bench scale the split demonstration LOST — the
    // split is pure overhead whenever no reducer melts in the first
    // place). (1) keyedJoin's broadcast-both strategy never shuffles the
    // point side by key: there is no reducer to melt.
    if (ship.broadcastBoth)
      return skip(s"cover side (${ship.keyedRows} keyed pairs) and its rows fit the broadcast " +
        "threshold; the join has no per-key shuffle")
    val top = math.min(to + maxExtraLevels, Sid.MaxLevel)
    if (top <= to) return skip(s"no level below the finest cover level $to to split into")
    val deepest: Array[(Long, Long)] = {
      import left.sparkSession.implicits._
      left.sample(withReplacement = false, sampleFraction, seed = 42)
        .select(col(leftSid)).where(col(leftSid).isNotNull).as[Long]
        .mapPartitions { sids =>
          val n = scala.collection.mutable.HashMap.empty[Long, Long]
          sids.foreach { s => val k = Sid.ladderKey(s, top); n(k) = n.getOrElse(k, 0L) + 1 }
          n.iterator
        }.collect()
    }
    /** sampled rows per key, each row keyed at its ancestor at min(level, lv) */
    def rowsPerKey(rows: Array[(Long, Long)], lv: Int): Map[Long, Long] =
      rows.groupMapReduce(r => Sid.ladderKey(r._1, lv))(_._2)(_ + _)
    val scale = 1.0 / sampleFraction
    val byKey = rowsPerKey(deepest, to)
    // (2) the hottest key must exceed the per-cell cap AND dominate a
    // fair reducer share by enough to beat the re-key overhead: a key
    // within ~2x the average reducer load doesn't bound the stage.
    val estHot = byKey.valuesIterator.maxOption.getOrElse(0L) * scale
    val estTotal = byKey.valuesIterator.sum * scale
    val shufflePartitions = ship.budgets.shufflePartitions
    val fairShare = estTotal / math.max(1, shufflePartitions)
    val hot = byKey.collect { case (k, n) if Sid.level(k) == to && n * scale > maxRowsPerCell => k }
      .toArray.sorted
    if (hot.isEmpty)
      return skip(f"no level-$to key exceeds maxRowsPerCell=$maxRowsPerCell (hottest ~${estHot}%.0f rows)")
    if (estHot <= 2.0 * fairShare)
      return skip(f"hottest key ~${estHot}%.0f rows is within 2x the fair " +
        f"reducer share (~$fairShare%.0f of ~$estTotal%.0f rows over " +
        f"$shufflePartitions partitions); reducers are already balanced")
    // (3) wall-clock projection (r3 verdict item 6): a melted reducer
    // that only bounds the stage by a couple of seconds cannot repay the
    // split's fixed overhead (~4 s measured at the r3 sub-threshold
    // bench, where the split won max-task but tied/lost wall). Projected
    // saving = the melt the hot reducer carries beyond its fair share, at
    // the measured reducer sort rate (~2M rows/s, BENCH.md). Mechanism
    // tests and callers that want max-task balance regardless of wall
    // clock pass wallClockGate = false.
    if (wallClockGate) {
      val projectedSaveSec = (estHot - fairShare) / Budgets.ReduceRowsPerSec
      if (projectedSaveSec <= Budgets.SplitOverheadSec)
        return skip(f"projected wall-clock saving ~$projectedSaveSec%.1f s " +
          f"((hot ~${estHot}%.0f - fair ~$fairShare%.0f rows) / " +
          f"${Budgets.ReduceRowsPerSec}%.0f rows/s) does not cover the " +
          f"~${Budgets.SplitOverheadSec}%.1f s fixed split overhead")
    }
    val hotRows = deepest.filter(r => java.util.Arrays.binarySearch(hot, Sid.ladderKey(r._1, to)) >= 0)
    val deep = ((to + 1) to top)
      .find(lv => rowsPerKey(hotRows, lv).valuesIterator.max * scale <= maxRowsPerCell).getOrElse(top)
    SplitResult(hot, deep)
  }

  /** Shuffle-path spatial join for cover sides too large to broadcast:
    * sort-merge/shuffled-hash equi-join on the prefix keys with AQE skew
    * splitting enabled, optionally after exact hot-cell splitting.
    * Same pair semantics and output contract (suffixes, `key_right`,
    * column order) as StareJoin.pointJoin, for how = inner | left. Each
    * left row keys ONCE, by pointJoin's ladder rule (StareJoin.Ladder,
    * which a hot-cell split only deepens inside its hot keys), against
    * the keyed cover side pointJoin builds too (StareJoin.keyedCover:
    * whole right rows exploded over their rungs), so every inner and
    * left join takes one shape, a single-exchange keyed join. A left
    * join takes the pair/join-back only for a ladder over `RebaseKeys`
    * (one key per cover level).
    *
    * `knownMinLeftLevel`, as for pointJoin: the ladder's rungs start at
    * the declared level (one rung per cell at or above the finest cover
    * level, and the per-row guard folds away). Without it they start at
    * the coarsest cover level; no job measures the left side.
    *
    * The cover side is sized once (StareJoin.CoverSide): a LocalRelation,
    * or a side whose bounded probe holds every row, gives its level
    * histogram and row width with no further job; a larger side pays one
    * histogram job. A hot-cell split's gate reads the same measurement.
    * Its keyed rows are sized by keys x mean row width. Row ids are
    * packed stable ids (StareJoin.withStableId): nothing stays cached
    * after the query completes. */
  def shuffleJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                  splitHot: Option[Long] = None, how: String = "inner",
                  knownMinLeftLevel: Option[Int] = None,
                  wallClockGate: Boolean = true): DataFrame = {
    StareJoin.requireHow(how)
    keyedJoin(left, leftSid, right, rightSids, CoverSide.measure(right, rightSids), splitHot, how,
      knownMinLeftLevel, wallClockGate)
  }

  /** shuffleJoin over a cover side already measured by the caller */
  private[operators] def keyedJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                                   side: CoverSide, splitHot: Option[Long], how: String,
                                   knownMinLeftLevel: Option[Int],
                                   wallClockGate: Boolean = true): DataFrame = {
    // ---- the ladder (StareJoin.Ladder), pointJoin's key rule: every
    // cell coarser than the finest cover level `to` becomes its rungs up
    // to `to`, and each left row derives ONE key. Keying each cover level
    // instead multiplies the big side's shuffle by |levels| (measured
    // 4-5x at the skew bench), and a left join with several keys needs
    // the pair/join-back. An applied split deepens the ladder inside its
    // hot keys; only the budget gates the ladder, and its size counts the
    // split's rungs exactly.
    val plain = unsplit(side, knownMinLeftLevel, Budgets(left.sparkSession))
    val ship = splitHot.map(split(left, leftSid, plain, _, wallClockGate = wallClockGate))
      .filter(_.skipReason.isEmpty)
      .fold(plain)(s => new Shipping(side, plain.ladder.copy(hot = s.hot, deep = s.deep), plain.budgets))
    import ship.{budgets, ladder, laddered}
    // over its budget, or with one rung per cell, a cell is its own key
    val keying = Option.when(laddered && (ladder.hot.nonEmpty || ship.levels.exists(_ < ladder.to)))(ladder)
    // The keyed cover side: whole right rows with ids, exploded over
    // their keys. Its (rid, key) pairs are a projection of it.
    val rightRows = StareJoin.withStableId(right, "key_right")
    val keyed = StareJoin.keyedCover(rightRows, coverCells(col(rightSids)), keying)
    val pairs = keyed.select(col("key_right").as("__rid"), col(RKey))
    // ---- join-strategy choice (r6, guide §3.1): the keyed right side's
    // EXACT row count is the ladder's size, but its lineage passes
    // through withStableId's RDD round trip, which erases size stats, so
    // Catalyst would plan EVERY join here as a sort-merge join (7 SMJs
    // in q43's plan). Decide from the known count and the budgets:
    // broadcast when a side fits the broadcast threshold (the left side
    // is then never shuffled); otherwise a shuffled-hash join (build =
    // the small side) so the big side streams instead of sorting;
    // sort-merge only when the per-partition build could be large.
    //
    // The keys: the ladder key, or over its budget one key per cover
    // level.
    def keyExprsFor(sidCol: Column) =
      if (laddered) Seq(ladder.key(sidCol))
      else ship.levels.toSeq.map(lv => when(stareLevel(sidCol) >= lv, stareClearTo(sidCol, lv)))
    def candidateKeys(sidCol: Column) =
      explode(filter(array(keyExprsFor(sidCol): _*), c => c.isNotNull))
    // AQE's skew-join splitter still handles residual imbalance on the
    // non-broadcast strategies
    how match {
      case "left" if keyExprsFor(col(leftSid)).size != 1 =>
        // Pair/join-back: pair ids first (cover cells are disjoint after
        // compression, so pairs are already unique), then re-attach
        // unmatched left rows — with multiple candidate key levels a
        // direct left join would emit one spurious all-null row per
        // non-matching key (and with none, e.g. all-empty covers, there
        // is no key to join on).
        val pairsForKeyJoin =
          if (budgets.broadcastFits(ship.keyedBytes)) broadcast(pairs)
          else if (budgets.shjFits(ship.keyedBytes)) pairs.hint("shuffle_hash")
          else pairs // sort-merge: spills gracefully for huge covers
        val leftIds = StareJoin.withStableId(left, "__stare_lid")
        val matched = leftIds.select(col("__stare_lid"), candidateKeys(col(leftSid)).as(LKey))
          .join(pairsForKeyJoin, mixKey(col(LKey)) === mixKey(col(RKey)), "inner")
          .select(col("__stare_lid"), col("__rid"))
        val joined = leftIds.join(matched, Seq("__stare_lid"), "left").drop("__stare_lid")
        // the join-back sees the same stats-free lineage: without a
        // decision here it sort-merges the joined output
        val assembleRight =
          if (!ship.rowsBroadcast && budgets.shjFits(ship.rowsBytes)) rightRows.hint("shuffle_hash")
          else rightRows
        StareJoin.assemble(joined, assembleRight, how = "left", broadcastRight = ship.rowsBroadcast)
      case _ => // inner, or left with one candidate key
        // Single-exchange keyed join: the big side crosses at most ONE
        // exchange and the join output is final — assembling by row id
        // after the key join re-SHUFFLED the entire joined output (24M
        // rows at the bench, its single largest cost). An inner join may
        // explode each row to all its candidate keys: a non-matching key
        // simply drops out. A left join needs exactly one candidate key
        // per row (the ladder key): with N keys a row would left-join
        // into one spurious all-null row per non-matching key, while with
        // one key a non-match is THE unmatched row and a match has exact
        // multiplicity (cells within a cover row are disjoint, so one key
        // matches at most one cell per right row).
        // When both small sides fit, broadcast the (rid, key) pairs and
        // the rows separately and probe them in turn, so the big side is
        // never shuffled and the builds hold pairs + rows, not the pairs
        // x payload product (a few rows of giant covers would repeat each
        // whole cover once per cell). Otherwise the left side joins the
        // keyed full-row side directly.
        val separate = ship.broadcastBoth
        StareJoin.withContract(left, leftSid, if (separate) rightRows else keyed, "key_right") { (l, lSid, r, _) =>
          val keyedL = l.withColumn(LKey,
            if (how == "inner") candidateKeys(col(lSid)) else keyExprsFor(col(lSid)).head)
          val onKey = mixKey(col(LKey)) === mixKey(col(RKey))
          if (separate)
            keyedL.join(broadcast(pairs), onKey, how)
              .join(broadcast(r), col("__rid") === col("key_right"), how)
              .drop(LKey, RKey, "__rid")
          else
            keyedL.join(if (budgets.shjFits(ship.keyedFullBytes)) r.hint("shuffle_hash")
                        else r, // sort-merge: spills gracefully over the cap
              onKey, how)
              .drop(LKey, RKey)
        }
    }
  }
}
