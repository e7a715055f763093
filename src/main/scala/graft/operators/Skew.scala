package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.StareFunctions._
import StareJoin.{Budgets, CoverSide, LKey, Ladder, RKey, coverCells, mixKey}

/** The shuffle-path spatial join and the hot-cell split request.
  *
  * Hot cells (cities, coastlines) must not melt a reducer (SURVEY.md
  * §4.4). Every left row keys once by the level ladder
  * (StareJoin.Ladder), so a hot cell's rows share a few shuffle keys.
  * Spark's adaptive execution splits such keys itself: AQE's skew join
  * (OptimizeSkewedJoin, on by default) reads the measured map-output
  * size of every reducer partition and splits an oversized one across
  * several tasks, replicating the other side's matching partition, for
  * sort-merge and shuffled-hash joins alike. It sees bytes, not rows:
  * when a query keeps no left column but the key (a count or a
  * per-region aggregate over the join), a hot partition stays under its
  * threshold and one reducer takes the hot key's rows.
  *
  * No STARE-specific split is applied on top: a deeper ladder inside
  * the hot keys, chosen from a sampled count, lost to AQE's split when
  * the join carried its rows (24M points, 90 % in one patch, on a
  * 4-core host) and won a key-only count by less than the run-to-run
  * spread (BENCH.md). A split request is answered and changes nothing.
  */
object Skew {

  /** The answer to a hot-cell split request: no key is split, because
    * hot keys are left to AQE's skew join. `hot` is empty, `deep` is 0
    * and `skipReason` says so. */
  final case class SplitResult(hot: Array[Long], deep: Int, skipReason: Option[String])

  /** Answers a hot-cell split request: no split. Reads no argument, so
    * it starts no Spark job; the signature stays for existing callers. */
  def splitHotCellsWithSpec(left: DataFrame, leftSid: String,
                            right: DataFrame, rightSids: String,
                            maxRowsPerCell: Long,
                            knownMinLeftLevel: Option[Int] = None): SplitResult =
    SplitResult(Array.emptyLongArray, 0, Some("hot keys are left to AQE's skew join"))

  /** Shuffle-path spatial join for cover sides too large to broadcast:
    * sort-merge/shuffled-hash equi-join on the prefix keys, whose hot
    * keys AQE's skew join splits at run time. Same pair semantics and
    * output contract (suffixes, `key_right`, column order) as
    * StareJoin.pointJoin, for how = inner | left. Each left row keys
    * ONCE, by pointJoin's ladder rule (StareJoin.Ladder), against the
    * keyed cover side pointJoin builds too (StareJoin.keyedCover: whole
    * right rows exploded over their rungs), so every inner and left join
    * takes one shape, a single-exchange keyed join. A left join takes
    * the pair/join-back only for a ladder over `RebaseKeys` (one key per
    * cover level). `splitHot`, a hot-cell split's row cap, is accepted
    * and ignored.
    *
    * `knownMinLeftLevel`, as for pointJoin: the ladder's rungs start at
    * the declared level (one rung per cell at or above the finest cover
    * level, and the per-row guard folds away). Without it they start at
    * the coarsest cover level; no job measures the left side.
    *
    * The cover side is sized once (StareJoin.CoverSide): a LocalRelation,
    * or a side whose bounded probe holds every row, gives its level
    * histogram and row width with no further job; a larger side pays one
    * histogram job. Its keyed rows are sized by keys x mean row width.
    * Row ids are packed stable ids (StareJoin.withStableId): nothing
    * stays cached after the query completes. */
  def shuffleJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                  splitHot: Option[Long] = None, how: String = "inner",
                  knownMinLeftLevel: Option[Int] = None): DataFrame = {
    StareJoin.requireHow(how)
    keyedJoin(left, leftSid, right, rightSids, CoverSide.measure(right, rightSids), how, knownMinLeftLevel)
  }

  /** shuffleJoin over a cover side already measured by the caller */
  private[operators] def keyedJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                                   side: CoverSide, how: String, knownMinLeftLevel: Option[Int]): DataFrame = {
    // ---- the ladder (StareJoin.Ladder), pointJoin's key rule: every
    // cell coarser than the finest cover level `to` becomes its rungs up
    // to `to`, and each left row derives ONE key. Keying each cover level
    // instead multiplies the big side's shuffle by |levels| (measured
    // 4-5x at the skew bench), and a left join with several keys needs
    // the pair/join-back. Only the budget gates the ladder.
    val budgets = Budgets(left.sparkSession)
    val levels = side.levelHist.keys.toArray.sorted
    val ladder = Ladder(side.levelHist.keys, knownMinLeftLevel)
    val ladderKeys = ladder.size(side.levelHist)
    val laddered = ladderKeys <= Budgets.RebaseKeys
    // ---- what the keyed side ships. Within `RebaseKeys` rungs the
    // ladder keys it, else each cell is its own key. The right ROWS
    // (payload plus the 8-byte key_right) are exact when the side is
    // whole, else the probe's width times a row count bounded by the
    // keyed pair count (every non-empty cover row emits >= 1 pair;
    // empty-cover rows are assumed rare, they carry no join work). Only
    // a whole side's rows are broadcast: a broadcast guard must not rest
    // on that assumption.
    val keyedRows = if (laddered) ladderKeys else side.levelHist.valuesIterator.sum
    val keyedBytes = keyedRows * Budgets.PairBytes
    val rowsBytes = (side.rowBytes + 8) * (if (side.complete) side.rows.length else math.max(keyedRows, side.rows.length))
    val rowsBroadcast = side.complete && budgets.broadcastFits(rowsBytes)
    // the keyed full-row side: each key carries its whole row (and its
    // key), so a few rows with giant covers are small as rows but huge
    // once keyed. Saturating, like Ladder.size.
    val keyedFullBytes = {
      val w = side.rowBytes + 16
      if (keyedRows > Long.MaxValue / w) Long.MaxValue else keyedRows * w
    }
    // over its budget, or with one rung per cell, a cell is its own key
    val keying = Option.when(laddered && levels.exists(_ < ladder.to))(ladder)
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
      else levels.toSeq.map(lv => when(stareLevel(sidCol) >= lv, stareClearTo(sidCol, lv)))
    def candidateKeys(sidCol: Column) =
      explode(filter(array(keyExprsFor(sidCol): _*), c => c.isNotNull))
    // AQE's skew join splits a hot key's partition on the non-broadcast
    // strategies
    how match {
      case "left" if keyExprsFor(col(leftSid)).size != 1 =>
        // Pair/join-back: pair ids first (cover cells are disjoint after
        // compression, so pairs are already unique), then re-attach
        // unmatched left rows — with multiple candidate key levels a
        // direct left join would emit one spurious all-null row per
        // non-matching key (and with none, e.g. all-empty covers, there
        // is no key to join on).
        val pairsForKeyJoin =
          if (budgets.broadcastFits(keyedBytes)) broadcast(pairs)
          else if (budgets.shjFits(keyedBytes)) pairs.hint("shuffle_hash")
          else pairs // sort-merge: spills gracefully for huge covers
        val leftIds = StareJoin.withStableId(left, "__stare_lid")
        val matched = leftIds.select(col("__stare_lid"), candidateKeys(col(leftSid)).as(LKey))
          .join(pairsForKeyJoin, mixKey(col(LKey)) === mixKey(col(RKey)), "inner")
          .select(col("__stare_lid"), col("__rid"))
        val joined = leftIds.join(matched, Seq("__stare_lid"), "left").drop("__stare_lid")
        // the join-back sees the same stats-free lineage: without a
        // decision here it sort-merges the joined output
        val assembleRight =
          if (!rowsBroadcast && budgets.shjFits(rowsBytes)) rightRows.hint("shuffle_hash")
          else rightRows
        StareJoin.assemble(joined, assembleRight, how = "left", broadcastRight = rowsBroadcast)
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
        val separate = rowsBroadcast && budgets.broadcastFits(keyedBytes)
        StareJoin.withContract(left, leftSid, if (separate) rightRows else keyed, "key_right") { (l, lSid, r, _) =>
          val keyedL = l.withColumn(LKey,
            if (how == "inner") candidateKeys(col(lSid)) else keyExprsFor(col(lSid)).head)
          val onKey = mixKey(col(LKey)) === mixKey(col(RKey))
          if (separate)
            keyedL.join(broadcast(pairs), onKey, how)
              .join(broadcast(r), col("__rid") === col("key_right"), how)
              .drop(LKey, RKey, "__rid")
          else
            keyedL.join(if (budgets.shjFits(keyedFullBytes)) r.hint("shuffle_hash")
                        else r, // sort-merge: spills gracefully over the cap
              onKey, how)
              .drop(LKey, RKey)
        }
    }
  }
}
