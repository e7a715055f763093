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
  * partition it. Splitting a hot cover cell into descendants rewrites
  * one fat join key into up to 4^k disjoint keys whose point
  * populations are the true spatial sub-populations — the left side
  * derives child keys directly (clearToLevel at the deeper level), so
  * unlike classic salting no replication of the probe side is needed
  * and results are bit-identical.
  *
  * The split decision is computed ON THE DRIVER from a sampled
  * per-cell histogram (covers are small by design), which also yields a
  * split SPEC: the left side emits a deep-level key ONLY for rows whose
  * ancestor is a split parent (children partition the parent, so a
  * gated key always hits). Without the gate, every left row paid one
  * extra exploded key per split level — measured 2x total join cost at
  * 4M rows with one hot city.
  */
object Skew {

  /** A hot cell that was split: the original cell and the levels its
    * replacement descendants live at. */
  final case class SplitParent(cell: Long, level: Int, childLevels: Array[Int])

  /** `cells` = the cells the join keys, per right row, as a Column over
    * the right side: the rewritten cells when the split applies (already
    * compressed, normalized and disjoint; compressing them again would
    * merge four split siblings straight back into their hot parent), else
    * the compressed cover cells. The join keeps the right rows' original
    * covers and keys only these. `right` = the right side with `cells` as
    * its cover column. `keptLevels` = levels of cells kept whole (probed
    * unconditionally); split-child levels NOT in keptLevels are probed
    * only under their parent's gate. `skipReason` is set when the cost
    * gate decided splitting cannot win (right is returned unchanged,
    * parents empty). `minLeftLevel` = the exact minimum left-side sid
    * level the spec was computed against; shuffleJoin's ladder starts its
    * rungs there. `levelHist` = (level -> count) of `cells`, summed over
    * rows. */
  final case class SplitResult(right: DataFrame, cells: Column, parents: Seq[SplitParent],
                               keptLevels: Array[Int], skipReason: Option[String] = None,
                               minLeftLevel: Int = Sid.MaxLevel,
                               allCells: Array[Long] = Array.emptyLongArray,
                               levelHist: Map[Int, Long])

  /** Exact minimum sid level of a frame (one narrow aggregation job);
    * Sid.MaxLevel for an empty frame, which no level bound constrains. */
  private def minSidLevel(df: DataFrame, sid: String): Int = {
    val r = df.agg(min(stareLevel(col(sid)))).collect()(0)
    if (r.isNullAt(0)) Sid.MaxLevel else r.getLong(0).toInt
  }

  /** Estimate per-cell point counts from a sample of the left side and
    * split cells whose projected population exceeds `maxRowsPerCell`.
    *
    * Depth selection follows ACTUAL sampled descendant counts, not a
    * uniform-quartering assumption: real hot spots (cities) concentrate
    * in a corner of a coarse cell, so est/4-per-child systematically
    * under-descends — one child inherits nearly everything and the
    * reducer still melts (round-2's split demo lost partly for this).
    * Once the hot cells are known (first sample pass at the cover-cell
    * levels), a second pass over the same (cached) sample counts their
    * descendants at every candidate split level, and each parent splits
    * to the ONE uniform depth at which its heaviest sampled descendant
    * fits the cap (see the uniformChildren comment for why mixed
    * depths backfire on the left shuffle).
    *
    * Split depth is capped at the EXACT minimum left-side sid level
    * (one narrow aggregation): a left sid coarser than a split cell
    * would derive no key at the cell's level and silently lose its
    * match — the cap keeps the rewrite bit-identical for any input. */
  def splitHotCellsWithSpec(left: DataFrame, leftSid: String,
                            right: DataFrame, rightSids: String,
                            maxRowsPerCell: Long, sampleFraction: Double = 0.01,
                            maxExtraLevels: Int = 6,
                            knownMinLeftLevel: Option[Int] = None,
                            wallClockGate: Boolean = true): SplitResult = {
    // per-cell sample counts (cells normalized at own level). The
    // groupBy also yields the exploded (row, cell) PAIR count — the
    // quantity the join actually shuffles/broadcasts (a distinct-cell
    // count under-sizes a many-row cover side sharing few cells).
    val cellRows = right.select(explode(coverCells(col(rightSids))).as("c"))
      .select(stareClearToOwn(col("c")).as("c")).groupBy("c").count().collect()
    val cells = cellRows.map(_.getLong(0))
    val rightPairCount = cellRows.map(_.getLong(1)).sum
    val levels = cells.map(Sid.level).distinct.sorted
    // the keyed cells' level histogram, from the same per-cell counts
    def levelHist(plan: Long => Seq[Long]): Map[Int, Long] =
      cellRows.toSeq.flatMap(r => plan(r.getLong(0)).map(c => Sid.level(c) -> r.getLong(1)))
        .groupMapReduce(_._1)(_._2)(_ + _)
    // callers that KNOW their point level (e.g. a level-26 indexed
    // table) pass it and skip the exact full-scan guard
    val minLeftLevel = knownMinLeftLevel.getOrElse(minSidLevel(left, leftSid))
    // persist the (small) sample: phase A and phase B both read it, and
    // an uncached sample re-SCANS THE FULL LEFT SIDE per phase — at any
    // scale the whole point of sampling is to pay the wide scan once
    val sample = left.sample(withReplacement = false, sampleFraction, seed = 42)
      .select(col(leftSid).as("s")).persist()
    val keyed = sample.withColumn("k", explode(StareJoin.ancestorKeys(col("s"), levels)))
    val cellSet = cells.toSet
    val isCell = udf((k: Long) => cellSet.contains(k))
    val counts = keyed.filter(isCell(col("k"))).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scale = 1.0 / sampleFraction

    // ---- cost gate: engage splitting only when it can actually win ----
    // (round-2 lesson: at bench scale the split demonstration LOST — the
    // rewrite is pure overhead whenever no reducer melts in the first
    // place). All inputs to the decision are already on the driver.
    def skip(reason: String): SplitResult = {
      sample.unpersist(false)
      System.err.println(s"[skew] split skipped: no projected win — $reason")
      SplitResult(right, coverCells(col(rightSids)), Seq.empty, levels, Some(reason), minLeftLevel, cells,
        levelHist = levelHist(Seq(_)))
    }
    val budgets = Budgets(left.sparkSession)
    // (1) a cover-key side under the broadcast threshold never shuffles
    // the point side by key: there is no reducer to melt.
    if (budgets.broadcastFits(rightPairCount * Budgets.PairBytes))
      return skip(s"cover side (~$rightPairCount exploded (row, cell) pairs) fits the " +
        "broadcast threshold; the join has no per-key shuffle")
    // (2) the hottest cell must exceed the per-cell cap AND dominate a
    // fair reducer share by enough to beat the re-key overhead: a key
    // within ~2x the average reducer load doesn't bound the stage.
    val estHot = counts.valuesIterator.maxOption.getOrElse(0L) * scale
    val estTotal = counts.valuesIterator.sum * scale
    val shufflePartitions = budgets.shufflePartitions
    val fairShare = estTotal / math.max(1, shufflePartitions)
    if (estHot <= maxRowsPerCell)
      return skip(f"hottest cell ~${estHot}%.0f rows <= maxRowsPerCell=$maxRowsPerCell")
    if (estHot <= 2.0 * fairShare)
      return skip(f"hottest cell ~${estHot}%.0f rows is within 2x the fair " +
        f"reducer share (~$fairShare%.0f of ~$estTotal%.0f matched rows over " +
        f"$shufflePartitions partitions); reducers are already balanced")
    // (3) wall-clock projection (r3 verdict item 6): a melted reducer
    // that only bounds the stage by a couple of seconds cannot repay the
    // split machinery's fixed overhead (sampling jobs + cover rewrite +
    // gated key derivation — ~4 s measured at the r3 sub-threshold bench,
    // where the split won max-task but tied/lost wall). Projected saving
    // = the melt the hot reducer carries beyond its fair share, at the
    // measured reducer sort rate (~2M rows/s, BENCH.md). Mechanism/unit
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

    // Phase B: descendant counts of the HOT cells only, from the same
    // sample — one more narrow job over hot-membership rows. The
    // recursion then descends where mass actually sits instead of
    // assuming each level quarters the population.
    val hotCells = cells.filter(c => counts.getOrElse(c, 0L) * scale > maxRowsPerCell)
    val childCounts: Map[Long, Long] = {
      val hotByLevel = hotCells.groupBy(Sid.level)
      val candLevels = hotCells.flatMap { c =>
        val l = Sid.level(c)
        (l + 1) to math.min(l + maxExtraLevels, math.min(minLeftLevel, Sid.MaxLevel))
      }.distinct.sorted
      if (hotCells.isEmpty || candLevels.isEmpty) Map.empty
      else {
        // membership via a broadcast-in-closure Set UDF, NOT an
        // OR-of-isin expression chain: thousands of hot cells would
        // balloon the expression tree / generated code (64KB method
        // limit), while a hash probe per level stays O(1) in plan size
        val hotSets: Array[(Int, Set[Long])] =
          hotByLevel.map { case (l, cs) => (l, cs.toSet) }.toArray
        val inHotUdf = udf((s: Long) => {
          var i = 0
          var found = false
          while (i < hotSets.length && !found) {
            val (l, set) = hotSets(i)
            found = Sid.level(s) >= l && set((s & Sid.clearMask(l)) | l.toLong)
            i += 1
          }
          found
        })
        sample.filter(inHotUdf(col("s")))
          .withColumn("k", explode(StareJoin.ancestorKeys(col("s"), candLevels)))
          .groupBy("k").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    }
    sample.unpersist(false)

    // The split plan, fully decided on the driver from actual counts.
    //
    // UNIFORM depth per parent — one level for all of a parent's
    // children, the smallest whose heaviest SAMPLED descendant fits the
    // cap. A mixed-depth plan (split only the heavy child deeper) looks
    // cheaper on the right side but multiplies the LEFT shuffle: every
    // hot row must emit one candidate key per distinct child level
    // (only one finds a partner; the rest are shuffled dead weight) —
    // measured 2x max-task REGRESSION at 8M rows when phase-B descended
    // to 3 mixed levels. Uniform depth emits exactly ONE gated key per
    // hot row: split shuffle volume equals no-split, and the extra
    // right-side rows (≤ 4^depth tiny cells per parent) are free.
    def uniformChildren(cell: Long): Seq[Long] = {
      val l = Sid.level(cell)
      val maxLv = math.min(l + maxExtraLevels, math.min(minLeftLevel, Sid.MaxLevel))
      if (counts.getOrElse(cell, 0L) * scale <= maxRowsPerCell || maxLv <= l) Seq(cell)
      else {
        val lv = ((l + 1) to maxLv).find { v =>
          val heaviest = Sid.expandToLevel(Array(cell), v).iterator
            .map(c => childCounts.getOrElse(c, 0L)).max
          heaviest * scale <= maxRowsPerCell
        }.getOrElse(maxLv)
        Sid.expandToLevel(Array(cell), lv).toSeq
      }
    }
    val plan: Map[Long, Seq[Long]] = cells.map(cell => cell -> uniformChildren(cell)).toMap
    val parents = plan.collect {
      case (cell, children) if children != Seq(cell) =>
        SplitParent(cell, Sid.level(cell), children.map(Sid.level).distinct.sorted.toArray)
    }.toSeq.sortBy(_.cell)
    val keptLevels = plan.collect {
      case (cell, children) if children == Seq(cell) => Sid.level(cell)
    }.toArray.distinct.sorted

    val rewriteUdf = udf((cells: Seq[Long]) =>
      cells.flatMap(c => plan.getOrElse(Sid.clearToLevel(c), Seq(Sid.clearToLevel(c)))))
    val splitCells = rewriteUdf(coverCells(col(rightSids)))
    SplitResult(right.withColumn(rightSids, splitCells), splitCells, parents, keptLevels,
      minLeftLevel = minLeftLevel, allCells = cells, levelHist = levelHist(plan))
  }

  /** Shuffle-path spatial join for cover sides too large to broadcast:
    * sort-merge/shuffled-hash equi-join on the prefix keys with AQE skew
    * splitting enabled, optionally after exact hot-cell splitting.
    * Same pair semantics and output contract (suffixes, `key_right`,
    * column order) as StareJoin.pointJoin, for how = inner | left. Each
    * left row keys ONCE, by pointJoin's ladder rule (StareJoin.Ladder),
    * against the keyed cover side pointJoin builds too
    * (StareJoin.keyedCover: whole right rows exploded over their rungs),
    * so every inner join and every left join without an applied split
    * takes one shape, a single-exchange keyed join. A left join takes the
    * pair/join-back only in two cases, where a row has several candidate
    * keys: an applied hot-cell split whose children are finer than the
    * finest kept level (gated keys), and a ladder over `RebaseKeys` (one
    * key per cover level).
    *
    * `knownMinLeftLevel`, as for pointJoin: the ladder's rungs start at
    * the declared level (one rung per cell at or above the finest kept
    * level, and the per-row guard folds away). Without it they start at
    * the coarsest keyed level; only a hot-cell split measures the left
    * side, in one aggregation job that caps its depth.
    *
    * The cover side is sized once (StareJoin.CoverSide): a LocalRelation,
    * or a side whose bounded probe holds every row, gives its level
    * histogram and row width with no further job; a larger side pays one
    * histogram job, unless a hot-cell split already counted its cells.
    * Its keyed rows are sized by keys x mean row width. Row ids are packed
    * stable ids (StareJoin.withStableId): nothing stays cached after the
    * query completes. */
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
    val splitRes = splitHot
      .map(t => splitHotCellsWithSpec(left, leftSid, right, rightSids, t,
        knownMinLeftLevel = knownMinLeftLevel, wallClockGate = wallClockGate))
    val parents = splitRes.map(_.parents).getOrElse(Seq.empty)
    // level histogram of the keyed right cells: feeds the kept level set
    // AND the ladder's size; the split counted it, else the measured side
    val levelHist: Map[Int, Long] = splitRes.map(_.levelHist).getOrElse(side.levelHist)
    val keptLevels: Array[Int] = splitRes.map(_.keptLevels)
      .getOrElse(levelHist.keys.toArray.sorted)
    // ---- the ladder (StareJoin.Ladder), pointJoin's key rule: every
    // keyed cell coarser than the finest KEPT level `to` becomes its
    // rungs up to `to`, and each left row derives ONE base key. Keying
    // each cover level instead multiplies the big side's shuffle by
    // |levels| (measured 4-5x at the skew bench), and a left join with
    // several keys needs the pair/join-back. Split children finer than
    // `to` keep their own level and are matched by gated keys. Under a
    // split the rungs start at its exact minimum left level, which also
    // caps the split depth, so a child at or coarser than `to` has a
    // rung at every key level of the rows inside it. Only the budget
    // gates the ladder: levelHist counts every keyed cell, split children
    // included, so its size is exact.
    val ladder = Ladder(levelHist.keys, keptLevels.maxOption.getOrElse(0),
      knownMinLeftLevel.orElse(splitRes.map(_.minLeftLevel)), declared = knownMinLeftLevel.isDefined)
    val ladderKeys = ladder.size(levelHist)
    val laddered = ladderKeys <= Budgets.RebaseKeys
    // over its budget, or with one rung per cell, a cell is its own key
    val keying = Option.when(laddered && !levelHist.keys.forall(_ >= ladder.to))(ladder)
    // The keyed cover side: whole right rows with ids, exploded over
    // their keys. Only the keys see split cells; the rows keep their
    // ORIGINAL covers. Its (rid, key) pairs are a projection of it.
    val rightRows = StareJoin.withStableId(right, "key_right")
    val keyed = StareJoin.keyedCover(rightRows,
      splitRes.fold(coverCells(col(rightSids)))(_.cells), keying)
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
    val budgets = Budgets(left.sparkSession)
    val keyedRightRows: Long = if (laddered) ladderKeys else levelHist.valuesIterator.sum
    val estKeyedBytes = keyedRightRows * Budgets.PairBytes
    // The right ROWS (payload plus the 8-byte key_right): exact when the
    // side is whole, else the probe's width times a row count bounded by
    // the keyed pair count (every non-empty cover row emits ≥ 1 pair;
    // empty-cover rows are assumed rare — they carry no join work). Only
    // a whole side's rows are broadcast: a broadcast guard must not rest
    // on that assumption.
    val rowBytesEst = side.rowBytes + 8
    val estRightRowsBytes =
      if (side.complete) rowBytesEst * side.rows.length
      else rowBytesEst * math.max(keyedRightRows, side.rows.length)
    val rowsBroadcast = side.complete && budgets.broadcastFits(estRightRowsBytes)
    // The keyed full-row side: each key carries its whole row (and its
    // key), so a few rows with giant covers are small as rows but huge
    // once keyed. Saturating, like Ladder.size.
    val keyedRowBytesEst = side.rowBytes + 16
    val estKeyedFullBytes =
      if (keyedRightRows > Long.MaxValue / keyedRowBytesEst) Long.MaxValue
      else keyedRightRows * keyedRowBytesEst
    // The base keys: the ladder key, or over its budget one key per
    // kept level. Split-child levels a base key serves get no gated
    // duplicate (a duplicate key value would double pairs); levels
    // introduced ONLY by splitting are probed under their parent's
    // membership gate, so non-hot rows never pay for them. A row lies in
    // at most one parent (cells are disjoint), so gates cannot duplicate
    // a level either.
    val baseLevels: Seq[Int] = if (laddered) ladder.from to ladder.to else keptLevels.toSeq
    def gatedLevels(p: SplitParent): Seq[Int] =
      p.childLevels.toSeq.filter(cl => if (laddered) cl > ladder.to else !keptLevels.contains(cl))
    /** base-key levels at which p's replacement children are matched */
    def served(p: SplitParent): Seq[Int] =
      if (!laddered) p.childLevels.toSeq
      else p.childLevels.toSeq.filter(_ <= ladder.to).flatMap(cl => math.max(cl, ladder.from) to ladder.to)
    // Dead base-key suppression (r6): a row inside a split parent p
    // derives, at a base-key level inside p's region that p's
    // (uniform-depth) replacement children are not keyed at, a key value
    // that matches NOTHING on the right — the parent was removed and the
    // rows match through the GATED child key. Those dead keys are
    // guaranteed-dead shuffle traffic that re-melts the very reducer
    // the split exists to relieve (measured at the melt bench: the
    // entire 21.6M-row hot population still shuffled into ONE
    // partition — via its dead rebase-level key — to match nothing;
    // that partition's probe/sort was the split leg's max task, in
    // every round since the mechanism shipped). Suppression predicate
    // per parent p, on the key's OWN level: drop the key when the row
    // lies in p (the gate test), the key level is >= p.level and none
    // of p's children is keyed at it. Applied ONLY for parents no other
    // original cover cell overlaps: an overlapping cell (e.g. a coarser
    // cell of another cover row, laddered onto the key's level) could
    // legitimately match rows inside p, and suppression would lose the
    // pair. The overlap check runs on the driver over the small
    // distinct-cell list.
    val suppressed: Seq[SplitParent] = splitRes match {
      case Some(sr) if sr.skipReason.isEmpty =>
        val all = sr.allCells
        sr.parents.filter { p =>
          val lo = Sid.intervalLo(p.cell); val hi = Sid.intervalHi(p.cell)
          !all.exists(c => c != p.cell && Sid.intervalLo(c) < hi && lo < Sid.intervalHi(c)) &&
            baseLevels.exists(lv => lv >= p.level && !served(p).contains(lv))
        }
      case _ => Seq.empty
    }
    def live(sidCol: Column, key: Column): Column =
      if (suppressed.isEmpty) key
      else when(suppressed.map { p =>
        !(stareClearTo(sidCol, p.level) === p.cell && stareLevel(key) >= p.level &&
          !stareLevel(key).isin(served(p): _*))
      }.reduce(_ && _), key)
    def keyExprsFor(sidCol: Column): Seq[Column] = {
      val base =
        if (laddered) Seq(ladder.key(sidCol))
        else keptLevels.toSeq.map(lv => when(stareLevel(sidCol) >= lv, stareClearTo(sidCol, lv)))
      val gated = parents.flatMap { p =>
        gatedLevels(p).map { lv =>
          when(stareLevel(sidCol) >= lv &&
            stareClearTo(sidCol, p.level) === p.cell,
            stareClearTo(sidCol, lv))
        }
      }
      base.map(live(sidCol, _)) ++ gated
    }
    def candidateKeys(sidCol: Column): Column =
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
          if (budgets.broadcastFits(estKeyedBytes)) broadcast(pairs)
          else if (budgets.shjFits(estKeyedBytes)) pairs.hint("shuffle_hash")
          else pairs // sort-merge: spills gracefully for huge covers
        val leftIds = StareJoin.withStableId(left, "__stare_lid")
        val matched = leftIds.select(col("__stare_lid"), candidateKeys(col(leftSid)).as(LKey))
          .join(pairsForKeyJoin, mixKey(col(LKey)) === mixKey(col(RKey)), "inner")
          .select(col("__stare_lid"), col("__rid"))
        val joined = leftIds.join(matched, Seq("__stare_lid"), "left").drop("__stare_lid")
        // the join-back sees the same stats-free lineage: without a
        // decision here it sort-merges the joined output
        val assembleRight =
          if (!rowsBroadcast && budgets.shjFits(estRightRowsBytes)) rightRows.hint("shuffle_hash")
          else rightRows
        StareJoin.assemble(joined, assembleRight, how = "left", broadcastRight = rowsBroadcast)
      case _ => // inner, or left with one candidate key
        // Single-exchange keyed join: the big side crosses at most ONE
        // exchange and the join output is final — assembling by row id
        // after the key join re-SHUFFLED the entire joined output (24M
        // rows at the bench, its single largest cost). An inner join may
        // explode each row to all its candidate keys: a non-matching key
        // simply drops out. A left join needs exactly one candidate key
        // per row (the ladder key, with no gated split levels; the
        // suppression construction adds no predicate then): with N keys
        // a row would left-join into one spurious all-null row per
        // non-matching key, while with one key a non-match is THE
        // unmatched row and a match has exact multiplicity (cells within
        // a cover row are disjoint, so one key matches at most one cell
        // per right row).
        // When both small sides fit, broadcast the (rid, key) pairs and
        // the rows separately and probe them in turn, so the big side is
        // never shuffled and the builds hold pairs + rows, not the pairs
        // x payload product (a few rows of giant covers would repeat each
        // whole cover once per cell). Otherwise the left side joins the
        // keyed full-row side directly.
        val separate = rowsBroadcast && budgets.broadcastFits(estKeyedBytes)
        StareJoin.withContract(left, leftSid, if (separate) rightRows else keyed, "key_right") { (l, lSid, r, _) =>
          val keyedL = l.withColumn(LKey,
            if (how == "inner") candidateKeys(col(lSid)) else keyExprsFor(col(lSid)).head)
          val onKey = mixKey(col(LKey)) === mixKey(col(RKey))
          if (separate)
            keyedL.join(broadcast(pairs), onKey, how)
              .join(broadcast(r), col("__rid") === col("key_right"), how)
              .drop(LKey, RKey, "__rid")
          else
            keyedL.join(if (budgets.shjFits(estKeyedFullBytes)) r.hint("shuffle_hash")
                        else r, // sort-merge: spills gracefully over the cap
              onKey, how)
              .drop(LKey, RKey)
        }
    }
  }
}
