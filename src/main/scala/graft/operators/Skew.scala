package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Sid
import graft.functions.StareFunctions._

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

  /** `keptLevels` = levels of cells kept whole (probed unconditionally);
    * split-child levels NOT in keptLevels are probed only under their
    * parent's gate. `skipReason` is set when the cost gate decided
    * splitting cannot win (right is returned unchanged, parents empty).
    * `minLeftLevel` = the exact minimum left-side sid level the spec was
    * computed against — callers (shuffleJoin's uniform rebase) reuse it
    * instead of re-aggregating the left side. */
  final case class SplitResult(right: DataFrame, parents: Seq[SplitParent],
                               keptLevels: Array[Int], skipReason: Option[String] = None,
                               minLeftLevel: Int = Sid.MaxLevel,
                               allCells: Array[Long] = Array.emptyLongArray)

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
                            wallClockGate: Boolean = true,
                            assumedReduceRowsPerSec: Double = Double.NaN,
                            assumedFixedOverheadSec: Double = Double.NaN): SplitResult = {
    // per-cell sample counts (cells normalized at own level). The
    // groupBy also yields the exploded (row, cell) PAIR count — the
    // quantity the join actually shuffles/broadcasts (a distinct-cell
    // count under-sizes a many-row cover side sharing few cells).
    val cellRows = right.select(explode(stareCompress(col(rightSids))).as("c"))
      .select(stareClearToOwn(col("c")).as("c")).groupBy("c").count().collect()
    val cells = cellRows.map(_.getLong(0))
    val rightPairCount = cellRows.map(_.getLong(1)).sum
    val levels = cells.map(Sid.level).distinct.sorted
    // callers that KNOW their point level (e.g. a level-26 indexed
    // table) pass it and skip the exact full-scan guard
    val minLeftLevel = knownMinLeftLevel.getOrElse(
      left.agg(min(stareLevel(col(leftSid)))).collect()(0) match {
        case r if r.isNullAt(0) => Sid.MaxLevel // empty left: cap is irrelevant
        case r                  => r.getLong(0).toInt
      })
    // persist the (small) sample: phase A and phase B both read it, and
    // an uncached sample re-SCANS THE FULL LEFT SIDE per phase — at any
    // scale the whole point of sampling is to pay the wide scan once
    val sample = left.sample(withReplacement = false, sampleFraction, seed = 42)
      .select(col(leftSid).as("s")).persist()
    val keyed = sample.withColumn("k", explode(filter(
      array(levels.map(l => when(stareLevel(col("s")) >= l, stareClearTo(col("s"), l))): _*),
      c => c.isNotNull)))
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
      SplitResult(right, Seq.empty, levels, Some(reason), minLeftLevel, cells)
    }
    val conf = left.sparkSession.conf
    // (1) a cover-key side under the broadcast threshold never shuffles
    // the point side by key: there is no reducer to melt. ~32 B per
    // exploded (rid, key) pair mirrors Catalyst's sizing order.
    val bcastThreshold = {
      val raw = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
      try { if (raw.startsWith("-")) -1L
            else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw) }
      catch { case _: Exception => 10485760L }
    }
    if (bcastThreshold > 0 && rightPairCount * 32 <= bcastThreshold)
      return skip(s"cover side (~$rightPairCount exploded (row, cell) pairs) fits the " +
        "broadcast threshold; the join has no per-key shuffle")
    // (2) the hottest cell must exceed the per-cell cap AND dominate a
    // fair reducer share by enough to beat the re-key overhead: a key
    // within ~2x the average reducer load doesn't bound the stage.
    val estHot = counts.valuesIterator.maxOption.getOrElse(0L) * scale
    val estTotal = counts.valuesIterator.sum * scale
    val shufflePartitions =
      try conf.get("spark.sql.shuffle.partitions", "200").toInt catch { case _: Exception => 200 }
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
    // clock pass wallClockGate = false. The rate/overhead constants are
    // host-dependent (ours come from the bench box, BENCH.md): a
    // deployment with slower reducers sets the conf keys below so an
    // explicit splitHot request doesn't silently no-op where a
    // sub-4s-projected melt is in fact material (ADVICE r5).
    if (wallClockGate) {
      def confDouble(key: String, fallback: Double): Double =
        try conf.get(key, fallback.toString).toDouble catch { case _: Exception => fallback }
      val reduceRowsPerSec =
        if (assumedReduceRowsPerSec.isNaN)
          confDouble("spark.graft.skew.reduceRowsPerSec", 2e6)
        else assumedReduceRowsPerSec
      val fixedOverheadSec =
        if (assumedFixedOverheadSec.isNaN)
          confDouble("spark.graft.skew.splitOverheadSec", 4.0)
        else assumedFixedOverheadSec
      val projectedSaveSec = (estHot - fairShare) / reduceRowsPerSec
      if (projectedSaveSec <= fixedOverheadSec)
        return skip(f"projected wall-clock saving ~$projectedSaveSec%.1f s " +
          f"((hot ~${estHot}%.0f - fair ~$fairShare%.0f rows) / " +
          f"${reduceRowsPerSec}%.0f rows/s) does not cover the " +
          f"~$fixedOverheadSec%.1f s fixed split overhead")
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
          .withColumn("k", explode(filter(
            array(candLevels.map(lv =>
              when(stareLevel(col("s")) >= lv, stareClearTo(col("s"), lv))): _*),
            c => c.isNotNull)))
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

    val rewriteUdf = udf((sids: Seq[Long]) => {
      val canon = Sid.compress(sids.toArray)
      canon.flatMap(c => plan.getOrElse(Sid.clearToLevel(c), Seq(Sid.clearToLevel(c))))
    })
    SplitResult(right.withColumn(rightSids, rewriteUdf(col(rightSids))), parents, keptLevels,
      minLeftLevel = minLeftLevel, allCells = cells)
  }

  /** Back-compat wrapper returning only the rewritten cover frame.
    * Defaults forward to splitHotCellsWithSpec's (an explicit shallower
    * maxExtraLevels here silently under-split for wrapper callers). */
  def splitHotCells(left: DataFrame, leftSid: String,
                    right: DataFrame, rightSids: String,
                    maxRowsPerCell: Long, sampleFraction: Double = 0.01,
                    maxExtraLevels: Int = 6,
                    wallClockGate: Boolean = true): DataFrame =
    splitHotCellsWithSpec(left, leftSid, right, rightSids,
      maxRowsPerCell, sampleFraction, maxExtraLevels,
      wallClockGate = wallClockGate).right

  /** Shuffle-path spatial join for cover sides too large to broadcast:
    * sort-merge/shuffled-hash equi-join on the prefix keys with AQE skew
    * splitting enabled, optionally after exact hot-cell splitting.
    * Same pair semantics and output contract (suffixes, `key_right`,
    * column order) as StareJoin.pointJoin, for how = inner | left.
    *
    * Row ids come from deterministic zipWithIndex (StareJoin.withStableId)
    * instead of persist + monotonically_increasing_id: nothing stays
    * cached after the query completes. */
  def shuffleJoin(left: DataFrame, leftSid: String, right: DataFrame, rightSids: String,
                  splitHot: Option[Long] = None, how: String = "inner",
                  knownMinLeftLevel: Option[Int] = None,
                  wallClockGate: Boolean = true): DataFrame = {
    // ids first, split-rewrite second: the assembled output carries the
    // ORIGINAL cover rows; only the join-key derivation sees split cells
    val rightRows = StareJoin.withStableId(right, "key_right")
    val splitRes = splitHot
      .map(t => splitHotCellsWithSpec(left, leftSid, rightRows, rightSids, t,
        knownMinLeftLevel = knownMinLeftLevel, wallClockGate = wallClockGate))
    val rKeySource = splitRes.map(_.right).getOrElse(rightRows)
    // did the rewrite actually run, or did the cost gate skip it?
    val splitApplied = splitRes.exists(_.skipReason.isEmpty)
    // CRITICAL: a split cover must NOT be re-compressed — compress
    // canonically merges the four split siblings straight back into the
    // hot parent, silently undoing the split (round-1 latent bug: the
    // old code compressed unconditionally, so splitting never actually
    // reached the join keys). The rewrite UDF already compresses its
    // input and emits normalized disjoint cells. A gate-skipped cover is
    // untouched and still needs the canonical compress.
    val cellsCol = if (splitApplied) col(rightSids) else stareCompress(col(rightSids))
    val rightKeyed = rKeySource
      .select(col("key_right").as("__rid"), explode(cellsCol).as("__rs"))
      .withColumn("__rk", stareClearToOwn(col("__rs")))
      .select(col("__rid"), col("__rk"))
    val parents = splitRes.map(_.parents).getOrElse(Seq.empty)
    // level histogram of the keyed right cells: feeds the base level
    // set AND the uniform-rebase budget in one small job (previously a
    // distinct-only collect).
    val levelHist: Map[Int, Long] = rightKeyed
      .groupBy(stareLevel(col("__rk")).as("__l")).count()
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val keptLevels: Array[Int] = splitRes.map(_.keptLevels)
      .getOrElse(levelHist.keys.toArray.sorted)
    // ---- uniform-level rebase: the pointJoin dictionary lesson applied
    // to the shuffle path. A multi-level cover makes every left row
    // derive one key PER COVER LEVEL — the big side's shuffle volume
    // multiplies by |levels| (measured 4-5x at the skew bench, where it
    // dwarfed the reducer melt the bench exists to show). Expanding
    // every kept cell to the finest ELIGIBLE level multiplies only the
    // small keyed right side (budget-gated) and each left row derives
    // ONE base key per remaining base level. Pair multiplicity is
    // unchanged: cells are disjoint, so a row's covering cell expands
    // to exactly the one uniform cell that still covers it.
    //
    // The target is capped at the exact minimum LEFT sid level (ADVICE
    // r4 HIGH): a left row with sid level >= a cover cell's level but
    // < target matched that cell via its base-level key before the
    // rebase; expanding the cell past the row's own level would leave
    // the row keyless (when(stareLevel >= target) -> null) and silently
    // drop the pair. Cells FINER than the capped target keep their own
    // base levels (they can only match left rows at least that fine,
    // which the per-level guard already expresses).
    val rebaseBudget = 16L * 1024 * 1024
    // saturating cost of expanding every keyed cell below `target` up to
    // `target` — over ALL levels present in the keyed right frame
    // (levelHist includes SPLIT-CHILD cells, which the rebase UDF also
    // expands; budgeting only the kept levels would admit an expansion
    // orders of magnitude over budget through the children). levelHist
    // counts exploded (row, cell) pairs (unbounded), and a wide level
    // spread shifts far past 62 bits — an overflowed (negative) sum must
    // read as "infinite cost", not as a budget pass.
    def rebaseCostTo(target: Int): Long =
      levelHist.keysIterator.filter(_ < target).foldLeft(0L) { (acc, l) =>
        val shift = 2 * (target - l)
        val cnt = levelHist.getOrElse(l, 0L)
        val cellCost =
          if (shift >= 62 || (shift > 0 && cnt > (Long.MaxValue >> shift))) Long.MaxValue
          else cnt << shift
        val sum = acc + cellCost
        if (sum < acc) Long.MaxValue else sum // addition overflow -> saturate
      }
    // cheapest conceivable rebase: collapse only the two coarsest keyed
    // levels (the smallest shift any useful target could need). If even
    // that exceeds the budget, NO target can pass — skip the min-level
    // fallback scan entirely (it is a full pass over the left sid column)
    val sortedKept = keptLevels.sorted
    val anyTargetCanFit = sortedKept.length > 1 && {
      val minimal = rebaseCostTo(sortedKept(1))
      minimal <= rebaseBudget
    }
    val minLeftLevel: Int = knownMinLeftLevel
      .orElse(splitRes.map(_.minLeftLevel))
      .getOrElse {
        if (!anyTargetCanFit) Sid.MaxLevel // rebase hopeless: cap is moot
        else left.agg(min(stareLevel(col(leftSid)))).collect()(0) match {
          case r if r.isNullAt(0) => Sid.MaxLevel
          case r                  => r.getLong(0).toInt
        }
      }
    val target = math.min(if (keptLevels.isEmpty) 0 else keptLevels.max, minLeftLevel)
    val rebaseCost = rebaseCostTo(target)
    val rebased = keptLevels.count(_ <= target) > 1 && rebaseCost <= rebaseBudget
    val rightKeyedFinal =
      if (!rebased) rightKeyed
      else {
        val rebase = udf((c: Long) =>
          if (Sid.level(c) < target) Sid.expandToLevel(Array(c), target) else Array(c))
        rightKeyed.withColumn("__rk", explode(rebase(col("__rk"))))
      }
    // ---- join-strategy choice (r6, guide §3.1): the keyed right side
    // is (rid, key) pairs whose EXACT row count we already hold
    // (levelHist + the rebase expansion), but its lineage passes
    // through withStableId's RDD round trip, which erases size stats —
    // Catalyst then plans EVERY join here as a sort-merge join, even
    // for an 8-row cover table (measured: 7 SMJs in the q43 plan), and
    // at bench scale the 24M-row point side pays a full sort. Decide
    // deliberately from the known count: broadcast when the keyed side
    // fits the session's broadcast threshold (the left side is then
    // never shuffled at all); otherwise force a shuffled-hash join
    // (build = the small keyed side) so the big side streams instead
    // of sorting; fall back to sort-merge only when the per-partition
    // build could be large (conf spark.graft.join.shjMaxBuildBytesPerPartition).
    val keyedRightRows: Long =
      if (!rebased) levelHist.valuesIterator.sum
      else rebaseCost + levelHist.iterator.collect { case (l, n) if l >= target => n }.sum
    val estKeyedBytes = keyedRightRows * 32L // (rid, key) pair, Catalyst-order sizing
    val bcastThreshold = {
      val raw = left.sparkSession.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
      try { if (raw.startsWith("-")) -1L
            else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw) }
      catch { case _: Exception => 10485760L }
    }
    val shufflePartitions =
      try left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
      catch { case _: Exception => 200 }
    val shjBuildCap = {
      val raw = left.sparkSession.conf
        .get("spark.graft.join.shjMaxBuildBytesPerPartition", (64L * 1024 * 1024).toString)
      try raw.toLong catch { case _: Exception => 64L * 1024 * 1024 }
    }
    val rightForKeyJoin =
      if (bcastThreshold > 0 && estKeyedBytes <= bcastThreshold)
        org.apache.spark.sql.functions.broadcast(rightKeyedFinal)
      else if (estKeyedBytes / math.max(1, shufflePartitions) <= shjBuildCap)
        rightKeyedFinal.hint("shuffle_hash")
      else rightKeyedFinal // sort-merge: spills gracefully for huge covers
    // The assemble join-back (joined ⋈ rightRows on the row id) sees the
    // same stats-free lineage, so without a decision here it sort-merges
    // — at the 24M-row shuffle bench that sort of the JOINED output was
    // the single largest remaining cost. Size the right ROWS (payload
    // included) from one bounded probe: row count is bounded by the
    // keyed pair count (every non-empty cover row emits ≥ 1 pair;
    // empty-cover rows are assumed rare — they carry no join work).
    // Strategy honors the session broadcast threshold (the skew bench
    // disables broadcasting precisely to model a beyond-broadcast cover
    // side), falling back to shuffled-hash under the build cap.
    val assembleProbeN = 4096
    val rightProbe = rightRows.limit(assembleProbeN + 1).collect()
    val rowBytesEst = StareJoin.approxRowBytes(rightProbe)
    val estRightRowsBytes =
      if (rightProbe.length <= assembleProbeN) rowBytesEst * rightProbe.length
      else rowBytesEst * math.max(keyedRightRows, rightProbe.length)
    val (assembleRight, assembleBroadcast) =
      if (bcastThreshold > 0 && estRightRowsBytes <= bcastThreshold) (rightRows, true)
      else if (estRightRowsBytes / math.max(1, shufflePartitions) <= shjBuildCap)
        (rightRows.hint("shuffle_hash"), false)
      else (rightRows, false)
    // base levels probed unconditionally; split-child levels already in
    // the base set are matched by the base key (no gated duplicate — a
    // duplicate key value would double pairs); levels introduced ONLY
    // by splitting are probed under their parent's membership gate, so
    // non-hot rows never pay for them. A row lies in at most one parent
    // (cells are disjoint), so gates cannot duplicate a level either.
    // Under a rebase, child cells at/below the target were expanded to
    // the target like any kept cell, so only deeper-than-target child
    // levels (not already covered by a finer-than-target base level)
    // keep their gates.
    val baseLevels: Array[Int] =
      if (rebased) (target +: keptLevels.filter(_ > target)).distinct.sorted else keptLevels
    val baseSet = baseLevels.toSet
    // Dead base-key suppression (r6): a row inside a split parent p
    // derives, at every base level inside p's region that p's
    // (uniform-depth) replacement children do not serve, a key value
    // that matches NOTHING on the right — the parent was removed, its
    // children key at their own (or rebase-expanded) level, and the
    // rows match through the GATED child key. Those dead keys are
    // guaranteed-dead shuffle traffic that re-melts the very reducer
    // the split exists to relieve (measured at the melt bench: the
    // entire 21.6M-row hot population still shuffled into ONE
    // partition — via its dead rebase-level key — to match nothing;
    // that partition's probe/sort was the split leg's max task, in
    // every round since the mechanism shipped). Suppression predicate
    // per (base level lv, parent p): drop the key when the row lies in
    // p (the gate test) and lv >= p.level and lv != p's effective
    // child level. Applied ONLY for parents no other original cover
    // cell overlaps: an overlapping cell (e.g. a coarser cell of
    // another cover row, rebase-expanded onto lv) could legitimately
    // match rows inside p, and suppression would lose the pair. The
    // overlap check runs on the driver over the small distinct-cell list.
    val suppressByLevel: Map[Int, Seq[SplitParent]] = splitRes match {
      case Some(sr) if sr.skipReason.isEmpty =>
        val all = sr.allCells
        val safe = sr.parents.filter { p =>
          val lo = Sid.intervalLo(p.cell); val hi = Sid.intervalHi(p.cell)
          !all.exists(c => c != p.cell &&
            Sid.intervalLo(c) < hi && lo < Sid.intervalHi(c))
        }
        baseLevels.toSeq.map { lv =>
          lv -> safe.filter { p =>
            // uniform split depth => one child level per parent
            val ecl = p.childLevels.map(cl => if (rebased && cl <= target) target else cl)
            lv >= p.level && !ecl.contains(lv)
          }
        }.filter(_._2.nonEmpty).toMap
      case _ => Map.empty
    }
    if (sys.env.contains("GRAFT_SKEW_DEBUG")) {
      System.err.println(s"[skewdbg] keptLevels=${keptLevels.mkString(",")} rebased=$rebased " +
        s"target=$target baseLevels=${baseLevels.mkString(",")} " +
        s"parents=${parents.map(p => s"${java.lang.Long.toHexString(p.cell)}@L${p.level}->" +
          p.childLevels.mkString("/")).mkString(";")} " +
        s"suppress=${suppressByLevel.map { case (l, ps) => s"L$l:${ps.size}" }.mkString(",")} " +
        s"levelHist=${levelHist.toSeq.sorted.mkString(",")}")
    }
    def keyExprsFor(sidCol: Column): Seq[Column] = {
      val base = baseLevels.toSeq.map { lv =>
        val k = stareClearTo(sidCol, lv)
        var cond = stareLevel(sidCol) >= lv
        suppressByLevel.getOrElse(lv, Seq.empty).foreach { p =>
          cond = cond && !(stareClearTo(sidCol, p.level) === p.cell)
        }
        when(cond, k)
      }
      val gated = parents.flatMap { p =>
        p.childLevels
          .filter(lv => (!rebased || lv > target) && !baseSet.contains(lv))
          .map { lv =>
            when(stareLevel(sidCol) >= lv &&
              stareClearTo(sidCol, p.level) === p.cell,
              stareClearTo(sidCol, lv))
          }
      }
      base ++ gated
    }
    def keyedLeft(l: DataFrame): DataFrame =
      l.withColumn("__lk", explode(filter(array(keyExprsFor(col(leftSid)): _*), c => c.isNotNull)))
    // AQE's skew-join splitter still handles residual imbalance on the
    // non-broadcast strategies
    how match {
      case "inner" if !assembleBroadcast &&
        estRightRowsBytes / math.max(1, shufflePartitions) <= shjBuildCap =>
        // Full-row keyed right (r6, guide §2.3/§8): when the join-back
        // cannot broadcast, assembling by row id re-SHUFFLES the entire
        // joined output (24M rows at the bench — its single largest
        // cost). Instead, attach the right ROW COLUMNS to the small
        // keyed side BEFORE the big join (a small⋈small hash join), so
        // the big side crosses exactly ONE exchange and the join output
        // is final. The split rewrite stays confined to the key
        // derivation: rightKeyedFinal carries (rid, key) from the
        // (possibly split/rebased) cells, while the row columns come
        // from the ORIGINAL rightRows.
        val leftCols = left.columns
        val rightCols = rightRows.columns.filter(_ != "key_right")
        val clash = leftCols.toSet.intersect(rightCols.toSet)
        val l = clash.foldLeft(left)((df, c) => df.withColumnRenamed(c, c + "_left"))
        val r = clash.foldLeft(rightRows)((df, c) => df.withColumnRenamed(c, c + "_right"))
        val lSid = if (clash.contains(leftSid)) leftSid + "_left" else leftSid
        val rightFull = rightKeyedFinal
          .join(r.hint("shuffle_hash"), col("__rid") === col("key_right"), "inner")
          .drop("__rid")
        // key expressions rebuilt against the (possibly clash-renamed)
        // left sid column
        val keyedLeftFull =
          l.withColumn("__lk", explode(filter(array(keyExprsFor(col(lSid)): _*), c => c.isNotNull)))
        val out = keyedLeftFull
          .join(rightFull.hint("shuffle_hash"), StareJoin.mixKey(col("__lk")) === StareJoin.mixKey(col("__rk")), "inner")
          .drop("__lk", "__rk")
        // column order contract: left columns, key_right, right columns
        val ordered = l.columns.filter(_ != "__lk").map(out(_)) ++
          Array(out("key_right")) ++ r.columns.filter(_ != "key_right").map(out(_))
        out.select(ordered.toIndexedSeq: _*)
      case "inner" =>
        val joined = keyedLeft(left).join(rightForKeyJoin, StareJoin.mixKey(col("__lk")) === StareJoin.mixKey(col("__rk")), "inner")
          .drop("__lk", "__rk")
        StareJoin.assemble(joined, assembleRight, how = "inner", broadcastRight = assembleBroadcast)
      case "left" if keyExprsFor(col(leftSid)).size == 1 =>
        // Single candidate key per left row (the post-rebase common
        // case: one uniform base level, no gated split levels, and —
        // provably, see the suppression construction — no suppression
        // predicates either): a DIRECT left equi-join is exact. The
        // pair/join-back shape below exists because a row exploded to
        // N candidate keys left-joins into one spurious all-null row
        // per non-matching key; with exactly one key a non-match is
        // THE unmatched row and a match has exact multiplicity (cells
        // within a cover row are disjoint, so one key matches at most
        // one cell per right row). Collapses three passes over the big
        // side (key join + id join-back + assemble) into ONE — q43's
        // cold sweep cost roughly halves, and at scale the big side
        // crosses exactly one exchange like the inner full-row path.
        val leftCols = left.columns
        val rightCols = rightRows.columns.filter(_ != "key_right")
        val clash = leftCols.toSet.intersect(rightCols.toSet)
        val l = clash.foldLeft(left)((df, c) => df.withColumnRenamed(c, c + "_left"))
        val r = clash.foldLeft(rightRows)((df, c) => df.withColumnRenamed(c, c + "_right"))
        val lSid = if (clash.contains(leftSid)) leftSid + "_left" else leftSid
        val keyedL = l.withColumn("__lk", keyExprsFor(col(lSid)).head)
        val out =
          if (assembleBroadcast && bcastThreshold > 0 && estKeyedBytes <= bcastThreshold) {
            // both small sides fit: broadcast the (rid, key) pairs and the
            // rows separately and probe them in turn, so the big side is
            // never shuffled and the builds hold pairs + rows, not the
            // pairs x payload product (a few rows of giant covers would
            // repeat each whole cover once per cell)
            keyedL
              .join(org.apache.spark.sql.functions.broadcast(rightKeyedFinal),
                StareJoin.mixKey(col("__lk")) === StareJoin.mixKey(col("__rk")), "left")
              .join(org.apache.spark.sql.functions.broadcast(r), col("__rid") === col("key_right"), "left")
              .drop("__lk", "__rk", "__rid")
          } else {
            // small x small build: broadcast the row side when it fits (two
            // exchanges saved at fixed cost; same output either way)
            val rBuild =
              if (assembleBroadcast) org.apache.spark.sql.functions.broadcast(r)
              else r.hint("shuffle_hash")
            val rightFullPlain = rightKeyedFinal
              .join(rBuild, col("__rid") === col("key_right"), "inner")
              .drop("__rid")
            // The full-row keyed side has keyedRightRows rows, each carrying
            // the whole right payload: a few rows with giant covers are
            // small as rows but huge once keyed. Saturating, like
            // rebaseCostTo.
            val estRightFullBytes =
              if (keyedRightRows > Long.MaxValue / rowBytesEst) Long.MaxValue
              else keyedRightRows * rowBytesEst
            val rightFull =
              if (estRightFullBytes / math.max(1, shufflePartitions) <= shjBuildCap)
                rightFullPlain.hint("shuffle_hash")
              else rightFullPlain // sort-merge: spills gracefully over the cap
            keyedL
              .join(rightFull, StareJoin.mixKey(col("__lk")) === StareJoin.mixKey(col("__rk")), "left")
              .drop("__lk", "__rk")
          }
        val ordered = l.columns.filter(_ != "__lk").map(out(_)) ++
          Array(out("key_right")) ++ r.columns.filter(_ != "key_right").map(out(_))
        out.select(ordered.toIndexedSeq: _*)
      case "left" =>
        // pair ids first (cover cells are disjoint after compression, so
        // pairs are already unique), then re-attach unmatched left rows.
        // The pairs join-back (not a direct left join) is load-bearing
        // here: with multiple candidate key levels a direct left join
        // would emit one spurious all-null row per non-matching key.
        val leftIds = StareJoin.withStableId(left, "__stare_lid")
        val pairs = keyedLeft(leftIds.select(col("__stare_lid"), col(leftSid)))
          .join(rightForKeyJoin, StareJoin.mixKey(col("__lk")) === StareJoin.mixKey(col("__rk")), "inner")
          .select(col("__stare_lid"), col("__rid"))
        val joined = leftIds.join(pairs, Seq("__stare_lid"), "left").drop("__stare_lid")
        StareJoin.assemble(joined, assembleRight, how = "left", broadcastRight = assembleBroadcast)
      case other => throw new IllegalArgumentException(s"how=$other (inner|left)")
    }
  }
}
