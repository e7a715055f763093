package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.Sid
import graft.operators.{Skew, StareJoin}

/** Three-way join-equivalence fuzz (r4 verdict item 1): the join family's
  * safety conditions — the ladder key rule, the key budget, a split
  * request under engineered skew — are individually regression-tested; this suite
  * fuzzes them JOINTLY over random mixed-level covers × random point/cover
  * level mixes × how ∈ {inner, left}, asserting
  *
  *   pointJoin ≡ Skew.shuffleJoin ≡ brute-force contains
  *   StareJoin.join ≡ brute-force intersects  (both directions)
  *
  * against the tiny interval reference (core/Sid.scala:58-61). Pair sets
  * are compared as exact sorted multisets of (left id, right name), so
  * duplicated pairs fail as loudly as missing ones.
  *
  * Reference contract: tools/stare_join.py:4-63 (pair semantics),
  * tests/test_join.py:77-81 (column order — covered by SparkOpsSpec).
  *
  * Semantics note: pointJoin/shuffleJoin implement the cover-contains-
  * point direction over PER-ROW COMPRESSED covers (both plans compress
  * before keying — four siblings merge into their parent, which can
  * contain a left sid at the parent's level that no raw sibling
  * contains), so the brute reference compresses too. StareJoin.join is
  * interval-intersects in either direction, which is invariant under
  * compression — its reference uses the raw cells.
  */
class JoinEquivalenceFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---------------------------------------------------------- generators

  /** random sid from raw bits: random face, random child path to `lvl`. */
  private def randomSid(r: scala.util.Random, lvl: Int): Long = {
    var loc = r.nextInt(8).toLong << 59
    var i = 1
    while (i <= lvl) { loc |= r.nextInt(4).toLong << (59 - 2 * i); i += 1 }
    loc | lvl
  }

  /** random level-`lvl` descendant of `cell` (lvl >= level(cell)). */
  private def descendantOf(r: scala.util.Random, cell: Long, lvl: Int): Long = {
    var loc = Sid.intervalLo(cell)
    var i = Sid.level(cell) + 1
    while (i <= lvl) { loc |= r.nextInt(4).toLong << (59 - 2 * i); i += 1 }
    loc | lvl
  }

  private def ancestorOf(cell: Long, lvl: Int): Long = (cell & Sid.clearMask(lvl)) | lvl

  /** covers: first row always non-empty; later rows may be empty (an
    * empty cover row must join nothing and, for how=left, contribute no
    * false unmatched rows either). */
  private def randomCovers(r: scala.util.Random): Seq[(String, Seq[Long])] = {
    val n = 2 + r.nextInt(4)
    (0 until n).map { i =>
      val cells = if (i == 0) 1 + r.nextInt(4) else r.nextInt(5)
      (s"c$i", Seq.fill(cells)(randomSid(r, 1 + r.nextInt(8))))
    }
  }

  /** left points biased toward the cover cells (equal / descendant /
    * strict ancestor) so matches, near-misses and the merged-sibling
    * containment case all occur; the rest are uniform mixed-level sids. */
  private def randomLeft(r: scala.util.Random, covers: Seq[(String, Seq[Long])],
                         n: Int): Seq[(Long, Long)] = {
    val cells = covers.flatMap(_._2)
    (0 until n).map { i =>
      val sid =
        if (cells.nonEmpty && r.nextBoolean()) {
          val cell = cells(r.nextInt(cells.size))
          val cl = Sid.level(cell)
          r.nextInt(3) match {
            case 0 => cell
            case 1 => descendantOf(r, cell, math.min(27, cl + 1 + r.nextInt(8)))
            case _ => ancestorOf(cell, r.nextInt(cl + 1))
          }
        } else randomSid(r, r.nextInt(15))
      (i.toLong, sid)
    }
  }

  // ---------------------------------------------------------- references

  /** contains direction over the compressed cover (pointJoin/shuffleJoin
    * contract). */
  private def coverContains(cover: Seq[Long], sid: Long): Boolean = {
    val comp = Sid.compress(cover.toArray)
    comp.exists(c => Sid.level(c) <= Sid.level(sid) && Sid.intersects(c, sid))
  }

  /** intersects in either direction over the raw cells (join() contract). */
  private def coversIntersect(a: Seq[Long], b: Seq[Long]): Boolean =
    a.nonEmpty && b.nonEmpty &&
      Sid.anyIntersects(a.toArray, Sid.mergedIntervals(b.toArray))

  private def expectedPairs(left: Seq[(Long, Long)], covers: Seq[(String, Seq[Long])],
                            how: String, matches: (Seq[Long], Long) => Boolean): Seq[(Long, String)] = {
    val inner = for {
      (lid, sid) <- left
      (name, cover) <- covers
      if matches(cover, sid)
    } yield (lid, name)
    val out =
      if (how == "inner") inner
      else {
        val matched = inner.map(_._1).toSet
        inner ++ left.collect { case (lid, _) if !matched(lid) => (lid, "__none") }
      }
    out.sorted
  }

  /** pointJoin took its own plan, the broadcast dictionary: the only
    * plan with a single join (every shuffleJoin shape has two or more). */
  private def dictionaryRoute(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.length == 1

  /** shuffleJoin took the pair/join-back: the only shape that tags the
    * left rows with a stable id. */
  private def joinBackRoute(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.output.exists(_.name == "__stare_lid"))

  /** Rungs of the ladder both operators key an undeclared left side
    * against: every compressed cover cell, from the coarsest to the
    * finest cover level. */
  private def ladderRungs(covers: Seq[(String, Seq[Long])]): Long = {
    val cells = covers.flatMap(c => Sid.compress(c._2.toArray))
    val levels = cells.map(Sid.level)
    cells.map(c => Sid.ladderRungs(Sid.level(c), levels.min, levels.max)).sum
  }

  /** Bytes of pointJoin's dictionary over `covers` (collected as
    * `rows`), exploded on the driver: each row's rungs, from the coarsest
    * to the finest cover level, times the row's width as shipped. */
  private def dictionaryBytes(covers: Seq[(String, Seq[Long])], rows: Array[Row]): Long = {
    val cells = covers.map(c => Sid.compress(c._2.toArray))
    val levels = cells.flatten.map(Sid.level)
    cells.zip(rows).map { case (cs, row) =>
      cs.map(c => Sid.ladderRungs(Sid.level(c), levels.min, levels.max)).sum * StareJoin.keyedRowBytes(row)
    }.sum
  }

  /** join() took its driver-local path: the answer is a LocalRelation
    * and the plan holds no join. */
  private def localJoinRoute(df: DataFrame): Boolean =
    org.apache.spark.sql.graft.shim.isLocalRelation(df) &&
      df.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty

  /** (rname, sids) covers plus ProbeRows + 1 empty-cover rows: too many
    * rows for join()'s driver-local path, and no pair changes. */
  private def padded(covers: DataFrame): DataFrame = {
    import spark.implicits._
    covers.unionByName((0 to StareJoin.Budgets.ProbeRows)
      .map(i => (s"pad$i", Seq.empty[Long])).toDF("rname", "sids"))
  }

  private def observedPairs(df: DataFrame): Seq[(Long, String)] =
    df.select(col("lid"), col("rname")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "__none" else r.getString(1)))
      .toSeq.sorted

  // ---------------------------------------------------------- the fuzz

  test("pointJoin ≡ shuffleJoin ≡ brute contains; join() ≡ brute intersects (15 random trials × inner/left)") {
    import spark.implicits._
    val r = new scala.util.Random(20260817)
    var dictionaries = 0
    (1 to 15).foreach { trial =>
      val covers = randomCovers(r)
      val left = randomLeft(r, covers, 8 + r.nextInt(25))
      val leftDf = left.toDF("lid", "sid")
      val rightDf = covers.toDF("rname", "sids")
      // multi-sid left arrays for the cover×cover general join
      val leftArr = left.map { case (lid, sid) =>
        val extra = Seq.fill(r.nextInt(3))(randomSid(r, r.nextInt(12)))
        (lid, sid +: extra)
      }
      val leftArrDf = leftArr.toDF("lid", "sids_l")

      Seq("inner", "left").foreach { how =>
        val clue = s"trial=$trial how=$how covers=$covers left=$left"
        val expContains = expectedPairs(left, covers, how, coverContains)
        val pointDf = StareJoin.pointJoin(leftDf, "sid", rightDf, "sids", how = how)
        assert(observedPairs(pointDf) === expContains, s"pointJoin vs brute — $clue")
        // the dictionary serves every left level mix: it is taken iff
        // its rungs x row width, summed over rows, fits the budget
        val rungs = ladderRungs(covers)
        val dictionary = dictionaryBytes(covers, rightDf.collect()) <= StareJoin.Budgets.FullRowDictBytes
        assert(dictionaryRoute(pointDf) === dictionary, s"pointJoin route — $clue")
        if (dictionary) dictionaries += 1
        // without a split, a left shuffleJoin keys once and never plans
        // the pair/join-back while the ladder fits RebaseKeys
        val joinBack = how == "left" && rungs > StareJoin.Budgets.RebaseKeys
        val shuffleDf = Skew.shuffleJoin(leftDf, "sid", rightDf, "sids", splitHot = None, how = how)
        assert(joinBackRoute(shuffleDf) === joinBack, s"shuffleJoin route — $clue")
        assert(observedPairs(shuffleDf) === expContains, s"shuffleJoin vs brute — $clue")
        // the shuffle shapes: broadcast off (shuffled-hash), then a
        // 1-byte build cap (sort-merge)
        val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
        for (conf <- Seq(noBroadcast, noBroadcast :+ ("spark.graft.join.shjMaxBuildBytesPerPartition" -> "1"))) {
          conf.foreach { case (k, v) => spark.conf.set(k, v) }
          val (shuffled, shuffledJoinBack) =
            try {
              val df = Skew.shuffleJoin(leftDf, "sid", rightDf, "sids", splitHot = None, how = how)
              (observedPairs(df), joinBackRoute(df))
            } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
          assert(shuffledJoinBack === joinBack, s"shuffleJoin ${conf.toMap} route — $clue")
          assert(shuffled === expContains, s"shuffleJoin ${conf.toMap} vs brute — $clue")
        }

        // join() reference over the FULL left arrays (expectedPairs takes
        // a scalar sid, so build this pair set directly)
        val innerPairs = for {
          (lid, sids) <- leftArr
          (name, cover) <- covers
          if coversIntersect(sids, cover)
        } yield (lid, name)
        val expJoin =
          (if (how == "inner") innerPairs
           else {
             val m = innerPairs.map(_._1).toSet
             innerPairs ++ leftArr.collect { case (lid, _) if !m(lid) => (lid, "__none") }
           }).sorted
        // both join() paths: the driver-local small-sides fast path, and
        // the distributed plan once the right side is padded past
        // ProbeRows rows with empty covers (which match nothing) — r6
        val generalDf = StareJoin.join(leftArrDf, "sids_l", rightDf, "sids", how = how)
        assert(localJoinRoute(generalDf), s"join() took the distributed path — $clue")
        assert(observedPairs(generalDf) === expJoin, s"join() [local path] vs brute intersects — $clue")
        val generalDistDf = StareJoin.join(leftArrDf, "sids_l", padded(rightDf), "sids", how = how)
        assert(!localJoinRoute(generalDistDf), s"padded join() took the local path — $clue")
        assert(observedPairs(generalDistDf) === expJoin, s"join() [distributed path] vs brute intersects — $clue")
      }
    }
    // the mixed-level left sides (levels 0-14) against these small covers
    // all take the dictionary
    assert(dictionaries === 30, s"only $dictionaries of 30 pointJoin runs took the dictionary")
  }

  test("pointJoin dictionary route ≡ brute contains for left sids at or finer than every cover cell (15 random trials × inner/left × declared level)") {
    import spark.implicits._
    val r = new scala.util.Random(20261018)
    (1 to 15).foreach { trial =>
      // random multi-level covers plus an empty and a null cover row
      val covers = randomCovers(r) ++ Seq(("cempty", Seq.empty[Long]), ("cnull", null: Seq[Long]))
      val refCovers = covers.map { case (n, c) => (n, Option(c).getOrElse(Seq.empty[Long])) }
      val cells = refCovers.flatMap(_._2)
      val finest = cells.map(Sid.level).max
      // descendants of cover cells from the finest cover level down to
      // level 26, and uniform level-26 points
      val left = (0 until 8 + r.nextInt(25)).map { i =>
        val sid =
          if (r.nextBoolean()) descendantOf(r, cells(r.nextInt(cells.size)), finest + r.nextInt(27 - finest))
          else randomSid(r, 26)
        (i.toLong, sid)
      }
      val leftDf = left.toDF("lid", "sid")
      val rightDf = covers.toDF("rname", "sids")
      val minLeft = left.map(p => Sid.level(p._2)).min
      for (how <- Seq("inner", "left"); known <- Seq(None, Some(minLeft))) {
        val clue = s"trial=$trial how=$how knownMinLeftLevel=$known covers=$covers left=$left"
        val out = StareJoin.pointJoin(leftDf, "sid", rightDf, "sids", how = how, knownMinLeftLevel = known)
        assert(dictionaryRoute(out), s"pointJoin did not take the dictionary — $clue")
        assert(observedPairs(out) === expectedPairs(left, refCovers, how, coverContains),
          s"pointJoin dictionary vs brute — $clue")
      }
    }
  }

  test("forced hot-cell split join ≡ unsplit ≡ brute (engineered skew, 2 trials × inner/left)") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val priorBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // no broadcast: the points shuffle by key, so a hot key loads one
    // reducer (AQE's skew join, not a split, handles it)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      (1 to 4).foreach { trial =>
        val hot = randomSid(r, 2 + r.nextInt(3)) // one hot cover cell
        val hotLevel = Sid.level(hot)
        // trial 3: an ANCESTOR cover cell overlapping the hot cell — its
        // rungs hold the hot key too (rows in the hot key must still
        // match the blanket cover)
        val blanket =
          if (trial == 3 && hotLevel > 0)
            Seq(("blanket", Seq((hot & Sid.clearMask(hotLevel - 1)) | (hotLevel - 1).toLong)))
          else Seq.empty
        // trial 4: a level-9 cell, finer than a quarter of the left sids
        // (levels hotLevel+2..8), which key at their own level
        val to = if (trial == 4) 9 else 6
        val covers = Seq(
          ("hot", Seq(hot, randomSid(r, to))),
          ("cold", Seq(randomSid(r, 3), randomSid(r, 5)))) ++ blanket
        // 4000 points in ONE level-`to` trixel of the hot cell (the
        // join's hot key) at mixed finer levels, 500 elsewhere in the hot
        // cell and 500 uniform
        val spot = descendantOf(r, hot, to)
        val left = (0 until 4000).map { i =>
          (i.toLong, descendantOf(r, spot, to + 1 + r.nextInt(27 - to)))
        } ++ (4000 until 4500).map { i =>
          (i.toLong, descendantOf(r, hot, if (trial == 4) hotLevel + 2 + r.nextInt(7 - hotLevel)
                                          else math.min(27, hotLevel + 2 + r.nextInt(10))))
        } ++ (4500 until 5000).map { i =>
          (i.toLong, randomSid(r, 4 + r.nextInt(10)))
        }
        val leftDf = left.toDF("lid", "sid")
        val rightDf = covers.toDF("rname", "sids")
        // a split request splits no key
        val spec = Skew.splitHotCellsWithSpec(leftDf, "sid", rightDf, "sids", maxRowsPerCell = 100)
        assert(spec.skipReason.isDefined && spec.hot.isEmpty, s"trial $trial: $spec")
        if (trial == 4)
          assert(left.exists(p => Sid.level(p._2) < to), "trial 4 has no left sid coarser than the finest cover level")
        Seq("inner", "left").foreach { how =>
          val exp = expectedPairs(left, covers, how, coverContains)
          val splitDf = Skew.shuffleJoin(leftDf, "sid", rightDf, "sids", splitHot = Some(100L), how = how)
          val unsplitDf = Skew.shuffleJoin(leftDf, "sid", rightDf, "sids", splitHot = None, how = how)
          assert(SparkJobProbe.planText(splitDf) === SparkJobProbe.planText(unsplitDf),
            s"trial $trial how=$how: a split request changed the plan")
          assert(observedPairs(splitDf) === exp, s"split shuffleJoin vs brute — trial=$trial how=$how hot=$hot")
          // the ladder gives every row one key, so a left join keys once
          assert(!joinBackRoute(splitDf), s"trial $trial how=$how took the pair/join-back")
          val unsplit = observedPairs(unsplitDf)
          assert(unsplit === exp, s"unsplit shuffleJoin vs brute — trial=$trial how=$how hot=$hot")
        }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBcast)
  }

  test("single-level-cover LEFT shuffleJoin takes the direct-join path and stays exact (r6)") {
    // Pins the r6 single-candidate-key rewrite of shuffleJoin's left
    // branch (one uniform cover level -> direct left equi-join, no
    // pair/join-back): adversarial fixture with an unmatched fine point,
    // a TOO-COARSE left sid (derives no key -> must surface as __none,
    // not vanish), overlapping covers (multi-match multiplicity), an
    // empty-cover right row, and duplicate pre-compress cells.
    import spark.implicits._
    val r = new scala.util.Random(20260822)
    val cellA = randomSid(r, 6)
    val cellB = randomSid(r, 6)
    val inA1 = descendantOf(r, cellA, 26)
    val inA2 = descendantOf(r, cellA, 26)
    val inB = descendantOf(r, cellB, 26)
    val outside = {
      var s = randomSid(r, 26)
      while (coverContains(Seq(cellA, cellB), s)) s = randomSid(r, 26)
      s
    }
    val coarse = randomSid(r, 3) // coarser than every cover cell: contract says no match
    val left = Seq((1L, inA1), (2L, inA2), (3L, inB), (4L, outside), (5L, coarse))
    val covers = Seq(
      ("a", Seq(cellA, cellA)),          // duplicate cell: compress, single match
      ("ab", Seq(cellA, cellB)),         // overlaps both populations
      ("empty", Seq.empty[Long]),        // never matches
      ("a2", Seq(cellA)))              // same cell again under a different row
    Seq("left", "inner").foreach { how =>
      val exp = expectedPairs(left, covers, how, coverContains)
      val got = observedPairs(Skew.shuffleJoin(left.toDF("lid", "sid"), "sid",
        covers.toDF("rname", "sids"), "sids", splitHot = None, how = how))
      assert(got === exp, s"how=$how covers=$covers left=$left")
      // same fixture through pointJoin for the three-way invariant
      val point = observedPairs(StareJoin.pointJoin(left.toDF("lid", "sid"), "sid",
        covers.toDF("rname", "sids"), "sids", how = how))
      assert(point === exp, s"pointJoin how=$how")
    }
  }
}
