package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cover, Sid}
import graft.functions.StareFunctions._
import graft.operators.{Dissolve, KnnJoin, SpeedySubset, StareJoin}
import graft.pipeline.{AnnOps, Multimodal, TextOps}
import graft.sources.{ForkFreeLocalFileSystem, Pods, Raster, Webtext}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Oracle design: every STARE query is structured so its FINAL answer is
  * exactly SQL-derivable while the kernel still does the work — the
  * cover join / pod pruning / ring expansion PRUNES (it may never lose a
  * row), an exact lat/lon-box or distance or timestamp predicate DECIDES,
  * and DuckDB recomputes the decision directly. Hash kernels (simhash,
  * fingerprints, the multimodal stub) are ported to DuckDB SQL verbatim
  * in mod-2^64 HUGEINT arithmetic. Invariant columns (in_trixel,
  * roundtrip_ok, dissolve_exact) cross-check two independent engine code
  * paths against a constant the oracle also emits.
  */
object SparkEntry {

  /** Query regions: lat/lon boxes (one crossing the antimeridian). The
    * exact containment predicate is shared, literal for literal, with
    * the DuckDB oracle SQL. */
  final case class Region(name: String, lonMin: Double, lonMax: Double,
                          latMin: Double, latMax: Double, wraps: Boolean = false)

  private[graft] val regions: Seq[Region] = Seq(
    Region("brazil", -74, -34, -34, 5),
    Region("argentina", -73, -53, -55, -21),
    Region("peru", -81, -68, -18, 0),
    Region("colombia", -79, -66, -4, 12),
    Region("africa_w", -17, 10, 4, 28),
    Region("europe_c", -10, 25, 36, 60),
    Region("asia_se", 95, 140, -10, 25),
    Region("pacific", 165, -150, -30, 10, wraps = true))

  private[graft] def region(name: String): Region = regions.find(_.name == name).get

  /** Per-JVM lineage nonce: verify/bench runs must do a REAL pods write
    * (a constant lineage id made round-2's bench time a resume no-op on
    * the previous attempt's committed store and call it a write). Stable
    * within one JVM, fresh across runs; the resume machinery itself is
    * exercised explicitly by Bench.podsWriteResume and the pods specs. */
  private val runNonce: String = java.lang.Long.toHexString(System.nanoTime())

  /** Inflated + densified box cover: guaranteed superset of the box
    * (Cover.coverFromBox doc), so the cover join can only over-match —
    * never lose a row — before the exact refine. Memoized: the driver-
    * side descent over a densified ring costs ~100ms per region and the
    * covers are reused across queries. Keyed by the whole region, so a
    * region that reuses a name with another box gets its own cover. */
  private val coverCache = new scala.collection.concurrent.TrieMap[(Region, Int), Array[Long]]
  private[graft] def regionCover(r: Region, level: Int = 6): Array[Long] =
    coverCache.getOrElseUpdate((r, level), {
      if (!r.wraps) Cover.coverFromBox(r.lonMin, r.lonMax, r.latMin, r.latMax, level)
      else Sid.compress(
        Cover.coverFromBox(r.lonMin, 180.0, r.latMin, r.latMax, level) ++
          Cover.coverFromBox(-180.0, r.lonMax, r.latMin, r.latMax, level))
    })

  private[graft] def coversDf(spark: SparkSession, level: Int = 6): DataFrame = {
    import spark.implicits._
    regions.map(r => (r.name, regionCover(r, level).toSeq)).toDF("region_name", "sids")
  }

  /** exact box containment on the lat/lon columns — the refine step. */
  private[graft] def inRegion(r: Region): Column = {
    val latOk = col("lat") >= r.latMin && col("lat") <= r.latMax
    val lonOk =
      if (r.wraps) col("lon") >= r.lonMin || col("lon") <= r.lonMax
      else col("lon") >= r.lonMin && col("lon") <= r.lonMax
    latOk && lonOk
  }

  /** a row inside SOME region box: a lat/lon-only prune, so the
    * optimizer pushes it below `indexed`'s exchange and rows outside
    * every region are never shuffled. One box test over the boxes as an
    * array literal, so its size does not grow with the region count.
    * Only for joins whose answer counts matched rows alone (an inner
    * join), never for a left join's unmatched count. */
  private def inAnyRegion: Column = inAnyBox(regions)

  /** a row inside SOME of `boxes`, as [[inAnyRegion]] */
  private def inAnyBox(boxes: Seq[Region]): Column = exists(typedLit(boxes), inBox)

  /** The boxes two regions share (the bounds are inclusive). A
    * wrapping box counts as its two halves, so a point lies in both
    * regions iff it lies in one of these boxes. */
  private[graft] def sharedBoxes(a: Region, b: Region): Seq[Region] = {
    def halves(r: Region) =
      if (r.wraps) Seq(r.copy(lonMax = 180, wraps = false), r.copy(lonMin = -180, wraps = false)) else Seq(r)
    for {
      x <- halves(a); y <- halves(b)
      box = Region(s"${a.name}|${b.name}", math.max(x.lonMin, y.lonMin), math.min(x.lonMax, y.lonMax),
        math.max(x.latMin, y.latMin), math.min(x.latMax, y.latMax))
      if box.lonMin <= box.lonMax && box.latMin <= box.latMax
    } yield box
  }

  /** coversDf plus each region's box as a struct column `region`, so a
    * matched row is refined against its own box (inBox) — one box test
    * whose size does not grow with the region count, where a refine
    * with one literal term per region pays codegen and compile time for
    * each. */
  private[graft] def boxedCoversDf(spark: SparkSession, level: Int = 6): DataFrame = {
    import spark.implicits._
    regions.map(r => (r.name, regionCover(r, level).toSeq, r)).toDF("region_name", "sids", "region")
  }

  /** inRegion over a box carried in a Region-typed struct column. */
  private[graft] def inBox(box: Column): Column = {
    val latOk = col("lat") >= box("latMin") && col("lat") <= box("latMax")
    val lonOk = when(box("wraps"), col("lon") >= box("lonMin") || col("lon") <= box("lonMax"))
      .otherwise(col("lon") >= box("lonMin") && col("lon") <= box("lonMax"))
    latOk && lonOk
  }

  /** geotagged + sid-indexed webtext table. Repartitioned first: the
    * test tables are single parquet files, which would otherwise pin
    * every downstream kernel (encode, covers, windows) to ONE task —
    * production inputs arrive in thousands of splits. Deliberately
    * key-ONLY (r6): AQE sizes the exchange to the actual bytes, which
    * at bench scale coalesces these light kernels to few tasks — an
    * explicit partition count was measured to ADD ~0.05 s of per-stage
    * task overhead to every consumer (32 near-empty tasks per stage
    * across many stages). Where the downstream work is per-DIRECTORY
    * fan-out rather than per-row compute (pods writes), the writers pin
    * their own count — see Pods.write. */
  private[graft] def indexed(spark: SparkSession, sfDir: String, level: Int = 26): DataFrame =
    Webtext.geotagged(Webtext.table(spark, sfDir).repartition(col("doc_id")))
      .withColumn("sid", stareSid(col("lat"), col("lon"), level))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0:
    * geotag -> STARE index -> cover join -> dissolve-count per region. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = indexed(spark, "/root/testdata/sf0.001")
    val joined = StareJoin.pointJoin(docs, "sid", coversDf(spark), "sids", how = "inner",
      knownMinLeftLevel = Some(26))
    joined.groupBy(col("region_name")).agg(count(lit(1)).as("pages"))
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational baseline (Catalyst built-ins) --------
    "q01_lineitem_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_order_join" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    }),
    "q03_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.withColumn("rk", row_number().over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .filter(col("rk") === 1)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("best_price"))
        .orderBy(col("o_custkey"))
    }),
    // ---------------- training-data ops ------------------------------
    "q10_exact_dedup" -> ((s, dir) => {
      TextOps.exactDedup(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("keep_doc_id"))
    }),
    "q11_token_count" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_m"))
        .orderBy(col("doc_id"))
    }),
    "q12_quality" -> ((s, dir) => {
      TextOps.qualityFeatures(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("digit_ratio"), 6).as("digit_ratio"),
          round(col("punct_ratio"), 6).as("punct_ratio"))
        .orderBy(col("doc_id"))
    }),
    "q13_lang_id" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextOps.withLangId(d, col("text"), "lang_pred")
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    }),
    "q14_geotag" -> ((s, dir) => {
      Webtext.geotagged(Webtext.table(s, dir))
        .select(col("doc_id"), round(col("lat"), 4).as("lat"), round(col("lon"), 4).as("lon"))
        .orderBy(col("doc_id"))
    }),
    "q15_minhash_dups" -> ((s, dir) => {
      exactDupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q45_dup_clusters" -> ((s, dir) => {
      // canonical-document selection: near-dup pairs chain (A~B~C), so
      // the kept doc must be chosen per CONNECTED COMPONENT, not per
      // pair — connected components of the exact J>=0.5 pair graph
      // (TextOps.dupClusters: a driver-side union-find for a local or
      // small pair set, min-label propagation above its edge cap).
      // DuckDB recomputes the components by transitive closure
      // (recursive CTE) over the same brute-force pair set.
      TextOps.dupClusters(exactDupPairs(s, dir), "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),
    "q16_simhash" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextOps.simhash(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),
    "q17_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = Array.tabulate(64)(i => (math.sin(i + 1) / 8.0).toFloat)
      AnnOps.topK(emb, "embedding", q, 20)
        .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim_r"))
    }),
    "q18_near_dup_pairs" -> ((s, dir) => {
      // planted near-dups: each vector unioned with an exact 0.5-scaled
      // copy (scaling by a power of two is exact in float, so signatures
      // are identical and banded-LSH recall is exactly 1). Oracle:
      // brute-force cosine >= 0.9 over the same derived table.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val copies = emb.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(0.5f)).cast("float")).as("embedding"))
      // persisted across nearDupPairs' three evaluations (signature
      // pass + both vector re-attach joins) — r6, lesson 10: the
      // operator deliberately re-reads its input per side (at scale
      // that is a columnar (id, vec) projection), which re-ran this
      // derived union's scan+exchange+transform three times. Released
      // immediately: nearDupPairs materializes its result internally.
      val aug = emb.select("vec_id", "embedding").unionByName(copies).persist()
      // 14 planes/band keep per-band buckets ~2^14 so the bucket join
      // stays linear; exact copies have identical signatures in every
      // band regardless, so recall is still exactly 1
      val pairs = AnnOps.nearDupPairs(aug, "embedding", "vec_id",
          bands = 8, planesPerBand = 14, minCosine = 0.9)
      aug.unpersist(false)
      pairs
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim_r"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q19_fingerprint" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    // ---------------- STARE operators --------------------------------
    "q20_stare_index" -> ((s, dir) => {
      // encode invariants cross-checked through independent paths: the
      // gring half-space containment test and decode-center->re-encode
      indexed(s, dir).select(col("doc_id"),
          stareLevel(col("sid")).as("level"),
          round(col("lat"), 4).as("lat_r"), round(col("lon"), 4).as("lon_r"),
          stareContainsPoint(col("sid"), col("lat"), col("lon")).as("in_trixel"),
          stareCenterRoundtripOk(col("sid")).as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),
    "q21_cover_join" -> ((s, dir) => {
      // cover join prunes (cover ⊇ box by construction), exact box test
      // decides — also the right plan at 100 TB
      val docs = indexed(s, dir).filter(inAnyRegion)
      StareJoin.pointJoin(docs, "sid", boxedCoversDf(s), "sids", how = "inner",
        knownMinLeftLevel = Some(26))
        .filter(inBox(col("region")))
        .groupBy(col("region_name")).agg(count(lit(1)).as("pages"))
        .orderBy(col("region_name"))
    }),
    "q22_cover_join_left" -> ((s, dir) => {
      // ONE pass over the joined frame (r6, guide §2.4): per doc,
      // collect the regions whose exact box test passes; a doc with no
      // passing match contributes one "__none" row — exact LEFT JOIN ON
      // box-containment semantics. The previous shape re-evaluated the
      // whole geotag+encode+join pipeline three times (refined twice +
      // docs again) through a left-anti join; this groupBy(doc_id)
      // reuses indexed()'s hash partitioning, so no new exchange.
      val docs = indexed(s, dir)
      val joined = StareJoin.pointJoin(docs, "sid", boxedCoversDf(s), "sids", how = "left",
        knownMinLeftLevel = Some(26))
      joined
        .groupBy(col("doc_id"))
        .agg(collect_list(when(col("region_name").isNotNull && inBox(col("region")),
          col("region_name"))).as("__regions"))
        .select(explode(when(size(col("__regions")) === 0, array(lit("__none")))
          .otherwise(col("__regions"))).as("region_name"))
        .groupBy(col("region_name")).agg(count(lit(1)).as("pages"))
        .orderBy(col("region_name"))
    }),
    "q23_dissolve" -> ((s, dir) => {
      // dissolve_exact: expand(dissolve(cells)) must equal the distinct
      // cell set — validates union+compression against plain countDistinct
      val docs = indexed(s, dir).withColumn("sids", array(stareClearTo(col("sid"), 8)))
      val dis = Dissolve(docs, by = "lang", sidsCol = "sids", aggFuncs = Map("doc_id" -> "sum"))
        .withColumnRenamed("doc_id", "doc_id_sum")
      val counts = docs.groupBy(col("lang"))
        .agg(countDistinct(col("sids")(0)).as("n_cells"), count(lit(1)).as("n_docs"))
      dis.join(counts, Seq("lang"))
        .select(col("lang"), col("doc_id_sum"), col("n_docs"),
          (size(stareExpand(col("sids"), 8)).cast("long") === col("n_cells")).as("dissolve_exact"))
        .orderBy(col("lang"))
    }),
    "q24_speedy_subset" -> ((s, dir) => {
      val r = region("europe_c")
      SpeedySubset(indexed(s, dir), "sid", regionCover(r))
        .filter(inRegion(r))
        .select(col("doc_id"), round(col("lat"), 4).as("lat_r"), round(col("lon"), 4).as("lon_r"))
        .orderBy(col("doc_id"))
    }),
    "q25_knn" -> ((s, dir) => {
      // ring-expansion kNN with enough rounds that the final cap covers
      // the sphere: result provably equals brute force, which is exactly
      // what the DuckDB oracle computes (cross join + row_number)
      val docs = indexed(s, dir).select(col("doc_id"), col("sid"), col("lat"), col("lon"))
      val queries = docs.filter(col("doc_id") % 97 === 0)
      // initial cap sized so ~every query completes in round 0 at these
      // densities (the completion proof still gates each query exactly)
      KnnJoin(queries, "doc_id", "sid", "lat", "lon", docs, "doc_id", "sid", "lat", "lon",
          k = 3, initialDiameterDeg = 32.0, coverLevel = 5, maxRounds = 5)
        .select(col("doc_id"), col("doc_id_nn"), col("nn_rank").cast("long").as("nn_rank"))
        .orderBy(col("doc_id"), col("nn_rank"))
    }),
    "q26_tile_dissolve" -> ((s, dir) => {
      // raster->vector: dissolve per lang then trixel MultiPolygon WKT;
      // wkt_ok validates ring structure (closure, arity, coordinate
      // ranges, antimeridian split) of every emitted polygon
      val docs = indexed(s, dir).withColumn("sids", array(stareClearTo(col("sid"), 6)))
      Dissolve(docs, by = "lang", sidsCol = "sids", aggFuncs = Map("doc_id" -> "count"))
        .select(col("lang"), col("doc_id").as("n_docs"),
          wktOk(stareTrixelWkt(col("sids"))).as("wkt_ok"))
        .orderBy(col("lang"))
    }),
    "q27_pods_roundtrip" -> ((s, dir) => {
      // write -> spatially+temporally pruned read -> exact refine; the
      // oracle recomputes membership from the raw table, so any pruning
      // false-negative (or resume bug) shows up as a row diff
      val out = s"/tmp/graft_pods_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"
      val docs = indexed(s, dir).select(col("doc_id"), col("sid"), col("lat"), col("lon"),
        col("warc_ts"), col("lang"))
      // pod/chunk granularity sized so partition-dir count stays sane at
      // bench scale (every (pod, chunk) pair is a directory + file, and
      // dir create/list costs ~20ms each on this host): 30-day chunks
      // over the year-spanning warc_ts give ~13 chunks/pod; the 5.4-hour
      // query window still prunes to a single chunk per pod, so the
      // temporal-pruning path stays fully exercised. Production pods
      // would carry GBs per directory at the same levels.
      Pods.write(docs, out, "sid", podLevel = 2, lineageId = s"verify-$runNonce-$dir",
        tsCol = Some("warc_ts"), chunkMs = 30L * 86400000L)
      val r = region("europe_c")
      val t0 = 1700000600L; val t1 = 1700020000L
      Pods.read(s, out, regionCover(r), timeRangeMs = Some((t0 * 1000, t1 * 1000)))
        .filter(inRegion(r) && unix_timestamp(col("warc_ts")).between(t0, t1))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "q28_tiv" -> ((s, dir) => {
      Webtext.table(s, dir)
        .select(col("doc_id"), stareTiv(col("warc_ts")).as("tiv"))
        .orderBy(col("doc_id"))
    }),
    "q29_multimodal_features" -> ((s, dir) => {
      Multimodal.extractFeatures(Webtext.table(s, dir))
        .select(col("url"), col("byte_len"), col("width"), col("height"))
        .orderBy(col("url"))
    }),
    "q46_resize" -> ((s, dir) => {
      // multimodal resize plumbing (binary -> binary, dims as metadata,
      // batched mapPartitions) through the hard signal: the stub
      // thumbnail's byte content is pinned by an exact digest (sum of
      // thumb bytes = 2 x the byte-sum of the payload FNV for
      // targetH=16), which DuckDB recomputes in HUGEINT arithmetic.
      Multimodal.resize(Webtext.table(s, dir), targetW = 32, targetH = 16)
        .select(col("url"), col("width"), col("height"),
          byteSum(col("thumb")).as("thumb_sum"))
        .orderBy(col("url"))
    }),
    "q30_adaptive_index" -> ((s, dir) => {
      // adaptive-level encode: resolution from a per-row neighbor distance
      Webtext.geotagged(Webtext.table(s, dir))
        .withColumn("nbr_dist", (col("doc_id") % 20 + 1).cast("double") / 4.0)
        .withColumn("sid", stareSidAdaptive(col("lat"), col("lon"), col("nbr_dist")))
        .groupBy(stareLevel(col("sid")).as("level")).agg(count(lit(1)).as("n"))
        .orderBy(col("level"))
    }),
    "q31_pods_catalog" -> ((s, dir) => {
      // manifest-sum == input-count invariant: a stale snapshot or a
      // catalog/data divergence makes total_rows diverge from the oracle
      val out = s"/tmp/graft_podcat_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"
      val docs = indexed(s, dir).select(col("doc_id"), col("sid"))
      Pods.write(docs, out, "sid", podLevel = 2, lineageId = s"cat-$runNonce-$dir")
      Pods.catalog(s, out)
        .agg(sum(col("rowCount")).as("total_rows"),
          countDistinct(col("lineageId")).as("n_lineages"))
    }),
    "q32_streaming_index" -> ((s, dir) => {
      // batch replay of the streaming indexer over the webtext table
      graft.streaming.StreamingIndex.indexStream(
          Webtext.table(s, dir).drop("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("pages"), max(stareLevel(col("sid"))).as("max_level"))
        .orderBy(col("lang"))
    }),
    "q48_stream_reconcile" -> ((s, dir) => {
      // streamed-store reconciliation through the hard signal: a
      // pod-partitioned store written WITHOUT manifests (the streaming
      // sink's on-disk layout — partitionBy(pod), no catalog commit) is
      // folded into the batch catalog by Pods.reconcile (pod level
      // inferred from the location-only pod ids' bit alignment, ts
      // bounds re-derived from one columnar scan), then read back with
      // manifest-driven spatial+temporal pruning and refined exactly.
      // The oracle recomputes membership from the raw table, so an
      // inference or pruning false-negative is a missing row.
      val out = s"/tmp/graft_podrec_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"
      val docs = indexed(s, dir).select(col("doc_id"), col("sid"), col("lat"), col("lon"),
          col("warc_ts"), col("lang"))
        .withColumn("pod", starePod(col("sid"), 2))
      // mode=overwrite wipes any earlier snapshot/manifests with the
      // data, so reconcile derives its catalog from exactly this write.
      // repartition by pod mirrors the sink's real file shape (one file
      // per pod per micro-batch) — without it every task writes a sliver
      // into every pod directory (tasks x pods small files).
      // r6 (guide §6): previous store (and any stale trash of it)
      // trashed asynchronously instead of the overwrite's driver-blocking
      // recursive delete; committer v2 and the fork-free local FS —
      // Pods.write's write options and rationale apply verbatim.
      // repartition by NUMBER + key so AQE cannot coalesce the tiny
      // shuffle into one task that writes every pod dir serially (the
      // Pods.write lesson; the explicit count pins write parallelism)
      Pods.trashAsync(java.nio.file.Paths.get(out))
      docs.repartition(s.sessionState.conf.numShufflePartitions, col("pod"))
        .sortWithinPartitions(col("sid"))
        .write.mode("overwrite")
        .options(ForkFreeLocalFileSystem.writeOptions)
        .partitionBy("pod").parquet(out)
      Pods.reconcile(s, out, s"rec-$runNonce-$dir", tsCol = Some("warc_ts"))
      val r = region("asia_se")
      val t0 = 1700005000L; val t1 = 1700028000L
      Pods.read(s, out, regionCover(r), timeRangeMs = Some((t0 * 1000, t1 * 1000)))
        .filter(inRegion(r) && unix_timestamp(col("warc_ts")).between(t0, t1))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "q49_image_decode" -> ((s, dir) => {
      // REAL image codec through the hard signal (q29/q46 cover only
      // the stubbed audio/video shape): a deterministic solid-color PNG
      // per document — encoded by the JDK's actual PNG writer — decoded
      // back by the actual reader, per-channel means from the decoded
      // pixels. Solid color makes the means exactly the planted color,
      // so DuckDB reproduces the output in closed form while every
      // pixel still travels through the codec both ways.
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), synthPng(col("doc_id")).as("img"))
      Multimodal.extractImageFeatures(docs)
        .select(col("doc_id"), col("width"), col("height"),
          col("mean_r").cast("long").as("mean_r"),
          col("mean_g").cast("long").as("mean_g"),
          col("mean_b").cast("long").as("mean_b"))
        .orderBy(col("doc_id"))
    }),
    "q50_image_resize" -> ((s, dir) => {
      // full REAL chain: decode -> area-averaged resize -> PNG re-encode
      // -> decode again. Solid colors are invariant under area
      // averaging, so dims and means stay closed-form for the oracle.
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), synthPng(col("doc_id")).as("img"))
      val thumbs = Multimodal.resizeImages(docs, targetW = 5, targetH = 4)
      Multimodal.extractImageFeatures(thumbs.select(col("doc_id"), col("thumb")))
        .select(col("doc_id"), col("width"), col("height"),
          col("mean_r").cast("long").as("mean_r"),
          col("mean_g").cast("long").as("mean_g"),
          col("mean_b").cast("long").as("mean_b"))
        .orderBy(col("doc_id"))
    }),
    "q52_dissolve_geom" -> ((s, dir) => {
      // dissolve(geom=True) through the hard signal: per doc, a cell at a
      // doc-varying level; three closed-form unions through the REAL
      // TrixelUnion kernel (4 children = parent ring; 15-grandchild
      // annulus = parent shell + bit-exact hole; vertex-touching pair =
      // 2 components). The invariants are theorems of the subdivision,
      // so DuckDB mirrors them as constants while Spark computes them
      // from the actual dissolved WKT.
      val docs = indexed(s, dir)
        .withColumn("cell_level", (lit(3) + col("doc_id") % 6).cast("int"))
        .withColumn("cell", stareClearToDyn(col("sid"), col("cell_level")))
      docs.select(col("doc_id"), col("cell_level"),
          dissolveInvariantsUdf(col("cell")).as("inv"))
        .select(col("doc_id"), col("cell_level"),
          col("inv._1").as("full_is_parent"), col("inv._2").as("annulus_polys"),
          col("inv._3").as("hole_is_missing"), col("inv._4").as("pinch_polys"))
        .orderBy(col("doc_id"))
    }),
    "q51_image_meta" -> ((s, dir) => {
      // header-only probe (no pixel decode) — the 100 TB first stage:
      // format/dims come from the PNG IHDR via ImageReader.getWidth,
      // closed-form for the oracle because the synthesizer plants them
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), synthPng(col("doc_id")).as("img"))
      Multimodal.imageMetaFrame(docs)
        .select(col("doc_id"), col("format"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),
    "q33_cover_algebra" -> ((s, dir) => {
      // stare_intersection as a join prune: per region pair, docs in
      // BOTH boxes are found via the pair's cover∩cover (superset of the
      // box∩box region since each cover ⊇ its box), refined exactly.
      // Pairs with DISJOINT covers are proven empty without scanning —
      // the stare_disjoint fast path; a false empty would surface as a
      // zero row the oracle counts as non-zero.
      // Only docs in a box two regions share can count, so the prune
      // keeps those alone.
      import s.implicits._
      val docs = indexed(s, dir).filter(inAnyBox(regionPairs.flatMap { case (a, b) => sharedBoxes(a, b) }))
      val inter = regionPairs.map { case (a, b) =>
        (s"${a.name}|${b.name}", Sid.intersection(regionCover(a), regionCover(b)), a, b)
      }
      // each pair carries its two boxes, so the refine is two box tests
      // over the matched row, not one literal term per pair
      val pairsDf = inter.collect { case (n, c, a, b) if c.nonEmpty => (n, c.toSeq, a, b) }
        .toDF("pair_name", "sids", "a", "b")
      val counts = StareJoin.pointJoin(docs, "sid", pairsDf, "sids", how = "inner",
          knownMinLeftLevel = Some(26))
        .filter(inBox(col("a")) && inBox(col("b")))
        .groupBy(col("pair_name")).agg(count(lit(1)).as("pages"))
      inter.map(_._1).toDF("pair_name")
        .join(counts, Seq("pair_name"), "left")
        .select(col("pair_name"), coalesce(col("pages"), lit(0L)).as("pages"))
        .orderBy(col("pair_name"))
    }),
    "q34_ellipse_subset" -> ((s, dir) => {
      // make_ellipse_sids as a prune: an inflated tangent-plane ellipse
      // cover (10% margin ≫ the ~0.5% curvature + 64-sample chord error)
      // is a superset of the exact spherical ellipse {d(F1,p)+d(F2,p) ≤
      // 2a}; the shared-literal haversine predicate decides in BOTH
      // engines. A pruning false-negative = a missing row vs the oracle.
      val cover = ellipseQuery.pruneCover
      SpeedySubset(indexed(s, dir), "sid", cover)
        .filter(expr(ellipseQuery.predicateSql))
        .select(col("doc_id"), round(col("lat"), 4).as("lat_r"), round(col("lon"), 4).as("lon_r"))
        .orderBy(col("doc_id"))
    }),
    "q35_ngram_jaccard" -> ((s, dir) => {
      // character-trigram Jaccard between consecutive docs; integer
      // intersection/union cardinalities (no float rounding hazard)
      val t = Webtext.table(s, dir).select(col("doc_id"), col("text"))
      val a = t.select(col("doc_id"), coalesce(col("text"), lit("")).as("text_a"))
      val b = t.select((col("doc_id") - 1).as("doc_id"), coalesce(col("text"), lit("")).as("text_b"))
      val grams = (c: Column) => array_distinct(
        transform(sequence(lit(1), greatest(length(c) - 2, lit(1))), i => c.substr(i, lit(3))))
      a.join(b, Seq("doc_id"))
        .select(col("doc_id"),
          size(array_intersect(grams(col("text_a")), grams(col("text_b")))).cast("long").as("n_inter"),
          size(array_union(grams(col("text_a")), grams(col("text_b")))).cast("long").as("n_union"))
        .orderBy(col("doc_id"))
    }),
    "q36_trixel_geometry" -> ((s, dir) => {
      // trixel geometry accessors (vertices/corners/gring/center/area)
      // cross-checked per cell: unit-norm corners and gring normals,
      // center inside all three gring half-spaces, 4-child spherical
      // areas summing to the parent's. root_area_ok pins the area kernel
      // to the closed form Σ area(8 roots) = 4π.
      indexed(s, dir)
        .select(col("doc_id"),
          stareLevel(stareClearTo(col("sid"), 8)).as("cell_level"),
          trixelGeomOk(stareClearTo(col("sid"), 8)).as("geom_ok"),
          lit(rootAreaOk).as("root_area_ok"))
        .orderBy(col("doc_id"))
    }),
    "q40_cover_overlap_join" -> ((s, dir) => {
      // the GENERAL cover×cover stare_join (both containment
      // directions, stable ids, pair dedup — not the broadcast point
      // fast path): region covers joined against region covers prunes
      // to pairs with intersecting covers (⊇ overlapping boxes, by the
      // superset guarantee); the exact box-overlap predicate decides,
      // and DuckDB recomputes it from the shared bounds literal.
      import s.implicits._
      def side(prefix: String) = regions.map(r =>
        (r.name, r.lonMin, r.lonMax, r.latMin, r.latMax, r.wraps, regionCover(r).toSeq))
        .toDF(s"${prefix}_name", s"${prefix}_lon_min", s"${prefix}_lon_max",
          s"${prefix}_lat_min", s"${prefix}_lat_max", s"${prefix}_wraps", "sids")
      val latOv = col("a_lat_min") <= col("b_lat_max") && col("b_lat_min") <= col("a_lat_max")
      val lonOv = when(col("a_wraps") && col("b_wraps"), lit(true))
        .when(col("a_wraps"), col("b_lon_max") >= col("a_lon_min") || col("b_lon_min") <= col("a_lon_max"))
        .when(col("b_wraps"), col("a_lon_max") >= col("b_lon_min") || col("a_lon_min") <= col("b_lon_max"))
        .otherwise(col("a_lon_min") <= col("b_lon_max") && col("b_lon_min") <= col("a_lon_max"))
      StareJoin.join(side("a"), "sids", side("b"), "sids", how = "inner")
        .filter(col("a_name") < col("b_name") && latOv && lonOv)
        .select(col("a_name").as("name_a"), col("b_name").as("name_b"))
        .orderBy(col("name_a"), col("name_b"))
    }),
    "q39_frame_sample" -> ((s, dir) => {
      // multimodal one-to-many: each payload fans out into 1..7 frame
      // rows (count + hashes derive from the payload FNV — stub decode,
      // real fan-out plumbing; oracle mirrors in HUGEINT SQL)
      Multimodal.sampleFrames(Webtext.table(s, dir))
        .select(col("url"), col("frame_idx"), col("ts_ms"), col("frame_hash"))
        .orderBy(col("url"), col("frame_idx"))
    }),
    "q38_ivf_topk" -> ((s, dir) => {
      // IVF similarity search: coarse spherical-k-means quantizer,
      // nearest-centroid assignment, probe the nprobe nearest clusters.
      // nprobe = k(centroids) probes every cluster, so the result
      // provably equals brute force (the oracle); pruned-probe recall
      // is measured in AnnOpsSpec (the actual 100 TB trade-off).
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = Array.tabulate(64)(i => (math.cos(i + 1) / 8.0).toFloat)
      val cents = AnnOps.trainCentroids(emb, "embedding", "vec_id", k = 16)
      AnnOps.ivfTopK(emb, "embedding", "vec_id", q, 20, cents, nprobe = 16)
        .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim_r"))
    }),
    "q47_ivf_batch" -> ((s, dir) => {
      // BATCHED retrieval (one scan answers the whole query batch —
      // the shape real retrieval sends): probe sets per query on the
      // driver, broadcast (qid, cluster) probe-pair join, per-query
      // window top-k. nprobe = k(centroids) probes every cluster, so
      // each query's result provably equals its brute-force top-k,
      // which the oracle recomputes per query; pruned-probe file
      // pruning is proven in AnnOpsSpec.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = AnnOps.trainCentroids(emb, "embedding", "vec_id", k = 16)
      AnnOps.ivfTopKBatch(emb, "embedding", "vec_id", batchQueryVecs, 20, cents, nprobe = 16)
        .select(col("qid"), col("vec_id"), round(col("cos_sim"), 4).as("cos_sim_r"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "q44_hull_subset" -> ((s, dir) => {
      // convex-hull cover as the prune (was golden-only): the hull of
      // the europe_c box corners inflated by 2.5 deg is a spherical
      // quadrilateral whose only inward-bulging edge (the south
      // geodesic, max sag atan(tan(33.5deg)/cos(19.5deg)) ~ 35.1 deg)
      // stays below the box's latMin=36 — so hullCover ⊇ box and the
      // exact q24 refine decides. Oracle = q24's SQL.
      val r = region("europe_c")
      val m = 2.5
      val lons = Array(r.lonMin - m, r.lonMax + m, r.lonMax + m, r.lonMin - m)
      val lats = Array(r.latMin - m, r.latMin - m, r.latMax + m, r.latMax + m)
      val hullCover = Cover.coverFromHull(lats, lons, 6)
      SpeedySubset(indexed(s, dir), "sid", hullCover)
        .filter(inRegion(r))
        .select(col("doc_id"), round(col("lat"), 4).as("lat_r"), round(col("lon"), 4).as("lon_r"))
        .orderBy(col("doc_id"))
    }),
    "q43_shuffle_join_left" -> ((s, dir) => {
      // the SHUFFLE-path spatial join (Skew.shuffleJoin) through the
      // hard signal — q22's exact semantics (left join + refine + lost
      // re-entry) with the shuffle operator instead of the broadcast
      // pointJoin, so the keyed equi-join, packed stable ids, left
      // join-back, and assemble contract are all oracle-gated. Shares
      // q22's oracle SQL verbatim.
      // NOTE (r6): q22's single-pass groupBy(doc_id) rewrite was tried
      // here too and measured SLOWER — shuffleJoin's output does not
      // carry doc_id partitioning (unlike pointJoin's broadcast plan),
      // so the rewrite adds a real exchange + aggregate, while the
      // anti-join shape's three references to the same join subtree
      // collapse into one execution via ReuseExchange. Kept as-is.
      val docs = indexed(s, dir)
      val joined = graft.operators.Skew.shuffleJoin(docs, "sid", boxedCoversDf(s), "sids",
        splitHot = None, how = "left", knownMinLeftLevel = Some(26))
      val refined = joined.filter(col("region_name").isNull || inBox(col("region")))
      val lost = docs.select(col("doc_id"))
        .join(refined.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("region_name", lit(null).cast("string"))
      refined.select(col("doc_id"), col("region_name")).unionByName(lost)
        .groupBy(coalesce(col("region_name"), lit("__none")).as("region_name"))
        .agg(count(lit(1)).as("pages"))
        .orderBy(col("region_name"))
    }),
    "q41_polar_subset" -> ((s, dir) => {
      // polar-cap stress (r3 verdict item 4): deterministic polar
      // latitudes (80..89.6 deg, derived from doc_id like q30's
      // neighbor distance), region latMax = 90 -> Cover.coverFromBox's
      // polar-cap union engages (core/Cover.scala northCap). The cover
      // prunes (superset by construction), the shared lat literal
      // decides; a cap-path false negative = a missing row vs DuckDB.
      val docs = Webtext.geotagged(Webtext.table(s, dir))
        .withColumn("plat", expr(polarLatSql))
        .withColumn("sid", stareSid(col("plat"), col("lon"), 26))
      SpeedySubset(docs, "sid", polarCover)
        .filter(col("plat") >= 85.0)
        .select(col("doc_id"), round(col("plat"), 4).as("lat_r"), round(col("lon"), 4).as("lon_r"))
        .orderBy(col("doc_id"))
    }),
    "q42_polar_wkt" -> ((s, dir) => {
      // pole-crossing trixel WKT through the hard signal: near-pole
      // docs dissolve onto level-3 cells whose trixels touch the pole,
      // so stareTrixelWkt exercises splitAntimeridian's pole-vertex
      // expansion + seam split end-to-end; wkt_ok validates every ring
      // (closure, arity, coordinate ranges) and the counts are oracled.
      val docs = Webtext.geotagged(Webtext.table(s, dir))
        .withColumn("plat", expr(polarLatSql))
        .withColumn("sid", stareSid(col("plat"), col("lon"), 26))
        .filter(col("plat") >= 85.0)
        .withColumn("sids", array(stareClearTo(col("sid"), 3)))
      Dissolve(docs, by = "lang", sidsCol = "sids", aggFuncs = Map("doc_id" -> "count"))
        .select(col("lang"), col("doc_id").as("n_docs"),
          wktOk(stareTrixelWkt(col("sids"))).as("wkt_ok"))
        .orderBy(col("lang"))
    }),
    "q37_raster_grid" -> ((s, dir) => {
      // Granule.to_df analog: distributed pixel grid -> affine lon/lat ->
      // per-pixel adaptive-level sid; band aggregates have a closed form
      // the oracle recomputes, and every pixel must land in its trixel
      Raster.gridToDf(s, width = 256, height = 128,
          originLon = -120.0, originLat = 50.0, dx = 0.05, dy = -0.05)
        .withColumn("v", (col("x") * 31 + col("y") * 7) % 1000)
        .groupBy(expr("y div 16").cast("long").as("band"))
        .agg(sum(col("v")).cast("long").as("val_sum"), count(lit(1)).as("n_px"),
          bool_and(stareContainsPoint(col("sid"), col("lat"), col("lon"))).as("all_in_trixel"))
        .orderBy(col("band"))
    })
  )

  /** q15/q45's dedup pipeline: LSH candidates (12 bands x 3
    * rows: miss prob ~1e-12 at the planted-dup Jaccard >= 0.95,
    * candidate volume ~3.6e-3 of pairs), then EXACT shingle-Jaccard
    * refine — the output is the exact J>=0.5 pair set, which DuckDB
    * recomputes by brute force. Refine data motion: each doc is
    * projected ONCE to its sorted distinct shingle-hash array;
    * candidate pairs exchange those (8 B/shingle) instead of shipping
    * the full text twice and re-shingling both sides per pair.
    * Candidate generation + over-cap accounting + small/large routing
    * run in TWO Spark actions total; when the pair set is small the
    * ids become an In filter PUSHED TO THE PARQUET SCAN (no semi-join,
    * no shuffle), above the cap a distributed semi-join takes over.
    *
    * Each call computes its own pairs from the table as it is now, and
    * nothing outlives the query. On the small-candidate route the
    * refine output is a subset of the collect-safe candidate set, so it
    * is collected (one action) and returned as a local frame: q45's
    * dupClusters then union-finds it on the driver with no job. Above
    * the cap the refine plan is returned unpersisted, since a caller
    * that cannot release a persisted frame would leak it. */
  private def exactDupPairs(s: SparkSession, dir: String): DataFrame = {
    // no input repartition (r6): at this table size the signature pass
    // is cheaper than the exchange it bought (q18 measured the same),
    // and production inputs arrive already split
    val d = s.read.parquet(s"$dir/documents.parquet")
    val cs = TextOps.minhashCandidateSet(d)
    val pairs = refinePairs(d, cs)
    if (cs.localPairs.isEmpty) pairs
    else {
      import s.implicits._
      pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
        .toSeq.toDF("doc_a", "doc_b", "jaccard")
    }
  }

  /** Kept so existing measurement harnesses compile: the dedup queries
    * no longer share a pair memo, so there is nothing to release. */
  private[graft] def clearDupPairsMemo(): Unit = ()

  /** exact shingle-Jaccard refine over a candidate set (see the
    * exactDupPairs doc above for the data-motion rationale). */
  private def refinePairs(d: DataFrame, cs: TextOps.CandidateSet): DataFrame = {
    val cands = cs.pairs
    val base = cs.localPairs match {
      case Some(local) =>
        val ids = local.flatMap(p => Seq(p._1, p._2)).distinct
        d.filter(col("doc_id").isin(ids.toSeq: _*))
      case None =>
        val ids = cands.select(col("doc_a").as("doc_id"))
          .unionByName(cands.select(col("doc_b").as("doc_id"))).distinct()
        d.join(ids, Seq("doc_id"), "left_semi")
    }
    val sh = base.select(col("doc_id"), TextOps.shingleHashes(col("text")).as("__sh"))
    val sa = sh.select(col("doc_id").as("doc_a"), col("__sh").as("__sa"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("__sh").as("__sb"))
    cands.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("jaccard", TextOps.hashedJaccard(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** q47's query batch: three deterministic float32-truncated vectors
    * (the float-then-double pattern of q17/q38 keeps both engines'
    * cosine arithmetic bit-aligned). */
  private[graft] val batchQueryVecs: Seq[(Long, Array[Float])] = Seq(
    0L -> Array.tabulate(64)(i => (math.sin(i + 1) / 8.0).toFloat),
    1L -> Array.tabulate(64)(i => (math.cos(i + 1) / 8.0).toFloat),
    2L -> Array.tabulate(64)(i => (math.sin(2.0 * (i + 1)) / 8.0).toFloat))

  /** q41/q42's deterministic polar latitude (80.0..89.6 deg, ~half the
    * docs above 85 at every SF), shared literal-for-literal with the
    * DuckDB oracle (1e1, not 10.0 — a decimal-point literal types as
    * DECIMAL in Spark and BigDecimal division is ~100x a double divide). */
  private[graft] val polarLatSql = "80.0 + (doc_id % 97) / 1e1"

  /** Superset cover of {lat >= 85}: two half-lon boxes with latMax = 90,
    * each engaging coverFromBox's polar-cap union (a single box spanning
    * the full 360 deg of longitude would densify into a self-overlapping
    * ring; the two-half union is the same construction the wrapping
    * `pacific` region uses). */
  private[graft] lazy val polarCover: Array[Long] = Sid.compress(
    Cover.coverFromBox(-180.0, 0.0, 85.0, 90.0, 6) ++
      Cover.coverFromBox(0.0, 180.0, 85.0, 90.0, 6))

  /** unordered region pairs (every combination, overlapping or not). */
  private[graft] val regionPairs: Seq[(Region, Region)] =
    for { a <- regions; b <- regions if a.name < b.name } yield (a, b)

  /** q34's spherical-ellipse query: foci + threshold computed once,
    * shared literal-for-literal between the Spark refine and the DuckDB
    * oracle; the prune cover inflates the tangent-plane ellipse axes. */
  private[graft] object ellipseQuery {
    val (centerLat, centerLon) = (47.0, 9.0)
    val (semiMajorM, semiMinorM, angleDeg) = (2200000.0, 1400000.0, 30.0)
    val earthR = 6371008.8

    private def cross(a: Array[Double], b: Array[Double]) = Array(
      a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2), a(0) * b(1) - a(1) * b(0))
    private def norm(v: Array[Double]) = {
      val n = math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2)); v.map(_ / n)
    }

    /** geodesic destination from the center along the rotated major axis. */
    private def focus(sign: Double): (Double, Double) = {
      val c = graft.core.Htm.latLonToXyz(centerLat, centerLon)
      val east = norm(cross(Array(0.0, 0.0, 1.0), c))
      val north = cross(c, east)
      val ca = math.cos(math.toRadians(angleDeg)); val sa = math.sin(math.toRadians(angleDeg))
      val u = Array.tabulate(3)(i => east(i) * ca + north(i) * sa)
      val d = sign * math.sqrt(semiMajorM * semiMajorM - semiMinorM * semiMinorM) / earthR
      val p = norm(Array.tabulate(3)(i => c(i) * math.cos(d) + u(i) * math.sin(d)))
      graft.core.Htm.xyzToLatLon(p)
    }

    val (f1Lat, f1Lon) = focus(1.0)
    val (f2Lat, f2Lon) = focus(-1.0)
    val twoARad: Double = 2.0 * semiMajorM / earthR

    private def havSql(fLat: Double, fLon: Double): String =
      f"2 * asin(least(1.0, sqrt(power(sin((radians(lat) - radians($fLat%.17g)) / 2), 2) " +
        f"+ cos(radians($fLat%.17g)) * cos(radians(lat)) " +
        f"* power(sin(radians(lon - ($fLon%.17g)) / 2), 2))))"

    /** shared Spark-SQL/DuckDB text: sum of focal distances ≤ 2a. */
    val predicateSql: String =
      f"${havSql(f1Lat, f1Lon)} + ${havSql(f2Lat, f2Lon)} <= $twoARad%.17g"

    lazy val pruneCover: Array[Long] = Cover.ellipseCover(
      centerLat, centerLon, 2 * semiMajorM * 1.1, 2 * semiMinorM * 1.1, angleDeg, level = 6)
  }

  /** one-pass geometry invariant for q36 (kernel cross-checks that have
    * no SQL mirror; the oracle pins the constant-true outcome).
    * Memoized per cell on each executor: the input is the doc's
    * level-8 cell, shared by many docs — without the memo the full
    * geometry kernel (corners, gring, areas, child expansion) ran once
    * per DOC instead of once per distinct cell. */
  private val trixelGeomOkCache = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]()
  // bounded in practice by distinct level-8 cells per host, but a
  // long-lived multi-tenant executor must not retain the memo forever:
  // clear-on-overflow (recompute is pure + cheap relative to retention)
  private val trixelGeomOkMaxEntries = 1 << 20
  private val trixelGeomOk = udf((cell: Long) => {
    // bound check only on MISS: the hit path — every row after warmup —
    // pays one lock-free get, no size() traversal. Plain get/put (not
    // computeIfAbsent) because clear() may not run inside a mapping
    // function; a racy duplicate compute is fine, the function is pure.
    val cached = trixelGeomOkCache.get(cell)
    if (cached != null) cached.booleanValue()
    else {
      if (trixelGeomOkCache.size > trixelGeomOkMaxEntries) trixelGeomOkCache.clear()
      val v = trixelGeomOkCompute(cell)
      trixelGeomOkCache.put(cell, Boolean.box(v))
      v
    }
  })
  private def trixelGeomOkCompute(cell: Long): Boolean = {
    import graft.core.{Htm, Sid}
    def unit(v: Array[Double]) = math.abs(
      math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2)) - 1.0) < 1e-9
    def normOf(v: Array[Double]) = math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2))
    val corners = Htm.sidToCornersEcef(cell)
    val gring = Htm.sidToGring(cell)
    val (cLat, cLon) = Htm.sidToCenter(cell)
    val cXyz = Htm.latLonToXyz(cLat, cLon)
    val centerInside = gring.forall(n =>
      n(0) * cXyz(0) + n(1) * cXyz(1) + n(2) * cXyz(2) > 0)
    // gring normals are raw corner cross products: norm = sin(edge arc),
    // strictly inside (0, 1] for a non-degenerate trixel
    val gringOk = gring.length == 3 && gring.forall(n =>
      { val l = normOf(n); l > 1e-12 && l <= 1.0 + 1e-9 })
    val kids = Sid.expandToLevel(Array(cell), Sid.level(cell) + 1)
    val areaOk = {
      val p = Htm.area(cell)
      val ks = kids.map(k => Htm.area(k)).sum
      kids.length == 4 && math.abs(p - ks) <= 1e-9 * math.max(p, 1e-30)
    }
    corners.length == 3 && corners.forall(unit) && gringOk &&
      centerInside && areaOk && Htm.sidContainsPoint(cell, cLat, cLon)
  }

  /** Σ area over the 8 level-0 trixels must be the full sphere (4π). */
  private lazy val rootAreaOk: Boolean = {
    val total = (0 until 8).map(f => graft.core.Htm.area(f.toLong << 59)).sum
    math.abs(total - 4 * math.Pi) < 1e-9
  }

  /** unsigned byte sum of a binary column (q46's thumbnail digest). */
  private val byteSum = udf((b: Array[Byte]) => {
    var s = 0L
    var i = 0
    while (i < b.length) { s += b(i) & 0xff; i += 1 }
    s
  })

  /** q52: drive core.TrixelUnion on three closed-form subdivisions of a
    * cell and report the invariant checks (see the query doc). UDF
    * justified: per-row geometry construction, no built-in equivalent. */
  private val dissolveInvariantsUdf = udf((cell: Long) => {
    import graft.core.{Geo, Htm, Sid, TrixelUnion}
    def ch(s: Long, i: Int): Long = Sid.child(s, i)
    // wrapped 1e-9-deg keys: seam-crossing polygons emit [0,360) lons
    def key(lon: Double, lat: Double): (Long, Long) = {
      val l = if (lon > 180) lon - 360 else lon
      (math.rint(l * 1e9).toLong, math.rint(lat * 1e9).toLong)
    }
    def corners(s: Long): Set[(Long, Long)] = {
      val (lats, lons, _, _) = Htm.sidToVertices(s)
      lons.zip(lats).map { case (lo, la) => key(lo, la) }.toSet
    }
    def ringKeys(r: (Array[Double], Array[Double])): Set[(Long, Long)] =
      r._1.zip(r._2).map { case (lo, la) => key(lo, la) }.toSet
    def mp(sids: Array[Long]): Array[Geo.PolygonG] =
      Geo.parseWkt(TrixelUnion.dissolveWkt(sids)).asInstanceOf[Geo.MultiPolygonG].polys
    val full = mp(Array.tabulate(4)(ch(cell, _)))
    val fullIsParent = full.length == 1 && full(0).rings.length == 1 &&
      full(0).rings(0)._1.length == 4 &&
      ringKeys(full(0).rings(0)) == corners(cell)
    val missing = ch(ch(cell, 3), 3)
    val ann = mp((for (i <- 0 until 4; j <- 0 until 4) yield ch(ch(cell, i), j))
      .filterNot(_ == missing).toArray)
    val holeIsMissing = ann.length == 1 && ann(0).rings.length == 2 &&
      ringKeys(ann(0).rings(1)) == corners(missing)
    val pinch = mp(Array(ch(cell, 0), ch(cell, 1)))
    (fullIsParent, ann.length, holeIsMissing, pinch.length)
  })

  /** Deterministic per-document solid-color PNG (REAL JDK ImageIO
    * encoder; q49/q50's input). Solid color keeps the decoded channel
    * means in closed form for the oracle while every pixel still
    * travels through the actual codec. UDF justified: a codec call has
    * no built-in equivalent. */
  private val synthPng = udf((id: Long) => Multimodal.encodePng(
    (4 + id % 13).toInt, (3 + id % 7).toInt,
    (((id * 37) % 256).toInt << 16) | (((id * 59) % 256).toInt << 8) | ((id * 83) % 256).toInt))

  /** structural WKT validation: MULTIPOLYGON of closed 4-point rings
    * with in-range coordinates (exercises to_trixels + antimeridian
    * splitting; mirrored by a constant `true` in the oracle). */
  private val wktOk = udf((wkt: String) =>
    wkt != null && wkt.startsWith("MULTIPOLYGON (") && {
      val rings = "\\(\\(([^()]*)\\)\\)".r.findAllMatchIn(wkt).map(_.group(1)).toArray
      rings.nonEmpty && rings.forall { r =>
        val pts = r.split(",").map(_.trim.split("\\s+").map(_.toDouble))
        pts.length >= 4 && pts.head.sameElements(pts.last) &&
          pts.forall(p => p.length == 2 && p(0) >= -180 && p(0) <= 180 && p(1) >= -90 && p(1) <= 90)
      }
    })

  // ------------------------------------------------------------------
  // DuckDB oracles (same parquet inputs, same column names)
  // ------------------------------------------------------------------

  /** FNV-1a over the characters of an (ASCII) string expression, exact
    * mod-2^64 arithmetic in HUGEINT — the SQL mirror of the Scala
    * wrapping-multiply hash kernels. */
  private def fnvSql(strExpr: String): String =
    s"list_reduce(list_prepend(1469598103934665603::HUGEINT, " +
      s"list_transform(string_split($strExpr, ''), c -> ord(c)::HUGEINT)), " +
      s"(h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616::HUGEINT)"

  /** unsigned HUGEINT in [0, 2^64) -> the signed 64-bit value with the
    * same bit pattern. */
  private def toSignedSql(e: String): String =
    s"CASE WHEN $e >= 9223372036854775808::HUGEINT " +
      s"THEN (($e) - 18446744073709551616::HUGEINT)::BIGINT ELSE ($e)::BIGINT END"

  /** boxes relation literal, shared with the Spark-side regions. */
  private def boxesSql: String =
    "(SELECT * FROM (VALUES " + regions.map(r =>
      s"('${r.name}', ${r.lonMin}, ${r.lonMax}, ${r.latMin}, ${r.latMax}, ${r.wraps})")
      .mkString(", ") +
      ") AS t(region_name, lon_min, lon_max, lat_min, lat_max, wraps))"

  private val boxPredSql: String =
    "lat >= lat_min AND lat <= lat_max AND " +
      "((wraps AND (lon >= lon_min OR lon <= lon_max)) OR " +
      "(NOT wraps AND lon >= lon_min AND lon <= lon_max))"

  /** exact containment for one region, literals inlined. */
  private def regionPredSql(r: Region): String = {
    val lonPred =
      if (r.wraps) s"(lon >= ${r.lonMin} OR lon <= ${r.lonMax})"
      else s"(lon >= ${r.lonMin} AND lon <= ${r.lonMax})"
    s"lat >= ${r.latMin} AND lat <= ${r.latMax} AND $lonPred"
  }

  private def ptsSql: String =
    s"(SELECT doc_id, ${Webtext.latExpr} AS lat, ${Webtext.lonExpr} AS lon FROM documents)"

  def oracleSql: Map[String, String] = {
    val lat = Webtext.latExpr
    val lon = Webtext.lonExpr
    Map(
      "q01_lineitem_agg" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          | sum(l_extendedprice) AS sum_price, count(*) AS cnt
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q02_order_join" ->
        """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q03_window_topk" ->
        """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price FROM (
          | SELECT *, row_number() OVER (PARTITION BY o_custkey
          |   ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) WHERE rk = 1
          |ORDER BY o_custkey""".stripMargin,
      "q10_exact_dedup" ->
        """SELECT min(doc_id) AS keep_doc_id, count(*) AS dup_count
          |FROM documents GROUP BY text ORDER BY 1""".stripMargin,
      "q11_token_count" ->
        """SELECT doc_id,
          | CASE WHEN length(trim(text)) = 0 THEN 0
          |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          | length(text) AS n_chars_m
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q12_quality" ->
        """SELECT doc_id,
          | CASE WHEN length(trim(text)) = 0 THEN 0
          |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          | round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
          |       / greatest(length(text), 1), 6) AS digit_ratio,
          | round((length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g'))) * 1.0
          |       / greatest(length(text), 1), 6) AS punct_ratio
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q13_lang_id" ->
        s"""WITH scored AS (
           | SELECT doc_id,
           |  (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4 AS s_en,
           |  (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' der ', ''))) / 5
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' und ', ''))) / 5
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' die ', ''))) / 5 AS s_de,
           |  (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' le ', ''))) / 4
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' et ', ''))) / 4
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' les ', ''))) / 5 AS s_fr,
           |  (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' el ', ''))) / 4
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' y ', ''))) / 3
           |   + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' los ', ''))) / 5 AS s_es
           | FROM documents)
           |SELECT lang_pred, count(*) AS n FROM (
           | SELECT CASE
           |   WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
           |   WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
           |   WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
           |   WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
           |   ELSE 'fr' END AS lang_pred
           | FROM scored)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q14_geotag" ->
        s"""SELECT doc_id, round($lat, 4) AS lat, round($lon, 4) AS lon
           |FROM documents ORDER BY doc_id""".stripMargin,
      "q15_minhash_dups" ->
        """WITH d AS (
          | SELECT doc_id, list_distinct(list_transform(
          |   range(1, greatest(len(words) - 2, 0) + 1),
          |   i -> array_to_string(words[i:i+2], ' '))) AS sh
          | FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
          |       FROM documents)),
          |e AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM d),
          |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
          |             any_value(a.n) AS na, any_value(b.n) AS nb
          |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT doc_a, doc_b, round(inter / (na + nb - inter), 6) AS jaccard
          |FROM p WHERE inter / (na + nb - inter) >= 0.5 ORDER BY 1, 2""".stripMargin,
      "q16_simhash" -> {
        val fnvWord = fnvSql("word")
        s"""WITH w AS (
           | SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
           |   x -> x <> '')) AS word
           | FROM documents),
           |h AS (SELECT doc_id, $fnvWord AS hw FROM w),
           |v AS (SELECT doc_id, bit,
           |        sum(CASE WHEN (hw // (1::HUGEINT << bit)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
           |      FROM (SELECT doc_id, hw, unnest(range(0, 64)) AS bit FROM h) GROUP BY 1, 2),
           |s AS (SELECT doc_id,
           |        coalesce(sum(CASE WHEN vote > 0 THEN (1::HUGEINT << bit)
           |                          ELSE 0::HUGEINT END), 0::HUGEINT) AS shu
           |      FROM v GROUP BY 1)
           |SELECT d.doc_id, coalesce(${toSignedSql("s.shu")}, 0) AS simhash
           |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
           |ORDER BY d.doc_id""".stripMargin
      },
      "q17_ann_topk" -> {
        // query vector = float32-truncated sines, then cosine in DOUBLE
        // on both engines (DuckDB computes FLOAT[] cosines in float32,
        // which shifts the 4th decimal; the double cast aligns them)
        val qvec = (0 until 64).map(i => (math.sin(i + 1) / 8.0).toFloat.toDouble)
          .mkString("[", ",", "]::DOUBLE[]")
        s"""SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], $qvec), 4) AS cos_sim_r
           |FROM embeddings
           |ORDER BY list_cosine_similarity(embedding::DOUBLE[], $qvec) DESC, vec_id LIMIT 20""".stripMargin
      },
      "q18_near_dup_pairs" ->
        """WITH aug AS (
          | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          | UNION ALL
          | SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x * 0.5)
          | FROM embeddings)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |       round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim_r
          |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.v, b.v) >= 0.9
          |ORDER BY 1, 2""".stripMargin,
      "q19_fingerprint" ->
        s"""SELECT doc_id,
           | CASE WHEN text IS NULL OR length(text) = 0 THEN 1469598103934665603::BIGINT
           |      ELSE ${toSignedSql(fnvSql("text"))} END AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,
      "q20_stare_index" ->
        s"""SELECT doc_id, 26::BIGINT AS level, round(lat, 4) AS lat_r, round(lon, 4) AS lon_r,
           | true AS in_trixel, true AS roundtrip_ok
           |FROM $ptsSql ORDER BY doc_id""".stripMargin,
      "q21_cover_join" ->
        s"""SELECT region_name, count(*) AS pages
           |FROM $ptsSql JOIN $boxesSql ON $boxPredSql
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q22_cover_join_left" ->
        s"""SELECT coalesce(region_name, '__none') AS region_name, count(*) AS pages
           |FROM $ptsSql LEFT JOIN $boxesSql ON $boxPredSql
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q23_dissolve" ->
        """SELECT lang, sum(doc_id)::BIGINT AS doc_id_sum, count(*) AS n_docs, true AS dissolve_exact
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q24_speedy_subset" ->
        s"""SELECT doc_id, round(lat, 4) AS lat_r, round(lon, 4) AS lon_r
           |FROM $ptsSql WHERE ${regionPredSql(region("europe_c"))}
           |ORDER BY doc_id""".stripMargin,
      "q25_knn" ->
        s"""WITH pts AS (SELECT * FROM $ptsSql),
           |q AS (SELECT * FROM pts WHERE doc_id % 97 = 0),
           |d AS (SELECT q.doc_id AS doc_id, p.doc_id AS doc_id_nn,
           |       2 * asin(least(1.0, sqrt(
           |         power(sin((radians(p.lat) - radians(q.lat)) / 2), 2)
           |         + cos(radians(q.lat)) * cos(radians(p.lat))
           |           * power(sin(radians(p.lon - q.lon) / 2), 2)))) AS dist
           |      FROM q CROSS JOIN pts p)
           |SELECT doc_id, doc_id_nn, nn_rank FROM (
           | SELECT doc_id, doc_id_nn,
           |        row_number() OVER (PARTITION BY doc_id ORDER BY dist, doc_id_nn) AS nn_rank
           | FROM d) WHERE nn_rank <= 3
           |ORDER BY doc_id, nn_rank""".stripMargin,
      "q26_tile_dissolve" ->
        """SELECT lang, count(doc_id) AS n_docs, true AS wkt_ok
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q27_pods_roundtrip" ->
        s"""SELECT doc_id FROM $ptsSql
           |WHERE ${regionPredSql(region("europe_c"))}
           |  AND (1700000000 + doc_id * 61 % 31536000) BETWEEN 1700000600 AND 1700020000
           |ORDER BY doc_id""".stripMargin,
      "q28_tiv" ->
        """WITH t AS (
          | SELECT doc_id, (1700000000 + doc_id * 61 % 31536000) AS utc FROM documents),
          |t2 AS (
          | SELECT doc_id, utc + (CASE WHEN utc >= 1483228800 THEN 37
          |                            WHEN utc >= 1435708800 THEN 36
          |                            WHEN utc >= 1341100800 THEN 35 ELSE 34 END) AS tai FROM t),
          |f AS (SELECT doc_id, tai // 86400 AS days, tai % 86400 AS sod FROM t2),
          |c1 AS (SELECT doc_id, sod, (days + 719468) // 146097 AS era,
          |              (days + 719468) % 146097 AS doe FROM f),
          |c2 AS (SELECT *, (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365 AS yoe FROM c1),
          |c3 AS (SELECT *, era * 400 + yoe AS y,
          |              doe - (365 * yoe + yoe // 4 - yoe // 100) AS doym FROM c2),
          |c4 AS (SELECT *, (5 * doym + 2) // 153 AS mp FROM c3),
          |c5 AS (SELECT *, doym - (153 * mp + 2) // 5 + 1 AS d,
          |              CASE WHEN mp < 10 THEN mp + 3 ELSE mp - 9 END AS m FROM c4),
          |c6 AS (SELECT *, CASE WHEN m <= 2 THEN y + 1 ELSE y END AS yr FROM c5),
          |c7 AS (SELECT doc_id, sod, yr,
          |        (CASE m WHEN 1 THEN 0 WHEN 2 THEN 31 WHEN 3 THEN 59 WHEN 4 THEN 90
          |                WHEN 5 THEN 120 WHEN 6 THEN 151 WHEN 7 THEN 181 WHEN 8 THEN 212
          |                WHEN 9 THEN 243 WHEN 10 THEN 273 WHEN 11 THEN 304 ELSE 334 END)
          |        + d + (CASE WHEN ((yr % 4 = 0 AND yr % 100 <> 0) OR yr % 400 = 0) AND m > 2
          |                    THEN 1 ELSE 0 END) AS doy
          |       FROM c6)
          |SELECT doc_id,
          |  yr * 1125899906842624
          |  + ((doy - 1) // 28) * 70368744177664
          |  + (((doy - 1) % 28) // 7) * 17592186044416
          |  + ((doy - 1) % 7) * 2199023255552
          |  + (sod // 3600) * 68719476736
          |  + ((sod % 3600) // 60) * 1073741824
          |  + (sod % 60) * 16777216
          |  + 12481 AS tiv
          |FROM c7 ORDER BY doc_id""".stripMargin,
      "q29_multimodal_features" -> {
        val html = "'<html><body>' || text || '</body></html>'"
        val hu = fnvSql(html)
        s"""WITH h AS (
           | SELECT 'https://crawl.example/' || lang || '/' || source || '/' || doc_id AS url,
           |        length(text) + 26 AS byte_len, $hu AS hu
           | FROM documents),
           |s AS (SELECT url, byte_len, hu,
           |        CASE WHEN hu >= 9223372036854775808::HUGEINT
           |             THEN 18446744073709551616::HUGEINT - hu ELSE hu END AS habs,
           |        CASE WHEN hu >= 9223372036854775808::HUGEINT
           |             THEN hu // 1024 - 18014398509481984::HUGEINT ELSE hu // 1024 END AS h10
           |      FROM h)
           |SELECT url, byte_len,
           |  (64 + habs % 1024)::INTEGER AS width,
           |  (64 + (CASE WHEN h10 < 0::HUGEINT THEN -h10 ELSE h10 END) % 1024)::INTEGER AS height
           |FROM s ORDER BY url""".stripMargin
      },
      "q46_resize" -> {
        val html = "'<html><body>' || text || '</body></html>'"
        s"""WITH h AS (
           | SELECT 'https://crawl.example/' || lang || '/' || source || '/' || doc_id AS url,
           |        ${fnvSql(html)} AS hu
           | FROM documents)
           |SELECT url, 32 AS width, 16 AS height,
           |  2 * list_sum(list_transform(range(0, 8),
           |      j -> ((hu // (1::HUGEINT << (8 * j))) % 256)::BIGINT))::BIGINT AS thumb_sum
           |FROM h ORDER BY url""".stripMargin
      },
      "q30_adaptive_index" ->
        """SELECT least(greatest(CAST(ceil(log2(90.0 / ((doc_id % 20 + 1) / 4.0))) AS BIGINT), 0), 27)
          |  AS level, count(*) AS n
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q31_pods_catalog" ->
        """SELECT count(*) AS total_rows, 1::BIGINT AS n_lineages FROM documents""".stripMargin,
      "q32_streaming_index" ->
        """SELECT lang, count(*) AS pages, 26::BIGINT AS max_level
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q48_stream_reconcile" ->
        s"""SELECT doc_id FROM $ptsSql
           |WHERE ${regionPredSql(region("asia_se"))}
           |  AND (1700000000 + doc_id * 61 % 31536000) BETWEEN 1700005000 AND 1700028000
           |ORDER BY doc_id""".stripMargin,
      "q49_image_decode" ->
        """SELECT doc_id, (4 + doc_id % 13)::INTEGER AS width,
          |  (3 + doc_id % 7)::INTEGER AS height,
          |  (doc_id * 37) % 256 AS mean_r, (doc_id * 59) % 256 AS mean_g,
          |  (doc_id * 83) % 256 AS mean_b
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q50_image_resize" ->
        """SELECT doc_id, 5::INTEGER AS width, 4::INTEGER AS height,
          |  (doc_id * 37) % 256 AS mean_r, (doc_id * 59) % 256 AS mean_g,
          |  (doc_id * 83) % 256 AS mean_b
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q52_dissolve_geom" ->
        """SELECT doc_id, (3 + doc_id % 6)::INTEGER AS cell_level,
          |  true AS full_is_parent, 1 AS annulus_polys,
          |  true AS hole_is_missing, 2 AS pinch_polys
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q51_image_meta" ->
        """SELECT doc_id, 'png' AS format, (4 + doc_id % 13)::INTEGER AS width,
          |  (3 + doc_id % 7)::INTEGER AS height
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q33_cover_algebra" -> {
        val pairVals = regionPairs.map { case (a, b) =>
          s"('${a.name}|${b.name}', ${a.lonMin}, ${a.lonMax}, ${a.latMin}, ${a.latMax}, ${a.wraps}, " +
            s"${b.lonMin}, ${b.lonMax}, ${b.latMin}, ${b.latMax}, ${b.wraps})"
        }.mkString(", ")
        s"""WITH pairs AS (SELECT * FROM (VALUES $pairVals)
           | AS t(pair_name, a_lon_min, a_lon_max, a_lat_min, a_lat_max, a_wraps,
           |       b_lon_min, b_lon_max, b_lat_min, b_lat_max, b_wraps)),
           |pts AS $ptsSql,
           |c AS (SELECT pair_name, count(*) AS n FROM pairs JOIN pts ON
           |  lat >= a_lat_min AND lat <= a_lat_max AND
           |  ((a_wraps AND (lon >= a_lon_min OR lon <= a_lon_max))
           |    OR (NOT a_wraps AND lon >= a_lon_min AND lon <= a_lon_max)) AND
           |  lat >= b_lat_min AND lat <= b_lat_max AND
           |  ((b_wraps AND (lon >= b_lon_min OR lon <= b_lon_max))
           |    OR (NOT b_wraps AND lon >= b_lon_min AND lon <= b_lon_max))
           | GROUP BY 1)
           |SELECT p.pair_name, coalesce(c.n, 0)::BIGINT AS pages
           |FROM pairs p LEFT JOIN c USING (pair_name) ORDER BY 1""".stripMargin
      },
      "q34_ellipse_subset" ->
        s"""SELECT doc_id, round(lat, 4) AS lat_r, round(lon, 4) AS lon_r
           |FROM $ptsSql WHERE ${ellipseQuery.predicateSql}
           |ORDER BY doc_id""".stripMargin,
      "q35_ngram_jaccard" ->
        """WITH g AS (
          | SELECT doc_id, list_distinct(list_transform(
          |   range(1, greatest(length(coalesce(text, '')) - 2, 1) + 1),
          |   i -> coalesce(text, '')[i:i+2])) AS gs
          | FROM documents)
          |SELECT a.doc_id AS doc_id, len(list_intersect(a.gs, b.gs))::BIGINT AS n_inter,
          |       len(list_distinct(list_concat(a.gs, b.gs)))::BIGINT AS n_union
          |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 ORDER BY 1""".stripMargin,
      "q36_trixel_geometry" ->
        """SELECT doc_id, 8::BIGINT AS cell_level, true AS geom_ok, true AS root_area_ok
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q40_cover_overlap_join" ->
        s"""SELECT a.region_name AS name_a, b.region_name AS name_b
           |FROM $boxesSql a, $boxesSql b
           |WHERE a.region_name < b.region_name
           |  AND a.lat_min <= b.lat_max AND b.lat_min <= a.lat_max
           |  AND (CASE
           |    WHEN a.wraps AND b.wraps THEN true
           |    WHEN a.wraps THEN (b.lon_max >= a.lon_min OR b.lon_min <= a.lon_max)
           |    WHEN b.wraps THEN (a.lon_max >= b.lon_min OR a.lon_min <= b.lon_max)
           |    ELSE a.lon_min <= b.lon_max AND b.lon_min <= a.lon_max END)
           |ORDER BY 1, 2""".stripMargin,
      "q39_frame_sample" -> {
        val html = "'<html><body>' || text || '</body></html>'"
        val frameHash = "(hu * (frame_idx + 1)) % 18446744073709551616::HUGEINT"
        s"""WITH h AS (
           | SELECT 'https://crawl.example/' || lang || '/' || source || '/' || doc_id AS url,
           |        ${fnvSql(html)} AS hu
           | FROM documents),
           |f AS (SELECT url, hu,
           |        unnest(range(0, (1 + hu % 7)::BIGINT)) AS frame_idx
           |      FROM h)
           |SELECT url, frame_idx::INTEGER AS frame_idx, (frame_idx * 1000)::BIGINT AS ts_ms,
           |       ${toSignedSql(frameHash)} AS frame_hash
           |FROM f ORDER BY url, frame_idx""".stripMargin
      },
      "q38_ivf_topk" -> {
        val qvec = (0 until 64).map(i => (math.cos(i + 1) / 8.0).toFloat.toDouble)
          .mkString("[", ",", "]::DOUBLE[]")
        s"""SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], $qvec), 4) AS cos_sim_r
           |FROM embeddings
           |ORDER BY list_cosine_similarity(embedding::DOUBLE[], $qvec) DESC, vec_id LIMIT 20""".stripMargin
      },
      "q47_ivf_batch" -> {
        val qvals = batchQueryVecs.map { case (qid, arr) =>
          s"($qid::BIGINT, ${arr.map(_.toDouble).mkString("[", ",", "]")}::DOUBLE[])"
        }.mkString(", ")
        s"""WITH q AS (SELECT * FROM (VALUES $qvals) AS t(qid, qv)),
           |s AS (SELECT qid, vec_id, list_cosine_similarity(embedding::DOUBLE[], qv) AS cs
           |      FROM q CROSS JOIN embeddings),
           |r AS (SELECT qid, vec_id, cs,
           |        row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rk FROM s)
           |SELECT qid, vec_id, round(cs, 4) AS cos_sim_r FROM r WHERE rk <= 20
           |ORDER BY qid, vec_id""".stripMargin
      },
      "q45_dup_clusters" ->
        """WITH RECURSIVE d AS (
          | SELECT doc_id, list_distinct(list_transform(
          |   range(1, greatest(len(words) - 2, 0) + 1),
          |   i -> array_to_string(words[i:i+2], ' '))) AS sh
          | FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
          |       FROM documents)),
          |e AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM d),
          |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
          |             any_value(a.n) AS na, any_value(b.n) AS nb
          |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |dup AS (SELECT doc_a, doc_b FROM p WHERE inter / (na + nb - inter) >= 0.5),
          |edges AS (SELECT doc_a AS s, doc_b AS t FROM dup
          |          UNION SELECT doc_b, doc_a FROM dup),
          |reach(id, r) AS (
          | SELECT s, s FROM edges
          | UNION
          | SELECT ed.t, reach.r FROM reach JOIN edges ed ON ed.s = reach.id)
          |SELECT id AS doc_id, min(r) AS cluster_id
          |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
      "q44_hull_subset" ->
        s"""SELECT doc_id, round(lat, 4) AS lat_r, round(lon, 4) AS lon_r
           |FROM $ptsSql WHERE ${regionPredSql(region("europe_c"))}
           |ORDER BY doc_id""".stripMargin,
      "q43_shuffle_join_left" ->
        s"""SELECT coalesce(region_name, '__none') AS region_name, count(*) AS pages
           |FROM $ptsSql LEFT JOIN $boxesSql ON $boxPredSql
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q41_polar_subset" ->
        s"""SELECT doc_id, round($polarLatSql, 4) AS lat_r, round($lon, 4) AS lon_r
           |FROM documents WHERE $polarLatSql >= 85.0
           |ORDER BY doc_id""".stripMargin,
      "q42_polar_wkt" ->
        s"""SELECT lang, count(*) AS n_docs, true AS wkt_ok
           |FROM documents WHERE $polarLatSql >= 85.0
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q37_raster_grid" ->
        """WITH g AS (
          | SELECT a.x AS x, b.y AS y
          | FROM (SELECT unnest(range(0, 256)) AS x) a
          | CROSS JOIN (SELECT unnest(range(0, 128)) AS y) b)
          |SELECT (y // 16)::BIGINT AS band, sum((x * 31 + y * 7) % 1000)::BIGINT AS val_sum,
          |       count(*) AS n_px, true AS all_in_trixel
          |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
    )
  }
}
