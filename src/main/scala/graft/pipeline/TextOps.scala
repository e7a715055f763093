package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents`/webtext tables:
  * deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), language
  * ID, quality scoring, token counting, document fingerprinting.
  *
  * Everything is built from codegen'd Spark SQL functions — no UDFs in
  * the exact-dedup/quality/token paths; MinHash/SimHash use
  * higher-order array functions (`transform`/`aggregate`) which stay in
  * the JVM. Oracles for the SQL-expressible subset live in
  * SparkEntry.oracleSql.
  */
object TextOps {

  // ----------------------------------------------------------- exact dedup

  /** Exact dedup on text content: keep the smallest doc_id per distinct
    * text, count duplicates. Groups on a 128-bit content hash (two
    * independent xxhash64 seeds) so the shuffle key is 16 bytes instead
    * of the full text — at 100 TB the text never moves as a group key.
    * Collision probability over P pairs is P·2^-128 (negligible at any
    * corpus size). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text"), lit(1)), xxhash64(col("text"), lit(2)))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_doc_id"), col("dup_count"))

  // ----------------------------------------------------------- shingles & hashes

  /** word k-shingles of the trimmed, lowercased text. */
  def shingles(text: Column, k: Int = 3): Column = {
    val words = split(trim(lower(text)), "\\s+")
    // array of space-joined k-grams; empty when fewer than k words
    filter(
      transform(sequence(lit(0), greatest(size(words) - k, lit(0))),
        i => when(i + k <= size(words), concat_ws(" ", slice(words, i + 1, lit(k))))),
      c => c.isNotNull)
  }

  /** exact word-k-shingle Jaccard between two text columns — the refine
    * step after LSH candidate generation (and the quantity MinHash
    * estimates). One-pass primitive UDF over exact shingle STRINGS (no
    * hashing, so no collision risk vs the oracle): the higher-order-
    * function formulation (slice per index) evaluated interpreted at
    * O(words²) per row and dominated the q15 bench. Mirrored 1:1 by the
    * DuckDB oracle SQL. */
  def shingleJaccard(a: Column, b: Column, k: Int = 3): Column =
    shingleJaccardUdf(a, b, lit(k))

  private def shingleSet(text: String, k: Int): java.util.HashSet[String] = {
    val out = new java.util.HashSet[String]()
    if (text != null) {
      val words = text.trim.toLowerCase.split("\\s+")
      var i = 0
      while (i + k <= words.length) {
        val sb = new java.lang.StringBuilder(words(i))
        var j = i + 1
        while (j < i + k) { sb.append(' ').append(words(j)); j += 1 }
        out.add(sb.toString)
        i += 1
      }
    }
    out
  }

  /** exact word-k-shingle Jaccard of two texts (Column-arity overload
    * backing the SQL registry — same kernel as the Int-arg path). */
  def shingleJaccard(a: Column, b: Column, k: Column): Column =
    shingleJaccardUdf(a, b, k)

  private val shingleJaccardUdf = udf((a: String, b: String, k: Int) => {
    val sa = shingleSet(a, k); val sb = shingleSet(b, k)
    if (sa.isEmpty && sb.isEmpty) 0.0
    else {
      var inter = 0
      val it = sa.iterator()
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      inter.toDouble / (sa.size + sb.size - inter)
    }
  })

  /** Sorted distinct 64-bit FNV-1a hashes of the word k-shingles — the
    * refine-side projection of a document (round-3 q15 trim): computed
    * ONCE per document, candidate pairs then exchange ~8 bytes per
    * distinct shingle instead of the full text shipped twice, and the
    * per-pair Jaccard becomes a linear sorted-merge instead of
    * re-shingling both texts per pair. Hash collisions vs exact string
    * shingles shift a pair's Jaccard with probability
    * <= |union|² / 2^64 (~1e-13 for 10k-shingle unions) — negligible
    * against the DuckDB string-shingle oracle at any tested scale. */
  def shingleHashes(text: Column, k: Int = 3): Column =
    shingleHashesUdf(text, lit(k))

  /** Column-arity overload backing the SQL registry. */
  def shingleHashes(text: Column, k: Column): Column =
    shingleHashesUdf(text, k)

  private val shingleHashesUdf = udf((text: String, k: Int) => {
    val words = if (text == null) Array.empty[String]
      else text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i + k <= words.length) {
      var h = 1469598103934665603L // FNV-1a over the space-joined k-shingle
      var j = i
      while (j < i + k) {
        val w = words(j)
        var c = 0
        while (c < w.length) { h = (h ^ w.charAt(c).toLong) * 1099511628211L; c += 1 }
        if (j < i + k - 1) h = (h ^ ' '.toLong) * 1099511628211L
        j += 1
      }
      set.add(h)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  })

  /** exact Jaccard of two sorted distinct hash arrays (linear merge). */
  def hashedJaccard(a: Column, b: Column): Column = hashedJaccardUdf(a, b)

  private val hashedJaccardUdf = udf((a: Seq[Long], b: Seq[Long]) => {
    if (a.isEmpty && b.isEmpty) 0.0
    else {
      val xa = a.toArray; val xb = b.toArray
      var i = 0; var j = 0; var inter = 0
      while (i < xa.length && j < xb.length) {
        if (xa(i) == xb(j)) { inter += 1; i += 1; j += 1 }
        else if (xa(i) < xb(j)) i += 1
        else j += 1
      }
      inter.toDouble / (xa.length + xb.length - inter)
    }
  })

  /** deterministic 64-bit-ish hash of a string column (xxhash64). */
  def h64(c: Column, seed: Int): Column = xxhash64(c, lit(seed))

  /** MinHash signature: for each of `perms` hash seeds, the minimum
    * shingle hash. Returns array<bigint> of length perms.
    *
    * One UDF pass: hash each shingle once (FNV-1a over the words) and
    * derive the per-permutation hashes by seed mixing — O(words x perms).
    * The pure-SQL variant (slice()-built shingle array re-evaluated per
    * permutation) was O(words^2 x perms) per row and unusable at sf0.1. */
  def minhashSignature(text: Column, k: Int = 3, perms: Int = 16): Column =
    minhashUdf(text, lit(k), lit(perms))

  /** Column-arity overload backing the SQL registry. */
  def minhashSignature(text: Column, k: Column, perms: Column): Column =
    minhashUdf(text, k, perms)

  /** The one MinHash kernel: FNV-1a over each k-word shingle, then one
    * xorshift-style seed mix per permutation, keeping the minimum. */
  private def minhash(text: String, k: Int, perms: Int): Array[Long] = {
    val words = if (text == null) Array.empty[String] else text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val sig = Array.fill(perms)(Long.MaxValue)
    if (words.length >= k) {
      var i = 0
      while (i + k <= words.length) {
        var h = 1469598103934665603L // FNV-1a over the k-shingle
        var j = i
        while (j < i + k) {
          val w = words(j)
          var c = 0
          while (c < w.length) { h = (h ^ w.charAt(c).toLong) * 1099511628211L; c += 1 }
          h = (h ^ ' '.toLong) * 1099511628211L
          j += 1
        }
        var p = 0
        while (p < perms) {
          var m = h ^ (0x9E3779B97F4A7C15L * (p + 1))
          m ^= (m >>> 33); m *= 0xFF51AFD7ED558CCDL; m ^= (m >>> 33)
          if (m < sig(p)) sig(p) = m
          p += 1
        }
        i += 1
      }
    }
    sig
  }

  private val minhashUdf = udf((text: String, k: Int, perms: Int) => minhash(text, k, perms))

  /** Banded minhash signature: one UDF pass emits the per-band hash
    * directly (FNV-1a fold over each band's minima) instead of a
    * 12-expression slice/concat/xxhash projection over the raw
    * signature — the wide projection compiled a large janino class and
    * dominated the COLD time of minhashCandidates (sub-second compute,
    * multi-second first-run codegen at any data size). */
  private[pipeline] def minhashBandHashes(text: Column, k: Int, perms: Int, bands: Int): Column =
    minhashBandsUdf(text, lit(k), lit(perms), lit(bands))

  private val minhashBandsUdf = udf((text: String, k: Int, perms: Int, bands: Int) => {
    val sig = minhash(text, k, perms)
    val rows = perms / bands
    Array.tabulate(bands) { b =>
      var h = 1469598103934665603L ^ (b * 0x9E3779B97F4A7C15L)
      var r = 0
      while (r < rows) {
        val v = sig(b * rows + r)
        var s = 0
        while (s < 8) { h = (h ^ ((v >>> (8 * s)) & 0xffL)) * 1099511628211L; s += 1 }
        r += 1
      }
      h
    }
  })

  /** MinHash-LSH candidate pairs: band the signature, bucket-join on
    * (band index, band hash), dedup pairs. bands*rowsPerBand = perms.
    *
    * Parameter shape (12 bands x 3 rows): a pair at Jaccard J is missed
    * with probability (1-J³)^12 — ~1.6e-7 at J=0.9, ~1e-12 at J=0.95 —
    * while BACKGROUND pairs at J~0.07 collide at only ~3.6e-3 (wider
    * bands of 2 rows produced ~20x the candidate volume on mid-Jaccard
    * corpora: all-pairs in disguise). Downstream of an exact-Jaccard
    * refine the result is the exact pair set for thresholds that sit in
    * a corpus's near-dup gap (>= ~0.9 guaranteed; lower when no pairs
    * occupy the band in between, as with planted-dup corpora).
    *
    * `maxBucket` guards the self-join against degenerate buckets
    * (boilerplate/empty texts share band hashes): buckets above the cap
    * are dropped and counted to stderr — the O(bucket²) blowup is
    * bounded by cap² per bucket at any corpus size. */
  def minhashCandidates(docs: DataFrame, k: Int = 3, perms: Int = 36, bands: Int = 12,
                        maxBucket: Long = 100000L): DataFrame =
    minhashCandidateSet(docs, k, perms, bands, maxBucket).pairs

  /** Candidate pairs plus the accounting the caller needs, in TWO Spark
    * actions total (r3 verdict item 2: the previous shape ran the
    * over-cap agg, a pair materialization count, and left the caller to
    * re-count and re-collect — ~4 actions of pure cold-path latency).
    *
    * `localPairs` is populated when the i<j pair UPPER BOUND (computed in
    * the same action as the over-cap stats) fits `smallPairCap`: the
    * caller can then push the ids straight into a parquet-scan In filter
    * with no further job against the candidate frame. Above the cap the
    * pairs stay distributed (materialized, so downstream reuse does not
    * recompute the text scan) and `localPairs` is None. */
  final case class CandidateSet(pairs: DataFrame, localPairs: Option[Array[(Long, Long)]],
                                droppedBuckets: Long, droppedRows: Long)

  def minhashCandidateSet(docs: DataFrame, k: Int = 3, perms: Int = 36, bands: Int = 12,
                          maxBucket: Long = 100000L, smallPairCap: Long = 10000L): CandidateSet = {
    require(perms % bands == 0, s"perms=$perms not divisible by bands=$bands")
    // Bucket shape (round-3 rework): ONE groupBy + collect_list pass
    // builds each (band, bandhash) bucket — the previous two-sided
    // self-join shuffled the banded frame twice and needed a separate
    // bucket-size scan; with the aggregated buckets in hand, the
    // over-cap accounting is a cheap action on the SMALL bucket frame
    // and singleton buckets (the overwhelming majority) are dropped
    // before any pair is generated. Per-bucket memory is bounded by
    // maxBucket ids (8 B each); per-bucket pair fan-out by maxBucket².
    val spark = docs.sparkSession
    val buckets = docs
      .select(col("doc_id"), posexplode(minhashBandHashes(col("text"), k, perms, bands))
        .as(Seq("band", "bandhash")))
      .groupBy(col("band"), col("bandhash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .persist()
    // ONE action: over-cap stats AND the kept-bucket pair upper bound
    val n = size(col("ids")).cast("long")
    val st = buckets.agg(
      coalesce(sum(when(n > maxBucket, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(n > maxBucket, n).otherwise(0L)), lit(0L)),
      // NB: Column./ is double division; n*(n-1) is even, so >> 1 is exact
      coalesce(sum(when(n <= maxBucket, shiftright(n * (n - 1), 1)).otherwise(0L)),
        lit(0L))).collect()(0)
    val (overBuckets, overRows, pairBound) = (st.getLong(0), st.getLong(1), st.getLong(2))
    if (overBuckets > 0)
      System.err.println(s"[minhashCandidates] dropped $overRows rows in " +
        s"$overBuckets over-cap buckets (cap=$maxBucket)")
    val pairsPlan = pairsFromBuckets(buckets.filter(n <= maxBucket), "ids", "doc_a", "doc_b")
    if (pairBound <= smallPairCap) {
      // small case: collect the deduped pairs (second and last action),
      // release the cache, and hand back a LOCAL frame — downstream
      // joins broadcast it for free and no job ever touches the
      // candidate plan again
      val local = pairsPlan.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      buckets.unpersist(false)
      import spark.implicits._
      CandidateSet(local.toSeq.toDF("doc_a", "doc_b"), Some(local), overBuckets, overRows)
    } else {
      val result = pairsPlan.persist()
      result.count()
      buckets.unpersist(false)
      CandidateSet(result, None, overBuckets, overRows)
    }
  }

  /** i<j id pairs of every bucket, STREAMED through two generators
    * (explode × explode + filter) instead of materialized per bucket: a
    * near-cap bucket's n²/2 pairs never exist as one in-memory buffer
    * (the UDF formulation allocated tens of GB on duplicate-heavy
    * corpora — exactly the dedup workload), they flow row-by-row into
    * the downstream shuffle. Fan-out stays bounded by the caller's
    * bucket cap; dedup across buckets is the one distinct() shuffle. */
  private[pipeline] def pairsFromBuckets(buckets: DataFrame, idsCol: String,
                                         aName: String, bName: String): DataFrame =
    buckets
      .select(col(idsCol), explode(col(idsCol)).as(aName))
      .select(col(aName), explode(col(idsCol)).as(bName))
      .filter(col(aName) < col(bName))
      .distinct()

  /** Connected components over a duplicate-pair graph -> canonical id
    * per document (the step AFTER pair generation in a dedup pipeline:
    * near-dup pairs chain A~B~C, and the kept document must be chosen
    * per COMPONENT, not per pair). A pair graph of at most
    * `localEdgeCap` directed edges is union-found on the driver: a
    * LocalRelation's pairs are already there, so that costs no Spark
    * job; any other frame is counted, then collected if it fits (the
    * cap bounds driver memory at ~16 B/edge). Above the cap (or with
    * `localEdgeCap = 0`), distributed min-label propagation: every node
    * starts as its own label; each round pulls the minimum neighbor
    * label; fixpoint when no label changes. Rounds are bounded by the
    * component diameter — near-dup components are dense (near-cliques
    * through shared buckets), so convergence is fast; the iteration cap
    * guards pathological chains and is logged if hit. Propagation state
    * is a (id, label) frame, each round one join + one aggregation,
    * checkpoint-free because the label frame is re-persisted and the
    * old cache released per round.
    *
    * Returns (id, cluster_id) where cluster_id = min id reachable. */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
                  maxIter: Int = 25, localEdgeCap: Long = 500000L): DataFrame = {
    val spark = pairs.sparkSession
    val ab = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    if (org.apache.spark.sql.graft.shim.isLocalRelation(pairs)) {
      val es = ab.collect().flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        Seq((a, b), (b, a))
      }.distinct
      if (es.length <= localEdgeCap) return unionFind(spark, es)
    }
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val edges = ab.unionByName(ab.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    persisted += edges
    if (edges.count() <= localEdgeCap) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist(false)
      return unionFind(spark, es)
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .persist()
    persisted += labels
    labels.count()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val prop = edges.join(labels.select(col("id").as("src"), col("cluster_id")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("cluster_id")).as("__nbr"))
      val next = labels.withColumnRenamed("cluster_id", "__old")
        .join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("__old"), coalesce(col("__nbr"), col("__old"))).as("cluster_id"),
          col("__old"))
        .persist()
      persisted += next
      changed = next.filter(col("cluster_id") =!= col("__old")).count()
      labels = next.drop("__old")
      it += 1
    }
    if (changed > 0)
      System.err.println(s"[dupClusters] iteration cap $maxIter hit with $changed labels still moving")
    // materialize once, then release every per-round cache (each round's
    // frame fed two consumers — the change count and the next round)
    val result = labels.persist()
    result.count()
    persisted.foreach(_.unpersist(false))
    result
  }

  /** Driver-side union-find over an edge list: (id, min id of its
    * component) as a local frame. */
  private def unionFind(spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    import spark.implicits._
    // snapshot the keys before mapping: find() path-compresses into the
    // same HashMap, and iterating a map while mutating it (even
    // value-only updates) is not contractually defined behavior
    val ks = parent.keysIterator.toArray
    ks.map(id => (id, find(id))).toSeq.sorted.toDF("id", "cluster_id")
  }

  /** SimHash (64-bit) over word hashes: per-bit majority vote of the
    * word-hash population. One UDF pass (the SQL formulation needed 64
    * aggregate scans per row). */
  private val simhashUdf = udf((text: String) => {
    val votes = new Array[Int](64)
    if (text != null) {
      text.toLowerCase.split("\\s+").foreach { w =>
        if (w.nonEmpty) {
          var h = 1469598103934665603L
          var c = 0
          while (c < w.length) { h = (h ^ w.charAt(c).toLong) * 1099511628211L; c += 1 }
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  })
  def simhash(text: Column): Column = simhashUdf(text)

  /** n-gram (character trigram) Jaccard similarity between two text cols. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    def grams(c: Column) = array_distinct(
      transform(sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
        i => c.substr(i, lit(n))))
    val ga = grams(a); val gb = grams(b)
    val inter = size(array_intersect(ga, gb)).cast("double")
    val uni = size(array_union(ga, gb)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  // ----------------------------------------------------------- language ID

  /** Tiny stopword-count language classifier (en/de/fr/es heuristic):
    * the language whose marker words occur most often. Deterministic,
    * SQL-expressible (oracle mirrors it). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " y ", " los "))

  private def countOcc(text: Column, token: String): Column =
    ((length(text) - length(regexp_replace(text, token, ""))) / token.length).cast("long")

  def langScores(text: Column): Seq[(String, Column)] = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    langMarkers.toSeq.sortBy(_._1).map { case (lang, toks) =>
      lang -> toks.map(t => countOcc(padded, t)).reduce(_ + _)
    }
  }

  /** predicted language code (ties -> lexicographically first, 'und' if
    * all scores zero). One UDF pass over the text: the pure-SQL variant
    * needed 12 regexp_replace scans per row (and projection collapse
    * re-inlined them ~9x into the argmax chain — 100x slowdown measured);
    * a single indexOf scan counts all markers at once. Count semantics
    * (non-overlapping, left-to-right) match the replace()-based DuckDB
    * oracle exactly. */
  private val langIdUdf = udf((text: String) => {
    if (text == null) "und"
    else {
      val padded = " " + text.toLowerCase + " "
      var bestLang = "und"; var bestScore = 0L
      langMarkers.toSeq.sortBy(_._1).foreach { case (lang, toks) =>
        var score = 0L
        toks.foreach { t =>
          var idx = padded.indexOf(t)
          while (idx >= 0) { score += 1; idx = padded.indexOf(t, idx + t.length) }
        }
        if (score > bestScore) { bestScore = score; bestLang = lang }
      }
      bestLang
    }
  })

  /** predicted language code as a Column (SQL-registry entry point). */
  def langId(text: Column): Column = langIdUdf(text)

  def withLangId(df: DataFrame, textCol: Column, outCol: String): DataFrame =
    df.withColumn(outCol, langId(textCol))

  // ----------------------------------------------------------- quality & tokens

  /** whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0L).otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** quality features: length, token count, mean word length, digit and
    * punctuation ratios, stopword ratio; plus a single scalar score. */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val t = col("text")
    val toks = tokenCount(t)
    val digits = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "[\\.,;:!\\?]", ""))).cast("double")
    val stop = countOcc(concat(lit(" "), lower(t), lit(" ")), " the ") +
      countOcc(concat(lit(" "), lower(t), lit(" ")), " and ")
    docs.select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      toks.as("n_tokens"),
      (length(t).cast("double") / greatest(toks, lit(1L))).as("mean_tok_len"),
      (digits / greatest(length(t), lit(1)).cast("double")).as("digit_ratio"),
      (punct / greatest(length(t), lit(1)).cast("double")).as("punct_ratio"),
      (stop.cast("double") / greatest(toks, lit(1L))).as("stopword_ratio"))
  }

  /** Rolling FNV-1a fingerprint of the text: order-sensitive content
    * hash usable for near-identity checks. Scala UDF (wrapping 64-bit
    * multiply — Spark 4's ANSI mode forbids overflow in SQL arithmetic). */
  private val fpUdf = udf((text: String) => {
    var h = 1469598103934665603L
    if (text != null) {
      var i = 0
      while (i < text.length) { h = (h ^ text.charAt(i).toLong) * 1099511628211L; i += 1 }
    }
    h
  })
  def fingerprint(text: Column): Column = fpUdf(text)
}
