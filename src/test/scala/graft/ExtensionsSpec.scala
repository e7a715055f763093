package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-registry injection: the native expressions must be reachable from
  * plain SQL in a session built with the extension (spark-submit
  * `--conf spark.sql.extensions=graft.StareExtensions`). */
class ExtensionsSpec extends AnyFunSuite {

  test("stare_sid / stare_clear usable from spark.sql via extensions") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .withExtensions(new StareExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        "SELECT stare_sid(20.0d, 10.5d, 27) AS sid, stare_clear(stare_sid(20.0d, 10.5d, 20)) AS cleared")
        .collect()(0)
      assert(r.getLong(0) === 4598246232954051067L) // golden point encode
      assert(r.getLong(1) === graft.core.Sid.clearToLevel(4598246232954051060L))
      // null path through SQL
      val n = spark.sql("SELECT stare_sid(CAST(NULL AS DOUBLE), 10.5d, 27)").collect()(0)
      assert(n.isNullAt(0))
      // cover predicate against a literal cover: the point's own cleared
      // cell must intersect, a distant cell must not
      val sid = 4598246232954051067L
      val cell = graft.core.Sid.clearToLevel(graft.core.Sid.coerceLevel(sid, 8))
      val hit = spark.sql(
        s"SELECT stare_intersects_cover(stare_sid(20.0d, 10.5d, 27), array(${cell}L)), " +
          s"stare_intersects_cover(stare_sid(-20.0d, -110.5d, 27), array(${cell}L))").collect()(0)
      assert(hit.getBoolean(0) && !hit.getBoolean(1))
    } finally spark.stop()
  }

  test("stare_clear_to with a literal level is the native clear, fused over stare_sid") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-clear-to")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .withExtensions(new StareExtensions)
      .getOrCreate()
    try {
      // over range(), not VALUES: a LocalRelation would be constant-folded
      spark.sql("""CREATE OR REPLACE TEMP VIEW pts AS SELECT id,
        |  CASE id WHEN 1 THEN 20.0d WHEN 2 THEN -33.45d WHEN 3 THEN 90.0d END AS lat,
        |  CASE id WHEN 1 THEN 10.5d WHEN 2 THEN -70.66d WHEN 3 THEN 180.0d ELSE 1.0d END AS lon
        |FROM range(1, 5)""".stripMargin)
      val fused = spark.sql(
        "SELECT id, stare_clear_to(stare_sid(lat, lon, 26), 8) AS k FROM pts ORDER BY id")
      assert(fused.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
        case graft.functions.StareClearToExpression(graft.functions.StareSidExpression(_, _, _), 8) => true
        case _ => false
      })), fused.queryExecution.optimizedPlan.treeString.replace("\n", " // "))
      // two steps: encode, collect, then clear the literal sid
      val sids = spark.sql("SELECT id, stare_sid(lat, lon, 26) FROM pts ORDER BY id").collect()
      val twoStep = sids.map { r =>
        if (r.isNullAt(1)) null
        else spark.sql(s"SELECT stare_clear_to(${r.getLong(1)}L, 8)").collect()(0).get(0)
      }
      assert(fused.collect().map(_.get(1)).toSeq === twoStep.toSeq)
      assert(twoStep(0) === ((graft.core.Htm.latLonToSid(20.0, 10.5, 26) & graft.core.Sid.clearMask(8)) | 8L))
      assert(twoStep(3) === null)
      // a per-row level still goes through the dynamic-level path
      val dyn = spark.sql(
        "SELECT stare_clear_to(stare_sid(lat, lon, 26), CAST(id AS INT) + 4) FROM pts ORDER BY id")
        .collect().map(_.get(0))
      assert(dyn(0) === ((graft.core.Htm.latLonToSid(20.0, 10.5, 26) & graft.core.Sid.clearMask(5)) | 5L))
    } finally spark.stop()
  }

  test("full SQL surface: cover join + geometry/TIV functions in pure SQL via --conf extension") {
    // the spark-submit path: extension by CONFIG STRING, no Scala column
    // API, no register() call — every statement below is plain SQL text
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-sql-surface")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.StareExtensions")
      .getOrCreate()
    try {
      // --- scalar/array functions against driver-computed truth ---
      val rootArea = spark.sql(
        "SELECT sum(stare_area(shiftleft(cast(f AS BIGINT), 59))) FROM range(8) t(f)")
        .collect()(0).getDouble(0)
      assert(math.abs(rootArea - 4 * math.Pi) < 1e-9)
      val sid20 = graft.core.Htm.latLonToSid(20.0, 10.5, 20)
      val r = spark.sql(
        s"""SELECT stare_level(${sid20}L), stare_clear_to(${sid20}L, 8),
           |  stare_coerce(${sid20}L, 8), stare_hex(${sid20}L),
           |  stare_contains_point(${sid20}L, 20.0d, 10.5d),
           |  stare_sid_adaptive(20.0d, 10.5d, 0.25d),
           |  stare_tiv(1700000000000L, 48, 48),
           |  stare_tiv_range(1700000000000L, 1700086400000L),
           |  size(stare_ellipse_cover(47.0d, 9.0d, 2.2e6d, 1.4e6d, 30.0d, 6)) > 0,
           |  stare_trixel_wkt(array(stare_clear_to(${sid20}L, 8)))""".stripMargin)
        .collect()(0)
      assert(r.getLong(0) === 20L)
      assert(r.getLong(1) === ((sid20 & graft.core.Sid.clearMask(8)) | 8L))
      assert(r.getLong(2) === graft.core.Sid.coerceLevel(sid20, 8))
      assert(r.getString(3) === graft.core.Sid.hex(sid20))
      assert(r.getBoolean(4))
      assert(graft.core.Sid.level(r.getLong(5)) === graft.core.Htm.adaptiveLevel(0.25))
      assert(r.getLong(6) === graft.core.Tiv.fromUtcMillis(1700000000000L, 48, 48))
      assert(r.getLong(7) === graft.core.Tiv.fromInterval(1700000000000L, 1700086400000L))
      assert(r.getBoolean(8))
      assert(r.getString(9).startsWith("MULTIPOLYGON ("))
      // compress/expand roundtrip + intersection, all in SQL
      val cell = graft.core.Sid.clearToLevel(graft.core.Sid.coerceLevel(sid20, 6))
      val ce = spark.sql(
        s"""SELECT sort_array(stare_compress(stare_expand(array(${cell}L), 8))),
           |  stare_intersection(array(${cell}L), stare_expand(array(${cell}L), 8)),
           |  stare_set_intersects(array(${cell}L), array(stare_clear(stare_sid(-40.0d, -60.0d, 6))))""".stripMargin)
        .collect()(0)
      assert(ce.getSeq[Long](0) === Seq(cell))
      assert(ce.getSeq[Long](1).nonEmpty)
      assert(!ce.getBoolean(2))

      // dissolved geometry + its Gauss-Bonnet area through the config-
      // string path: union of a cell's 4 children == the cell, and the
      // WKT's spherical area matches stare_area
      val dg = spark.sql(
        s"""SELECT stare_wkt_area(stare_dissolve_wkt(stare_expand(array(${cell}L), 9))),
           |  stare_area(${cell}L)""".stripMargin).collect()(0)
      assert(math.abs(dg.getDouble(0) - dg.getDouble(1)) <= 1e-8 * dg.getDouble(1) + 1e-12)

      // --- the q21/q24 shape end-to-end in pure SQL: geotag -> encode ->
      // cover join (prefix equi-join on stare_clear_to) -> exact refine ---
      val sfDir = "/root/testdata/sf0.001"
      spark.sql(s"CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM parquet.`$sfDir/documents.parquet`")
      val lat = graft.sources.Webtext.latExpr
      val lon = graft.sources.Webtext.lonExpr
      val wkt = "POLYGON ((-10 36, 25 36, 25 60, -10 60, -10 36))"
      val sqlCount = spark.sql(
        s"""WITH pts AS (SELECT doc_id, $lat AS lat, $lon AS lon FROM documents),
           |idx AS (SELECT doc_id, lat, lon, stare_sid(lat, lon, 26) AS sid FROM pts),
           |cover AS (SELECT explode(stare_cover('$wkt', 6)) AS c),
           |m AS (SELECT DISTINCT doc_id, lat, lon FROM idx JOIN cover
           |      ON stare_clear_to(sid, cast(stare_level(c) AS INT)) = stare_clear(c))
           |SELECT count(*) FROM m
           |WHERE lat BETWEEN 36 AND 60 AND lon BETWEEN -10 AND 25""".stripMargin)
        .collect()(0).getLong(0)
      // typed-API reference over the SAME cover cells and refine
      import org.apache.spark.sql.functions._
      import graft.functions.StareFunctions._
      val coverCells = graft.core.Cover.coverFromPolygon(
        Array((Array(-10.0, 25.0, 25.0, -10.0, -10.0), Array(36.0, 36.0, 60.0, 60.0, 36.0))),
        6, forceCcw = true)
      val docs = graft.sources.Webtext.geotagged(graft.sources.Webtext.table(spark, sfDir))
        .withColumn("sid", stareSid(col("lat"), col("lon"), 26))
      val typedCount = docs
        .filter(stareIntersectsCover(col("sid"), coverCells))
        .filter(col("lat").between(36, 60) && col("lon").between(-10, 25))
        .count()
      assert(sqlCount === typedCount)
      assert(sqlCount > 0)
    } finally spark.stop()
  }

  test("text/embedding pipeline surface in pure SQL via --conf extension") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-text-surface")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.StareExtensions")
      .getOrCreate()
    try {
      import org.apache.spark.sql.functions._
      val sfDir = "/root/testdata/sf0.001"
      spark.sql(s"CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM parquet.`$sfDir/documents.parquet`")
      spark.sql(s"CREATE OR REPLACE TEMP VIEW embeddings AS SELECT * FROM parquet.`$sfDir/embeddings.parquet`")

      // scalar text functions: SQL output must equal the typed-API kernels
      val sqlText = spark.sql(
        """SELECT doc_id, text_simhash(text) AS sh, text_fingerprint(text) AS fp,
          |  text_token_count(text) AS tc, text_lang_id(text) AS lang,
          |  text_ngram_jaccard(text, reverse(text)) AS nj
          |FROM documents""".stripMargin)
      val typedText = spark.table("documents").select(
        col("doc_id"),
        graft.pipeline.TextOps.simhash(col("text")).as("sh"),
        graft.pipeline.TextOps.fingerprint(col("text")).as("fp"),
        graft.pipeline.TextOps.tokenCount(col("text")).as("tc"),
        graft.pipeline.TextOps.langId(col("text")).as("lang"),
        graft.pipeline.TextOps.ngramJaccard(col("text"), reverse(col("text"))).as("nj"))
      assert(sqlText.exceptAll(typedText).isEmpty && typedText.exceptAll(sqlText).isEmpty)

      // shingle/minhash family: self-similarity is exact, signatures match
      val sj = spark.sql(
        """SELECT min(text_shingle_jaccard(text, text, 3)) AS mn,
          |  min(text_hashed_jaccard(text_shingle_hashes(text, 3), text_shingle_hashes(text, 3))) AS mh,
          |  min(CASE WHEN size(text_minhash(text, 3, 16)) = 16 THEN 1 ELSE 0 END) AS ok
          |FROM documents WHERE text_token_count(text) >= 3""".stripMargin).collect()(0)
      assert(sj.getDouble(0) === 1.0)
      assert(sj.getDouble(1) === 1.0)
      assert(sj.getInt(2) === 1)

      // embedding functions: cosine self-similarity ~1, LSH sig matches typed
      val emb = spark.sql(
        """SELECT min(emb_cosine(embedding, embedding)) AS selfcos,
          |  min(CASE WHEN emb_lsh_sig(embedding, 16, 0) IS NOT NULL THEN 1 ELSE 0 END) AS sig
          |FROM embeddings""".stripMargin).collect()(0)
      assert(math.abs(emb.getDouble(0) - 1.0) < 1e-6)
      assert(emb.getInt(1) === 1)
      val sqlSig = spark.sql("SELECT vec_id, emb_lsh_sig(embedding, 16, 3) AS s FROM embeddings")
      val typedSig = spark.table("embeddings")
        .select(col("vec_id"), graft.pipeline.AnnOps.lshSignature(col("embedding"), 16, 3).as("s"))
      assert(sqlSig.exceptAll(typedSig).isEmpty && typedSig.exceptAll(sqlSig).isEmpty)
    } finally spark.stop()
  }
}
