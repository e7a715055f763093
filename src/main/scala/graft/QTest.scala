package graft

/** Per-query isolation timer: runs the named SparkEntry queries twice
  * (cold then warm) in a fresh session outside the sweep — the
  * storm-vs-regression diagnostic from BENCH.md as a one-liner:
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QTest q15_minhash_dups"`. */
object QTest {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.read.parquet(s"$sfDir/documents.parquet").count() // warm FS+JIT
    for (name <- args; rep <- 1 to 2) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[qtest] $name rep$rep: ${(System.nanoTime()-t0)/1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
