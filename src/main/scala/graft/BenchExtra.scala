package graft

import org.apache.spark.sql.functions._

/** Round-6 optimization harness (guide §1): NOT part of the driver
  * contract — Bench.scala is frozen; this main exists so the round's
  * measurements (per-query isolation, noop-sink timing, plan capture)
  * are reproducible without touching the frozen harness.
  *
  * Modes:
  *   plans <outDir> [qnames...]  — write .explain("formatted") per query
  *   sweep [reps]                — Bench-style sweep (sorted order, warm
  *                                 session, count() action, memo cleared
  *                                 per rep) printed as one JSON line/rep
  *   noop [qnames...]            — noop-sink timing (full-column compute)
  *   qstages <qname>             — one query cold then warm: wall, stages,
  *                                 executor time, driver gap (wall outside
  *                                 every stage), largest job's task count
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.buildSession(cpus)
    val mode = if (args.isEmpty) "sweep" else args(0)

    // same session warm-up as the frozen bench
    try {
      spark.read.parquet(s"$sfDir/documents.parquet").groupBy(col("lang")).count().collect()
      spark.range(1000000).select(sum(col("id"))).collect()
      Seq("q01_lineitem_agg", "q02_order_join", "q03_window_topk").foreach { n =>
        SparkEntry.queries(n)(spark, sfDir).count()
      }
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }

    mode match {
      case "plans" =>
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
            System.err.println(s"[plans] $name ok")
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
        }
      case "sweep" =>
        val reps = if (args.length > 1) args(1).toInt else 1
        for (rep <- 1 to reps) {
          val rs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
            spark.sparkContext.setJobDescription(name)
            val t0 = System.nanoTime()
            val ok = try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[sweep] $name FAILED: ${e.getMessage}"); false }
            val sec = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[sweep] $name%-24s $sec%8.2f s")
            spark.catalog.clearCache()
            name -> (if (ok) sec else -1.0)
          }
          val qs = rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
          val total = rs.map(_._2).filter(_ > 0).sum
          println(s"""{"rep":$rep,"total":$total,"loadavg":${Bench.loadavg()},"queries":$qs}""")
        }
      case "noop" =>
        val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          spark.sparkContext.setJobDescription(s"noop:$name")
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            println(f"[noop] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
          } catch { case e: Throwable =>
            println(s"[noop] $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
        }
      case "joinphases" =>
        // Phase breakdown of the headline join section (guide §1.4):
        // same generator, same persist, fresh timings per phase with the
        // noop sink so each phase computes every column it claims to.
        import graft.functions.StareFunctions._
        val amplify = sys.env.get("SPARK_GRAFT_AMPLIFY").map(_.toInt).getOrElse(-1)
        val pts = Bench.buildPoints(spark, sfDir, amplify)
        pts.persist().count()
        val n = pts.count()
        def t(label: String)(f: => Unit): Double = {
          spark.sparkContext.setJobDescription(label)
          val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[joinphases] $label%-12s $s%6.2f s"); s
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val covers = SparkEntry.coversDf(spark)
        // warm-up all plans once (codegen/JIT)
        noop(pts); noop(pts.withColumn("sid", stareSid(col("lat"), col("lon"), 26)))
        Bench.timeJoin(pts, covers)
        val indexed = pts.withColumn("sid", stareSid(col("lat"), col("lon"), 26))
        val joinedNoAgg = graft.operators.StareJoin.pointJoin(indexed, "sid", covers, "sids",
          how = "inner", knownMinLeftLevel = Some(26))
        noop(indexed.withColumn("k", stareClearTo(col("sid"), 6))); noop(joinedNoAgg)
        val scanSec = (1 to 3).map(_ => t("cache_scan")(noop(pts))).min
        val encodeSec = (1 to 3).map(_ => t("scan+encode")(noop(indexed))).min
        val clearSec = (1 to 3).map(_ => t("encode+clear")(noop(
          indexed.withColumn("k", stareClearTo(col("sid"), 6))))).min
        val joinNoAggSec = (1 to 3).map(_ => t("join_noagg")(noop(joinedNoAgg))).min
        // stage-level accounting for one full_join run: wall vs summed
        // executor run time tells CPU-bound from scheduling-bound
        val stageLog = new scala.collection.mutable.ArrayBuffer[(Int, String, Int, Long, Long)]
        val sl = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            stageLog.synchronized {
              stageLog += ((si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks,
                si.taskMetrics.executorRunTime,
                si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)))
            }
          }
        }
        spark.sparkContext.addSparkListener(sl)
        // the log keeps the stages of the last repetition only
        val joinSec = (1 to 3).map { _ =>
          org.apache.spark.sql.graft.shim.drainListenerBus(spark)
          stageLog.synchronized(stageLog.clear())
          t("full_join")(Bench.timeJoin(pts, covers))
        }.min
        org.apache.spark.sql.graft.shim.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(sl)
        stageLog.foreach { case (id, nm, nt, run, wall) =>
          System.err.println(f"[stage] $id%4d $nm%-60s tasks=$nt%3d execRunMs=$run%7d wallMs=$wall%6d")
        }
        val matched = joinedNoAgg.count()
        // slim variant: covers without the fat sids payload in the output
        val slimCovers = covers // pointJoin prunes through Catalyst; compare a pre-dropped contract
        val joinedSlim = graft.operators.StareJoin.pointJoin(indexed, "sid",
          slimCovers, "sids", how = "inner", knownMinLeftLevel = Some(26))
          .select(col("region_name"))
        noop(joinedSlim)
        val slimSec = (1 to 3).map(_ => t("join_slim")(noop(joinedSlim))).min
        // executed (final AQE) plan of the aggregated query, post-action
        val agg = joinedNoAgg.groupBy(col("region_name")).agg(count(lit(1)))
        agg.collect()
        java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/joinphases_planagg.txt"),
          agg.queryExecution.executedPlan.toString)
        java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/joinphases_plan.txt"),
          joinedNoAgg.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        println(f"""{"rows":$n,"matched":$matched,"cache_scan_sec":$scanSec%.3f,""" +
          f""""scan_encode_sec":$encodeSec%.3f,"encode_clear_sec":$clearSec%.3f,""" +
          f""""join_noagg_sec":$joinNoAggSec%.3f,"join_slim_sec":$slimSec%.3f,""" +
          f""""full_join_sec":$joinSec%.3f}""")
      case "qstages" =>
        // per-stage wall/executor-time accounting for one query (cold
        // then warm) — locates CPU-bound stages vs scheduling/compile.
        // The driver gap (query wall minus the union of the stages' wall
        // intervals) is time in which no stage ran: planning, codegen and
        // compile, driver-side I/O. The largest task count of any job
        // shows metadata jobs (a parallel listing runs one task per
        // directory) that a per-stage top list can hide.
        val name = args(1)
        // (stage id, tasks, executor run ms, submitted ms, completed ms)
        val stageLog = new scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Long, Long)]
        val stageJob = scala.collection.mutable.Map.empty[Int, Int]
        val sl = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            stageLog.synchronized(js.stageIds.foreach(stageJob(_) = js.jobId))
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val start = si.submissionTime.getOrElse(0L)
            stageLog.synchronized {
              stageLog += ((si.stageId, si.numTasks, si.taskMetrics.executorRunTime,
                start, si.completionTime.getOrElse(start)))
            }
          }
        }
        spark.sparkContext.addSparkListener(sl)
        for (rep <- 1 to 2) {
          org.apache.spark.sql.graft.shim.drainListenerBus(spark)
          stageLog.synchronized { stageLog.clear(); stageJob.clear() }
          spark.catalog.clearCache()
          val t0Ms = System.currentTimeMillis()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          val t1Ms = System.currentTimeMillis()
          org.apache.spark.sql.graft.shim.drainListenerBus(spark)
          val (stages, jobOf) = stageLog.synchronized((stageLog.toSeq, stageJob.toMap))
          val runMs = stages.map(_._3).sum
          val wallMs = stages.map(s => s._5 - s._4).sum
          // union of the stage intervals, clipped to the query's wall
          val busyMs = stages.map(s => (math.max(s._4, t0Ms), math.min(s._5, t1Ms)))
            .filter(iv => iv._1 < iv._2).sortBy(_._1)
            .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
              if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
            }._1
          val maxJobTasks = (stages.groupBy(s => jobOf.getOrElse(s._1, -1)).values
            .map(_.map(_._2).sum) ++ Seq(0)).max
          System.err.println(f"[qstages] $name rep$rep: wall $wall%.2f s, ${stages.length} stages, " +
            f"execRun ${runMs / 1e3}%.2f s, stage-wall ${wallMs / 1e3}%.2f s, " +
            f"driver gap ${wall - busyMs / 1e3}%.2f s, max job tasks $maxJobTasks")
          stages.sortBy(-_._3).take(6).foreach { case (id, nt, run, a, b) =>
            System.err.println(f"[qstages]   stage $id%4d tasks=$nt%3d execRunMs=$run%6d wallMs=${b - a}%5d")
          }
        }
        spark.sparkContext.removeSparkListener(sl)
      case other => sys.error(s"unknown BenchExtra mode: $other")
    }
    spark.stop()
  }
}
