package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --data <dir> --work <dir> --out <file>
  *
  * Set-up (session, inputs built three times, warm-up) is timed on its
  * own; then the workload's operation repeats until `--seconds` have
  * passed. With `--trace 0` the result holds the end-to-end metrics;
  * with `--trace 1` the operations run under a stage listener and the
  * per-layer probes follow. The result is one JSON object in `--out`;
  * the query answers go beside it for the oracle check. */
object Main {
  /** the queries of query_sweep, in sorted order: those whose stage
    * profile, covers, trixel unions or pod writes the benchmark tracks.
    * q31 and q48 are left out: their pod stores sit at fixed paths
    * outside the checkout; the pods probe of a traced run covers them. */
  val SweepQueries: Seq[String] = Seq(
    "q15_minhash_dups", "q21_cover_join", "q22_cover_join_left", "q23_dissolve",
    "q24_speedy_subset", "q26_tile_dissolve", "q27_pods_roundtrip", "q33_cover_algebra",
    "q43_shuffle_join_left", "q44_hull_subset", "q45_dup_clusters", "q52_dissolve_geom")

  val PointJoinReplicas = 400
  /** points of the skewed shuffle join the traced runs profile */
  val SkewedPoints = 1000000L
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val outFile = Paths.get(opt("out"))
    Files.createDirectories(work)

    val spans = new Spans(traced)
    val spark = spans("setup.session") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Jvm.uptimeS
    val ctx = Ctx(spark, seed, cores, opt("data"), work, spans)
    val w: Workload = workload match {
      case "point_join" => new PointJoinWorkload(ctx, PointJoinReplicas)
      case "query_sweep" => new QuerySweepWorkload(ctx, SweepQueries)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: inputs built SetupRepeats times, the last one kept (a
    // traced run reports no set-up time and builds once)
    val repeats = if (traced) 1 else SetupRepeats
    val buildS = (1 to repeats).map { i =>
      val s = spans("setup.build", "rep" -> i.toString)(Timing.seconds(w.build())._2)
      if (i < repeats) w.release()
      s
    }
    val warmS = spans("setup.warm_up")(Timing.seconds(w.warmUp())._2)
    val setupS = sessionS + Timing.median(buildS) + warmS
    spans("check.expect")(w.expectAnswers())

    // ---- measured interval
    val log = if (traced) Some(new StageLog(spark).install()) else None
    val ops = mutable.ArrayBuffer.empty[OpRun]
    // per operation: CPU seconds of this process and the share of host
    // CPU time the hypervisor stole, to tell contention from slowness
    val cpu = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (p0, (a0, s0)) = (Jvm.processCpuS, HostCpu.ticks())
      ops += spans("op", "n" -> (ops.length + 1).toString)(w.runOp(log))
      val (p1, (a1, s1)) = (Jvm.processCpuS, HostCpu.ticks())
      cpu += Json.obj(Seq("process_cpu_s" -> Json.num(p1 - p0),
        "steal_share" -> Json.num((s1 - s0).toDouble / math.max(1L, a1 - a0))))
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val items = ops.flatMap(_.items)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val probeChecks = mutable.ArrayBuffer.empty[Item]
    if (!traced) {
      val opS = Timing.median(ops.map(_.wallS).toSeq)
      val perItem = items.groupBy(_.name).values.map(is => Timing.median(is.map(_.wallS).toSeq)).toSeq
      metrics("setup_s") = setupS
      metrics("rows_per_s") = w.rowsPerOp / opS
      metrics("sweep_s") = opS
      metrics("query_gmean_s") = math.exp(perItem.map(math.log).sum / perItem.length)
    } else {
      val layers = new Layers(ctx, log.get, metrics)
      val in = w.layerInputs
      layers.core(in)
      layers.functions(in)
      layers.pointJoin(in)
      val (err, s) = Timing.seconds(layers.shuffleJoin(SkewedPoints, 100000L))
      probeChecks += Item("probe.shuffle_join", s, err, None)
      layers.pods()
      layers.query(ops.toSeq)
      metrics("jvm.gc_s") = Jvm.gcS
      metrics("jvm.jit_compile_s") = Jvm.jitS
      metrics("jvm.peak_rss_mb") = Jvm.peakRssMb
    }

    // ---- answers of query_sweep's first pass, for the oracle check
    w match {
      case qs: QuerySweepWorkload =>
        val dir = work.resolve("answers")
        Files.createDirectories(dir)
        FileTree.delete(dir)
        qs.answers.foreach { case (q, (schema, rows)) =>
          write(dir.resolve(s"$q.json"), ResultJson.rows(schema, rows))
          write(dir.resolve(s"$q.sql"), graft.SparkEntry.oracleSql(q))
        }
      case _ =>
    }

    val checked = items ++ probeChecks
    val failures = checked.filter(_.error.nonEmpty)
    val perItem = items.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, is) =>
      n -> Json.num(Timing.median(is.map(_.wallS).toSeq))
    }
    // per-item profile of a traced run: wall, plan, jobs, stages, core-s
    val profiles = items.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (n, is) =>
      is.flatMap(_.profile).sortBy(_.wallS).lift(is.length / 2).map { p =>
        n -> Json.obj(Seq("wall_s" -> Json.num(p.wallS), "plan_s" -> Json.num(p.planS),
          "jobs" -> p.jobs.toString, "stages" -> p.stages.toString,
          "exec_core_s" -> Json.num(p.execCoreS), "shuffle_write_bytes" -> p.shuffleWriteBytes.toString,
          "max_task_s" -> Json.num(p.maxTaskS), "task_skew" -> Json.num(p.taskSkew)))
      }
    }
    val info = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "cores" -> cores.toString, "jvm" -> Json.str(System.getProperty("java.vm.version")),
      "session_s" -> Json.num(sessionS),
      "build_s" -> buildS.map(Json.num).mkString("[", ",", "]"),
      "warm_up_s" -> Json.num(warmS), "measured_s" -> Json.num(measuredS),
      "op_s" -> ops.map(o => Json.num(o.wallS)).mkString("[", ",", "]"),
      "op_cpu" -> cpu.mkString("[", ",", "]"),
      "item_median_s" -> Json.obj(perItem),
      "item_profile" -> Json.obj(profiles),
      "describe" -> Json.obj(w.describe.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
      "errors" -> failures.map(f => Json.str(s"${f.name}: ${f.error.get}")).mkString("[", ",", "]"))
    val result = Json.obj(Seq(
      "attempted" -> checked.length.toString,
      "failed" -> failures.length.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(info)))
    if (traced) write(work.resolve(s"spans-$workload-$seed.json"), spans.json)
    log.foreach(_.remove())
    System.err.println(f"[perfbench] run done at ${Jvm.uptimeS}%.1f s of JVM uptime")
    spark.stop()
    write(outFile, result)
    System.err.println(f"[perfbench] session stopped at ${Jvm.uptimeS}%.1f s of JVM uptime")
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}
