package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** The benchmark's JVM: one workload, one session, one closed loop.
  *
  * {{{
  * Main --workload relational|ingest --seed N --seconds S
  *      --trace 0|1 --data DIR --results DIR --out FILE [--fail-op NAME]
  *      [--check-confs]
  *      [--plan-check]
  * }}}
  *
  * `--data` holds the seeded inputs the launcher generated; outputs the
  * launcher checks go to `--results`. Everything else the
  * run writes (indexes, layouts, checkpoints, ingest state, results) goes
  * under a fresh `graft.engine.TempDirs` directory, deleted when the JVM
  * exits. The result record is written to `--out` as JSON. */
object Main {

  /** `--key value` pairs; a `--flag` with no value reads as "1". */
  private def parse(args: Array[String]): Map[String, String] =
    args.indices.filter(i => args(i).startsWith("--")).map { i =>
      val v = if (i + 1 < args.length && !args(i + 1).startsWith("--")) args(i + 1) else "1"
      args(i).drop(2) -> v
    }.toMap

  def workload(name: String): Workload = name match {
    case "relational" => Relational
    case "ingest" => Ingest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Resident-set high-water mark of this JVM, MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def sqlConfs(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter(_._1.startsWith("spark.sql.")).toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val w = workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()
    val runDir = graft.engine.TempDirs.create("graftbench_run")

    val t0 = System.nanoTime()
    val spark = GraftSession.builder("graftbench", cores.toString)
      // Keep the session's managed tables and spill files in the run dir.
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val untraced = new Ctx(spark, a("data"), runDir, a("results"), seed, new Trace(false), None,
      a.get("fail-op"))
    val phases = w.setup(untraced).map { case (n, body) => n -> Harness.timeS(body()) }
    val loop = new Loop(untraced)
    val warmupS = Harness.timeS(w.warmup(untraced))
    val setupS = sessionS + phases.map(_._2).sum + warmupS

    loop.window(seconds)(p => w.pass(untraced, p))

    // The traced run: a second window with listeners, spans and a bus
    // drain after every operation, against the untraced window above.
    val tracedCtx = if (!traced) None else {
      val rec = new Recorder
      val ctx = new Ctx(spark, a("data"), runDir, a("results"), seed, new Trace(true), Some(rec),
        a.get("fail-op"))
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val tl = new Loop(ctx)
      tl.window(seconds)(p => w.pass(ctx, 1000 + p))
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      Some(ctx -> tl)
    }

    val layers = tracedCtx.map { case (ctx, tl) =>
      val perLayer = LayerMetrics(ctx, tl, cores) ++ w.layers(ctx) ++ Map(
        "engine.session_s" -> sessionS,
        "engine.catalog_load_s" -> phases.head._2,
        "trace_overhead_frac" -> (1.0 - tl.opsPerS / math.max(loop.opsPerS, 1e-9)))
      val spansFile = s"${a("out")}.spans.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(spansFile), ctx.trace.toJson(t0))
      perLayer
    }.getOrElse(Map.empty)

    val tc = System.nanoTime()
    val checks = w.checks(untraced)
    val e2e = w.endToEnd(untraced, loop)
    val checksS = (System.nanoTime() - tc) / 1e9
    val (tail, tailPct) = Stats.tail(loop.latencies.toSeq)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> loop.opsPerS,
      "latency_p50_s" -> Stats.median(loop.latencies.toSeq),
      "latency_tail_s" -> tail,
      "success_frac" -> loop.succeeded.toDouble / math.max(1, loop.attempted),
      "recall_at_10" -> 1.0) ++ e2e

    val planCheck = if (!a.contains("plan-check")) None else Some(PlanCheck(untraced))
    val confs = sqlConfs(spark)
    val peakRss = peakRssMb()
    val confDiff = if (!a.contains("check-confs")) None else {
      spark.stop()
      val ref = GraftSession.builder("graftbench-reference", cores.toString).getOrCreate()
      val refConfs = sqlConfs(ref)
      ref.stop()
      // The warehouse dir is the one key the benchmark sets on purpose.
      val keys = (confs.keySet ++ refConfs.keySet) - "spark.sql.warehouse.dir"
      Some(keys.toSeq.sorted.filter(k => confs.get(k) != refConfs.get(k))
        .map(k => s"$k: bench=${confs.get(k)} graft=${refConfs.get(k)}"))
    }

    val out = Json.obj(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "attempted" -> loop.attempted, "failed" -> loop.failed,
      "n" -> loop.latencies.size, "tail_percentile" -> tailPct,
      "elapsed_s" -> loop.elapsedS, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "checks_s" -> checksS,
      "setup_phases_s" -> phases.toMap, "setup_tasks_s" -> w.setupTasks,
      "end_to_end" -> (endToEnd + ("peak_rss_mb" -> peakRss)),
      "per_layer" -> layers,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "latencies_s" -> loop.samples.map { case (n, dt) => Seq(n, dt) },
      "latency_by_op_s" -> loop.byName.map { case (n, ls) => n -> Stats.median(ls.toSeq) }.toMap,
      "calls_ms" -> untraced.trace.medians,
      "spark_sql_confs" -> confs,
      "conf_diff" -> confDiff, "plan_check" -> planCheck)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out)
    if (confDiff.isEmpty) spark.stop()
  }
}
