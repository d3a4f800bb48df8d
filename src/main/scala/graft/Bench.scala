package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, PlanGate, PlanNodes, ScanMetrics}
import graft.ops.AnnSweep.overlap

/** The bench gates: per-row warm medians and plan fingerprints against the
  * committed baseline (`PLAN_BASELINE.json`, rules in [[PlanGate]]), the
  * serve-amortization pins, the scan audit and the recall@10 rows. Every
  * timing goes through [[Runs]]: a row's build, then [[Runs.materialize]]
  * on what it built, and the fingerprint and scan audit read the plan of
  * that timed execution. The evidence sweeps (operating points, segment
  * counts, probe axis, BPE) ride [[ScaleSweep]]'s 1× pass. */
object Bench {

  /** MEDIANS-OF-3: single-shot timings proved untrustworthy (a contended
    * full run read 8-10× a clean re-measure on heavy rows). The median
    * measures warm serve; the warm spread makes a contended box visible in
    * the artifact. */
  private val Reps = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession.local("graft-bench")
    // Absorb session bootstrap (codegen, JIT, shuffle service) outside the
    // per-query timings.
    spark.range(1000).selectExpr("sum(id)").collect()
    val selected = SparkEntry.queries.filter { case (name, _) => Runs.picked(name) }
    // A pipeline build that throws is listed in `failed` and left out of
    // the times, never timed as a fast success.
    val (pipelineTimes, pipelineFailures) =
      Runs.frontPipelines(spark, sfDir, "BENCH_DETAIL", SparkEntry.pipelines)
    def failure(row: String, e: Throwable): Unit =
      println(s"BENCH_DETAIL $row FAILED: ${Runs.cause(e)}")
    // One row timed `reps` times: fn(spark, dir), then its whole result
    // materialized. Also returns the last rep's frame, whose executed plan
    // is the final adaptive plan that ran.
    def measure(name: String, reps: Int) =
      Runs.measure(reps)(selected(name)(spark, sfDir)) { df => Runs.materialize(df); df }

    // SCAN AUDIT: every index-serving row's "pruned by design" claim as
    // per-run data. Every file scan of the row's timed execution prints
    // files read vs the layout's on-disk total and staticFilesNum (live
    // DPP). Plan-string pins stayed green while two pruning claims were
    // decorative at runtime; executed metrics cannot.
    // (row, layout tail, files, status, staticFilesNum, on-disk files)
    val auditRows = scala.collection.mutable.Buffer
      .empty[(String, String, Long, String, Long, Long)]
    val scanAudit = Set("ann_ivf_persisted", "ann_ivf_kmeans_persisted",
      "ann_ivf_pq_persisted", "ann_ivf_pq_append", "ann_ivf_pq_promoted",
      "retrieval_hybrid_served", "retrieval_maxsim_ivf_fwd",
      "retrieval_maxsim_ivf_persisted", "text_bm25_impact_topk",
      "tpch_q18_bucketed")
    def audit(name: String, df: DataFrame): Unit = {
      val seen = scala.collection.mutable.Set.empty[String]
      for (f <- ScanMetrics.scans(df.queryExecution.executedPlan)) {
        val root = f.relation.location.rootPaths.headOption
          .map(_.toString).getOrElse("?")
        val local = root.stripPrefix("file:")
        if (local.startsWith("/tmp/") && seen.add(root)) {
          def m(n: String) = f.metrics.get(n).map(_.value).getOrElse(-1L)
          val total = ScanMetrics.parquetFilesUnder(local)
          val tail = local.split('/').takeRight(2).mkString("/")
          // numFiles <= 0 on a BUCKETED layout scan is the catalog relation
          // cache: the table's file listing is computed once per session,
          // so its driver metrics belong to the layout-build execution. The
          // scan itself ran; the relation's own listing is exactly the file
          // set a bucketed serve reads ("listed").
          val nf = m("numFiles")
          val (filesVal, status) =
            if (nf > 0) (nf, "executed")
            else (f.relation.location.inputFiles
              .count(_.endsWith(".parquet")).toLong, "listed")
          println(s"BENCH_DETAIL scan_audit $name $tail " +
            s"files=$filesVal($status) staticDpp=${m("staticFilesNum")} " +
            s"onDisk=$total")
          auditRows += ((name, tail, filesVal, status, m("staticFilesNum"), total))
        }
      }
    }

    // Fixed (sorted) execution order pins the session's cold-start costs
    // (codegen/JIT of the first big expression trees) to the same rows
    // every run.
    val fingerprints = scala.collection.mutable.Map.empty[String, Seq[(String, Int)]]
    val results: Map[String, Either[Throwable, Runs.Measured]] =
      selected.keys.toSeq.sorted.map { name =>
        val r = measure(name, Reps)
        r.foreach { case (_, df) =>
          try fingerprints(name) = PlanNodes.fingerprint(df)
          catch { case e: Throwable => failure(s"$name fingerprint", e) }
          if (scanAudit(name)) try audit(name, df)
          catch { case e: Throwable => failure(s"scan_audit $name", e) }
        }
        name -> r.map(_._1)
      }.toMap
    def ok(rows: Map[String, Either[Throwable, Runs.Measured]]) =
      rows.collect { case (k, Right(m)) => k -> m }
    val mainTimes = ok(results).map { case (k, m) => k -> (m.medianS, m.warmSpread) }
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    def pairs(name: String, a: String, b: String): Set[(Long, Long)] =
      selected(name)(spark, sfDir).select(a, b).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // RECALL@10 of the IVF-PQ serve lifecycle vs the exact L2 answer set:
    // the correctness rows pin DETERMINISM, this pins retrieval QUALITY (a
    // codebook or probe regression keeps every hash green while recall
    // sinks). Append/compacted/promoted-append serve base ∪ delta, so their
    // truth includes the mod-3 clone batch (ids offset by 1e15, exactly as
    // the delta is built); the promoted delete truth drops the mod-6 base
    // family. Probes are vec_id % 100 = 0 — never deleted, so one probe set
    // serves every state. The driver pull is |Q|·10 id pairs.
    val lifecycleServes = Seq(
      "ann_ivf_pq_persisted", "ann_ivf_pq_full_probe",
      "ann_ivf_pq_append", "ann_ivf_pq_compacted",
      "ann_ivf_pq_promoted",
      "ann_ivf_pq_promoted_append", "ann_ivf_pq_promoted_delete")
    val recall: Seq[(String, Double)] =
      if (!lifecycleServes.forall(selected.contains)) Seq.empty
      else try {
        def truth(corpus: DataFrame, deleted: Boolean = false,
            appended: Boolean = false): Set[(Long, Long)] = {
          val delta = corpus.filter(col("vec_id") % 10 === 3).select(
            (col("vec_id") + 1000000000000000L).as("vec_id"), col("embedding"))
          val live = if (deleted) corpus.filter(!(col("vec_id") % 10 === 6))
            else corpus
          graft.ops.AnnSweep.truthPairs(
            if (appended) live.unionByName(delta) else live,
            corpus.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", 10)
        }
        val vecs = Catalog.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        // The promoted point scores against the exact truth on ITS corpus
        // (the derived clustered corpus its index serves).
        val prom = graft.queries.TrainQ.promotedCorpus(spark, sfDir)
        val truthBase = truth(vecs)
        val truthUnion = truth(vecs, appended = true)
        Seq("ann_ivf_pq_persisted" -> truthBase,
          "ann_ivf_pq_full_probe" -> truthBase,
          "ann_ivf_pq_append" -> truthUnion,
          "ann_ivf_pq_compacted" -> truthUnion,
          "ann_ivf_pq_promoted" -> truth(prom),
          "ann_ivf_pq_promoted_append" -> truth(prom, appended = true),
          "ann_ivf_pq_promoted_delete" ->
            truth(prom, deleted = true, appended = true)
        ).map { case (name, t) => name -> overlap(t, pairs(name, "q_vec", "neighbor")) }
      } catch { case e: Throwable => failure("recall@10", e); Seq.empty }
    // OVERLAP@10 of the token-IVF MaxSim serve vs the exact full-corpus
    // MaxSim truth — the late-interaction analog of the dense recall rows.
    val maxsimOverlap: Option[Double] =
      if (!selected.contains("retrieval_maxsim_topk") ||
          !selected.contains("retrieval_maxsim_ivf")) None
      else try Some(overlap(pairs("retrieval_maxsim_topk", "q_doc", "doc_id"),
        pairs("retrieval_maxsim_ivf", "q_doc", "doc_id")))
      catch { case e: Throwable => failure("maxsim_ivf_overlap", e); None }
    // LEXICAL STALENESS: top-20 overlap of the frozen-stats APPENDED BM25
    // serve vs the stat-refreshed COMPACTED serve — what the deferred stat
    // refresh costs in ranking terms.
    val bm25StaleOverlap: Option[Double] =
      if (!selected.contains("text_bm25_impact_append") ||
          !selected.contains("text_bm25_impact_compacted")) None
      else try {
        def docs(name: String): Set[Long] =
          selected(name)(spark, sfDir).select("doc_id").collect()
            .map(_.getLong(0)).toSet
        Some(overlap(docs("text_bm25_impact_compacted"),
          docs("text_bm25_impact_append")))
      } catch { case e: Throwable => failure("bm25_append_overlap", e); None }
    val recallAll = recall ++
      maxsimOverlap.map("maxsim_ivf_overlap" -> _).toSeq ++
      bm25StaleOverlap.map("bm25_append_overlap" -> _).toSeq
    recallAll.foreach { case (k, v) =>
      println(f"BENCH_DETAIL recall@10:$k $v%.3f")
    }
    val pipelineGateTimes = pipelineTimes.map { case (k, v) => k -> (v, 0.0) }.toMap
    val baselinePath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_BASELINE", "PLAN_BASELINE.json"))
    // The plan gate runs on a full run against the committed baseline, with
    // one divisor per run from the main-loop times: it picks the rows to
    // re-measure and gives the verdict. Pipeline rows ride the same time
    // rule as `pipeline:<name>` rows, single-shot by design (spread 0.0,
    // always time-eligible, fingerprint columns never read). A gate-
    // machinery failure (e.g. a mangled baseline row tripping
    // parseBaseline's require) must SURFACE as a violation, not read as a
    // clean run with every channel silently disabled.
    val gate: Option[Either[String, (Map[String, PlanGate.Base], Double)]] =
      if (Runs.subset) None
      else if (!Files.exists(baselinePath)) {
        println(s"[bench] no plan baseline at $baselinePath - gate skipped")
        None
      } else Some(try {
        val base = PlanGate.parseBaseline(Files.readString(baselinePath))
        val divisor = PlanGate.timeDivisor(base, mainTimes ++ pipelineGateTimes)
        println(f"BENCH_DETAIL plan_gate time_divisor $divisor%.3f")
        Right((base, divisor))
      } catch { case e: Throwable =>
        println(s"[bench] plan gate failed: ${Runs.cause(e)}")
        Left(Runs.cause(e))
      })
    val (base, divisor) = gate.flatMap(_.toOption).getOrElse((Map.empty[String, PlanGate.Base], 1.0))
    // THE RE-MEASURE PASS, once, minutes after the main loop: the rows
    // PlanGate.remeasure picks re-run medians-of-Reps and keep the lower
    // median. Contention only inflates, so a retry that fails or lands
    // higher keeps the main-loop measurement. Pipeline rows are
    // session-cached builds (a re-run is a no-op), so they are not picked.
    val replaced: Map[String, Runs.Measured] =
      PlanGate.remeasure(mainTimes, base, divisor).flatMap { name =>
        val main = mainTimes(name)._1
        val detail = f"BENCH_DETAIL remeasure $name main=$main%.3f"
        measure(name, Reps) match {
          case Left(e) =>
            failure(name, e)
            println(s"$detail retry=failed -> kept")
            None
          case Right((m, _)) =>
            val lower = m.medianS < main
            println(f"$detail retry=${m.medianS}%.3f -> ${if (lower) "replaced" else "kept"}")
            if (lower) Some(name -> m) else None
        }
      }.toMap
    val finalResults = results ++ replaced.map { case (k, m) => k -> Right(m) }
    val finalOk = ok(finalResults)
    val gateTimes = finalOk.map { case (k, m) => k -> (m.medianS, m.warmSpread) }
    val fpNums = fingerprints.map { case (k, fp) =>
      k -> PlanGate.Fp(fp.toMap.apply("hashExchanges"), fp.toMap.apply("cachedBroadcast"))
    }.toMap
    // SPARK_GRAFT_WRITE_PLAN_BASELINE=<path> re-authors the baseline from
    // this run.
    sys.env.get("SPARK_GRAFT_WRITE_PLAN_BASELINE").foreach { p =>
      val plFp = pipelineTimes.map { case (k, _) => k -> PlanGate.Fp(0, 0) }
      val meds = (gateTimes ++ pipelineGateTimes).map { case (k, (med, _)) => k -> med }
      Files.writeString(Paths.get(p), PlanGate.render(fpNums ++ plFp, meds))
      println(s"[bench] wrote plan baseline $p " +
        s"(${fpNums.size} query + ${plFp.size} pipeline rows)")
    }
    val gateViolations = gate.fold(Seq.empty[String]) {
      case Left(cause) => Seq(s"plan_gate_error: $cause")
      case Right(_) => PlanGate.violations(fpNums, base,
        graft.queries.Q.designHxMap(SparkEntry.allQueries),
        graft.queries.Q.layoutRowsMap(SparkEntry.allQueries),
        graft.ops.Bucketing.registeredLayouts,
        gateTimes ++ pipelineGateTimes, divisor)
    }
    // SERVE-AMORTIZATION PINS (pairs and rule in PlanGate), on the final
    // medians: a firing pair's both rows were re-measured above.
    val allViolations = gateViolations ++
      PlanGate.servePinViolations(finalOk.map { case (k, m) => k -> m.medianS })
    allViolations.foreach(v => println(s"BENCH_DETAIL plan_gate VIOLATION $v"))
    // Full per-query detail for humans (NOT the machine-read line).
    pipelineTimes.foreach { case (k, v) => println(f"BENCH_DETAIL $k $v%.3f") }
    val healedNames = replaced.keySet.toSeq.sorted
    def fpJson(k: String) = fingerprints.get(k)
      .map(_.map { case (n, v) => s""""$n":$v""" }.mkString(",")).getOrElse("")
    finalResults.toSeq.sortBy(_._2.fold(_ => 0.0, -_.medianS)).foreach {
      case (k, Left(e)) => failure(k, e)
      case (k, Right(m)) =>
        val tag = if (healedNames.contains(k)) " healed" else ""
        val fp = if (fingerprints.contains(k)) s" fp={${fpJson(k)}}" else ""
        println(f"BENCH_DETAIL $k ${m.medianS}%.3f spread=${m.warmSpread}%.2f$tag$fp")
    }
    def jq(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val failedNames = (finalResults.collect { case (k, Left(_)) => k }.toSeq ++
      pipelineFailures).sorted
    val failedJson = failedNames.map(jq).mkString("[", ",", "]")
    val rec = recallAll.map { case (k, v) => s""""$k":${r3(v)}""" }
      .mkString("{", ",", "}")
    // Full machine-readable detail (SPARK_GRAFT_BENCH_OUT=<file>): every
    // row's median/spread, the median rep's build and materialize seconds
    // (median_s = build_s + run_s, the sum the time gate reads), its
    // compiled classes and the plan fingerprint — deliberately NOT on
    // stdout (the tail budget below).
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { out =>
      def r2b(v: Double): Double = math.round(v * 100.0) / 100.0
      val rows = finalResults.toSeq.sortBy(_._1).map { case (k, r) =>
        val base = r.fold(e => s""""failed":true,"cause":${jq(Runs.cause(e))}""",
          m => s""""median_s":${r3(m.medianS)},"warm_spread":${r2b(m.warmSpread)},""" +
            s""""build_s":${r3(m.median.buildS)},"run_s":${r3(m.median.runS)},""" +
            s""""build_compiles":${m.median.buildCompiles},"run_compiles":${m.median.runCompiles}""")
        val fp = if (fingerprints.contains(k)) "," + fpJson(k) else ""
        s""""$k":{$base$fp}"""
      }.mkString(",")
      val pls = pipelineTimes.map { case (k, v) => s"${jq(k.stripPrefix("pipeline:"))}:${r3(v)}" }
        .mkString("{", ",", "}")
      // "status": "executed" = the scan's own driver metrics; "listed" =
      // the catalog relation cache pre-computed the listing.
      val audit = auditRows.map { case (row, layout, nf, status, snf, total) =>
          s"""{"row":${jq(row)},"layout":${jq(layout)},"files":$nf,""" +
            s""""status":${jq(status)},"static_dpp":$snf,"on_disk":$total}"""
        }.mkString("[", ",", "]")
      Files.writeString(Paths.get(out),
        s"""{"reps":$Reps,"sf":"$sfDir","failed":$failedJson,"pipelines_s":$pls,"recall_at_10":$rec,""" +
          s""""plan_gate_violations":${allViolations.map(jq).mkString("[", ",", "]")},""" +
          s""""plan_gate_divisor":${gate.flatMap(_.toOption).fold("null")(g => r3(g._2).toString)},""" +
          s""""scan_audit":$audit,"queries":{$rows}}""")
      println(s"[bench] wrote $out")
    }
    // The driver keeps only a ~2000-char tail of this process's output and
    // parses the one JSON line it finds there, so the final line carries
    // only a headline subset, assembled under an explicit size budget.
    // Headline values are scalar medians ({"name": sec}): the historical
    // headline list first (a stable name prefix across runs), then every
    // remaining successful row by descending median, while the line fits.
    // Failed rows are reported ONLY via the failed array.
    val headline = Seq(
      "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
      "tpch_q5_local_supplier", "tpch_q6_forecast_revenue",
      "tpch_q9_profit_proxy", "tpch_q18_large_orders",
      "dedup_minhash_lsh", "dedup_clusters", "ann_ivf_topk",
      "pack_sequences", "text_bm25_topk", "asof_purchase_click",
      "w1_topk_per_group", "src_bucketed_join", "stream_stream_join",
      "dedup_containment", "dedup_spans", "dedup_incremental",
      "sample_bottomk", "bpe_pair_counts", "corpus_refinery",
      "funnel_conversion", "anomaly_rolling_z", "anomaly_rolling_z_bucketed",
      "stats_percentiles_distributed", "graph_label_propagation",
      "graph_bfs_distance", "er_jaro_winkler",
      "ann_pq_adc_topk", "ann_ivf_pq_persisted")
    val restByCost = finalOk.toSeq.collect {
      case (k, m) if !headline.contains(k) => (k, m.medianS)
    }.sortBy { case (k, med) => (-med, k) }.map(_._1)
    val headlineEntries = (headline ++ restByCost).flatMap(k =>
      finalOk.get(k).map(m => s""""$k":${r3(m.medianS)}"""))
    // The complete per-query median map rides ONE prefixed line above the
    // final line (never mistaken for it, outside the tail budget).
    val fullMap = finalOk.toSeq.sortBy(_._1)
      .map { case (k, m) => s""""$k":${r3(m.medianS)}""" }.mkString(",")
    println(s"""BENCH_QUERIES {"queries":{$fullMap}}""")
    // Spread aggregates: the artifact-embedded contention signal.
    val spreads = finalOk.values.map(_.warmSpread).toSeq.sorted
    val spreadMed = if (spreads.isEmpty) 0.0 else spreads(spreads.size / 2)
    val spreadMax = if (spreads.isEmpty) 0.0 else spreads.last
    // total = pipeline builds + all query medians (the whole session's
    // work); failed rows are excluded.
    val total = finalOk.values.map(_.medianS).sum + pipelineTimes.map(_._2).sum
    // Violation MESSAGES ride the fixed section, which never yields under
    // the budget: degrade them (fewer, then shorter, then count-only) until
    // the zero-headline render fits.
    def fixedWith(violJson: String): String =
      s""""unit":"sec","n":${finalResults.size},"reps":$Reps,""" +
        s""""spread_med":${r3(spreadMed)},"spread_max":${r3(spreadMax)},""" +
        s""""failed":$failedJson,"healed":${healedNames.map(jq).mkString("[", ",", "]")},""" +
        s""""plan_gate_violations":${allViolations.size},""" +
        s""""violations":$violJson,"recall_at_10":$rec"""
    val budget = 1800
    def render(fixed: String, entries: Seq[String]): String =
      s"""{"metric":"total","value":${r3(total)},$fixed,""" +
        s""""queries":${entries.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    val fixed = fixedWith(Seq((5, 110), (3, 110), (3, 60), (1, 60), (0, 0))
      .iterator
      .map { case (k, cap) => allViolations.take(k).map(v => jq(v.take(cap))).mkString("[", ",", "]") }
      .find(vj => render(fixedWith(vj), Nil).length <= budget)
      .getOrElse("[]"))
    // takeWhile semantics: the survivors are an unambiguous "first N
    // headline rows".
    val kept = headlineEntries.inits.toSeq.reverse
      .takeWhile(es => render(fixed, es).length <= budget).lastOption.getOrElse(Nil)
    if (kept.size < headlineEntries.size)
      println(s"BENCH_DETAIL headline dropped " +
        s"${headlineEntries.size - kept.size} rows to fit the " +
        s"driver tail budget (full table in BENCH_OUT)")
    println(render(fixed, kept))
    spark.stop()
  }
}
